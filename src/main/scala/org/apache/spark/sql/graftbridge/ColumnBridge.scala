package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.internal.UnresolvedFunction

/** Introspection over unresolved Column trees. Spark 4 removed the
  * public `Column.expr`; the ColumnNode tree (sql-api internal) is the
  * pre-analysis representation, and `collect` traverses it recursively.
  * Lives under `org.apache.spark.sql` to keep all internal-API use in
  * one sanctioned place.
  */
object ColumnBridge {


  /** Every function name referenced anywhere in the column's tree. */
  def functionNames(c: Column): Seq[String] =
    c.node.collect { case f: UnresolvedFunction => f.functionName }

  /** Wrap a catalyst Expression as a user-facing Column (for custom
    * expressions like [[graft.functions.CosineSimilarity]]).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Column → catalyst Expression (unresolved). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Column → catalyst Expression via the full ColumnNode converter.
    * `ExpressionUtils.expression` only unwraps `ExpressionColumnNode`s;
    * a *composed* Column (e.g. `get_json_object(...)`) stays a
    * `ColumnNodeExpression`, which Dataset analysis converts but the
    * SQL `FunctionRegistry` builder path never does — it reaches
    * codegen unevaluable. This runs the same converter Dataset
    * analysis uses, yielding catalyst `UnresolvedFunction`s the
    * analyzer resolves normally.
    */
  def catalystExpression(
      c: Column
  ): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `df` over its already-planned RDD: the same rows, but the plan no
    * longer names `df`'s source. A frame cached on top of it is then
    * neither re-listed and re-planned by Spark's cache manager at each
    * write to that source's path (`CacheManager.recacheByPath`) nor
    * matched against other plans over the same root path. Plans on the
    * driver: a plan without an exchange runs no job.
    */
  def detached(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Release the blocks behind a `localCheckpoint()`ed DataFrame.
    * `Dataset.unpersist` only reaches cache-manager entries; a local
    * checkpoint lives as a persisted RDD inside a `LogicalRDD` leaf,
    * which otherwise stays pinned until the ContextCleaner notices the
    * RDD is unreachable (GC-timing dependent). Iterative drivers (label
    * propagation) call this when a round's frame is superseded.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  // localCheckpointKeepPartitioning (r19) was DELETED in r20: the
  // carried-partitioning round shape it existed for was measured and
  // rejected twice (802d0a2 revert: 2× wall at bench scale; r20
  // HyperBall A/B: shuffle bytes identical both arms — the loops are
  // broadcast-join shaped, so the carried hash partitioning removed no
  // exchange — and wall moved inside noise, harmonic −12 % /
  // neighborhood +16 % at sf1). It re-declared executed-plan
  // partitioning on a rebuilt LogicalRDD leaf, a contract subtle enough
  // (coalesced-hash must NOT be re-declared) that an unused copy is a
  // liability. Evidence: OPTIMIZATION_r20.md.

  /** Apply an extensions injector's `injectFunction` registrations to a
    * live session — the same `registerFunctions` call session
    * construction runs on `BaseSessionStateBuilder.functionRegistry`.
    * Exists because `getOrCreate` returns a pre-existing session
    * without applying `withExtensions`, and the extensions-carrying
    * SparkSession constructor is fully private: tests of an injector
    * (e.g. `graft.GraftExtensions`) exercise the inject path here.
    */
  def applyInjectedFunctions(
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit,
      spark: org.apache.spark.sql.SparkSession
  ): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }
}
