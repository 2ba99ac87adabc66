package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: every main, example,
  * tool and the spec session (`SparkSpec`) call [[local]], so the
  * settings below hold everywhere graft runs and cannot be forgotten at
  * a new call site (`SessionGuardSpec` fails on any other builder).
  *
  *  - `GraftExtensions`: the KSQL SQL dialect and the
  *    `RewriteArgExtremum` optimizer rule, which attaches only at
  *    session construction.
  *  - `local[cores]`; shuffle partitions = `SPARK_GRAFT_SHUFFLE`, else
  *    `cores` (the shuffle width decoupled from the thread count: more
  *    partitions = smaller per-task sorts and aggregation maps; the
  *    q_hard_negatives sf10 sort outgrew its pointer array at 24).
  *  - `objectHashAggregate.sortBased.fallbackThreshold` = 16M. Every
  *    graft `TypedImperativeAggregate` carries a BOUNDED buffer (k-heaps,
  *    capped histograms, single min/max pairs, fixed-size sketches), so a
  *    large per-task hash map is safe — but the default of 128 distinct
  *    groups silently turns ObjectHashAggregate into a sort-based pass
  *    over every input row (the plan still prints ObjectHashAggregate):
  *    at the q_hard_negatives sf10 shape that was a ~300 GB spill
  *    (SCALE.md). A deployment embedding graft must set it too.
  *  - AQE on; UTC session time zone; no UI.
  *  - `codegen.cache.maxEntries` 5000 (static, default 100): a bench
  *    suite or the spec suite generates far more classes than that, and
  *    the LRU thrashes into re-compiles.
  *  - the RocksDB state store: `transformWithState` (GapFill) keeps
  *    state and timers in column families, which only RocksDB supports.
  *  - log level WARN.
  *
  * A call site that needs another runtime conf sets it on the built
  * session with `spark.conf.set`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cores.toString))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
