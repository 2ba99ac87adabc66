package graftbench

import graft.SparkEntry
import graft.queries._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}

object BatchWorkload {
  type Query = (SparkSession, String) => DataFrame

  /** Reference-surface pull queries: every eighth of the 47 relational,
    * scalar-function and window queries in name order, starting with the
    * first (6 queries), so that a run with its cold pass, warm-up and
    * check pass fits the benchmark's time. A rule, not their cost, picks
    * them.
    */
  def ksqlPull: Map[String, Query] = {
    val all = Seq(RelationalQueries, FunctionQueries, WindowQueries).map(_.defs).reduce(_ ++ _)
    all.keys.toSeq.sorted.grouped(8).map(_.head).map(n => n -> all(n)).toMap
  }

  /** Curation operator chains (pipeline, graph and selection packs): a
    * fixed subset of the 124 covering dedup, graph rounds, top-k,
    * retrieval and two bench-only twins.
    */
  val Curation = Seq(
    "q_dedup_apply", "q_dedup_simhash_near64", "q_graph_walks", "q_decontaminate",
    "q_hard_negatives", "q_bm25", "q_classifier_auc_xx")

  private def pick(packs: Seq[QueryPack], names: Seq[String]): Map[String, Query] = {
    val all = packs.map(p => p.defs ++ p.benchDefs).reduce(_ ++ _)
    names.map(n => n -> all.getOrElse(n, throw new NoSuchElementException(s"no query $n"))).toMap
  }
  def curation: Map[String, Query] = pick(Seq(PipelineQueries, GraphQueries, SelectionQueries), Curation)
}

/** A batch query set over the generated tables in `<work>/tables`.
  *
  * One operation is one query, timed as `graft.Bench` times it: build
  * the DataFrame, then execute it in full into the `noop` sink. The cold
  * pass runs every query once, in name order, in the fresh JVM. Two
  * warm-up passes in seeded orders follow (timed and reported, but not
  * operation samples), then measured passes in seeded orders for
  * `seconds` (whole passes, at least one): the operation samples.
  *
  * The check pass afterwards (untimed) writes every query's result as
  * parquet for the caller to compare: against the query's DuckDB oracle
  * where it has one, else against a second write at one shuffle
  * partition (the digest must not depend on the partitioning).
  */
final class BatchWorkload(opts: Opts, set: Map[String, BatchWorkload.Query]) extends Workload {
  private val WarmupPasses = 2
  private var traced = false
  private var buildAnalysisMs = 0L
  private val tables = opts.work.resolve("tables").toString
  private val names = set.keys.toSeq.sorted

  def setup(spark: SparkSession, dir: Path, res: Result): Unit = {
    val t0 = System.nanoTime()
    // list each table and read its footer: what a first query would pay
    Tables.names.foreach(t => Tables.load(spark, tables, t).schema)
    res.scalars("sources_load_ms") = (System.nanoTime() - t0) / 1e6
  }

  def teardown(): Unit = ()

  private final case class Timed(name: String, buildMs: Double, totalMs: Double, w0: Long, w1: Long)

  private def timeOne(spark: SparkSession, name: String, res: Result): Option[Timed] = {
    res.attempted += 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = set(name)(spark, tables)
      val t1 = System.nanoTime()
      // a DataFrame is analyzed when it is built, under its own tracker,
      // which the write's QueryExecutionListener event does not carry
      if (traced) df.queryExecution.tracker.phases.get("analysis")
        .foreach(p => buildAnalysisMs += p.durationMs)
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Some(Timed(name, (t1 - t0) / 1e6, (t2 - t0) / 1e6, w0, System.currentTimeMillis()))
    } catch {
      case e: Throwable =>
        res.fail(s"$name: ${e.toString.linesIterator.next()}")
        None
    }
  }

  def run(spark: SparkSession, res: Result, trace: Option[Trace]): Unit = {
    val rng = new scala.util.Random(opts.seed)
    traced = trace.isDefined
    val jvm0 = Jvm.snapshot
    val tr0 = trace.map { t => t.drain(); t.totals }
    val start = System.nanoTime()
    // the cold pass runs in a fixed order, so which query pays the JVM's
    // first-use costs does not change with the seed
    val cold = names.flatMap(timeOne(spark, _, res))
    res.scalars("cold_s") = (System.nanoTime() - start) / 1e9
    cold.foreach(t => res.sample("cold_query_ms", t.totalMs))
    var timed = cold
    // the JIT is still compiling Spark's hot paths for the first passes
    // after the cold one (pass times fall by a fifth over two passes, then
    // flatten): run a fixed number of warm-up passes before measuring
    (1 to WarmupPasses).foreach { _ =>
      val pass = rng.shuffle(names).flatMap(timeOne(spark, _, res))
      pass.foreach(t => res.sample("warmup_query_ms", t.totalMs))
      timed ++= pass
    }
    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    var passes = 0
    while (System.nanoTime() < deadline || passes == 0) {
      val pass = rng.shuffle(names).flatMap(timeOne(spark, _, res))
      pass.foreach(t => res.sample("query_ms", t.totalMs))
      timed ++= pass
      passes += 1
    }
    res.scalars("warm_passes") = passes
    res.scalars("queries") = names.size
    timed.foreach(t => res.sample("build_ms", t.buildMs))

    trace.foreach { t =>
      t.drain()
      val d = t.totals.map { case (k, v) => k -> (v - tr0.get(k)) }
      val n = timed.size.toDouble
      val jvm1 = Jvm.snapshot
      val jobStarts = t.jobSpans.toArray.map(_.asInstanceOf[(Long, Long)]._1)
      val buildJobs = timed.map(q => jobStarts.count(s => s >= q.w0 && s <= q.w0 + q.buildMs.toLong)).sum
      res.layers ++= Seq(
        "queries.build_ms" -> timed.map(_.buildMs).sum / n,
        "queries.build_jobs" -> buildJobs / n,
        "plans.analysis_ms" -> (d("analysis_ms") + buildAnalysisMs) / n,
        "plans.optimization_ms" -> d("optimization_ms") / n,
        "plans.planning_ms" -> d("planning_ms") / n,
        "operators.jobs" -> d("jobs") / n,
        "operators.stages" -> d("stages") / n,
        "operators.tasks" -> d("tasks") / n,
        "operators.tasks_per_stage" -> (if (d("stages") > 0) d("tasks") / d("stages") else 0.0),
        "operators.task_run_ms" -> d("task_run_ms") / n,
        "operators.task_cpu_ms" -> d("task_cpu_ms") / n,
        "operators.task_gc_ms" -> d("task_gc_ms") / n,
        "operators.driver_gap_ms" -> t.driverGapMs(timed.map(q => (q.w0, q.w1))) / n,
        "operators.shuffle_read_bytes" -> d("shuffle_read_bytes") / n,
        "operators.shuffle_write_bytes" -> d("shuffle_write_bytes") / n,
        "operators.spill_bytes" -> d("spill_bytes") / n,
        "sources.input_bytes" -> d("input_bytes") / n,
        "functions.codegen_units" -> (jvm1("codegen_units") - jvm0("codegen_units")),
        "functions.codegen_compile_ms" -> (jvm1("codegen_compile_ms") - jvm0("codegen_compile_ms")),
        "functions.codegen_source_bytes" -> (jvm1("codegen_source_bytes") - jvm0("codegen_source_bytes")),
        "jvm.jit_ms" -> (jvm1("jit_ms") - jvm0("jit_ms")),
        "jvm.gc_ms" -> (jvm1("gc_ms") - jvm0("gc_ms"))
      )
    }
    check(spark, res)
  }

  /** Untimed: write each result for the caller's comparison. */
  private def check(spark: SparkSession, res: Result): Unit = {
    val out = opts.work.resolve("results")
    val oracles = SparkEntry.oracleSql
    val withOracle = names.filter(oracles.contains)
    Files.write(opts.work.resolve("oracle_sql.json"), withOracle.map { n =>
      "\"" + n + "\":" + jsonString(oracles(n))
    }.mkString("{", ",", "}").getBytes("UTF-8"))
    def write(dir: Path, n: String): Unit =
      try set(n)(spark, tables).write.mode("overwrite").parquet(dir.resolve(n).toString)
      catch { case e: Throwable => res.fail(s"$n: check write failed: ${e.toString.linesIterator.next()}") }
    names.foreach(n => write(out, n))
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    names.filterNot(oracles.contains).foreach(n => write(opts.work.resolve("results_p1"), n))
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }

  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => ""
    case '\t' => "\\t"; case c => c.toString
  } + "\""
}
