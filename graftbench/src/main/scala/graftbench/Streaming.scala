package graftbench

import graft.core.{EntityModel, Period}
import graft.dsl.Ksql
import graft.operators.TextAnalysis
import graft.streaming.{BarCascade, GapFill, IncrementalBm25, MarketSchedule}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.{Encoders, SparkSession}

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

final case class Rate(broker: String, symbol: String, ts: Timestamp, bid: Double, seq: Long)
final case class Doc(doc_id: Long, text: String)

/** Helpers shared by the two streaming workloads. */
object Streams {
  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.getFileName.toString)

  def watermarkMs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)

  def check(qs: Seq[StreamingQuery]): Unit =
    qs.foreach(q => q.exception.foreach(e => throw new IllegalStateException(s"stream failed: $e")))

  /** Poll until `cond`, failing fast if a query died; false on timeout. */
  def await(qs: Seq[StreamingQuery], timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      check(qs)
      if (System.currentTimeMillis() > end) return false
      Thread.sleep(2)
    }
    true
  }

  /** Files of `dir` not yet recorded in a file source's offset log. */
  def backlogFiles(inputDir: Path, checkpoint: Path): Long = {
    val log = checkpoint.resolve("sources").resolve("0")
    val seen =
      if (!Files.isDirectory(log)) Set.empty[String]
      else Files.list(log).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => scala.util.Try(Files.readAllLines(f).asScala).getOrElse(Nil))
        .flatMap(l => "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    parquetFiles(inputDir).count(f => !seen.contains(f.getFileName.toString)).toLong
  }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  /** The `streaming.<stage>.*` per-layer metrics from progress reports. */
  def stageLayers(stage: String, ps: Seq[StreamingQueryProgress], backlog: Long): Seq[(String, Double)] = {
    def dur(k: String*) = ps.map(p => k.map(x => Option(p.durationMs.get(x)).map(_.toDouble).getOrElse(0.0)).sum)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val ops = ps.flatMap(_.stateOperators)
    val trig = dur("triggerExecution")
    Seq(
      "trigger_p50_ms" -> pct(trig, 0.5),
      "trigger_p90_ms" -> pct(trig, 0.9),
      "add_batch_ms" -> mean(dur("addBatch")),
      "planning_ms" -> mean(dur("queryPlanning")),
      "offsets_ms" -> mean(dur("latestOffset", "getBatch")),
      "commit_ms" -> mean(dur("walCommit", "commitOffsets")),
      "input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "output_rows" -> ps.map(p => math.max(p.sink.numOutputRows, 0L).toDouble).sum,
      "backlog_files" -> backlog.toDouble,
      "state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state_bytes" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "state_commit_ms" -> mean(ops.map(_.commitTimeMs.toDouble)),
      "late_dropped_rows" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum
    ).map { case (k, v) => s"streaming.$stage.$k" -> v }
  }

  /** Operator, codegen and JVM totals over a streaming phase, per operation. */
  def commonLayers(t: Trace, before: Map[String, Double], jvm0: Map[String, Double], ops: Double)
      : Seq[(String, Double)] = {
    t.drain()
    val d = t.totals.map { case (k, v) => k -> (v - before(k)) }
    val jvm1 = Jvm.snapshot
    Seq(
      "plans.analysis_ms" -> d("analysis_ms") / ops,
      "plans.optimization_ms" -> d("optimization_ms") / ops,
      "plans.planning_ms" -> d("planning_ms") / ops,
      "operators.jobs" -> d("jobs") / ops,
      "operators.stages" -> d("stages") / ops,
      "operators.tasks" -> d("tasks") / ops,
      "operators.tasks_per_stage" -> (if (d("stages") > 0) d("tasks") / d("stages") else 0.0),
      "operators.task_run_ms" -> d("task_run_ms") / ops,
      "operators.task_cpu_ms" -> d("task_cpu_ms") / ops,
      "operators.task_gc_ms" -> d("task_gc_ms") / ops,
      "operators.shuffle_read_bytes" -> d("shuffle_read_bytes") / ops,
      "operators.shuffle_write_bytes" -> d("shuffle_write_bytes") / ops,
      "operators.spill_bytes" -> d("spill_bytes") / ops,
      "sources.input_bytes" -> d("input_bytes") / ops,
      "functions.codegen_units" -> (jvm1("codegen_units") - jvm0("codegen_units")),
      "functions.codegen_compile_ms" -> (jvm1("codegen_compile_ms") - jvm0("codegen_compile_ms")),
      "functions.codegen_source_bytes" -> (jvm1("codegen_source_bytes") - jvm0("codegen_source_bytes")),
      "jvm.jit_ms" -> (jvm1("jit_ms") - jvm0("jit_ms")),
      "jvm.gc_ms" -> (jvm1("gc_ms") - jvm0("gc_ms")))
  }

  /** Max backlog per stage, sampled on a daemon thread while a phase runs. */
  final class BacklogSampler(stages: Seq[(String, Path, Path)]) extends Thread("backlog-sampler") {
    setDaemon(true)
    val max = new java.util.concurrent.ConcurrentHashMap[String, Long]
    @volatile var running = true
    override def run(): Unit = while (running) {
      stages.foreach { case (name, in, chk) =>
        scala.util.Try(backlogFiles(in, chk)).foreach(b => max.merge(name, b, (a: Long, c: Long) => math.max(a, c)))
      }
      Thread.sleep(250)
    }
    def finish(): Map[String, Long] = { running = false; join(); max.asScala.toMap }
  }
}

/** The flagship: ticks → market-schedule filter → DSL-planned cascade
  * (1s hub, live 1m/5m/15m/60m, 1m gap fill) on RocksDB, fed from
  * event-time slice files (one slice per minute, `<work>/ticks`).
  *
  * Catch-up: once the streams run, the first `backlog` slices are made
  * visible at once; `cold_s` runs until every stage has processed them. Live: a
  * generator thread publishes one slice every `period_ms` (an open
  * loop), and a slice's bar delay runs from when it was due until the
  * 1m live sink commits a batch whose watermark seals the minute before
  * it — the bars that slice's watermark seals.
  */
final class BarCascadeWorkload(opts: Opts) extends Workload {
  import Streams._
  private val ticksDir = opts.work.resolve("ticks")
  private val backlog = opts.params("backlog").toInt
  private val live = opts.params("live").toInt
  private val periodMs = opts.params("period_ms").toLong
  private val originS = opts.params("origin_s").toLong
  private val graceS = opts.params("grace_s").toLong
  val stageNames = Seq("hub", "live_1m", "live_5m", "live_15m", "live_60m", "fill_1m")

  private var plan: BarCascade.CascadePlan = _
  private var root: Path = _
  private var src: Path = _

  private val rateEntity = EntityModel[Rate]("rate").key("broker", "symbol").timestamp("ts")

  def model = Ksql.from(rateEntity)
    .tumbling(Seq(Period.Minutes(1), Period.Minutes(5), Period.Minutes(15), Period.Minutes(60)),
      grace = graceS.seconds, continuation = true)
    .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
    .select(count(lit(1)).as("cnt"))
    .build()

  private def slice(s: Int) = ticksDir.resolve("slices").resolve(f"slice-$s%05d.parquet")
  /** the 1m live watermark that seals the minute before slice `s` */
  private def target(s: Int): Long = (originS + s * 60L) * 1000L

  def start(spark: SparkSession, dir: Path): BarCascade.CascadePlan = {
    root = dir
    src = dir.resolve("src")
    Files.createDirectories(src)
    val ticks = spark.readStream.schema(Encoders.product[Rate].schema).parquet(src.toString)
    val schedule = spark.read.parquet(ticksDir.resolve("schedule.parquet").toString)
    val inSession = MarketSchedule.sessionFilter(ticks, schedule, Seq("broker" -> "broker"), "ts")
    BarCascade.startFromModel(spark, inSession, "bar", Seq("broker", "symbol"), "ts", "bid", "seq",
      model, dir.resolve("cascade").toString, GapFill.CarryForward)
  }

  def setup(spark: SparkSession, dir: Path, res: Result): Unit = {
    val t0 = System.nanoTime()
    plan = start(spark, dir)
    res.scalars("sources_load_ms") = (System.nanoTime() - t0) / 1e6
  }

  def teardown(): Unit = if (plan != null) plan.queries.foreach(_.stop())

  private def drainAll(qs: Seq[StreamingQuery]): Unit = qs.foreach { q => check(qs); q.processAllAvailable() }

  def run(spark: SparkSession, res: Result, trace: Option[Trace]): Unit = {
    val qs = plan.queries
    val live1m = qs(1)
    val jvm0 = Jvm.snapshot
    val tr0 = trace.map(_.totals)
    val sampler = trace.map { _ =>
      val cas = root.resolve("cascade")
      val chk = cas.resolve("_chk")
      val s = new BacklogSampler(Seq(
        ("hub", src, chk.resolve("bar_1s_rows"))) ++
        Seq("1m", "5m", "15m", "60m").map(tf =>
          (s"live_$tf", cas.resolve("bar_1s_rows"), chk.resolve(s"bar_${tf}_live"))) :+
        (("fill_1m", cas.resolve("bar_1m_live"), chk.resolve("bar_1m_fill"))))
      s.start(); s
    }
    // catch-up: the backlog appears at once and every stage processes
    // it, in dependency order
    val cold0 = System.nanoTime()
    (0 until backlog).foreach(s => Main.publish(slice(s), src))
    drainAll(qs)
    if (!await(qs, 60000)(watermarkMs(live1m) >= target(backlog - 1)))
      res.fail("bar_cascade: catch-up did not seal the backlog")
    res.scalars("cold_s") = (System.nanoTime() - cold0) / 1e9
    res.attempted += backlog

    // live phase: open-loop publication on a fixed schedule
    val published = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val t0 = System.nanoTime() + 50L * 1000000L
    val gen = new Thread("slice-generator") {
      override def run(): Unit = (0 until live).foreach { i =>
        val due = t0 + i * periodMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val now = System.nanoTime()
        Main.publish(slice(backlog + i), src)
        // an open loop times from when the slice was due, so a stalled
        // generator still charges its wait to the delay
        published.put(backlog + i, due)
        late.add((now - due) / 1e6)
      }
    }
    gen.start()
    var pending = (backlog until backlog + live).toList
    var lastBatch = -1L
    val deadline = System.currentTimeMillis() + live * periodMs + 60000L
    while (pending.nonEmpty && System.currentTimeMillis() < deadline) {
      check(qs)
      val p = live1m.lastProgress
      if (p != null && p.batchId != lastBatch) {
        lastBatch = p.batchId
        val now = System.nanoTime()
        val wm = watermarkMs(live1m)
        val (done, rest) = pending.partition(s => published.containsKey(s) && target(s) <= wm)
        done.foreach(s => res.sample("bar_delay_ms", (now - published.get(s)) / 1e6))
        pending = rest
      } else Thread.sleep(1)
    }
    gen.join()
    res.attempted += live
    if (pending.nonEmpty) res.fail(s"bar_cascade: ${pending.size} live slices never sealed")
    res.scalars("gen_late_ms") = if (late.isEmpty) 0.0 else late.asScala.max
    res.scalars("ticks_backlog") = opts.params("backlog_ticks").toDouble

    // settle every stage, then hand the sinks to the check
    drainAll(qs)
    val backlogMax = sampler.map(_.finish()).getOrElse(Map.empty)
    stageNames.zip(qs).foreach { case (name, q) =>
      res.info(s"watermark_ms.$name") = watermarkMs(q).toString
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      if (dropped > 0) res.fail(s"bar_cascade: $name dropped $dropped late rows")
    }
    res.info("hub_path") = plan.hubPath
    plan.livePaths.foreach { case (tf, p) => res.info(s"live_path.$tf") = p }
    plan.fillPaths.foreach { case (tf, p) => res.info(s"fill_path.$tf") = p }

    trace.foreach { t =>
      t.drain()
      stageNames.zip(qs).foreach { case (name, q) =>
        val ps = Option(t.progress.get(q.id.toString)).map(_.asScala.toSeq).getOrElse(Nil)
        res.layers ++= stageLayers(name, ps, backlogMax.getOrElse(name, 0L))
      }
      res.layers ++= commonLayers(t, tr0.get, jvm0, (backlog + live).toDouble)
      val passed = spark.read.parquet(plan.hubPath).agg(sum("cnt")).head().getLong(0)
      res.layers("streaming.schedule_filtered_rows") =
        opts.params("total_ticks").toDouble - passed
      res.layers("streaming.gen_late_ms") = res.scalars("gen_late_ms")
    }
  }

  /** Traced runs only: the same backlog caught up on one core. */
  override def traceExtra(res: Result): Unit = {
    val spark = Main.session(1, opts.work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val dir = opts.work.resolve("local1")
      Files.createDirectories(dir.resolve("src"))
      // the catch-up input is a copy of the backlog the measured run used
      parquetFiles(src).filter(f => f.getFileName.toString < f"slice-$backlog%05d")
        .foreach(f => Files.copy(f, dir.resolve("src").resolve(f.getFileName)))
      val t0 = System.nanoTime()
      val p = start(spark, dir)
      try {
        drainAll(p.queries)
        res.layers("streaming.catchup_local1_s") = (System.nanoTime() - t0) / 1e9
      } finally p.queries.foreach(_.stop())
    } finally Main.stopSession(spark)
  }
}

/** The BM25 store loop: `documents` slices (`<work>/docs`) replayed
  * through `IncrementalBm25.attach` with the async compactor every 25
  * batches, one slice per trigger.
  *
  * Catch-up: once the stream runs, the first `backlog` slices are made
  * visible at once; `cold_s` runs until all are committed. Four warm-up
  * serve calls follow, then a closed loop for `seconds`: publish a slice,
  * wait for its commit (freshness), issue `serves` top-10 serve calls
  * (`IncrementalBm25.load` + `bm25Serve`, collected).
  * At seeded checkpoints and at the end the served results are compared
  * with a from-scratch `TextAnalysis.bm25Index` over the ingested docs.
  */
final class StoreLoopWorkload(opts: Opts) extends Workload {
  import Streams._
  private val docsDir = opts.work.resolve("docs")
  private val backlog = opts.params("backlog").toInt
  private val serves = opts.params("serves").toInt
  private val WarmupServes = 4
  private var q: StreamingQuery = _
  private var src: Path = _
  private var store: Path = _
  private var chk: Path = _

  private def slice(s: Int) = docsDir.resolve(f"docs-$s%05d.parquet")
  private def nSlices = parquetFiles(docsDir).size + parquetFiles(src).size

  def setup(spark: SparkSession, dir: Path, res: Result): Unit = {
    src = dir.resolve("src")
    store = dir.resolve("store")
    chk = dir.resolve("chk")
    Files.createDirectories(src)
    val t0 = System.nanoTime()
    val docs = spark.readStream.schema(Encoders.product[Doc].schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    res.scalars("sources_load_ms") = (System.nanoTime() - t0) / 1e6
    q = IncrementalBm25.attach(docs, store.toString, checkpointLocation = Some(chk.toString),
      compactEvery = Some(25), asyncCompact = true)
  }

  def teardown(): Unit = if (q != null) q.stop()

  /** One serve call; `timed` records it as an operation sample. */
  private def serve(spark: SparkSession, res: Result, trace: Option[Trace], timed: Boolean = true)
      : Array[String] = {
    val queries = spark.read.parquet(opts.work.resolve("queries.parquet").toString)
    val t0 = System.nanoTime()
    val idx = IncrementalBm25.load(spark, store.toString)
    val t1 = System.nanoTime()
    val rows = TextAnalysis.bm25Serve(idx, queries, "qid", "qtext", 10).collect()
    val ms = (System.nanoTime() - t0) / 1e6
    res.sample(if (timed) "serve_ms" else "warmup_serve_ms", ms)
    if (trace.isDefined) res.sample("load_ms", (t1 - t0) / 1e6)
    rows.map(r => s"${r.getAs[Long]("qid")}|${r.getAs[Long]("doc_id")}|${r.getAs[Double]("score")}|${r.getAs[Int]("rank")}").sorted
  }

  private def scratch(spark: SparkSession): Array[String] = {
    val queries = spark.read.parquet(opts.work.resolve("queries.parquet").toString)
    val idx = TextAnalysis.bm25Index(spark.read.parquet(src.toString), "doc_id", "text")
    TextAnalysis.bm25Serve(idx, queries, "qid", "qtext", 10).collect()
      .map(r => s"${r.getAs[Long]("qid")}|${r.getAs[Long]("doc_id")}|${r.getAs[Double]("score")}|${r.getAs[Int]("rank")}").sorted
  }

  private def compare(spark: SparkSession, served: Array[String], res: Result, at: String): Unit = {
    res.attempted += 1
    val want = scratch(spark)
    if (!served.sameElements(want))
      res.fail(s"store_loop: serve differs from a from-scratch index at $at " +
        s"(${served.diff(want).take(2).mkString(",")} vs ${want.diff(served).take(2).mkString(",")})")
  }

  def run(spark: SparkSession, res: Result, trace: Option[Trace]): Unit = {
    val jvm0 = Jvm.snapshot
    val tr0 = trace.map(_.totals)
    val sampler = trace.map { _ => val s = new BacklogSampler(Seq(("bm25", src, chk))); s.start(); s }
    val total = nSlices
    val cold0 = System.nanoTime()
    (0 until backlog).foreach(s => Main.publish(slice(s), src))
    check(Seq(q))
    q.processAllAvailable()
    res.scalars("cold_s") = (System.nanoTime() - cold0) / 1e9
    res.scalars("docs_backlog") = opts.params("backlog_docs").toDouble
    res.attempted += backlog
    // the first serve calls run while the JIT still compiles the serve
    // path (the first takes three times the steady latency): a fixed
    // number of warm-up calls, timed and reported, precede the loop
    (1 to WarmupServes).foreach { _ => serve(spark, res, trace, timed = false); res.attempted += 1 }
    val rng = new scala.util.Random(opts.seed)
    // the loop measures for `seconds`; checkpoint comparisons do not count
    var measured = 0L
    var next = backlog
    var last: Array[String] = Array.empty
    while (next < total && measured < (opts.seconds * 1e9).toLong) {
      val t0 = System.nanoTime()
      Main.publish(slice(next), src)
      q.processAllAvailable()
      res.sample("fresh_ms", (System.nanoTime() - t0) / 1e6)
      res.attempted += 1
      next += 1
      (1 to serves).foreach { _ => last = serve(spark, res, trace); res.attempted += 1 }
      measured += System.nanoTime() - t0
      // seeded checkpoints: about one iteration in four is verified
      if (rng.nextInt(4) == 0) compare(spark, last, res, s"slice $next")
    }
    res.scalars("loop_slices") = next - backlog
    if (last.isEmpty) res.fail("store_loop: no serve call completed")
    else compare(spark, last, res, "the end")
    check(Seq(q))
    val backlogMax = sampler.map(_.finish()).getOrElse(Map.empty)
    trace.foreach { t =>
      t.drain()
      val ps = Option(t.progress.get(q.id.toString)).map(_.asScala.toSeq).getOrElse(Nil)
      res.layers ++= stageLayers("bm25", ps, backlogMax.getOrElse("bm25", 0L))
      res.layers ++= commonLayers(t, tr0.get, jvm0, res.attempted.toDouble)
      val files = Files.walk(store).iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      res.layers("sources.store_files") = files.size
      res.layers("sources.store_bytes") = files.map(Files.size(_).toDouble).sum
      res.layers("streaming.bm25.ingested_rows") = t.ingestedRows.get.toDouble
      res.layers("streaming.bm25.compactions") = t.compactions.get.toDouble
      val loads = res.samples.getOrElse("load_ms", Nil)
      res.layers("streaming.bm25.load_ms") = if (loads.isEmpty) 0.0 else loads.sum / loads.size
    }
  }
}
