package graft.examples

import graft.GraftSession
import graft.core.Period
import graft.sources.Tables
import graft.streaming.{BarCascade, DriftMonitor, GapFill, IncrementalBm25, IncrementalDedup, IncrementalManifest, IncrementalSelection, IncrementalSketches, StreamAsOf, StreamingFunnel}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.DataFrame

/** Streaming-path performance evidence — the last unmeasured surface:
  * every recorded graft number was batch, while the reference's
  * identity is a streaming runtime (ref src/Runtime/RowMonitor.cs:39-50,
  * the 1s client-side bar path). This main replays the events table in
  * event-time order through a file source (`maxFilesPerTrigger = 1`, so
  * one time-slice per micro-batch — a pinned, reproducible input
  * cadence) and records, per operator:
  *
  *   - sustained absorption rate (input rows / total trigger wall — the
  *     capacity bound: the pipeline keeps up with any live rate below
  *     it);
  *   - per-micro-batch latency (avg / max triggerExecution);
  *   - state-store rows and bytes over time — the plateau-at-the-
  *     watermark-horizon evidence for the stateful operators
  *     (windowed aggs seal and EVICT at the watermark; GapFill /
  *     StreamAsOf / StreamingFunnel carry bounded per-key state).
  *
  * Operators driven: the BarCascade hub → 1m → 5m chain (three chained
  * streaming jobs, parquet-materialized between stateful stages),
  * GapFill over the 1m live sink, StreamingFunnel, StreamAsOf, and the
  * IncrementalDedup ingestion loop over the documents table.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain
  *       graft.examples.StreamingScale"` (numbers in BASELINE.md).
  */
object StreamingScale {

  private final case class Stat(
      name: String,
      batches: Int,
      rows: Long,
      triggerSecs: Double,
      avgMs: Long,
      maxMs: Long,
      stateCurve: Seq[Long],
      stateBytes: Long) {
    def rowsPerSec: Long = if (triggerSecs == 0) 0 else (rows / triggerSecs).toLong
    def row: String = {
      val curve =
        if (stateCurve.isEmpty) "-"
        else {
          val c = stateCurve
          // head, quarter points, tail — enough to see a plateau
          val picks = Seq(0, c.size / 4, c.size / 2, 3 * c.size / 4, c.size - 1)
            .distinct.map(c(_))
          picks.mkString("→")
        }
      f"| $name%-22s | $batches%3d | $rows%9d | $rowsPerSec%9d | $avgMs%6d | $maxMs%6d | $curve%-28s | ${stateBytes / 1024}%8d |"
    }
  }

  /** Collect the query's progress entries with input into a [[Stat]].
    *
    * @param rowsOverride true input volume, for foreachBatch sinks whose
    *   body re-executes the source scan per internal action —
    *   numInputRows counts SCANS, so the metric multiply-counts there
    */
  private def statOf(name: String, q: StreamingQuery, rowsOverride: Option[Long] = None): Stat = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val trig = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
    val states = ps.map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val bytes = ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
    Stat(
      name,
      ps.length,
      rowsOverride.getOrElse(ps.map(_.numInputRows).sum),
      trig.sum / 1e3,
      if (ps.nonEmpty) trig.sum / ps.length else 0L,
      if (ps.nonEmpty) trig.max else 0L,
      if (states.exists(_ > 0)) states.toSeq else Nil,
      bytes)
  }

  /** Slice `df` into `chunks` files in `tsCol` order (equal event-time
    * spans — no global sort, each slice is one pushed-down range scan)
    * so the file source replays it as `chunks` micro-batches in
    * event-time order and the watermark advances every batch.
    */
  private def prepareReplay(
      df: DataFrame, tsCol: String, dir: String, chunks: Int): Unit = {
    val sp = df.sparkSession
    import sp.implicits._
    val (lo, hi) = df
      .agg(min(col(tsCol)).cast("long"), max(col(tsCol)).cast("long"))
      .as[(Long, Long)].head()
    val span = hi - lo + 1
    (0 until chunks).foreach { i =>
      val a = lo + span * i / chunks
      val b = lo + span * (i + 1) / chunks
      df.filter(col(tsCol).cast("long") >= a && col(tsCol).cast("long") < b)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(dir)
      Thread.sleep(5) // distinct mtimes: the file source replays in write order
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "20").toInt
    val spark = GraftSession.local()
    // 8, not cores: every stateful micro-batch opens one RocksDB store
    // per shuffle partition, and at this per-batch volume (tens of
    // thousands of rows) store open/commit overhead dominates long
    // before parallelism pays — a cluster deployment sizes this to
    // sustained per-batch volume, not core count
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // long-replay runs (300+ batches, the compaction-crossover A/B)
    // need the whole progress history, not the 100-entry default tail
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_stream_scale").toString
    val events = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val nEvents = events.count()
    val replay = s"$root/replay"
    prepareReplay(events, "ts", replay, chunks)
    val evSchema = events.schema
    def eventStream() = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)

    // SPARK_GRAFT_SECTIONS=EH runs only the named sections (letters
    // below) — the A/B re-measure dial; B implies A (it consumes A's
    // live sink). Default: everything.
    val sections = sys.env.get("SPARK_GRAFT_SECTIONS").map(_.toUpperCase.filter(_.isLetter).toSet)
    def want(c: Char): Boolean = sections.forall(_.contains(c))

    println(s"# StreamingScale sf=$sfDir rows=$nEvents chunks=$chunks")
    println("| operator               | bat |      rows |  rows/sec | avg ms | max ms | state rows (curve)           | state KB |")
    println("|------------------------|-----|-----------|-----------|--------|--------|------------------------------|----------|")

    if (want('A') || want('B')) {
    // ---- A. BarCascade: ticks → 1s hub → 1m live → 5m live ---------------
    val plan = BarCascade.start(
      spark, eventStream(), "ev", Seq("event_type"), "ts", "value", "event_id",
      Seq(Period.Minutes(1), Period.Minutes(5)), s"$root/cascade")
    try {
      plan.queries.head.processAllAvailable() // hub first (dependency order)
      plan.queries.tail.foreach(_.processAllAvailable())
      println(statOf("cascade 1s hub", plan.queries(0)).row)
      println(statOf("cascade 1m live", plan.queries(1)).row)
      println(statOf("cascade 5m live", plan.queries(2)).row)
    } finally plan.queries.foreach(_.stop())

    if (want('B')) {
    // ---- B. GapFill over the 1m live bars (transformWithState) -----------
    val liveDir = plan.livePaths("1m")
    val liveSchema = spark.read.parquet(liveDir).schema
    // the live sink holds one file PER PARTITION per upstream commit —
    // size the per-trigger intake so this stage also sees ~`chunks`
    // micro-batches instead of one per part-file
    val liveFiles = Option(new java.io.File(liveDir).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    val perTrigger = math.max(1, liveFiles / chunks)
    val barIn = spark.readStream.schema(liveSchema)
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(liveDir)
      .select(col("event_type").as("key"), col("bucket_start").as("bucket"),
        col("open"), col("high"), col("low"), col("close"))
      .withWatermark("bucket", "3 seconds")
      .as[GapFill.BarIn]
    val gapQ = GapFill(barIn, 60L, GapFill.Skip).writeStream
      .format("parquet").option("path", s"$root/gap")
      .option("checkpointLocation", s"$root/_chk/gap").outputMode("append").start()
    try { gapQ.processAllAvailable(); println(statOf("gap_fill 1m", gapQ).row) }
    finally gapQ.stop()
    }
    }

    if (want('C')) {
    // ---- C. StreamingFunnel (view → click → purchase) ---------------------
    val funnelIn = eventStream()
      .select(col("user_id").as("user"), col("ts"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).as("step"),
        col("event_id").as("seq"))
      .filter(col("step").isNotNull)
      .withWatermark("ts", "1 hour")
      .as[StreamingFunnel.In]
    val funQ = StreamingFunnel(funnelIn, numSteps = 3).writeStream
      .format("parquet").option("path", s"$root/funnel")
      .option("checkpointLocation", s"$root/_chk/funnel").outputMode("append").start()
    try { funQ.processAllAvailable(); println(statOf("funnel 3-step", funQ).row) }
    finally funQ.stop()
    }

    if (want('D')) {
    // ---- D. StreamAsOf enrichment (purchase events against view prices) --
    val asofIn = eventStream()
      .select(col("event_type").cast("string").as("key"), col("ts"),
        (col("event_id") % 2).cast("int").as("side"),
        col("event_id").as("seq"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[StreamAsOf.In]
    val asofQ = StreamAsOf(asofIn).writeStream
      .format("parquet").option("path", s"$root/asof")
      .option("checkpointLocation", s"$root/_chk/asof").outputMode("append").start()
    try { asofQ.processAllAvailable(); println(statOf("stream_asof", asofQ).row) }
    finally asofQ.stop()
    }

    // ---- E. IncrementalDedup ingestion loop (documents) -------------------
    // the doc replay files also feed sections H and I
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    // SPARK_GRAFT_DOC_CHUNKS raises the micro-batch count (smaller
    // batches = higher corpus/batch ratio — the regime where the
    // stream-static band join's corpus term can dominate the trigger)
    val docChunks = sys.env.get("SPARK_GRAFT_DOC_CHUNKS")
      .map(_.toInt).getOrElse(math.min(chunks, 10))
    val per = math.max(1L, nDocs / docChunks)
    val docReplay = s"$root/doc_replay"
    // seed with the first slice, stream the rest in doc_id order.
    // SPARK_GRAFT_DEDUP_BUCKETED=<n> stores the band table bucketed on
    // (band_idx, band_hash) with n buckets — the zero-corpus-exchange
    // join path (IncrementalDedup.BandTable) — for the A/B against the
    // plain-parquet store's per-batch re-shuffle.
    // ONE partitioned write builds every slice (the former
    // one-job-per-slice loop took minutes at 300+ chunks), then the
    // slice files move into the flat replay dir with STAMPED ascending
    // mtimes — FileStreamSource orders by modification time, so the
    // replay still arrives in doc_id order, one slice per trigger
    locally {
      val staging = s"$root/doc_replay_staging"
      docs.filter(col("doc_id") >= per)
        .withColumn("__slice",
          least(floor(col("doc_id") / per), lit(docChunks - 1L)).cast("int"))
        .repartition(docChunks, col("__slice"))
        .write.partitionBy("__slice").mode("overwrite").parquet(staging)
      val replayDir = new java.io.File(docReplay)
      replayDir.mkdirs()
      val t0 = System.currentTimeMillis() - 3600000L
      Option(new java.io.File(staging).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("__slice="))
        .sortBy(d => d.getName.stripPrefix("__slice=").toInt)
        .zipWithIndex.foreach { case (d, i) =>
          d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
            case (f, j) =>
              val dst = new java.io.File(replayDir, f"slice_$i%05d_$j.parquet")
              require(f.renameTo(dst), s"replay prep: could not move ${f.getName}")
              // FileStreamSource replays in mtime order — a silently
              // failed stamp would scramble the slice order the whole
              // crossover measurement depends on (r17 ADVICE)
              require(dst.setLastModified(t0 + i * 1000L),
                s"replay prep: could not stamp mtime on ${dst.getName}")
          }
        }
    }

    if (want('E')) {
    val bandTable = sys.env.get("SPARK_GRAFT_DEDUP_BUCKETED")
      .map(n => IncrementalDedup.BandTable("graft_scale_bands", n.toInt))
    IncrementalDedup.seed(docs.filter(col("doc_id") < per), s"$root/corpus", s"$root/bands",
      bandTable = bandTable)
    val docStream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(docReplay)
    // SPARK_GRAFT_DEDUP_COMPACT=<n> compacts both stores every n batches
    // (range-clustered corpus, band-key-sorted bands)
    val compactEvery = sys.env.get("SPARK_GRAFT_DEDUP_COMPACT").map(_.toInt)
    // SPARK_GRAFT_DEDUP_COMPACT_ASYNC=true moves the compaction rewrite
    // off the trigger path (Lake.AsyncCompactor) — the crossover A/B arm
    val asyncCompact = sys.env.get("SPARK_GRAFT_DEDUP_COMPACT_ASYNC").contains("true")
    val dedupQ = IncrementalDedup.attach(
      docStream, s"$root/corpus", s"$root/bands",
      checkpointLocation = Some(s"$root/_chk/dedup"),
      bandTable = bandTable, compactEvery = compactEvery,
      asyncCompact = asyncCompact)
    try {
      dedupQ.processAllAvailable()
      val label = (bandTable, compactEvery, asyncCompact) match {
        case (Some(_), _, _)     => "dedup ingest loop (bucketed bands)"
        case (_, Some(n), true)  => s"dedup ingest loop (async-compact/$n)"
        case (_, Some(n), false) => s"dedup ingest loop (compact/$n)"
        case _                   => "dedup ingest loop"
      }
      println(statOf(label, dedupQ, rowsOverride = Some(nDocs - per)).row)
      // crossover evidence: per-batch trigger walls by quartile of the
      // replay — the file-count term grows WITHIN a run, so plain-vs-
      // compacted separates at the tail, not the average
      val trig = dedupQ.recentProgress.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
      if (trig.length >= 8) {
        val quarters = (0 until 4).map { qi =>
          val slice = trig.slice(trig.length * qi / 4, trig.length * (qi + 1) / 4)
          slice.sum / 1e3 / slice.length
        }
        val storeFiles = Seq("corpus", "bands").map { s =>
          Option(new java.io.File(s"$root/$s").listFiles()).getOrElse(Array.empty)
            .count(f => f.isFile && f.getName.endsWith(".parquet"))
        }
        println(f"#   per-batch wall by quartile: ${quarters.map(q => f"$q%.2f").mkString(" / ")} s; " +
          s"final store files corpus=${storeFiles(0)} bands=${storeFiles(1)}")
        // SPARK_GRAFT_TRIG_DUMP=true: the full per-trigger wall list —
        // outlier forensics (which batch spiked, not just the max)
        if (sys.env.get("SPARK_GRAFT_TRIG_DUMP").contains("true"))
          println("#   trigger walls s: " +
            trig.map(t => f"${t / 1e3}%.1f").mkString(" "))
      }
    } finally dedupQ.stop()
    }

    if (want('F')) {
    // ---- F. KLL quantile store maintenance (foreachBatch, stamped) -------
    val kllQ = IncrementalSketches.attachQuantiles(
      eventStream().select(col("event_type"), col("value")),
      s"$root/kll_store", Seq("event_type"), "value",
      checkpointLocation = Some(s"$root/_chk/kll"))
    try {
      kllQ.processAllAvailable()
      println(statOf("kll quantile store", kllQ, rowsOverride = Some(nEvents)).row)
    } finally kllQ.stop()
    val storeBytes = Option(new java.io.File(s"$root/kll_store").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val storeCells = spark.read.parquet(s"$root/kll_store").count()
    val tRoll = System.nanoTime()
    val qGroups = IncrementalSketches
      .quantiles(spark, s"$root/kll_store", Seq("event_type"), Seq(0.5, 0.9, 0.99))
      .count()
    println(f"#   kll store after replay: $storeCells cells / ${storeBytes / 1024}%d KB; " +
      f"rollup to $qGroups per-type quantile rows in ${(System.nanoTime() - tRoll) / 1e9}%.2f s")
    }

    if (want('G')) {
    // ---- G. PSI drift monitor (reference binned once, batch-local score) --
    val edges = Seq(25.0, 50.0, 100.0, 200.0, 400.0) // q_psi_drift convention
    DriftMonitor.seedReference(events, "value", edges, s"$root/drift_ref")
    val driftQ = DriftMonitor.attach(
      eventStream().select(col("value")), "value", edges,
      s"$root/drift_ref", s"$root/drift_log",
      checkpointLocation = Some(s"$root/_chk/drift"))
    try {
      driftQ.processAllAvailable()
      println(statOf("psi drift monitor", driftQ, rowsOverride = Some(nEvents)).row)
    } finally driftQ.stop()
    val alerts = spark.read.parquet(s"$root/drift_log")
      .agg(count(lit(1)), sum(when(col("alert"), 1).otherwise(0))).head()
    println(s"#   drift log: ${alerts.getLong(0)} batch rows, ${alerts.getLong(1)} alerts " +
      "(self-replay: expected 0 — every slice shares the reference distribution)")
    }

    if (want('H')) {
    // ---- H. DSIR count-store maintenance (foreachBatch, stamped) ---------
    // attach-without-seed: the first stamped micro-batch bootstraps the
    // store; per batch = ONE GramBucketCounts aggregate → one ~16 KB row
    val dsirStore = s"$root/dsir_store"
    val dsirQ = IncrementalSelection.attach(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(docReplay),
      dsirStore, "text", array_contains(split(col("text"), " "), "spark"),
      buckets = 1024,
      checkpointLocation = Some(s"$root/_chk/dsir"))
    try {
      dsirQ.processAllAvailable()
      println(statOf("dsir count store", dsirQ, rowsOverride = Some(nDocs - per)).row)
    } finally dsirQ.stop()
    val dsirBytes = Option(new java.io.File(dsirStore).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val dsirRows = spark.read.parquet(dsirStore).count()
    val tRefresh = System.nanoTime()
    val nRatios = IncrementalSelection.ratios(spark, dsirStore, buckets = 1024).count()
    println(f"#   dsir store after replay: $dsirRows vector rows / ${dsirBytes / 1024}%d KB; " +
      f"ratio refresh to $nRatios buckets in ${(System.nanoTime() - tRefresh) / 1e9}%.2f s")
    }

    if (want('I')) {
    // ---- I. shard-manifest maintenance (foreachBatch, stamped) -----------
    val manStore = s"$root/manifest_store"
    val manQ = IncrementalManifest.attach(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(docReplay),
      manStore, "doc_id", Seq("doc_id", "text"), nShards = 256, seed = "ms15",
      family = graft.operators.HashFamily.XxHash64,
      checkpointLocation = Some(s"$root/_chk/manifest"))
    try {
      manQ.processAllAvailable()
      println(statOf("shard manifest store", manQ, rowsOverride = Some(nDocs - per)).row)
    } finally manQ.stop()
    val manRows = spark.read.parquet(manStore).count()
    val tMan = System.nanoTime()
    val liveShards = IncrementalManifest.manifest(spark, manStore).count()
    println(f"#   manifest store after replay: $manRows per-batch rows; " +
      f"live rollup to $liveShards shards in ${(System.nanoTime() - tMan) / 1e9}%.2f s")
    }

    if (want('J')) {
    // ---- J. BM25 tf-store maintenance + serve-latency-vs-file-count ------
    // the ingest loop never READS the tf store on steady-state triggers
    // (ReplayProbe, r18), so its wall should stay FLAT as files accrete;
    // the file-count term lands on the SERVE side (load derives df/stats
    // from the whole store) — measured here as the same query set served
    // from the accreted store vs after one term-range compaction.
    // SPARK_GRAFT_BM25_COMPACT=<n> / SPARK_GRAFT_BM25_COMPACT_ASYNC=true
    // exercise the in-loop cadence arms instead.
    val tfStore = s"$root/bm25_store"
    val bmCompact = sys.env.get("SPARK_GRAFT_BM25_COMPACT").map(_.toInt)
    val bmAsync = sys.env.get("SPARK_GRAFT_BM25_COMPACT_ASYNC").contains("true")
    val bmQ = IncrementalBm25.attach(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(docReplay),
      tfStore, checkpointLocation = Some(s"$root/_chk/bm25"),
      compactEvery = bmCompact, asyncCompact = bmAsync)
    try {
      bmQ.processAllAvailable()
      val label = (bmCompact, bmAsync) match {
        case (Some(n), true)  => s"bm25 tf store (async-compact/$n)"
        case (Some(n), false) => s"bm25 tf store (compact/$n)"
        case _                => "bm25 tf store"
      }
      println(statOf(label, bmQ, rowsOverride = Some(nDocs - per)).row)
      val trig = bmQ.recentProgress.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
      if (trig.length >= 8) {
        val quarters = (0 until 4).map { qi =>
          val slice = trig.slice(trig.length * qi / 4, trig.length * (qi + 1) / 4)
          slice.sum / 1e3 / slice.length
        }
        println(f"#   per-batch wall by quartile: ${quarters.map(q => f"$q%.2f").mkString(" / ")} s")
      }
    } finally bmQ.stop()
    def tfFiles() = Option(new java.io.File(tfStore).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // serve A/B on the SAME store content: accreted layout vs one
    // term-range compaction (what the in-loop cadence maintains)
    val bmQueries = spark.read.parquet(tfStore)
      .groupBy(col("doc_id")).agg(concat_ws(" ", collect_list(col("term"))).as("qtext"))
      .select(col("doc_id").as("query_id"), expr("array_join(slice(split(qtext, ' '), 1, 3), ' ')").as("qtext"))
      .limit(32).persist()
    def serveSecs(): Double = {
      val t = System.nanoTime()
      graft.operators.TextAnalysis
        .bm25Serve(IncrementalBm25.load(spark, tfStore), bmQueries,
          "query_id", "qtext", topK = 10)
        .foreach(_ => ())
      (System.nanoTime() - t) / 1e9
    }
    val accretedFiles = tfFiles()
    val serveAccreted = serveSecs()
    graft.sources.Lake.compact(spark, tfStore, rangeCols = Seq("term"))
    val serveCompact = serveSecs()
    bmQueries.unpersist()
    println(f"#   bm25 serve (32 queries, top-10): $serveAccreted%.2f s on $accretedFiles files " +
      f"-> $serveCompact%.2f s on ${tfFiles()} files after term-range compact")
    }

    println(f"# cadence check: live-equivalent event density = " +
      f"${nEvents / (30.0 * 86400)}%.2f rows/sec; every operator above absorbs 1000x+ that")
    spark.stop()
  }
}
