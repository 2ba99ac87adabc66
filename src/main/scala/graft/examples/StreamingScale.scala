package graft.examples

import graft.GraftSession
import graft.core.Period
import graft.sources.{Lake, Tables}
import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.DataFrame

/** Streaming-path performance evidence — the last unmeasured surface:
  * every recorded graft number was batch, while the reference's
  * identity is a streaming runtime (ref src/Runtime/RowMonitor.cs:39-50,
  * the 1s client-side bar path). This main replays the sf tables in
  * order through file sources (`maxFilesPerTrigger = 1`, so one slice
  * per micro-batch — a pinned, reproducible input cadence) and records,
  * per operator:
  *
  *   - sustained absorption rate (input rows / total trigger wall — the
  *     capacity bound: the pipeline keeps up with any live rate below
  *     it);
  *   - per-micro-batch latency (avg / max triggerExecution), and for the
  *     store loops the per-batch wall by quartile of the replay and the
  *     store's final file count;
  *   - state-store rows and bytes over time — the plateau-at-the-
  *     watermark-horizon evidence for the stateful operators
  *     (windowed aggs seal and EVICT at the watermark; GapFill /
  *     StreamAsOf / StreamingFunnel carry bounded per-key state).
  *
  * Sections (`SPARK_GRAFT_SECTIONS=EJ` runs only the named letters; B
  * implies A, whose live sink it consumes; default: all):
  *   A. BarCascade hub → 1m → 5m (three chained streaming jobs);
  *   B. GapFill over the 1m live sink;  C. StreamingFunnel;
  *   D. StreamAsOf;  G. the PSI DriftMonitor;
  * and every incremental store through its own `attach` (the
  * [[StoreLoop]] trigger path a deployment runs):
  *   E. IncrementalDedup (documents);  F. KLL quantile store (events);
  *   H. DSIR count store;  I. shard manifest;  J. BM25 tf store plus
  *   serve latency before/after a term-range compaction;
  *   K. SCD2 over the events changelog;  L. IVF/ANN index
  *   (embeddings) plus a 50-query serve;  M. link-graph store plus a
  *   PageRank snapshot;  N. HLL distinct-count store.
  *
  * Knobs: `SPARK_GRAFT_CHUNKS` (event slices, default 20),
  * `SPARK_GRAFT_DOC_CHUNKS` (document and embedding slices, default
  * min(chunks, 10)), and `SPARK_GRAFT_COMPACT=<n>` with
  * `SPARK_GRAFT_COMPACT_ASYNC=true`, the compaction cadence (and its
  * off-trigger rewrite) of every store section.
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

  /** triggerExecution ms of each of `q`'s progress entries with input. */
  private def triggerMs(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))

  /** Collect the query's progress entries with input into a [[Stat]].
    *
    * @param rowsOverride true input volume, for foreachBatch sinks whose
    *   body re-executes the source scan per internal action —
    *   numInputRows counts SCANS, so the metric multiply-counts there
    */
  private def statOf(name: String, q: StreamingQuery, rowsOverride: Option[Long] = None): Stat = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val trig = triggerMs(q)
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

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Drain `q`, stop it, and print its stat row. With `stores` set (a
    * store loop), also the per-batch wall by quartile of the replay —
    * the file-count term grows WITHIN a run, so plain and compacted
    * layouts separate at the tail, not the average — and each store
    * dir's final file count.
    */
  private def drain(
      name: String,
      q: StreamingQuery,
      rows: Option[Long] = None,
      stores: Seq[String] = Nil): Unit =
    try {
      q.processAllAvailable()
      println(statOf(name, q, rows).row)
      val trig = triggerMs(q)
      if (stores.nonEmpty && trig.length >= 4) {
        val quarters = (0 until 4).map { qi =>
          val slice = trig.slice(trig.length * qi / 4, trig.length * (qi + 1) / 4)
          slice.sum / 1e3 / slice.length
        }
        val files = stores.map(d => s"${new java.io.File(d).getName}=${parquetFiles(d)}")
        println(f"#   per-batch wall by quartile: ${quarters.map(q => f"$q%.2f").mkString(" / ")} s; " +
          s"final store files ${files.mkString(" ")}")
      }
    } finally q.stop()

  /** `body`'s result and the seconds it took. */
  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime(); val a = body; (a, (System.nanoTime() - t) / 1e9)
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

  /** Slice the rows of `df` with `idCol >= per` into `chunks` files of
    * `per` ids each (the last takes the rest) in `dir`, for an id-ordered
    * replay. ONE partitioned write builds every slice (a job per slice
    * takes minutes at 300+ chunks), then the slice files move into the
    * flat replay dir with STAMPED ascending mtimes — FileStreamSource
    * orders by modification time, so the replay arrives in id order,
    * one slice per trigger.
    */
  private def prepareIdReplay(
      df: DataFrame, idCol: String, per: Long, dir: String, chunks: Int): Unit = {
    val staging = s"$dir.staging"
    df.filter(col(idCol) >= per)
      .withColumn("__slice", least(floor(col(idCol) / per), lit(chunks - 1L)).cast("int"))
      .repartition(chunks, col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(staging)
    val replayDir = new java.io.File(dir)
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
            // a silently failed stamp would scramble the slice order
            require(dst.setLastModified(t0 + i * 1000L),
              s"replay prep: could not stamp mtime on ${dst.getName}")
        }
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

    val sections = sys.env.get("SPARK_GRAFT_SECTIONS").map(_.toUpperCase.filter(_.isLetter).toSet)
    def want(c: Char): Boolean = sections.forall(_.contains(c))
    // every store section's compaction cadence, and whether its rewrite
    // runs off the trigger path (Lake.AsyncCompactor)
    val compactEvery = sys.env.get("SPARK_GRAFT_COMPACT").map(_.toInt)
    val asyncCompact = sys.env.get("SPARK_GRAFT_COMPACT_ASYNC").contains("true")
    def storeLabel(name: String): String = compactEvery.fold(name) { n =>
      s"$name (${if (asyncCompact) "async-" else ""}compact/$n)"
    }
    def chk(name: String): Option[String] = Some(s"$root/_chk/$name")

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
    val perTrigger = math.max(1, parquetFiles(liveDir) / chunks)
    val barIn = spark.readStream.schema(liveSchema)
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(liveDir)
      .select(col("event_type").as("key"), col("bucket_start").as("bucket"),
        col("open"), col("high"), col("low"), col("close"))
      .withWatermark("bucket", "3 seconds")
      .as[GapFill.BarIn]
    val gapQ = GapFill(barIn, 60L, GapFill.Skip).writeStream
      .format("parquet").option("path", s"$root/gap")
      .option("checkpointLocation", s"$root/_chk/gap").outputMode("append").start()
    drain("gap_fill 1m", gapQ)
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
    drain("funnel 3-step", funQ)
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
    drain("stream_asof", asofQ)
    }

    // ---- documents and embeddings, replayed in id order ------------------
    // seeded stores take the first slice as their seed; every store
    // section streams the rest, one slice per trigger
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val docChunks = sys.env.get("SPARK_GRAFT_DOC_CHUNKS")
      .map(_.toInt).getOrElse(math.min(chunks, 10))
    val per = math.max(1L, nDocs / docChunks)
    val docReplay = s"$root/doc_replay"
    if ("EHIJM".exists(want)) prepareIdReplay(docs, "doc_id", per, docReplay, docChunks)
    def docStream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(docReplay)
    val streamedDocs = Some(nDocs - per)

    if (want('E')) {
    // ---- E. IncrementalDedup ingestion loop --------------------------------
    IncrementalDedup.seed(docs.filter(col("doc_id") < per), s"$root/corpus", s"$root/bands")
    drain(storeLabel("dedup ingest loop"),
      IncrementalDedup.attach(docStream(), s"$root/corpus", s"$root/bands",
        checkpointLocation = chk("dedup"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      streamedDocs, Seq(s"$root/corpus", s"$root/bands"))
    }

    if (want('F')) {
    // ---- F. KLL quantile store ----------------------------------------------
    val kllStore = s"$root/kll_store"
    drain(storeLabel("kll quantile store"),
      IncrementalSketches.attachQuantiles(eventStream().select(col("event_type"), col("value")),
        kllStore, Seq("event_type"), "value", checkpointLocation = chk("kll"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      Some(nEvents), Seq(kllStore))
    val storeCells = Lake.read(spark, kllStore).count()
    val (qGroups, roll) = timed(IncrementalSketches
      .quantiles(spark, kllStore, Seq("event_type"), Seq(0.5, 0.9, 0.99)).count())
    println(f"#   kll store after replay: $storeCells cells; " +
      f"rollup to $qGroups per-type quantile rows in $roll%.2f s")
    }

    if (want('G')) {
    // ---- G. PSI drift monitor (reference binned once, batch-local score) --
    val edges = Seq(25.0, 50.0, 100.0, 200.0, 400.0) // q_psi_drift convention
    DriftMonitor.seedReference(events, "value", edges, s"$root/drift_ref")
    drain("psi drift monitor",
      DriftMonitor.attach(eventStream().select(col("value")), "value", edges,
        s"$root/drift_ref", s"$root/drift_log", checkpointLocation = chk("drift")),
      Some(nEvents))
    val alerts = Lake.read(spark, s"$root/drift_log")
      .agg(count(lit(1)), sum(when(col("alert"), 1).otherwise(0))).head()
    println(s"#   drift log: ${alerts.getLong(0)} batch rows, ${alerts.getLong(1)} alerts " +
      "(self-replay: expected 0 — every slice shares the reference distribution)")
    }

    if (want('H')) {
    // ---- H. DSIR count store ------------------------------------------------
    // attach-without-seed: the first stamped micro-batch bootstraps the
    // store; per batch = ONE GramBucketCounts aggregate → one ~16 KB row
    val dsirStore = s"$root/dsir_store"
    drain(storeLabel("dsir count store"),
      IncrementalSelection.attach(docStream(), dsirStore, "text",
        array_contains(split(col("text"), " "), "spark"), buckets = 1024,
        checkpointLocation = chk("dsir"), compactEvery = compactEvery,
        asyncCompact = asyncCompact),
      streamedDocs, Seq(dsirStore))
    val (nRatios, refresh) = timed(IncrementalSelection.ratios(spark, dsirStore, 1024).count())
    println(f"#   dsir ratio refresh to $nRatios buckets in $refresh%.2f s")
    }

    if (want('I')) {
    // ---- I. shard-manifest store --------------------------------------------
    val manStore = s"$root/manifest_store"
    drain(storeLabel("shard manifest store"),
      IncrementalManifest.attach(docStream(), manStore, "doc_id", Seq("doc_id", "text"),
        nShards = 256, seed = "ms15", family = graft.operators.HashFamily.XxHash64,
        checkpointLocation = chk("manifest"), compactEvery = compactEvery,
        asyncCompact = asyncCompact),
      streamedDocs, Seq(manStore))
    val (liveShards, rollup) = timed(IncrementalManifest.manifest(spark, manStore).count())
    println(f"#   manifest live rollup to $liveShards shards in $rollup%.2f s")
    }

    if (want('J')) {
    // ---- J. BM25 tf store + serve latency vs file count ---------------------
    // the ingest loop never READS the tf store on steady-state triggers
    // (ReplayProbe), so its wall should stay FLAT as files accrete; the
    // file-count term lands on the SERVE side (load derives df/stats from
    // the whole store) — measured here as the same query set served from
    // the replayed store vs after one term-range compaction
    val tfStore = s"$root/bm25_store"
    drain(storeLabel("bm25 tf store"),
      IncrementalBm25.attach(docStream(), tfStore, checkpointLocation = chk("bm25"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      streamedDocs, Seq(tfStore))
    val bmQueries = Lake.read(spark, tfStore)
      .groupBy(col("doc_id")).agg(concat_ws(" ", collect_list(col("term"))).as("qtext"))
      .select(col("doc_id").as("query_id"),
        expr("array_join(slice(split(qtext, ' '), 1, 3), ' ')").as("qtext"))
      .limit(32).persist()
    def serve(): Double = timed(graft.operators.TextAnalysis
      .bm25Serve(IncrementalBm25.load(spark, tfStore), bmQueries, "query_id", "qtext", topK = 10)
      .foreach(_ => ()))._2
    val replayedFiles = parquetFiles(tfStore)
    val serveReplayed = serve()
    Lake.compact(spark, tfStore, rangeCols = Seq("term"))
    val serveCompact = serve()
    bmQueries.unpersist()
    println(f"#   bm25 serve (32 queries, top-10): $serveReplayed%.2f s on $replayedFiles files " +
      f"-> $serveCompact%.2f s on ${parquetFiles(tfStore)} files after term-range compact")
    }

    if (want('K')) {
    // ---- K. SCD2 over the events changelog ----------------------------------
    // the event-time-ordered replay keeps the per-key non-decreasing-time
    // contract; the open fetch reads the log-compacted head, so per-batch
    // cost rides |batch| + #keys, not the version history
    val scd2Store = s"$root/scd2"
    drain(storeLabel("scd2 version log"),
      IncrementalScd2.attach(
        eventStream().select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
        scd2Store, Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
        checkpointLocation = chk("scd2"), compactEvery = compactEvery,
        asyncCompact = asyncCompact),
      Some(nEvents), Seq(scd2Store, s"${scd2Store}_open"))
    println(s"#   scd2 after replay: ${Lake.read(spark, scd2Store).count()} versions, " +
      s"head ${Lake.read(spark, s"${scd2Store}_open").count()} keys")
    }

    if (want('L')) {
    // ---- L. IVF/ANN index (embeddings) + serve ------------------------------
    // per-batch ingest assigns the BATCH only (cost ∝ |batch|, not
    // |index|); the serve probes the persisted cells with no corpus-side
    // re-assignment
    val emb = Tables.load(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding"))
    val nEmb = emb.count()
    val embPer = math.max(1L, nEmb / docChunks)
    val embReplay = s"$root/emb_replay"
    prepareIdReplay(emb, "vec_id", embPer, embReplay, docChunks)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      .persist()
    val annStore = s"$root/ann_store"
    IncrementalAnn.seed(emb.filter(col("vec_id") < embPer), annStore, centroids,
      "vec_id", "embedding")
    drain(storeLabel("ann ivf index"),
      IncrementalAnn.attach(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(embReplay),
        annStore, centroids, "vec_id", "embedding", checkpointLocation = chk("ann"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      Some(nEmb - embPer), Seq(annStore))
    val queries = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 4850)
    val (_, serve) = timed(IncrementalAnn.serve(spark, annStore, queries, centroids,
      "vec_id", "embedding", k = 10, nprobe = 2).foreach(_ => ()))
    println(f"#   ann index after replay: ${Lake.read(spark, annStore).count()} vectors; " +
      f"serve (${queries.count()} queries, top-10, nprobe 2) $serve%.2f s")
    centroids.unpersist()
    }

    if (want('M')) {
    // ---- M. link-graph store + PageRank snapshot ----------------------------
    // the deterministic documents link graph, derived per micro-batch
    // from the arriving doc ids; ingest is O(batch), and the periodic
    // whole-graph pass rides the current |E| only
    val links = docStream().select(col("doc_id"))
    val edges = (Seq(2 -> 202, 3 -> 303, 5 -> 505).map { case (k, off) =>
      links.select(col("doc_id").as("src"), expr(s"(doc_id div $k + $off) % $nDocs").as("dst"))
    } :+ links.select(col("doc_id").as("src"), (col("doc_id") % 10).as("dst")))
      .reduce(_ unionAll _).filter(col("src") =!= col("dst"))
    val graphStore = s"$root/graph_store"
    drain(storeLabel("graph edge store"),
      IncrementalGraph.attach(edges, graphStore, checkpointLocation = chk("graph"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      streamedDocs, Seq(graphStore))
    val (ranked, snap) = timed(IncrementalGraph.rankSnapshot(spark, graphStore).count())
    println(f"#   graph store after replay: ${IncrementalGraph.loadEdges(spark, graphStore).count()} " +
      f"edges; rankSnapshot (5 iterations) over $ranked nodes in $snap%.2f s")
    }

    if (want('N')) {
    // ---- N. HLL distinct-count store ----------------------------------------
    val hllStore = s"$root/hll_store"
    drain(storeLabel("hll distinct store"),
      IncrementalSketches.attach(eventStream().select(col("event_type"), col("user_id")),
        hllStore, Seq("event_type"), "user_id", checkpointLocation = chk("hll"),
        compactEvery = compactEvery, asyncCompact = asyncCompact),
      Some(nEvents), Seq(hllStore))
    val (groups, roll) =
      timed(IncrementalSketches.estimate(spark, hllStore, Seq("event_type")).count())
    println(f"#   hll rollup to $groups per-type estimates in $roll%.2f s")
    }

    println(f"# cadence check: live-equivalent event density = " +
      f"${nEvents / (30.0 * 86400)}%.2f rows/sec; every operator above absorbs 1000x+ that")
    spark.stop()
  }
}
