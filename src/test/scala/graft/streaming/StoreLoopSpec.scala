package graft.streaming

import graft.SparkSpec
import graft.sources.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The shared store-loop engine ([[StoreLoop]]) over all nine stores
  * and the five stamped output sinks (the drift and quality monitor
  * logs, the decontamination, NB and perplexity gates): the stamped
  * append (its file sizing, its empty batch, its job count), a failed
  * SCD2 or dedup append's pin, and exactly-once across a restart whose
  * first trigger re-delivers a batch that already reached the store.
  */
class StoreLoopSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
    "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega")

  // even docs of slice 2 repeat a slice-0 text, so the dedup loop
  // drops cross-batch duplicates and SCD2 sees repeated attributes
  private def text(i: Int): String =
    if (i >= 12 && i % 2 == 0) text(i - 12)
    else (0 until 12).map(j => vocab((i * 7 + j * (i % 4 + 1)) % vocab.size)).mkString(" ")

  /** Slice `s` of the input: six rows carrying every store's columns. */
  private def slice(s: Int): DataFrame =
    (6 * s until 6 * s + 6).map { i =>
      val a = 0.4 * i
      (i.toLong, text(i), s"s${i % 2}", ((i * 37) % 11).toDouble,
        ((i * 5 + 3) % 17).toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat),
        s"k${i % 3}", new Timestamp(1700000000000L + i * 1000L), s"a${(i / 3) % 2}")
    }.toDF("doc_id", "text", "source", "v", "dst", "embedding", "k", "ts", "attr")

  private lazy val centroids =
    Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)), (2, Seq(-1f, 0f))).toDF("centroid_id", "centroid_vec")

  /** One store: how to seed it (if its attach needs a seed), attach it,
    * ingest one batch directly, and which directories hold its state.
    */
  private case class Store(
      name: String,
      attach: (DataFrame, String, String) => StreamingQuery,
      ingest: (DataFrame, String, Long, Boolean) => Unit,
      dirs: String => Seq[String],
      seed: String => Unit = _ => ())

  private def single(
      name: String,
      attach: (DataFrame, String, Option[String]) => StreamingQuery,
      ingest: (DataFrame, String, Long, Boolean) => Unit
  ): Store =
    Store(name, (in, root, chk) => attach(in, s"$root/$name", Some(chk)),
      (b, root, bid, probe) => ingest(b, s"$root/$name", bid, probe), root => Seq(s"$root/$name"))

  private val stores: Seq[Store] = Seq(
    single("bm25",
      (in, dir, chk) => IncrementalBm25.attach(in, dir, checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalBm25.ingestBatch(spark, b, dir, batchId = Some(bid),
        probeReplay = probe)),
    single("hll",
      (in, dir, chk) => IncrementalSketches.attach(in, dir, Seq("source"), "text",
        checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalSketches.ingestBatch(spark, b, dir, Seq("source"), "text",
        batchId = Some(bid), probeReplay = probe)),
    single("kll",
      (in, dir, chk) => IncrementalSketches.attachQuantiles(in, dir, Seq("source"), "v",
        checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalSketches.ingestQuantilesBatch(spark, b, dir, Seq("source"),
        "v", batchId = Some(bid), probeReplay = probe)),
    single("manifest",
      (in, dir, chk) => IncrementalManifest.attach(in, dir, "doc_id", Seq("doc_id", "text"),
        nShards = 4, seed = "s", checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalManifest.ingestBatch(spark, b, dir, "doc_id",
        Seq("doc_id", "text"), nShards = 4, seed = "s", batchId = Some(bid),
        probeReplay = probe)),
    single("graph",
      (in, dir, chk) => IncrementalGraph.attach(in, dir, "doc_id", "dst",
        checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalGraph.ingestBatch(spark, b, dir, "doc_id", "dst",
        batchId = Some(bid), probeReplay = probe)),
    single("ann",
      (in, dir, chk) => IncrementalAnn.attach(in, dir, centroids, "doc_id", "embedding",
        checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalAnn.ingestBatch(spark, b, dir, centroids, "doc_id",
        "embedding", batchId = Some(bid), probeReplay = probe)),
    single("selection",
      (in, dir, chk) => IncrementalSelection.attach(in, dir, "text", col("doc_id") % 3 === 0,
        buckets = 32, checkpointLocation = chk),
      (b, dir, bid, probe) => IncrementalSelection.ingestBatch(spark, b, dir, "text",
        col("doc_id") % 3 === 0, buckets = 32, batchId = Some(bid), probeReplay = probe)),
    Store("scd2",
      (in, root, chk) => IncrementalScd2.attach(in, s"$root/scd2", Seq("k"), "ts", Seq("attr"),
        Seq("doc_id"), checkpointLocation = Some(chk)),
      (b, root, bid, probe) => IncrementalScd2.ingestBatch(spark, b, s"$root/scd2", Seq("k"),
        "ts", Seq("attr"), Seq("doc_id"), batchId = Some(bid), probeReplay = probe),
      root => Seq(s"$root/scd2", IncrementalScd2.openDir(s"$root/scd2"))),
    // the dedup stores keep (id, text) rows: one schema across seed and appends
    Store("dedup",
      (in, root, chk) => IncrementalDedup.attach(in.select("doc_id", "text"),
        s"$root/corpus", s"$root/bands", checkpointLocation = Some(chk)),
      (b, root, bid, probe) => IncrementalDedup.ingestBatch(spark, b.select("doc_id", "text"),
        s"$root/corpus", s"$root/bands", batchId = Some(bid), probeReplay = probe),
      root => Seq(s"$root/corpus", s"$root/bands"),
      seed = root => IncrementalDedup.seed(
        Seq((1000L, "seed document with a handful of words that no slice ever repeats"))
          .toDF("doc_id", "text"), s"$root/corpus", s"$root/bands"))
  )

  private val driftEdges = Seq(3.0, 6.0, 9.0)
  private val qualityChecks =
    Seq(graft.operators.Quality.Complete("text"), graft.operators.Quality.InSet("source", Seq("s0")))

  /** An output sink over a seeded model: `seed` writes the model to
    * `$root/$name-model`, and the sink appends to `$root/$name`.
    */
  private def sink(
      name: String,
      seed: String => Unit,
      attach: (DataFrame, String, String, String) => StreamingQuery,
      ingest: (DataFrame, String, String, Long, Boolean) => Unit
  ): Store =
    Store(name, (in, root, chk) => attach(in, s"$root/$name-model", s"$root/$name", chk),
      (b, root, bid, probe) => ingest(b, s"$root/$name-model", s"$root/$name", bid, probe),
      root => Seq(s"$root/$name"), seed = root => seed(s"$root/$name-model"))

  private val sinks: Seq[Store] = Seq(
    sink("drift",
      model => DriftMonitor.seedReference(slice(0), "v", driftEdges, model),
      (in, model, out, chk) => DriftMonitor.attach(in, "v", driftEdges, model, out,
        checkpointLocation = Some(chk)),
      (b, model, out, bid, probe) => DriftMonitor.scoreBatch(spark, b, "v", driftEdges, model,
        out, batchId = Some(bid), probeReplay = probe)),
    sink("quality", _ => (),
      (in, _, out, chk) => QualityMonitor.attach(in, qualityChecks, out,
        checkpointLocation = Some(chk)),
      (b, _, out, bid, probe) => QualityMonitor.scoreBatch(spark, b, qualityChecks, out,
        batchId = Some(bid), probeReplay = probe)),
    // the eval set holds slice 0's first text, which slice 2 repeats
    sink("decontaminate",
      model => StreamingCuration.seedEvalSet(Seq((900L, text(0))).toDF("doc_id", "text"), model),
      (in, model, out, chk) => StreamingCuration.attachDecontaminate(in, model, out, chk),
      (b, model, out, bid, probe) => StreamingCuration.ingestDecontaminate(b, model, out, bid,
        probe)),
    sink("nb_gate",
      model => StreamingCuration.seedNbClassifier(
        (0 until 12).map(i => (i.toLong, text(i), i % 2)).toDF("doc_id", "text", "y"), model),
      (in, model, out, chk) => StreamingCuration.attachNbGate(in, model, out, chk),
      (b, model, out, bid, probe) => StreamingCuration.ingestNbGate(b, model, out, bid, probe)),
    sink("perplexity_gate",
      model => StreamingCuration.seedLanguageModel(
        slice(0).union(slice(1)).select("doc_id", "text"), model),
      (in, model, out, chk) => StreamingCuration.attachGate(in, model, out, chk,
        keepMaxBucket = 2),
      (b, model, out, bid, probe) => StreamingCuration.ingestGate(b, model, out, bid, probe,
        keepMaxBucket = 2))
  )

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** The six stores that append through [[StoreLoop.appendStamped]]. */
  private lazy val stamped =
    stores.filter(s => Set("bm25", "hll", "kll", "manifest", "graph", "ann")(s.name))

  private def appendsOneFile(group: Seq[Store]): Unit = {
    val root = Files.createTempDirectory("graft_storeloop_append").toString
    val batch = slice(0).repartition(4)
    assert(batch.rdd.getNumPartitions == 4)
    val files = group.map { s =>
      s.seed(root)
      s.ingest(batch, root, 0L, true)
      s.name -> parquetFiles(s"$root/${s.name}")
    }
    assert(files.size == group.size && files.forall(_._2 == 1),
      s"files per store after one append: $files")
  }

  private def appendsNoFileWhenEmpty(group: Seq[Store]): Unit = {
    val root = Files.createTempDirectory("graft_storeloop_empty").toString
    slice(1).write.parquet(s"$root/stage")
    // empty by plan (the optimizer sees the limit) and empty only when
    // it runs (a filter no row of the read passes)
    val empties =
      Seq(slice(1).limit(0), spark.read.parquet(s"$root/stage").filter(col("doc_id") < 0))
    val events = new java.util.concurrent.CopyOnWriteArrayList[RuntimeEvent]()
    val sink = new RuntimeEventSink { def publish(e: RuntimeEvent): Unit = events.add(e) }
    RuntimeEventBus.addSink(sink)
    try group.foreach { s =>
      s.seed(s"$root/fresh")
      s.ingest(empties.head, s"$root/fresh", 0L, true)
      assert(parquetFiles(s"$root/fresh/${s.name}") == 0, s"${s.name}: a fresh store got a file")
      s.seed(root)
      s.ingest(slice(0), root, 0L, true)
      val before = parquetFiles(s"$root/${s.name}")
      for ((empty, bid) <- empties.zip(Seq(1L, 2L))) {
        s.ingest(empty, root, bid, bid == 1L)
        assert(parquetFiles(s"$root/${s.name}") == before, s"${s.name}: batch $bid added a file")
      }
    } finally RuntimeEventBus.removeSink(sink)
    for (s <- group; bid <- Seq(1L, 2L)) {
      val rows = events.asScala.filter(e => e.name == "batch.ingested" &&
        e.entity == s"$root/${s.name}" && e.batchId.contains(bid)).map(_.message.get)
      assert(rows == Seq("rows=0"), s"${s.name} batch $bid published $rows")
    }
  }

  test("a 4-partition micro-batch appends exactly one parquet file (six stamped-append stores)") {
    appendsOneFile(stamped)
  }

  test("a 4-partition micro-batch appends exactly one parquet file (five output sinks)") {
    appendsOneFile(sinks)
  }

  test("an empty micro-batch appends no parquet file and publishes rows=0 (six stamped stores)") {
    appendsNoFileWhenEmpty(stamped)
  }

  test("an empty micro-batch appends no parquet file and publishes rows=0 (five output sinks)") {
    appendsNoFileWhenEmpty(sinks)
  }

  test("the stamped append sizes its files from the plan estimate, at most shuffle partitions") {
    val t = BigInt(Lake.TargetFileBytes)
    assert(StoreGuard.estimatedParts(Some(BigInt(0)), 4) == 1)
    assert(StoreGuard.estimatedParts(Some(BigInt(2048)), 4) == 1)
    assert(StoreGuard.estimatedParts(Some(t), 4) == 1)
    assert(StoreGuard.estimatedParts(Some(t + 1), 4) == 2)
    assert(StoreGuard.estimatedParts(Some(3 * t), 8) == 3)
    assert(StoreGuard.estimatedParts(Some(100 * t), 8) == 8)
    assert(StoreGuard.estimatedParts(Some(t * t), 200) == 200)
    // an unknown estimate is one file, whatever the cap
    assert(StoreGuard.estimatedParts(None, 1) == 1)
    assert(StoreGuard.estimatedParts(None, 200) == 1)

    assert(StoreGuard.sizeEstimate(slice(0)).exists(_ < t))
    // a frame over an RDD: Spark cannot measure it, and a projection
    // above it scales the unknown size down, but it is still unknown
    val overRdd = spark.sparkContext.parallelize(0 until 48, 8)
      .map(i => (i.toLong, ((i * 5 + 3) % 17).toLong)).toDF("doc_id", "dst")
    assert(StoreGuard.sizeEstimate(overRdd).isEmpty)
    assert(StoreGuard.sizeEstimate(overRdd.select(col("doc_id"))).isEmpty)
  }

  test("a batch with no size estimate appends one file, not one per input partition") {
    val dir = Files.createTempDirectory("graft_storeloop_rdd").resolve("graph").toString
    val batch = spark.sparkContext.parallelize(0 until 48, 8)
      .map(i => (i.toLong, ((i * 5 + 3) % 17).toLong)).toDF("doc_id", "dst")
    assert(batch.rdd.getNumPartitions == 8)
    IncrementalGraph.ingestBatch(spark, batch, dir, "doc_id", "dst", batchId = Some(0L))
    assert(parquetFiles(dir) == 1)
    assert(Lake.read(spark, dir).count() == 48)
  }

  test("one fresh-id stamped append runs a fixed number of Spark jobs: no count, no cache") {
    val root = Files.createTempDirectory("graft_storeloop_jobs").toString
    val group = stamped ++ sinks ++ stores.filter(s => Set("scd2", "dedup")(s.name))
    group.foreach { s => s.seed(root); s.ingest(slice(0), root, 0L, true) }
    val jobs = group.map(s => s.name -> jobsOf(s.ingest(slice(1), root, 1L, false))).toMap
    // the persist + count + sized write this replaced ran 5, 5, 5, 7, 4
    // and 6. Graph and ann plans run narrow from their source, so the
    // write cuts them after a round-robin exchange: one job more than a
    // plain write. The sinks' counts include their broadcast joins
    // against the seeded model (each broadcast is a job). SCD2 and dedup
    // append through StoreLoop.appendPinned: one pin, one count and two
    // writes, plus SCD2's head fold and dedup's candidate-id collect,
    // verify and within-batch label propagation. Dedup's count moves by
    // one between runs (139 alone, 138 inside the full suite), so it is
    // held to a ceiling: the 139 it ran before appendPinned
    assert(jobs - "dedup" == Map("bm25" -> 2, "hll" -> 2, "kll" -> 2, "manifest" -> 4,
      "graph" -> 2, "ann" -> 4, "drift" -> 7, "quality" -> 2, "decontaminate" -> 11,
      "nb_gate" -> 5, "perplexity_gate" -> 5, "scd2" -> 12), s"jobs per append: $jobs")
    assert(jobs("dedup") <= 139, s"dedup jobs per append: ${jobs("dedup")}")
  }

  test("a BM25 serve runs a fixed number of Spark jobs, fewer on an unchanged store") {
    spark.streams.active.foreach(_.stop()) // a Profile window counts every job
    val profile = graft.Profile.of(spark)
    val root = Files.createTempDirectory("graft_storeloop_serve").toString
    val bm25 = stores.find(_.name == "bm25").get
    bm25.ingest(slice(0), root, 0L, true)
    val queries = Seq((1L, "alpha beta gamma"), (2L, "delta omega")).toDF("qid", "qtext")
    def serveJobs(): Long = profile.window {
      graft.operators.TextAnalysis.bm25Serve(
        IncrementalBm25.load(spark, s"$root/bm25"), queries, "qid", "qtext", 10).collect()
    }._2("jobs")
    def firstAndRepeat(): (Long, Long) = (serveJobs(), serveJobs())
    val afterSeed = firstAndRepeat()
    bm25.ingest(slice(1), root, 1L, false)
    val afterAppend = firstAndRepeat()
    // a serve that derived df and N/avgdl on every call ran 10 jobs; the
    // first serve after a change materializes the cached tables as well
    assert(Seq(afterSeed, afterAppend) == Seq((12L, 7L), (12L, 7L)),
      s"jobs per (first, repeat) serve: after the seed $afterSeed, after an append $afterAppend")
  }

  test("a failed SCD2 append releases its pin: nothing stays cached") {
    // the second store's dir becomes a regular file (one parquet file of
    // its rows, so a read of it still works): the first append lands,
    // the append after it throws (SCD2: head then version log; dedup:
    // bands then corpus)
    for ((name, second) <- Seq("scd2" -> "scd2", "dedup" -> "corpus")) {
      val root = Files.createTempDirectory(s"graft_storeloop_${name}_fail").toString
      val store = stores.find(_.name == name).get
      store.seed(root)
      store.ingest(slice(0), root, 0L, true)
      val dir = Paths.get(root, second)
      Lake.read(spark, dir.toString).coalesce(1).write.parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles().find(_.getName.endsWith(".parquet"))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      Files.move(part.get.toPath, dir)
      spark.catalog.clearCache()
      intercept[Exception](store.ingest(slice(1), root, 1L, false))
      assert(spark.sharedState.cacheManager.isEmpty, s"$name: the failed batch is still cached")
    }
  }

  // ---- restart with a replayed batch -------------------------------------
  // The file source delivers one slice file per trigger, so batch id i is
  // slice i in every run. The interrupted run stops after batch 0; slice
  // 1 then reaches the store through a direct ingestBatch with batchId 1
  // — the state a crash between the append and the checkpoint commit
  // leaves. The restart re-delivers batch 1 (a replay no-op) and ingests
  // batch 2 fresh.

  private val slices = 3
  private val crashed = 1
  private lazy val schema = slice(0).schema

  /** Land slice `s` in `root`'s source dir as one parquet file, once
    * (atomic move, so the source never lists a partial file); returns
    * its path.
    */
  private def publish(root: String, s: Int): String = {
    val dest = Paths.get(root, "src", f"slice-$s%03d.parquet")
    if (!Files.exists(dest)) {
      val stage = s"$root/stage$s"
      slice(s).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
    }
    dest.toString
  }

  /** Attach `store` from `root`'s checkpoint and drain `batches`. */
  private def run(store: Store, root: String, batches: Range): Unit = {
    Files.createDirectories(Paths.get(root, "src"))
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$root/src")
    val q = store.attach(in, root, s"$root/chk")
    try batches.foreach { s => publish(root, s); q.processAllAvailable() }
    finally q.stop()
  }

  for (store <- stores ++ sinks)
    test(s"restart after a crash between append and commit: ${store.name} equals an uninterrupted run") {
      val base = Files.createTempDirectory(s"graft_storeloop_${store.name}").toString
      val clean = s"$base/clean"
      store.seed(clean)
      run(store, clean, 0 until slices)

      val crash = s"$base/crash"
      store.seed(crash)
      run(store, crash, 0 until crashed)
      val file = publish(crash, crashed)
      store.ingest(spark.read.schema(schema).parquet(file), crash, crashed.toLong, true)
      run(store, crash, crashed until slices)

      for ((c, r) <- store.dirs(clean).zip(store.dirs(crash))) {
        val want = spark.read.parquet(c)
        val got = spark.read.parquet(r)
        assert(!want.isEmpty, s"$c is empty")
        assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
          s"${store.name}: $r differs from the uninterrupted run")
      }
    }
}
