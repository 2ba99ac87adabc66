package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** The shared store-loop engine ([[StoreLoop]]) over all nine stores:
  * the sized stamped append, and exactly-once across a restart whose
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
      ingest: (DataFrame, String, Long) => Unit,
      dirs: String => Seq[String],
      seed: String => Unit = _ => ())

  private def single(
      name: String,
      attach: (DataFrame, String, Option[String]) => StreamingQuery,
      ingest: (DataFrame, String, Long) => Unit
  ): Store =
    Store(name, (in, root, chk) => attach(in, s"$root/$name", Some(chk)),
      (b, root, bid) => ingest(b, s"$root/$name", bid), root => Seq(s"$root/$name"))

  private val stores: Seq[Store] = Seq(
    single("bm25",
      (in, dir, chk) => IncrementalBm25.attach(in, dir, checkpointLocation = chk),
      (b, dir, bid) => IncrementalBm25.ingestBatch(spark, b, dir, batchId = Some(bid))),
    single("hll",
      (in, dir, chk) => IncrementalSketches.attach(in, dir, Seq("source"), "text",
        checkpointLocation = chk),
      (b, dir, bid) => IncrementalSketches.ingestBatch(spark, b, dir, Seq("source"), "text",
        batchId = Some(bid))),
    single("kll",
      (in, dir, chk) => IncrementalSketches.attachQuantiles(in, dir, Seq("source"), "v",
        checkpointLocation = chk),
      (b, dir, bid) => IncrementalSketches.ingestQuantilesBatch(spark, b, dir, Seq("source"),
        "v", batchId = Some(bid))),
    single("manifest",
      (in, dir, chk) => IncrementalManifest.attach(in, dir, "doc_id", Seq("doc_id", "text"),
        nShards = 4, seed = "s", checkpointLocation = chk),
      (b, dir, bid) => IncrementalManifest.ingestBatch(spark, b, dir, "doc_id",
        Seq("doc_id", "text"), nShards = 4, seed = "s", batchId = Some(bid))),
    single("graph",
      (in, dir, chk) => IncrementalGraph.attach(in, dir, "doc_id", "dst",
        checkpointLocation = chk),
      (b, dir, bid) => IncrementalGraph.ingestBatch(spark, b, dir, "doc_id", "dst",
        batchId = Some(bid))),
    single("ann",
      (in, dir, chk) => IncrementalAnn.attach(in, dir, centroids, "doc_id", "embedding",
        checkpointLocation = chk),
      (b, dir, bid) => IncrementalAnn.ingestBatch(spark, b, dir, centroids, "doc_id",
        "embedding", batchId = Some(bid))),
    single("selection",
      (in, dir, chk) => IncrementalSelection.attach(in, dir, "text", col("doc_id") % 3 === 0,
        buckets = 32, checkpointLocation = chk),
      (b, dir, bid) => IncrementalSelection.ingestBatch(spark, b, dir, "text",
        col("doc_id") % 3 === 0, buckets = 32, batchId = Some(bid))),
    Store("scd2",
      (in, root, chk) => IncrementalScd2.attach(in, s"$root/scd2", Seq("k"), "ts", Seq("attr"),
        Seq("doc_id"), checkpointLocation = Some(chk)),
      (b, root, bid) => IncrementalScd2.ingestBatch(spark, b, s"$root/scd2", Seq("k"), "ts",
        Seq("attr"), Seq("doc_id"), batchId = Some(bid)),
      root => Seq(s"$root/scd2", IncrementalScd2.openDir(s"$root/scd2"))),
    // the dedup stores keep (id, text) rows: one schema across seed and appends
    Store("dedup",
      (in, root, chk) => IncrementalDedup.attach(in.select("doc_id", "text"),
        s"$root/corpus", s"$root/bands", checkpointLocation = Some(chk)),
      (b, root, bid) => IncrementalDedup.ingestBatch(spark, b.select("doc_id", "text"),
        s"$root/corpus", s"$root/bands", batchId = Some(bid)),
      root => Seq(s"$root/corpus", s"$root/bands"),
      seed = root => IncrementalDedup.seed(
        Seq((1000L, "seed document with a handful of words that no slice ever repeats"))
          .toDF("doc_id", "text"), s"$root/corpus", s"$root/bands"))
  )

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("a 4-partition micro-batch appends exactly one parquet file (six stamped-append stores)") {
    val root = Files.createTempDirectory("graft_storeloop_append").toString
    val batch = slice(0).repartition(4)
    assert(batch.rdd.getNumPartitions == 4)
    val files = stores.filter(s => Set("bm25", "hll", "kll", "manifest", "graph", "ann")(s.name))
      .map { s => s.ingest(batch, root, 0L); s.name -> parquetFiles(s"$root/${s.name}") }
    assert(files.size == 6 && files.forall(_._2 == 1), s"files per store after one append: $files")
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

  for (store <- stores)
    test(s"restart after a crash between append and commit: ${store.name} equals an uninterrupted run") {
      val base = Files.createTempDirectory(s"graft_storeloop_${store.name}").toString
      val clean = s"$base/clean"
      store.seed(clean)
      run(store, clean, 0 until slices)

      val crash = s"$base/crash"
      store.seed(crash)
      run(store, crash, 0 until crashed)
      val file = publish(crash, crashed)
      store.ingest(spark.read.schema(schema).parquet(file), crash, crashed.toLong)
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
