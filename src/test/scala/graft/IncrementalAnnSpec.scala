package graft

import graft.operators.Similarity
import graft.streaming.IncrementalAnn
import org.apache.spark.sql.functions._

/** Continuously-maintained IVF index: the persisted assignment store
  * fed across micro-batches must serve IDENTICAL results to a fresh
  * [[Similarity.ivfTopK]] over the full corpus under the same pinned
  * centroids — the amortization changes WHEN assignment happens, never
  * WHAT the probe returns. Replays are no-ops; compaction keeps the
  * store cell-sorted without changing results.
  */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic vectors: 8-dim, four well-separated axes so
  // cell assignment is unambiguous
  private def vec(axis: Int, jitter: Double, sign: Double = 1.0): Seq[Float] =
    (0 until 8).map(d => ((if (d == axis) sign else jitter * ((d + 1) % 3 - 1)) * 1.0f).toFloat)

  private def corpusDf = (0 until 40).map { i =>
    (i.toLong, vec(i % 4, 0.05 * ((i / 4) % 3)))
  }.toDF("vec_id", "embedding")

  private def centroidsDf = (0 until 4).map { a =>
    (a, vec(a, 0.0))
  }.toDF("centroid_id", "centroid_vec")

  test("store fed in batches serves exactly what fresh ivfTopK computes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString + "/ivf"
    val parts = corpusDf.withColumn("__b", col("vec_id") % 3)
    IncrementalAnn.seed(
      parts.filter(col("__b") === 0).drop("__b"), dir, centroidsDf, "vec_id", "embedding")
    (1 to 2).foreach { b =>
      IncrementalAnn.ingestBatch(spark,
        parts.filter(col("__b") === b).drop("__b"), dir, centroidsDf,
        "vec_id", "embedding", batchId = Some(b.toLong))
    }
    val queries = corpusDf.filter(col("vec_id") < 4)
    val served = IncrementalAnn.serve(
      spark, dir, queries, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    val fresh = Similarity.ivfTopK(
      queries, corpusDf, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty,
      s"served:\n${served.orderBy($"query_id", $"rank").collect().mkString("\n")}\n" +
        s"fresh:\n${fresh.orderBy($"query_id", $"rank").collect().mkString("\n")}")
    // every corpus vector is in the index exactly once, with its cell
    val store = spark.read.parquet(dir)
    assert(store.count() == 40)
    assert(store.select("cell").distinct().count() == 4)
  }

  test("replayed batch is a no-op; attach-without-seed bootstraps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_r").toString + "/ivf"
    val batch = corpusDf.limit(10)
    // no seed: first ingest bootstraps the store (StoreGuard contract)
    IncrementalAnn.ingestBatch(spark, batch, dir, centroidsDf,
      "vec_id", "embedding", batchId = Some(3L))
    val once = spark.read.parquet(dir).count()
    IncrementalAnn.ingestBatch(spark, batch, dir, centroidsDf,
      "vec_id", "embedding", batchId = Some(3L))
    assert(spark.read.parquet(dir).count() == once && once == 10)
  }

  test("streaming attach + compaction: bounded files, same serve results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_s").toString + "/ivf"
    IncrementalAnn.seed(corpusDf.filter(col("vec_id") < 4), dir, centroidsDf,
      "vec_id", "embedding")
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IncrementalAnn.attach(
      mem.toDF().toDF("vec_id", "embedding"), dir, centroidsDf,
      "vec_id", "embedding", compactEvery = Some(2))
    try {
      (0 until 4).foreach { b =>
        mem.addData((4 until 40).filter(_ % 4 == b).map(i =>
          (i.toLong, vec(i % 4, 0.05 * ((i / 4) % 3)))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val files = Option(new java.io.File(dir).listFiles()).get
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files <= 3, s"expected a compacted store, found $files files")
    val queries = corpusDf.filter(col("vec_id") < 2)
    val served = IncrementalAnn.serve(
      spark, dir, queries, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    val fresh = Similarity.ivfTopK(
      queries, corpusDf, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty)
  }

  test("async compaction: serve results identical, no live swap dirs left behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_a").toString + "/ivf"
    IncrementalAnn.seed(corpusDf.filter(col("vec_id") < 4), dir, centroidsDf,
      "vec_id", "embedding")
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IncrementalAnn.attach(
      mem.toDF().toDF("vec_id", "embedding"), dir, centroidsDf,
      "vec_id", "embedding", compactEvery = Some(2), asyncCompact = true)
    try {
      (0 until 4).foreach { b =>
        mem.addData((4 until 40).filter(_ % 4 == b).map(i =>
          (i.toLong, vec(i % 4, 0.05 * ((i / 4) % 3)))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(dir).count() == 40)
    val queries = corpusDf.filter(col("vec_id") < 2)
    val served = IncrementalAnn.serve(
      spark, dir, queries, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    val fresh = Similarity.ivfTopK(
      queries, corpusDf, centroidsDf, "vec_id", "embedding", k = 5, nprobe = 2)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty)
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old")),
      siblings.mkString(","))
  }
}
