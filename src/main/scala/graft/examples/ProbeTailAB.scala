package graft.examples

import graft.GraftSession
import graft.sources.Tables
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.functions._

/** Paired in-situ A/B of the replay probe's per-trigger cost on a
  * post-replay dedup store (the regime where it matters: ~2k band
  * files — the probe's no-match case reads every footer). Alternates
  * `probeReplay` on/off across direct [[IncrementalDedup.ingestBatch]]
  * calls against the SAME growing store in one JVM, so the paired
  * difference isolates the probe term from ambient wall-clock noise
  * (single 45-min streaming runs vary ±20%, swamping a ~1.5 s term —
  * the r18 lesson; see BASELINE.md).
  *
  * Usage: ProbeTailAB <finished StreamingScale root with corpus/ bands/>
  * [pairs]
  */
object ProbeTailAB {
  def main(args: Array[String]): Unit = {
    val srcRoot = args(0)
    val pairs = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.local()

    // work on a copy: the A/B appends
    val root = java.nio.file.Files.createTempDirectory("graft_probe_ab").toString
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copyTree(new java.io.File(s"$srcRoot/corpus"), new java.io.File(s"$root/corpus"))
    copyTree(new java.io.File(s"$srcRoot/bands"), new java.io.File(s"$root/bands"))

    // fresh-id micro-batches (~17 docs, the r17 replay's batch size)
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .limit(pairs * 2 * 17).collect()
    import spark.implicits._
    val batches = docs.grouped(17).toArray

    // one warm call (JIT, codegen caches) outside the measurement
    IncrementalDedup.ingestBatch(spark,
      batches.last.map(r => (r.getLong(0) + 5000000L, r.getString(1))).toSeq
        .toDF("doc_id", "text"),
      s"$root/corpus", s"$root/bands", batchId = Some(9000L))

    val walls = Array.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Double])
    batches.take(pairs * 2).zipWithIndex.foreach { case (rows, i) =>
      val probe = i % 2 == 0
      val df = rows.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
      val t0 = System.nanoTime()
      IncrementalDedup.ingestBatch(spark, df, s"$root/corpus", s"$root/bands",
        batchId = Some(10000L + i), probeReplay = probe)
      walls(if (probe) 0 else 1) += (System.nanoTime() - t0) / 1e9
    }
    val probed = walls(0).sum / walls(0).size
    val skipped = walls(1).sum / walls(1).size
    println(f"pairs=$pairs probed=${probed}%.2f s/call skipped=${skipped}%.2f s/call " +
      f"delta=${probed - skipped}%.2f s (probe term at ${
        Option(new java.io.File(s"$root/bands").listFiles()).get.count(_.getName.endsWith(".parquet"))
      } band files)")
    spark.stop()
  }
}
