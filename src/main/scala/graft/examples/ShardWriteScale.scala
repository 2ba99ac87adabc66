package graft.examples

import graft.GraftSession
import graft.operators.HashFamily
import graft.sources.{Lake, Tables}
import org.apache.spark.sql.functions._

/** Measures the training-shard write path end-to-end: hash-assign →
  * one shard shuffle → partitioned write, then the read-back
  * re-manifest (the loader-side integrity check). The manifest itself
  * is ONE hash aggregate — the wall is the shuffle + parquet encode,
  * which is the floor for ANY layout that co-locates a shard's rows.
  *
  * Run: `java -cp "target/scala-2.13/classes:<spark jars>"
  *       graft.examples.ShardWriteScale /tmp/sf10 /tmp/graft_shards 256`
  * (numbers in BASELINE.md round 15).
  */
object ShardWriteScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_shards"
    val nShards = if (args.length > 2) args(2).toInt else 256
    val spark = GraftSession.local()

    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val n = docs.count()

    val t0 = System.nanoTime()
    val manifest = Lake.writeTrainingShards(
      docs, "doc_id", Seq("doc_id", "text"), out, nShards,
      seed = "sw15", tokenCol = Some("n_tok"), family = HashFamily.XxHash64)
    val pre = manifest.collect()
    val tWrite = (System.nanoTime() - t0) / 1e9

    val bytes = {
      def walk(f: java.io.File): Long =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(out))
    }

    val t1 = System.nanoTime()
    val post = Lake.shardManifest(
      spark.read.parquet(out).drop("shard"),
      "doc_id", Seq("doc_id", "text"), nShards,
      seed = "sw15", tokenCol = Some("n_tok"), family = HashFamily.XxHash64)
      .collect()
    val tVerify = (System.nanoTime() - t1) / 1e9
    val ok = pre.map(_.toString).sorted.sameElements(post.map(_.toString).sorted)

    println(f"# ShardWriteScale sf=$sfDir docs=$n shards=$nShards")
    println(f"write+manifest ${tWrite}%.1f s (${n / tWrite}%.0f docs/s, ${bytes / 1e6}%.0f MB), " +
      f"read-back verify ${tVerify}%.1f s, manifests ${if (ok) "IDENTICAL" else "DIVERGED"}")
    require(ok, "read-back manifest diverged from the pre-write manifest")
    spark.stop()
  }
}
