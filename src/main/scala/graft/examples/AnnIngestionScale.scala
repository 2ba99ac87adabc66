package graft.examples

import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables
import graft.streaming.IncrementalAnn
import org.apache.spark.sql.functions._

/** Scale evidence for the continuously-maintained IVF index — the
  * [[Scd2IngestionScale]] protocol applied to [[IncrementalAnn]]:
  * feed the embeddings table through `ingestBatch` in equal slices and
  * print, while the INDEX grows:
  *   - per-batch ingest WALL (assignment of the batch only — expected
  *     flat: cost ∝ |batch|, not |index|);
  *   - serve wall for a pinned 50-query batch against the persisted
  *     store vs the SAME probe through a fresh `ivfTopK` that must
  *     re-assign the whole corpus first — the gap is the assignment
  *     term the store amortizes to ingest.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain
  *       graft.examples.AnnIngestionScale"` (numbers in BASELINE.md).
  */
object AnnIngestionScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "5").toInt
    val spark = GraftSession.local()

    val root = java.nio.file.Files.createTempDirectory("graft_ann_scale").toString
    val storeDir = s"$root/ivf"
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // nlist from env: at production sizing (nlist ∝ n) the corpus-side
    // assignment fold is the dominant serve cost — exactly the term the
    // persisted store amortizes to ingest
    val nlist = sys.env.getOrElse("SPARK_GRAFT_NLIST", "8").toInt
    val centroids = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("centroid_vec"))
    val n = emb.count()
    val per = n / (batches + 1)
    val queries = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 4850)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    IncrementalAnn.seed(emb.filter(col("vec_id") < per), storeDir, centroids,
      "vec_id", "embedding")
    println(s"[scale] seeded from $sfDir: ${spark.read.parquet(storeDir).count()} vectors indexed")

    (1 to batches).foreach { b =>
      val batch = emb.filter(col("vec_id") >= per * b && col("vec_id") < per * (b + 1))
      val ingest = timed(IncrementalAnn.ingestBatch(spark, batch, storeDir, centroids,
        "vec_id", "embedding", batchId = Some(b.toLong)))
      val corpusNow = emb.filter(col("vec_id") < per * (b + 1))
      val serve = timed(IncrementalAnn.serve(spark, storeDir, queries, centroids,
        "vec_id", "embedding", k = 10, nprobe = 2)
        .agg(count(lit(1))).collect())
      val fresh = timed(Similarity.ivfTopK(queries, corpusNow, centroids,
        "vec_id", "embedding", k = 10, nprobe = 2)
        .agg(count(lit(1))).collect())
      val indexed = spark.read.parquet(storeDir).count()
      println(f"[scale] batch $b: ingest $ingest%.2f s; serve(store) $serve%.2f s " +
        f"vs ivfTopK(re-assign) $fresh%.2f s; index $indexed vectors")
    }
    spark.stop()
  }
}
