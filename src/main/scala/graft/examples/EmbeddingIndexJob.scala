package graft.examples

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Building a memory-bounded embedding index — the storage/accuracy
  * ladder a vector pipeline climbs at scale:
  *
  *   1. int8 quantization (4× smaller, near-lossless reconstruction);
  *   2. product quantization (16-byte codes, 16× smaller) with
  *      asymmetric-distance search;
  *   3. exact re-rank of the top ADC candidates — full recall while
  *      the exact math touches only R rows per query.
  *
  * Run: `sbt "runMain graft.examples.EmbeddingIndexJob [sfDir]"`
  */
object EmbeddingIndexJob extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    println(s"corpus: $n vectors x $dim dims (${n * dim * 4 / 1024} KiB as float32)")

    // 1. int8: 4x smaller, max reconstruction error scale/2 per element
    val q8 = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val maxScale = q8.agg(max("scale")).first().getDouble(0)
    println(f"int8 codes: ${n * dim / 1024} KiB, worst per-element error <= ${maxScale / 2}%.5f")

    // 2. PQ: 16 subspaces x 64 codewords -> 16-byte codes, trained on
    //    a bounded id-ordered sample of the corpus
    val cb = Similarity.lloydCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    println(s"pq codes: ${n * 16 / 1024} KiB (16x) + codebook ${16 * 64 * (dim / 16) * 4 / 1024} KiB")

    // 3. search: ADC-only vs ADC + exact re-rank, judged against brute force
    val queries = emb.filter(col("vec_id") < 5)
    val encV = enc.join(emb, "vec_id")
    val adc = Similarity.pqTopK(queries, encV, "vec_id", "embedding", cb, 5)
    val rr = Similarity.pqTopK(queries, encV, "vec_id", "embedding", cb, 5, reRank = 50)
    println("ADC-only top-5 for query 0:")
    adc.filter(col("query_id") === 0).orderBy("rank").show(5, truncate = false)
    println("with exact re-rank of the top-50 candidates:")
    rr.filter(col("query_id") === 0).orderBy("rank").show(5, truncate = false)
  }
}
