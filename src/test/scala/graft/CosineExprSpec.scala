package graft

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Native CosineSimilarity expression ≡ the composed built-ins form,
  * bit-for-bit, on real embeddings.
  */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches composed form bit-for-bit on embeddings") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val pairs = emb.alias("a").join(
      emb.alias("b"),
      col("b.vec_id") === col("a.vec_id") + 1
    )
    val both = pairs.select(
      Similarity.cosine(col("a.embedding"), col("b.embedding")).as("native"),
      Similarity.cosineComposed(col("a.embedding"), col("b.embedding")).as("composed")
    )
    val diffs = both.filter(col("native") =!= col("composed")).count()
    assert(diffs == 0)
    assert(both.count() > 400)
  }

  test("generated code matches the interpreted loop bit-for-bit (r20 doGenCode)") {
    // the r20 doGenCode must reproduce nullSafeEval's arithmetic exactly:
    // same accumulation order, same float→double promotion, Math.sqrt.
    // The reference below IS that loop, run driver-side on the collected
    // arrays; Double.compare catches any -0.0/NaN drift == would mask.
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val pairs = emb.alias("a")
      .join(emb.alias("b"), col("b.vec_id") === col("a.vec_id") + 7)
      .select(
        col("a.embedding").as("ea"),
        col("b.embedding").as("eb"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
    val rows = pairs.collect()
    assert(rows.length > 400)
    rows.foreach { r =>
      val a = r.getSeq[Float](0)
      val b = r.getSeq[Float](1)
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val ref = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(java.lang.Double.compare(ref, r.getDouble(2)) == 0)
    }
  }

  test("registered cosine_sim is usable from SQL") {
    graft.functions.CosineSimilarity.register(spark)
    Tables.load(spark, testData("0.001"), "embeddings")
      .createOrReplaceTempView("emb_v")
    val v = spark.sql(
      "SELECT cosine_sim(a.embedding, a.embedding) AS c FROM emb_v a WHERE a.vec_id = 0")
      .head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12) // self-similarity
  }

  test("type check rejects non-array inputs") {
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
