package graft

import graft.operators.Tokenizer
import org.apache.spark.sql.functions._

/** BPE training + encoding semantics, pinned against hand-computed
  * merges (the Sennrich et al. algorithm on a corpus small enough to
  * run on paper).
  */
class TokenizerSpec extends SparkSpec {

  import spark.implicits._

  test("train learns hand-computable merges with deterministic tie-breaks") {
    // 3 × "aaab": pair counts round 1: (a,a)=6, (a,b)=3 → merge (a,a)
    // round 2 on [aa,a,b]: (aa,a)=3, (a,b)=3 — count tie, lexicographic
    //   smallest pair wins → (a,b)
    // round 3 on [aa,ab]: (aa,ab)=3 → merge
    val df = Seq("aaab", "aaab", "aaab").toDF("text")
    val m = Tokenizer.train(df, "text", numMerges = 5)
    assert(m.merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
  }

  test("training stops early when no pair reaches minPairCount") {
    // all words distinct, every pair count = 1 < default minPairCount 2
    val df = Seq("ab", "cd", "ef").toDF("text")
    intercept[IllegalArgumentException] {
      // zero merges learned → empty model rejected
      Tokenizer.train(df, "text", numMerges = 5)
    }
  }

  test("encode applies rank-greedy merges; unseen pairs stay split") {
    val df = Seq("aaab", "aaab", "aaab").toDF("text")
    val m = Tokenizer.train(df, "text", numMerges = 5)
    val enc = Seq("aaab", "aab", "ba", "aaab aab").toDF("text")
    val got = Tokenizer
      .tokenize(enc, "text", m)
      .select(col("text"), col("tokens"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
    assert(got("aaab") == Seq("aaab"))
    assert(got("aab") == Seq("aa", "b"))
    assert(got("ba") == Seq("b", "a"))
    // word boundaries respected: merges never span the space
    assert(got("aaab aab") == Seq("aaab", "aa", "b"))
  }

  test("token concatenation reconstructs each word on real documents") {
    val docs = spark.read
      .parquet(s"${testData("0.001")}/documents.parquet")
      .limit(200)
    val model = Tokenizer.train(docs, "text", numMerges = 50, vocabCap = 4096)
    val bad = Tokenizer
      .tokenize(docs, "text", model)
      .withColumn("rebuilt", array_join(col("tokens"), ""))
      .withColumn("squashed", regexp_replace(col("text"), " ", ""))
      .filter(col("rebuilt") =!= col("squashed"))
      .count()
    assert(bad == 0L)
    // and the model is partitioning-independent: retrain on a
    // repartitioned corpus → identical merge list
    val model2 = Tokenizer.train(docs.repartition(7), "text", numMerges = 50, vocabCap = 4096)
    assert(model2.merges == model.merges)
  }

  test("marked encode → decode is the exact identity, spaces included") {
    val df = Seq(
      "hello world hello bpe",
      "hello  double  spaces", // runs of spaces must survive
      " leading and trailing ",
      "single",
      ""
    ).toDF("text")
    val model = Tokenizer.train(
      Seq("hello hello world bpe").toDF("text"), "text", numMerges = 10)
    val out = df
      .select(
        col("text"),
        Tokenizer.decode(Tokenizer.encodeMarked(model)(col("text"))).as("rt"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(0), s"row=$r"))
  }

  test("marked encode REJECTS input containing the boundary marker") {
    // silent corruption would be worse than an error: decode maps every
    // U+0120 back to a space, so a raw marker in the input cannot
    // round-trip — the guard turns that into a clear raise_error
    val model = Tokenizer.train(Seq("hello hello world bpe").toDF("text"), "text", numMerges = 2)
    val bad = Seq("evil Ġ marker").toDF("text")
    val ex = intercept[Exception] {
      bad.select(Tokenizer.encodeMarked(model)(col("text"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("boundary marker")), ex.toString)
  }

  test("null text yields null tokens (nullSafeEval contract)") {
    val m = Tokenizer.BpeModel(Seq(("a", "b")))
    val df = Seq(Some("ab"), None).toDF("text")
    val rows = Tokenizer
      .tokenize(df, "text", m)
      .select(col("tokens"))
      .collect()
    assert(rows.exists(_.isNullAt(0)))
    assert(rows.exists(r => !r.isNullAt(0) && r.getSeq[String](0) == Seq("ab")))
  }
}
