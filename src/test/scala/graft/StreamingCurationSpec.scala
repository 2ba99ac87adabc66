package graft

import graft.operators.Curation
import graft.streaming.StreamingCuration

/** Streaming faces of fuzzy decontamination and perplexity gating:
  * MemoryStream-driven loops against PERSISTED eval-band / LM tables,
  * plus batch-operator agreement pins (the streaming gate must flag
  * exactly what the gated batch operator flags on equal inputs). Replay
  * idempotence of all three gates is pinned by StoreLoopSpec's restart
  * cases, which drive the real attach.
  */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private val evalDocs = Seq(
    (9000L, "held out benchmark question about transformer attention heads and scaling laws"),
    (9001L, "another eval item covering gradient checkpointing and activation memory tradeoffs")
  )

  private def contaminated(id: Long) =
    // uppercased head, the q_decontaminate_fuzzy paraphrase trick:
    // exact membership misses it, minhash+verify catches it
    (id, "HELD OUT benchmark question about transformer attention heads and scaling laws")

  test("streaming fuzzy decontamination flags paraphrased eval leakage across batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_decon_stream").toString
    val evalDir = s"$root/eval"
    val outDir = s"$root/clean"
    StreamingCuration.seedEvalSet(evalDocs.toDF("doc_id", "text"), evalDir)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.attachDecontaminate(
      mem.toDF().toDF("doc_id", "text"), evalDir, outDir, s"$root/chk")
    try {
      mem.addData(
        (1L, "ordinary training document about database join algorithms and hash tables"),
        contaminated(2L))
      q.processAllAvailable()
      val b1 = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(b1 == Set(1L), s"batch 1: doc 2 paraphrases eval 9000 and must be dropped — got $b1")

      // batch 2: another leak (verbatim this time) + a clean doc — the
      // stored band table serves every batch without re-shingling
      mem.addData(
        (3L, evalDocs(1)._2),
        (4L, "clean second batch document describing columnar compression and encodings"))
      q.processAllAvailable()
      val b2 = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(b2 == Set(1L, 4L), s"batch 2: verbatim leak 3 dropped — got $b2")
    } finally q.stop()
  }

  test("decontaminateBatch agrees with the gated batch operator on equal inputs") {
    val root = java.nio.file.Files.createTempDirectory("graft_decon_agree").toString
    val evalDir = s"$root/eval"
    val evalDf = evalDocs.toDF("doc_id", "text")
    StreamingCuration.seedEvalSet(evalDf, evalDir)
    val batch = Seq(
      (1L, "ordinary training document about database join algorithms and hash tables"),
      contaminated(2L),
      (3L, evalDocs(1)._2)
    ).toDF("doc_id", "text")
    val streamFlagged = StreamingCuration
      .decontaminateBatch(spark, batch, evalDir)
      .filter($"n_eval_matches" > 0)
      .select($"doc_id", $"n_eval_matches", $"max_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val batchFlagged = Curation
      .decontaminateFuzzy(batch, evalDf, "doc_id", "text")
      .select($"doc_id", $"n_eval_matches", $"max_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamFlagged == batchFlagged,
      s"stream $streamFlagged must equal batch operator $batchFlagged")
    assert(streamFlagged.map(_._1) == Set(2L, 3L))
  }

  test("streaming perplexity gate keeps head buckets, word salad lands in the tail") {
    val root = java.nio.file.Files.createTempDirectory("graft_ppl_stream").toString
    val modelDir = s"$root/model"
    val outDir = s"$root/kept"
    // reference corpus: a shared vocabulary with a clear head/tail split
    val ref = (1L to 30L).map { i =>
      val common = "the quick brown fox jumps over the lazy dog"
      val rare = s"obscure${i}token specialized${i}word"
      (i, if (i <= 24) common else s"$common $rare")
    }.toDF("doc_id", "text")
    StreamingCuration.seedLanguageModel(ref, modelDir, buckets = 3)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.attachGate(
      mem.toDF().toDF("doc_id", "text"), modelDir, outDir, s"$root/chk", keepMaxBucket = 2)
    try {
      mem.addData(
        (100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "zxqj wvkp qqrst plmnb vvxyz uutre oopqa zzytx"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(100L),
        s"OOV word salad must land in bucket 3 (> keepMaxBucket 2) — got $kept")
      // the scored columns ride along for auditing
      val cols = spark.read.parquet(outDir).columns.toSet
      assert(Set("n_words", "avg_neg_logprob", "bucket").subsetOf(cols))
    } finally q.stop()
  }

  test("streaming NB gate keeps clean-like docs against the persisted model across batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_nb_stream").toString
    val modelDir = s"$root/model"
    val outDir = s"$root/kept"
    val labeled = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1),
      (2L, "a clear well formed sentence with common words", 1),
      (3L, "the dog and the fox ran over a green field", 1),
      (4L, "buy buy buy cheap cheap pills pills pills now now", 0),
      (5L, "zzz qqq xxx zzz qqq xxx spam spam spam spam", 0),
      (6L, "click here click here cheap pills zzz spam now", 0)
    ).toDF("doc_id", "text", "y")
    StreamingCuration.seedNbClassifier(labeled, modelDir)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.attachNbGate(
      mem.toDF().toDF("doc_id", "text"), modelDir, outDir, s"$root/chk")
    try {
      mem.addData((100L, "the brown dog jumps over a green field"))
      q.processAllAvailable()
      mem.addData((101L, "cheap spam pills zzz qqq click now"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(100L), s"junk-like 101 must score below 0 — got $kept")
      // the original text and the audit columns both land in the store
      val cols = spark.read.parquet(outDir).columns.toSet
      assert(Set("text", "score", "pred_quality", "n_tokens").subsetOf(cols))
    } finally q.stop()
  }
}
