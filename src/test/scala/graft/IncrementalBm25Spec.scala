package graft

import graft.operators.TextAnalysis
import graft.sources.AsyncCompactor
import graft.streaming.IncrementalBm25
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Incremental BM25 index maintenance: the streamed store serves the
  * SAME ranking as a from-scratch index over the accumulated corpus,
  * also when the statistics come from the per-file-set cache; replays
  * no-op.
  */
class IncrementalBm25Spec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range): Seq[(Long, String)] =
    ids.map { i =>
      val words = (0 until 15).map(j => s"w${(i * 13 + j * 5) % 80}").mkString(" ")
      (i.toLong, words)
    }

  private val queries = Seq(
    (100L, "w0 w5 w13"), (101L, "w26 w39"), (102L, "w7 w7 w52")
  ).toDF("query_id", "qtext")

  private def ranking(index: TextAnalysis.Bm25Index, qs: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long, Int), Double] =
    TextAnalysis.bm25Serve(index, qs, "query_id", "qtext", topK = 5)
      .select("query_id", "doc_id", "rank", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3)).toMap

  /** Serve `store` on `session` and check it against a from-scratch
    * index over `corpus`; returns the index the serve scored. */
  private def assertServes(store: String, corpus: Range, session: SparkSession = spark)
      : TextAnalysis.Bm25Index = {
    val qs = session.createDataFrame(queries.collect().toSeq.asJava, queries.schema)
    val index = IncrementalBm25.load(session, store)
    val streamed = ranking(index, qs)
    val scratch = ranking(TextAnalysis.bm25Index(
      session.createDataFrame(docs(corpus)).toDF("doc_id", "text"), "doc_id", "text"), qs)
    assert(streamed.keySet == scratch.keySet,
      s"rankings diverge: ${streamed.keySet.diff(scratch.keySet)} / ${scratch.keySet.diff(streamed.keySet)}")
    for ((k, v) <- streamed)
      assert(math.abs(v - scratch(k)) <= 1e-6, s"$k: streamed=$v scratch=${scratch(k)}")
    index
  }

  test("streamed index serves identically to a from-scratch build") {
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_inc").toString
    val store = s"$root/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalBm25.attach(
      mem.toDF().toDF("doc_id", "text"), store,
      checkpointLocation = Some(s"$root/chk"))
    try {
      mem.addData(docs(100 until 200): _*)
      q.processAllAvailable()
      mem.addData(docs(200 until 300): _*)
      q.processAllAvailable()
    } finally q.stop()

    assertServes(store, 0 until 300)
  }

  test("attach without a prior seed bootstraps the store on the first batch") {
    // the round-11 guard read the store unconditionally, so the first
    // micro-batch of an unseeded attach died on AnalysisException
    // inside foreachBatch; StoreGuard treats missing-store as
    // batch-not-seen, which both bootstraps AND stays replay-correct
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_boot").toString
    val store = s"$root/tf" // never seeded
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalBm25.attach(mem.toDF().toDF("doc_id", "text"), store)
    try {
      mem.addData(docs(0 until 60): _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    } finally q.stop()
    val served = TextAnalysis
      .bm25Serve(IncrementalBm25.load(spark, store), queries, "query_id", "qtext", topK = 3)
    assert(served.count() > 0)
  }

  test("compactEvery folds the tf store; ranking and replay idempotence survive the rewrite") {
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_compact").toString
    val store = s"$root/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalBm25.attach(
      mem.toDF().toDF("doc_id", "text"), store,
      checkpointLocation = Some(s"$root/chk"), compactEvery = Some(2))
    try {
      (0 until 6).foreach { i =>
        mem.addData(docs(100 + i * 20 until 120 + i * 20): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // 7 appends (seed + 6 batches) would leave ≥ 7 file sets; the
    // cadence folds them (last compaction at bid 4; bid 5 appends after)
    val files = Option(new java.io.File(store).listFiles()).get
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files <= 4, s"expected a compacted tf store, found $files files")
    // ranking identical to a from-scratch index over the accumulated corpus
    assertServes(store, 0 until 220)
    // the ingest_batch stamp is a data column: a replay of an already-
    // ingested batch id is STILL a no-op after the rewrite
    val rows = spark.read.parquet(store).count()
    IncrementalBm25.ingestBatch(
      spark, docs(160 until 180).toDF("doc_id", "text"), store, batchId = Some(3L))
    assert(spark.read.parquet(store).count() == rows,
      "replay after compaction appended rows — the stamp did not survive the rewrite")
  }

  test("async compaction preserves the index; no live swap dirs outlive the stream") {
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_async").toString
    val store = s"$root/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalBm25.attach(
      mem.toDF().toDF("doc_id", "text"), store,
      checkpointLocation = Some(s"$root/chk"),
      compactEvery = Some(2), asyncCompact = true)
    try {
      (0 until 6).foreach { i =>
        mem.addData(docs(100 + i * 20 until 120 + i * 20): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // content identity regardless of how many background swaps landed
    assertServes(store, 0 until 220)
    val siblings = Option(new java.io.File(store).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old")),
      siblings.mkString(","))
  }

  test("a replayed batch id is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_replay").toString
    val store = s"$root/tf"
    IncrementalBm25.seed(docs(0 until 50).toDF("doc_id", "text"), store)
    val batch = docs(50 until 80).toDF("doc_id", "text")
    IncrementalBm25.ingestBatch(spark, batch, store, batchId = Some(3L))
    val rows = spark.read.parquet(store).count()
    IncrementalBm25.ingestBatch(spark, batch, store, batchId = Some(3L))
    assert(spark.read.parquet(store).count() == rows, "replay appended rows")
  }

  test("a serve after an append derives df and N/avgdl from the new file set") {
    val store = java.nio.file.Files.createTempDirectory("graft_bm25_cache").toString + "/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)
    val first = assertServes(store, 0 until 100)
    // an unchanged store reuses the derived tables
    assert(IncrementalBm25.load(spark, store).dfreq eq first.dfreq)
    IncrementalBm25.ingestBatch(spark, docs(100 until 160).toDF("doc_id", "text"), store,
      batchId = Some(0L))
    val second = assertServes(store, 0 until 160)
    assert(!(second.dfreq eq first.dfreq), "the append did not change the cache key")
    assert(second.stats.first().getAs[Double]("n") == 160.0)
  }

  test("serves on both sides of an async compaction swap match a from-scratch build") {
    val store = java.nio.file.Files.createTempDirectory("graft_bm25_swap").toString + "/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)
    (0 until 3).foreach { i =>
      IncrementalBm25.ingestBatch(spark, docs(100 + i * 20 until 120 + i * 20).toDF("doc_id", "text"),
        store, batchId = Some(i.toLong))
    }
    val compactor = new AsyncCompactor(spark, store, rangeCols = Seq("term"))
    assert(compactor.start())
    val deadline = System.currentTimeMillis() + 60000
    while (!compactor.awaitingSwap && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(compactor.awaitingSwap, "rewrite did not finish in time")
    // a late append lands before the swap, which rescues it
    IncrementalBm25.ingestBatch(spark, docs(160 until 180).toDF("doc_id", "text"), store,
      batchId = Some(3L))
    val before = assertServes(store, 0 until 180)
    assert(compactor.maybeFinish().isDefined, "no swap happened")
    val after = assertServes(store, 0 until 180)
    assert(before.tf.inputFiles.toSet != after.tf.inputFiles.toSet)
    assert(!(after.dfreq eq before.dfreq), "the swap did not change the cache key")
  }

  test("another session never reuses a session's derived tables") {
    val store = java.nio.file.Files.createTempDirectory("graft_bm25_session").toString + "/tf"
    IncrementalBm25.seed(docs(0 until 100).toDF("doc_id", "text"), store)
    val mine = assertServes(store, 0 until 100)
    val other = spark.newSession()
    val theirs = assertServes(store, 0 until 100, other)
    assert((theirs.dfreq.sparkSession eq other) && (theirs.stats.sparkSession eq other))
    val back = assertServes(store, 0 until 100)
    assert((back.dfreq.sparkSession eq spark) && !(back.dfreq eq mine.dfreq))
  }

  test("a load in another session releases every store's derived tables") {
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_release").toString
    Seq("a", "b").foreach(s => IncrementalBm25.seed(docs(0 until 50).toDF("doc_id", "text"), s"$root/$s"))
    val pinned = Seq("a", "b").map(s => assertServes(s"$root/$s", 0 until 50))
    assert(pinned.forall(_.dfreq.storageLevel != StorageLevel.NONE))
    // a load of one store in another session frees the other store's frames too
    IncrementalBm25.load(spark.newSession(), s"$root/a")
    pinned.foreach { p =>
      assert(p.dfreq.storageLevel == StorageLevel.NONE && p.stats.storageLevel == StorageLevel.NONE)
    }
  }
}
