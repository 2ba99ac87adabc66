package graft.streaming

import graft.operators.TextAnalysis
import graft.operators.TextAnalysis.Bm25Index
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally-maintained BM25 index: each arriving micro-batch
  * appends its documents' term-frequency rows to ONE persisted store;
  * document frequencies and corpus stats are DERIVED from that store at
  * load time, so there is no second table to keep transactionally in
  * step — the maintainer inherits exactly-once from a single
  * batch-stamped append (the [[IncrementalSketches]] shape, applied to
  * retrieval).
  *
  * Contract (spec-pinned): `bm25Serve(load(store))` returns the SAME
  * ranking as a from-scratch [[TextAnalysis.bm25Index]] over the
  * accumulated corpus — tf/df/N are exact counts either way, and the
  * df/stats derivation is one O(|tf|) aggregate over the store, never a
  * corpus re-tokenization. Per-batch cost: tokenize THE BATCH, one hash
  * agg, one append. Append-only (deletions rebuild, like the dedup
  * corpus stores).
  */
object IncrementalBm25 {

  private[graft] val BatchCol = StoreLoop.BatchCol

  private def tfOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("double"))
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** Write the initial tf store (`ingest_batch = -1`). */
  def seed(
      corpus: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit =
    tfOf(corpus, idCol, textCol)
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Append one micro-batch's tf rows; replay-idempotent with
    * `batchId` set. `probeReplay = false` skips the store probe — only
    * safe when the caller KNOWS the id is fresh
    * ([[StoreGuard.ReplayProbe]]). Returns true iff it appended stamped
    * rows (false for a replay no-op or an empty append).
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      tfOf(batch, idCol, textCol))

  /** Load the store as a servable [[Bm25Index]]: df and corpus stats
    * derive from the tf rows (df = terms' doc counts; N/avgdl from the
    * per-doc lengths, one row per doc via the (id, dl) projection).
    * The store is read through [[Lake.read]], so loading runs no Spark
    * job: the schema comes from one footer on the driver, and the first
    * job is the caller's first serve.
    */
  def load(
      spark: SparkSession,
      storeDir: String,
      idCol: String = "doc_id"
  ): Bm25Index = {
    val tf = Lake.read(spark, storeDir).drop(BatchCol)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val docs = tf.select(col(idCol), col("dl")).groupBy(col(idCol))
      .agg(max(col("dl")).as("dl"))
    val stats = docs.agg(
      avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n"))
    Bm25Index(tf, dfreq, stats, idCol)
  }

  /** Attach the index maintenance loop to a document stream.
    *
    * `compactEvery` folds the per-batch file accretion back every N
    * batches ([[CompactCadence]] — the measured ~500–700-file
    * crossover applies to this store like any other; the tf store is
    * the LARGEST of the incremental stores, one row per (doc, term),
    * so a long-running loop goes footer-bound without it). The repack
    * RANGE-clusters on `term` so a serve-time term probe can skip
    * whole files on min/max stats — the df/stats derivation in
    * [[load]] aggregates everything regardless, but retrieval touches
    * only the query's terms. `asyncCompact` moves the rewrite off the
    * trigger path (the [[IncrementalDedup]] discipline — measured
    * guidance on that attach's scaladoc).
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir, rangeCols = Seq("term"))),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, idCol, textCol,
        batchId = Some(bid), probeReplay = probe)
    }
}
