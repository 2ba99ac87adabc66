package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one exactly-once store-loop engine behind every incremental
  * store's `attach` (BM25, HLL/KLL sketches, manifest, graph, ANN,
  * selection, SCD2, dedup).
  *
  * Protocol: the idempotent sink keyed by batch id of Structured
  * Streaming, with recovery by deterministic recomputation as in
  * D-Streams. Every appended row carries the `ingest_batch` stamp; a
  * batch re-delivered after a crash between its append and the
  * checkpoint commit finds its stamp in the store and no-ops, and since
  * the per-batch computation is deterministic, a half-written batch is
  * repaired with identical content.
  *
  * Per trigger, [[attach]] runs, in this order and on the loop thread:
  *   1. [[CompactCadence.finishPending]] for every compacted store —
  *      install a finished background rewrite before the batch reads;
  *   2. the store's ingest with `probeReplay = probe.needed`
  *      ([[StoreGuard.ReplayProbe]]: only the first trigger after a
  *      (re)start can be a replay);
  *   3. `probe.ingested()`, only when the ingest was fresh;
  *   4. [[CompactCadence.maybeCompact]] for every compacted store.
  */
private[streaming] object StoreLoop {

  val BatchCol = "ingest_batch"

  /** One compacted directory of a store and its repack layout: pick
    * `sortCols`/`rangeCols` for the store's probe pattern. `offset`
    * shifts the cadence (see [[CompactCadence]]).
    */
  final case class Compacted(
      dir: String,
      sortCols: Seq[String] = Nil,
      rangeCols: Seq[String] = Nil,
      offset: Int = 0)

  /** Start the loop: `ingest(batch, batchId, probeReplay)` returns false
    * iff the batch was a replay no-op. The caller owns the returned
    * query's lifecycle.
    */
  def attach(
      arriving: DataFrame,
      compacted: Seq[Compacted],
      checkpointLocation: Option[String],
      compactEvery: Option[Int],
      asyncCompact: Boolean
  )(ingest: (DataFrame, Long, Boolean) => Boolean): StreamingQuery = {
    val spark = arriving.sparkSession
    val cadences = compacted.map(c => new CompactCadence(spark, c.dir, compactEvery,
      asyncCompact, c.sortCols, c.rangeCols, c.offset))
    val probe = new StoreGuard.ReplayProbe
    val writer = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        cadences.foreach(_.finishPending(bid))
        if (ingest(batch, bid, probe.needed)) probe.ingested()
        cadences.foreach(_.maybeCompact(bid))
      }
    checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The stamped append shared by the single-store loops; returns false
    * iff `batchId` is already in the store (a replay no-op).
    *
    *   - heal a compaction the previous run crashed mid-swap BEFORE any
    *     read of the store (two existence checks when healthy —
    *     [[Lake.recoverCompact]]);
    *   - probe for the batch unless `probeReplay = false` (only safe
    *     when the caller KNOWS the id is fresh). [[StoreGuard]]
    *     tolerates a missing store, so the first batch bootstraps it;
    *   - stamp, materialize once, and size the append from the known
    *     row count ([[StoreGuard.appendParts]]): a micro-batch lands in
    *     one file instead of one per input or shuffle partition, and the
    *     count feeds `batch.ingested` without re-running `rows`.
    */
  def appendStamped(
      spark: SparkSession,
      storeDir: String,
      batchId: Option[Long],
      probeReplay: Boolean
  )(rows: => DataFrame): Boolean = {
    Lake.recoverCompact(storeDir)
    val replay = batchId.exists(b =>
      probeReplay && StoreGuard.hasBatch(spark, storeDir, BatchCol, b))
    if (!replay) {
      val stamped = rows.withColumn(BatchCol, lit(batchId.getOrElse(-1L))).persist()
      val n = stamped.count()
      if (n > 0)
        stamped.coalesce(StoreGuard.appendParts(spark, n))
          .write.mode("append").parquet(storeDir)
      RuntimeEventBus.ingested(storeDir, batchId, n)
      stamped.unpersist()
    }
    !replay
  }
}
