package graft.streaming

import graft.operators.HashFamily
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming face of the training-shard manifest
  * ([[graft.sources.Lake.shardManifest]]): every appended micro-batch
  * contributes its own ≤nShards manifest rows (batch-stamped, replay
  * no-op), and the LIVE manifest of everything ingested is a KB-scale
  * rollup of the store — per-shard counts ADD, token masses ADD, and
  * the bit_xor content checksums MERGE exactly (xor is associative and
  * commutative), so the maintained manifest is IDENTICAL to a
  * from-scratch [[graft.sources.Lake.shardManifest]] over the full
  * accumulated corpus (StreamingManifestSpec pins this cell-for-cell).
  *
  * This is the [[IncrementalSketches]] cost inversion applied to data
  * INTEGRITY: an append-only corpus keeps a loader-verifiable manifest
  * current without ever rescanning history — per batch, one hash
  * aggregate over the BATCH; per manifest read, O(|store|) KB-sized
  * rows. The append-only contract matters: a row ingested twice xors
  * its hash back OUT of the checksum, which is exactly the corruption
  * signal a loader wants (the verify read-back diverges), not a case
  * to silently absorb.
  */
object IncrementalManifest {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Write the initial manifest store from an existing corpus
    * (`ingest_batch = -1`), establishing the stamped schema.
    */
  def seed(
      df: DataFrame,
      storeDir: String,
      idCol: String,
      contentCols: Seq[String],
      nShards: Int,
      seed: String,
      tokenCol: Option[String] = None,
      family: HashFamily = HashFamily.Md5
  ): Unit =
    Lake.shardManifest(df, idCol, contentCols, nShards, seed, tokenCol, family)
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Manifest one micro-batch and append its ≤nShards rows. With
    * `batchId` set, a replay is a no-op.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      idCol: String,
      contentCols: Seq[String],
      nShards: Int,
      seed: String,
      tokenCol: Option[String] = None,
      family: HashFamily = HashFamily.Md5,
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      Lake.shardManifest(batch, idCol, contentCols, nShards, seed, tokenCol, family))

  /** The live manifest: roll the per-batch rows up per shard — counts
    * and token masses sum, checksums xor-merge. O(|store|) rows,
    * never a corpus read.
    */
  def manifest(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("shard"))
      .agg(
        sum(col("n_examples")).as("n_examples"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(checksum)").as("checksum")
      )
      .orderBy(col("shard"))

  /** Attach the manifest maintenance loop to a stream. */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      idCol: String,
      contentCols: Seq[String],
      nShards: Int,
      seed: String,
      tokenCol: Option[String] = None,
      family: HashFamily = HashFamily.Md5,
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    // ≤nShards KB-scale rows per batch, but one FILE SET per batch:
    // compactEvery folds the accretion back, shard-sorted
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir, sortCols = Seq("shard"))),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, idCol, contentCols, nShards, seed,
        tokenCol, family, batchId = Some(bid), probeReplay = probe)
    }
}
