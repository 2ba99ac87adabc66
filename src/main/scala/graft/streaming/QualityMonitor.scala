package graft.streaming

import graft.operators.Quality
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming face of [[Quality.check]]: every micro-batch is scored
  * against the declared constraints (still ONE aggregate per batch) and
  * the per-constraint report rows are appended to a monitor log stamped
  * with the batch id — the ingest-side contract check that catches a
  * broken upstream (nulls, duplicate keys, schema drift shaped as
  * out-of-set values) within one batch instead of at training time.
  * The log is a [[StoreLoop]] stamped store: a replayed batch id no-ops.
  */
object QualityMonitor {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Score one micro-batch; append its report rows. An empty batch has
    * nothing to check and appends nothing. Replay-idempotent with
    * `batchId` set; `probeReplay = false` skips the log probe
    * ([[StoreGuard.ReplayProbe]]). Returns true iff it appended stamped
    * rows (false for a replay no-op or an empty append).
    */
  def scoreBatch(
      spark: SparkSession,
      batch: DataFrame,
      constraints: Seq[Quality.Constraint],
      monitorDir: String,
      threshold: Double = 1.0,
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, monitorDir, batchId, probeReplay)(
      Quality.check(batch, constraints, threshold))

  /** Attach the per-batch constraint check to a stream. */
  def attach(
      arriving: DataFrame,
      constraints: Seq[Quality.Constraint],
      monitorDir: String,
      threshold: Double = 1.0,
      checkpointLocation: Option[String] = None
  ): StreamingQuery =
    StoreLoop.attach(arriving, Nil, checkpointLocation, None, asyncCompact = false) {
      (batch, bid, probe) =>
        scoreBatch(arriving.sparkSession, batch, constraints, monitorDir, threshold,
          batchId = Some(bid), probeReplay = probe)
    }
}
