package graft.streaming

import graft.operators.Anomaly
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming distribution-drift monitor: the reference bin counts are
  * persisted ONCE ([[Anomaly.binCounts]] of a trusted snapshot); each
  * arriving micro-batch is binned scan-locally and scored against them
  * ([[Anomaly.psiFromCounts]]), and one (PSI, alert, batch id) row is
  * appended to the monitor log — the retraining tripwire a 100 TB
  * ingest pipeline runs alongside [[IncrementalSketches]].
  *
  * Per-batch cost: one count aggregate over the BATCH plus bins-sized
  * frame math — the reference snapshot is never re-read (its counts
  * table is a few rows of parquet). The log is a [[StoreLoop]] stamped
  * store: a replayed batch id no-ops.
  */
object DriftMonitor {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Persist the reference distribution's dense bin counts. */
  def seedReference(
      ref: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String
  ): Unit =
    Anomaly
      .binCounts(ref, valueCol, binEdges)
      .write.mode("overwrite").parquet(refDir)

  /** Score one micro-batch; append its monitor row (`psi`, `alert`, then
    * the `ingest_batch` stamp). An empty batch has no distribution to
    * score and appends nothing: against the Laplace mass alone its PSI
    * would read as drift. Replay-idempotent with `batchId` set;
    * `probeReplay = false` skips the log probe — only safe when the
    * caller KNOWS the id is fresh ([[StoreGuard.ReplayProbe]]). Returns
    * true iff it appended stamped rows (false for a replay no-op or an
    * empty append).
    */
  def scoreBatch(
      spark: SparkSession,
      batch: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String,
      monitorDir: String,
      threshold: Double = 0.25,
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, monitorDir, batchId, probeReplay)(
      Anomaly
        .psiFromCounts(
          Lake.read(spark, refDir),
          Anomaly.binCounts(batch, valueCol, binEdges))
        .agg(round(sum(col("psi_term")), 6).as("psi"), sum(col("n_cur")).as("n_cur"))
        .filter(col("n_cur") > 0)
        .select(col("psi"), (col("psi") > threshold).as("alert")))

  /** Attach the monitor loop to a stream of raw rows. */
  def attach(
      arriving: DataFrame,
      valueCol: String,
      binEdges: Seq[Double],
      refDir: String,
      monitorDir: String,
      threshold: Double = 0.25,
      checkpointLocation: Option[String] = None
  ): StreamingQuery =
    StoreLoop.attach(arriving, Nil, checkpointLocation, None, asyncCompact = false) {
      (batch, bid, probe) =>
        scoreBatch(arriving.sparkSession, batch, valueCol, binEdges, refDir, monitorDir,
          threshold, batchId = Some(bid), probeReplay = probe)
    }
}
