package graft.streaming

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Replay-idempotence guard shared by the incremental stores: the
  * nine store loops (through [[StoreLoop]], plus the own ingest bodies
  * of IncrementalSelection / IncrementalScd2 / IncrementalDedup) and the
  * output sinks of DriftMonitor / QualityMonitor / StreamingCuration.
  *
  * Deliberately filesystem-AGNOSTIC: a `java.io.File(dir).exists()`
  * probe is local-only — on HDFS/S3 it always answers false, so a
  * replayed foreachBatch would append a duplicate row and break the
  * documented "replayed batch id no-ops" contract. Instead we attempt
  * the read through Spark's own filesystem layer and treat the two
  * ABSENCE conditions (store not created yet → PATH_NOT_FOUND; dir
  * present but no parquet footers after a partial write →
  * UNABLE_TO_INFER_SCHEMA) as "batch not seen" — correct in both
  * cases, because an absent/empty store cannot contain the batch, and
  * it lets the FIRST micro-batch bootstrap a store that `seed` never
  * created. Any OTHER failure (an object-store throttle, a permission
  * blip, a corrupted footer) is RETHROWN: swallowing it into "not
  * seen" would let a replayed batch double-append — exactly the
  * corruption this guard exists to prevent. Better to fail the
  * micro-batch and let the streaming restart policy retry.
  */
private[streaming] object StoreGuard {

  /** Size an append's file fan-out from an already-known row count:
    * one file per ~50k rows, capped at the shuffle-partition count —
    * a micro-batch append lands in exactly one file while backfill
    * batches still fan out (the r19 dedup-loop fix; used by
    * [[StoreLoop.appendStamped]] and the SCD2/dedup appends — the
    * selection store appends one global-aggregate row, hence one file).
    * Without this, every store whose append inherits input or shuffle
    * partitioning grows one NEAR-EMPTY file per partition per trigger —
    * file count outruns data volume and every later store read goes
    * footer-bound.
    */
  def appendParts(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      rows / 50000L + 1L)).toInt

  /** The store dir as a DataFrame, or None iff the store genuinely
    * does not exist yet (absent path / no committed parquet files).
    * Transient or structural read errors propagate.
    */
  def readStore(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch { case e: AnalysisException if isAbsence(e) => None }

  /** True iff `dir` is a readable store whose `batchCol` already
    * contains `b`.
    */
  def hasBatch(spark: SparkSession, dir: String, batchCol: String, b: Long): Boolean =
    readStore(spark, dir).exists(hasBatch(_, batchCol, b))

  /** True iff the already-read store `df` has a `batchCol` containing `b`. */
  def hasBatch(df: DataFrame, batchCol: String, b: Long): Boolean =
    df.columns.contains(batchCol) && !df.filter(col(batchCol) === lit(b)).isEmpty

  /** Per-attach memoization of the replay probe ([[StoreLoop.attach]]
    * owns the one instance per loop): within ONE streaming run,
    * `foreachBatch` delivers strictly increasing batch ids and a
    * batch committed in the checkpoint log is never redelivered — only
    * the FIRST trigger after a (re)start can be a replay of the last
    * uncommitted batch. So each attach probes the store until its first
    * FRESH (non-replayed) ingest and skips the probe from then on,
    * dropping a listing + scan job from every steady-state trigger (the
    * 300-batch replay measured ~4.7 s of per-trigger FIXED cost even at
    * 17-doc batches — BASELINE.md r17 observed lead).
    *
    * A replay-SKIPPED first trigger keeps probing: without a
    * `checkpointLocation` a restarted stream restarts batch ids at 0,
    * and the store probe is then the only thing standing between the
    * old ids and silent double-appends (the documented contract remains
    * "use a checkpoint for exactly-once"; this just preserves the
    * probe-every-trigger behavior for uncheckpointed reruns).
    */
  final class ReplayProbe {
    @volatile private var freshSeen = false
    /** True while this attach must still consult the store. */
    def needed: Boolean = !freshSeen
    /** Record a trigger that ingested fresh (non-replayed) content. */
    def ingested(): Unit = freshSeen = true
  }

  private def isAbsence(e: AnalysisException): Boolean = {
    val cond = Option(e.getCondition).getOrElse("")
    cond.startsWith("PATH_NOT_FOUND") ||
    cond.startsWith("UNABLE_TO_INFER_SCHEMA") ||
    // older error-class spellings, belt-and-braces for point releases
    e.getMessage.contains("Path does not exist") ||
    e.getMessage.contains("Unable to infer schema")
  }
}
