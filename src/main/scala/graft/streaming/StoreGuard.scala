package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Replay-idempotence guard shared by the incremental stores: the
  * nine store loops and the output sinks of DriftMonitor /
  * QualityMonitor / StreamingCuration, all through [[StoreLoop]].
  *
  * Deliberately filesystem-AGNOSTIC: a `java.io.File(dir).exists()`
  * probe is local-only — on HDFS/S3 it always answers false, so a
  * replayed foreachBatch would append a duplicate row and break the
  * documented "replayed batch id no-ops" contract. Instead we list the
  * store through Hadoop's filesystem layer and treat the two ABSENCE
  * cases (store not created yet; dir present but no data file after a
  * partial write) as "batch not seen" — correct in both cases, because
  * an absent/empty store cannot contain the batch, and it lets the
  * FIRST micro-batch bootstrap a store that `seed` never created. Any
  * read failure of a store that IS present (an object-store throttle,
  * a permission blip, a corrupted footer) is RETHROWN: swallowing it
  * into "not seen" would let a replayed batch double-append — exactly
  * the corruption this guard exists to prevent. Better to fail the
  * micro-batch and let the streaming restart policy retry.
  */
private[streaming] object StoreGuard {

  /** Size an append's file fan-out from an already-known row count:
    * one file per ~50k rows, capped at the shuffle-partition count —
    * a micro-batch append lands in exactly one file while backfill
    * batches still fan out (the r19 dedup-loop fix). Used by
    * [[StoreLoop.appendPinned]], which pins and counts its rows anyway
    * because two stores take one materialization; the stamped append of
    * [[StoreLoop.appendStamped]] is laid out by [[sized]] instead.
    * Without a sized fan-out, every store whose append inherits
    * input or shuffle partitioning grows one NEAR-EMPTY file per
    * partition per trigger — file count outruns data volume and every
    * later store read goes footer-bound.
    */
  def appendParts(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      rows / 50000L + 1L)).toInt

  /** The file count of an append whose rows are NOT counted: one file
    * per [[Lake.TargetFileBytes]] of estimated size, at least one and at
    * most `cap` (the shuffle-partition count). An unknown estimate
    * (None) gives ONE file: a source without size statistics is a
    * streaming micro-batch (Kafka) or a frame over an RDD, and a file
    * per input partition would bring back the near-empty-file growth
    * the cap exists to stop; compaction splits a file that came out
    * large.
    */
  def estimatedParts(estimate: Option[BigInt], cap: Int): Int =
    estimate.fold(1) { b =>
      ((b + Lake.TargetFileBytes - 1) / Lake.TargetFileBytes).max(1).min(cap.max(1)).toInt
    }

  /** `df` laid out for a stamped append: [[estimatedParts]] files, cut
    * where the cut moves the least work. A plan whose output partitions
    * a shuffle decided (or that has one partition) is coalesced: merging
    * post-shuffle partitions moves no data, and the work before the
    * shuffle keeps its width. A plan that runs narrow from its source
    * (`UnknownPartitioning`: its partitions are the input's, e.g. the ANN
    * assignment's broadcast centroid fold) is repartitioned instead: a
    * coalesce would pull the whole computation into that many tasks.
    */
  def sized(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val parts = estimatedParts(sizeEstimate(df), conf.numShufflePartitions)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.outputPartitioning match {
      case _: UnknownPartitioning => df.repartition(parts)
      case _ => df.coalesce(parts)
    }
  }

  /** The optimizer's size estimate of `df` in bytes, read on the driver
    * with no job; None when it is unknown, i.e. when the plan or any of
    * its leaves reads as `spark.sql.defaultSizeInBytes` — the size
    * Spark gives a relation it cannot measure (an RDD, a Kafka
    * micro-batch).
    */
  def sizeEstimate(df: DataFrame): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val unknown = df.sparkSession.sessionState.conf.defaultSizeInBytes
    Some(plan.stats.sizeInBytes)
      .filter(_ < unknown && plan.collectLeaves().forall(_.stats.sizeInBytes < unknown))
  }

  /** The store dir as a DataFrame, or None iff the store does not exist
    * yet: the path is missing or lists no data file
    * ([[Lake.readPresent]], decided from the listing without a failing
    * read). Transient or structural read errors propagate.
    */
  def readStore(spark: SparkSession, dir: String): Option[DataFrame] =
    Lake.readPresent(spark, dir)

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
    * FRESH (non-replayed) ingest that appended stamped rows and skips
    * the probe from then on, dropping a listing + scan job from every
    * steady-state trigger (the 300-batch replay measured ~4.7 s of
    * per-trigger FIXED cost even at 17-doc batches — BASELINE.md r17
    * observed lead).
    *
    * A replay-SKIPPED trigger keeps probing, and so does a trigger that
    * appended nothing (an empty batch, a gate that kept no row): without
    * a `checkpointLocation` a restarted stream restarts batch ids at 0,
    * and the store probe is then the only thing standing between the
    * old ids and silent double-appends. An id that left no stamp in the
    * earlier run is not found by the probe either, so only a stamped
    * append shows the rerun has passed the logged ids (the documented
    * contract remains "use a checkpoint for exactly-once"; this just
    * preserves the probe-every-trigger behavior for uncheckpointed
    * reruns).
    */
  final class ReplayProbe {
    @volatile private var freshSeen = false
    /** True while this attach must still consult the store. */
    def needed: Boolean = !freshSeen
    /** Record a trigger that appended fresh rows stamped with its id. */
    def ingested(): Unit = freshSeen = true
  }
}
