package graft.streaming

import graft.core.ErrorAction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Error-handling / DLQ pipeline — Spark re-expression of the
  * reference's per-entity error policies
  * (`/root/reference/src/Core/Abstractions/ErrorAction.cs:3-11`
  * Skip/Retry/DLQ; envelope `src/Messaging/DlqEnvelope.cs`; producer
  * `src/Messaging/Producers/DlqProducer.cs`).
  *
  * Two layers:
  *   - deserialization errors: read sources PERMISSIVE with a
  *     `_corrupt_record` column and route corrupt rows to the DLQ table
  *     ([[splitCorrupt]]) — the reference's
  *     `DeserializationErrorPolicy` (`EntityModel.cs:125`);
  *   - processing errors inside `foreachBatch`: [[ForeachBatchDlq]]
  *     retries the batch write (Retry), then either skips or writes
  *     envelope rows to the DLQ sink, per the entity's `ErrorAction`.
  */
object ErrorSink {

  val CorruptCol = "_corrupt_record"

  /** Split a PERMISSIVE-parsed frame into (good, dlqEnvelopes). */
  def splitCorrupt(df: DataFrame, sourceName: String): (DataFrame, DataFrame) = {
    val good = df.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = df
      .filter(col(CorruptCol).isNotNull)
      .select(
        lit(sourceName).as("source"),
        col(CorruptCol).as("raw"),
        lit("deserialization").as("error_phase"),
        current_timestamp().as("dlq_ts")
      )
    (good, bad)
  }

  /** DLQ envelope rows for a failed batch (`DlqEnvelope` analog:
    * original payload as JSON + error metadata).
    */
  def envelope(batch: DataFrame, sourceName: String, error: Throwable): DataFrame =
    batch.select(
      lit(sourceName).as("source"),
      to_json(struct(batch.columns.toIndexedSeq.map(col): _*)).as("raw"),
      lit(String.valueOf(error.getMessage)).as("error_phase"),
      current_timestamp().as("dlq_ts")
    )

  /** foreachBatch wrapper applying the entity's ErrorAction: Retry
    * re-attempts the write `maxRetries` times with backoff; on
    * exhaustion (or immediately for Dlq), failed batches become
    * envelope rows in `dlqPath`; Skip drops them. Each terminal
    * incident (`dlq.enqueue` / `batch.skip` — the reference's
    * `dlq.enqueue` event name, `src/Messaging/Producers/DlqProducer.cs`)
    * is emitted through `onEvent` (default: the process-wide
    * [[RuntimeEventBus]]), so the envelope write is observable without
    * scanning the DLQ table; emission failures are contained.
    */
  def guardedForeachBatch(
      spark: SparkSession,
      sourceName: String,
      action: ErrorAction,
      dlqPath: String,
      maxRetries: Int = 3,
      initialDelayMs: Long = 100,
      retryWhen: Throwable => Boolean = _ => true,
      onEvent: RuntimeEvent => Unit = RuntimeEventBus.publish
  )(write: DataFrame => Unit): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val attempts = action match {
      case ErrorAction.Retry => maxRetries
      case _                 => 1
    }
    var attempt = 0
    var lastError: Option[Throwable] = None
    var done = false
    while (!done && attempt < attempts) {
      try { write(batch); done = true }
      catch {
        case e: Throwable =>
          lastError = Some(e)
          attempt += 1
          // WithRetryWhen predicate (ErrorHandlingExtensions.cs:36):
          // non-matching errors stop retrying immediately
          if (!retryWhen(e)) attempt = attempts
          else if (attempt < attempts) Thread.sleep(initialDelayMs * attempt)
      }
    }
    if (!done) {
      val incident = action match {
        case ErrorAction.Skip => "batch.skip" // drop (reference Skip policy)
        case _ =>
          envelope(batch, sourceName, lastError.get).write
            .mode("append")
            .parquet(dlqPath)
          "dlq.enqueue"
      }
      try onEvent(RuntimeEvent(
        incident, sourceName, System.currentTimeMillis(),
        success = Some(false), attempt = Some(attempt), batchId = Some(batchId),
        message = lastError.map(e => String.valueOf(e.getMessage))))
      catch {
        case t: Throwable =>
          System.err.println(s"[graft-errorsink] onEvent threw: $t")
      }
    }
  }
}
