package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import java.time.Instant

/** Market-schedule session service — the Spark re-expression of
  * `/root/reference/src/Runtime/Heartbeat/MarketScheduleProvider.cs:20-45`
  * (`IsInSession(keyParts, utcTs)` gating bar emission; DST/holidays are
  * data, not code) and the `TimeFrame` DSL binding
  * (`src/Query/Dsl/KsqlQueryable.cs:127-184`).
  *
  * Two forms:
  *   - [[sessionFilter]]: plan-level — broadcast the schedule table and
  *     left-semi join with the open/close range predicate. In a
  *     streaming query this is a stream-static join: Spark re-reads the
  *     static side every micro-batch, which IS the reference's periodic
  *     schedule refresh, for free.
  *   - [[InMemoryProvider]]: driver-side `isInSession` for operators
  *     that gate row-by-row (heartbeat emission), over a per-key map of
  *     session windows.
  */
object MarketSchedule {

  /** Restrict `df` to rows inside a session window of `schedule`.
    * `joinKeys` maps fact column → schedule column; boundary
    * inclusivity matches the reference's parsed comparisons
    * (open <= ts < close by default, `KsqlQueryable.cs:161-183`).
    */
  def sessionFilter(
      df: DataFrame,
      schedule: DataFrame,
      joinKeys: Seq[(String, String)],
      tsCol: String,
      openCol: String = "open_ts",
      closeCol: String = "close_ts",
      openInclusive: Boolean = true,
      closeInclusive: Boolean = false
  ): DataFrame = {
    val s = schedule.alias("__sched")
    val eq: Column =
      joinKeys.map { case (f, sc) => df(f) === s(sc) }.reduce(_ && _)
    val ts = df(tsCol)
    val lo = if (openInclusive) s(openCol) <= ts else s(openCol) < ts
    val hi = if (closeInclusive) ts <= s(closeCol) else ts < s(closeCol)
    df.join(broadcast(s), eq && lo && hi, "left_semi")
  }

  /** Driver-side session lookup (broadcast-variable analog) for
    * row-level gating inside stateful operators.
    */
  final class InMemoryProvider(sessions: Map[String, Seq[(Instant, Instant)]]) extends Serializable {
    def isInSession(key: String, ts: Instant): Boolean =
      sessions.getOrElse(key, Nil).exists { case (open, close) =>
        !ts.isBefore(open) && ts.isBefore(close)
      }
  }
}
