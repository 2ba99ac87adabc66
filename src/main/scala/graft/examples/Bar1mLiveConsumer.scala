package graft.examples

import graft.core.Period
import graft.dsl.Ksql
import graft.sources.TestEntities
import graft.streaming.{BarCascade, GapFill}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class ExTick(broker: String, symbol: String, ts: Timestamp, bid: Double, seq: Long)

/** The reference's bar-1m-live-consumer + continuation-schedule
  * (`/root/reference/examples/bar-1m-live-consumer/`,
  * `examples/continuation-schedule/`): ticks roll into 1-second rows,
  * cascade into 1-minute live bars, and the continuation stage
  * synthesizes bars for empty minutes (carry-forward close).
  *
  * graft analog: `BarCascade.startFromModel` launches the whole chain —
  * hub (1s bars) → live 1m sink → gap fill (`transformWithState`
  * event-time timers) — from one DSL model with
  * `tumbling(..., continuation = true)`; the consumer below just reads
  * the live and fill sinks. Minutes 1 and 2 have no ticks: the fill
  * sink carries minute 0's close through both.
  *
  * Run: `sbt "runMain graft.examples.Bar1mLiveConsumer"`
  */
object Bar1mLiveConsumer extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def t(s: String) = Timestamp.valueOf(s)

    val model = Ksql
      .from(TestEntities.events)
      .tumbling(Seq(Period.Minutes(1)), grace = scala.concurrent.duration.Duration(2, "s"),
        continuation = true)
      .groupBy("event_type" -> col("event_type"))
      .select(count(lit(1)).as("cnt"))
      .build()

    val mem = MemoryStream[ExTick]
    val plan = BarCascade.startFromModel(
      spark, mem.toDF(), "bar", Seq("broker", "symbol"),
      "ts", "bid", "seq", model, work, GapFill.CarryForward)
    try {
      mem.addData(
        ExTick("b", "X", t("2024-01-01 00:00:10"), 10.0, 1),
        ExTick("b", "X", t("2024-01-01 00:00:30"), 12.0, 2),
        // minutes 1 and 2 are EMPTY -> continuation fills them
        ExTick("b", "X", t("2024-01-01 00:03:20"), 9.0, 3),
        ExTick("b", "X", t("2024-01-01 00:30:00"), 1.0, 4) // watermark push
      )
      (1 to 4).foreach { i =>
        plan.queries.foreach(_.processAllAvailable())
        mem.addData(ExTick("b", "X", t(s"2024-01-01 01:0$i:00"), 1.0, 10L + i))
      }
      plan.queries.foreach(_.processAllAvailable())

      println("live 1m bars:")
      spark.read.parquet(plan.livePaths("1m"))
        .orderBy("bucket_start").show(6, truncate = false)
      println("continuation (fill) stream — filled=true rows are synthetic:")
      spark.read.parquet(plan.fillPaths("1m"))
        .select($"bucket", $"open", $"close", $"filled")
        .orderBy("bucket").show(8, truncate = false)
    } finally plan.queries.foreach(_.stop())
  }
}
