package graft.examples

import graft.core.{EntityModel, Period}
import graft.dsl.Ksql
import graft.functions.{BoundedHeap, KFunctions}
import graft.operators.TopN
import graft.plans.Planner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class DailyRate(
    broker: String, symbol: String, rate_id: Long,
    rate_ts: Timestamp, bid: Double, ask: Double)

/** The reference's daily-comparison example
  * (`/root/reference/examples/daily-comparison/DailyComparisonLib/`):
  * Rate ticks → tumbling 1-minute candles → daily bars → comparison
  * with PrevClose/Diff (`Analytics.cs:20-33`) → newest-N pull per
  * symbol. The executable-spec twin with assertions is
  * `DailyComparisonSpec`; this main prints each stage.
  *
  * Run: `sbt "runMain graft.examples.DailyComparison"`
  */
object DailyComparison extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)

    val rateEntity =
      EntityModel[DailyRate]("rates").key("broker", "symbol").timestamp("rate_ts").validated
    Seq(
      DailyRate("b", "X", 1, t("2024-01-01 10:00:05"), 10.0, 12.0),
      DailyRate("b", "X", 2, t("2024-01-01 10:00:40"), 14.0, 16.0),
      DailyRate("b", "X", 3, t("2024-01-01 10:01:10"), 8.0, 10.0),
      DailyRate("b", "X", 4, t("2024-01-02 10:00:20"), 20.0, 22.0),
      DailyRate("b", "X", 5, t("2024-01-02 10:02:50"), 16.0, 18.0)
    ).toDF().createOrReplaceTempView("rates")
    val catalog: String => org.apache.spark.sql.DataFrame = spark.table

    // stage 1: 1-minute OHLC candles through the DSL
    val mid = (col("bid") + col("ask")) / 2
    val candles = Planner.batch(
      Ksql.from(rateEntity)
        .tumbling(Seq(Period.Minutes(1)))
        .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
        .select(
          KFunctions.earliestByOffset(mid, col("rate_id")).as("open"),
          max(mid).as("high"), min(mid).as("low"),
          KFunctions.latestByOffset(mid, col("rate_id")).as("close"))
        .build(),
      catalog)
    println("1m candles:"); candles.orderBy($"window_start").show(truncate = false)

    // stage 2: daily bars FROM the candles (cascade convention: coarser
    // frames read the finer sink, never the raw ticks twice)
    val daily = candles
      .groupBy($"broker", $"symbol", to_date($"window_start").as("date"))
      .agg(max($"high").as("high"), min($"low").as("low"),
        BoundedHeap.maxBy($"close", $"window_start").as("close"))

    // stage 3: PrevClose/Diff (Analytics.cs:20-33) — lag over date order
    val w = Window.partitionBy($"broker", $"symbol").orderBy($"date")
    println("daily comparison:")
    daily
      .withColumn("prev_close", coalesce(lag($"close", 1).over(w), lit(0.0)))
      .withColumn("diff", $"close" - $"prev_close")
      .orderBy($"date").show(truncate = false)

    // stage 4: viewer pull — newest 3 minute-bars per symbol
    println("newest 3 candles per symbol:")
    TopN.newestPerKey(candles, "symbol", "window_start", "broker", n = 3)
      .orderBy($"window_start").show(truncate = false)
  }
}
