package graft

import graft.core.{EntityModel, Period}
import graft.operators.TopN
import graft.plans.Planner
import graft.dsl.Ksql
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class DcRate(
    broker: String, symbol: String, rate_id: Long,
    rate_ts: Timestamp, bid: Double, ask: Double)

/** The reference's richest worked example, end to end in graft: the
  * daily-comparison pipeline
  * (`/root/reference/examples/daily-comparison/DailyComparisonLib/`):
  * Rate ticks → tumbling 1-minute RateCandle bars → daily bars →
  * DailyComparison with PrevClose/Diff (`Analytics.cs:20-33` builds
  * prev-close by ordering each (broker, symbol) group) → newest-N
  * minute-bar pull per symbol (`BarLimitOptions` + `Aggregator.cs:
  * 35-41`). A reference user porting that example writes exactly these
  * stages.
  */
class DailyComparisonSpec extends SparkSpec {
  import spark.implicits._

  private val rateEntity =
    EntityModel[DcRate]("rates").key("broker", "symbol").timestamp("rate_ts").validated

  private def t(s: String) = Timestamp.valueOf(s)

  test("rates → minute candles → daily bars → prev-close comparison → limited pull") {
    // two days of ticks for one (broker, symbol); mid = (bid+ask)/2
    val rates = Seq(
      DcRate("b", "X", 1, t("2024-01-01 10:00:05"), 10.0, 12.0), // mid 11
      DcRate("b", "X", 2, t("2024-01-01 10:00:40"), 14.0, 16.0), // mid 15
      DcRate("b", "X", 3, t("2024-01-01 10:01:10"), 8.0, 10.0),  // mid 9
      DcRate("b", "X", 4, t("2024-01-02 10:00:20"), 20.0, 22.0), // mid 21
      DcRate("b", "X", 5, t("2024-01-02 10:02:50"), 16.0, 18.0)  // mid 17
    ).toDF()
    rates.createOrReplaceTempView("rates")
    val catalog: String => org.apache.spark.sql.DataFrame = name => spark.table(name)

    // stage 1: tumbling 1m candles through the DSL (KsqlQueryable
    // .Tumbling over the entity time key), OHLC via offset aggregates
    val mid = (col("bid") + col("ask")) / 2
    val candles = Planner
      .batch(
        Ksql
          .from(rateEntity)
          .tumbling(Seq(Period.Minutes(1)))
          .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
          .select(
            graft.functions.KFunctions.earliestByOffset(mid, col("rate_id")).as("open"),
            max(mid).as("high"),
            min(mid).as("low"),
            graft.functions.KFunctions.latestByOffset(mid, col("rate_id")).as("close")
          )
          .build(),
        catalog
      )
    val c = candles.orderBy($"window_start").collect()
    assert(c.length == 4)
    assert(c(0).getAs[Double]("open") == 11.0 && c(0).getAs[Double]("high") == 15.0)
    assert(c(0).getAs[Double]("close") == 15.0) // latest by rate_id in minute 0

    // stage 2: daily bars re-aggregated FROM the candles (the cascade
    // convention: coarser frames read the finer sink, not raw ticks)
    val daily = candles
      .groupBy($"broker", $"symbol", to_date($"window_start").as("date"))
      .agg(
        max($"high").as("high"),
        min($"low").as("low"),
        graft.functions.BoundedHeap.maxBy($"close", $"window_start").as("close")
      )

    // stage 3: DailyComparison — PrevClose via lag over (broker,
    // symbol) date order, Diff = Close - PrevClose (Analytics.cs:20-33)
    val w = Window.partitionBy($"broker", $"symbol").orderBy($"date")
    val comparison = daily
      .withColumn("prev_close", coalesce(lag($"close", 1).over(w), lit(0.0)))
      .withColumn("diff", $"close" - $"prev_close")
      .orderBy($"date")
      .collect()
    assert(comparison.length == 2)
    assert(comparison(0).getAs[Double]("close") == 9.0) // day-1 close = last minute's close
    assert(comparison(0).getAs[Double]("prev_close") == 0.0)
    assert(comparison(1).getAs[Double]("close") == 17.0)
    assert(comparison(1).getAs[Double]("prev_close") == 9.0)
    assert(comparison(1).getAs[Double]("diff") == 8.0)

    // stage 4: the viewer pull — newest N minute bars per symbol
    // (BarLimitOptions), distributed rank instead of client-side Take
    val newest = TopN
      .newestPerKey(candles, "symbol", "window_start", "broker", n = 3)
      .orderBy($"window_start")
      .collect()
    assert(newest.length == 3)
    assert(newest.map(_.getAs[Timestamp]("window_start")).head == t("2024-01-01 10:01:00"))
  }
}
