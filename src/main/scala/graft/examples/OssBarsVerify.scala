package graft.examples

import graft.core.{EntityModel, Period}
import graft.dsl.Ksql
import graft.functions.KFunctions
import graft.plans.Planner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class VerifyTick(broker: String, symbol: String, ts: Timestamp, seq: Long, price: Double)

/** The reference's oss-bars-verify example
  * (`/root/reference/examples/oss-bars-verify/Program.cs`): a
  * self-contained verifier — build bars from ticks with runtime APIs
  * only (no Kafka), roll them up, and check the invariants.
  *
  * graft analog: 5-minute OHLC computed two ways must agree —
  *   (a) directly from the ticks (tumbling 5m), and
  *   (b) rolled up from the 1-minute bars (the cascade path).
  * open = earliest-by-seq of opens, close = latest-by-seq of closes,
  * high/low = max/min. This is the invariant the multi-timeframe
  * cascade (`DerivationPlanner`) relies on: coarser frames may read
  * finer sinks instead of re-scanning ticks.
  *
  * Run: `sbt "runMain graft.examples.OssBarsVerify"`
  */
object OssBarsVerify extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    // 30 minutes of synthetic ticks, 1 tick / 20s, two symbols
    val base = Timestamp.valueOf("2024-01-01 09:00:00").getTime
    val ticks = (0 until 90).flatMap { i =>
      Seq(
        VerifyTick("b", "X", new Timestamp(base + i * 20000L), i.toLong, 100.0 + (i % 7) - (i % 3)),
        VerifyTick("b", "Y", new Timestamp(base + i * 20000L), i.toLong, 50.0 + (i % 5))
      )
    }.toDF()
    ticks.createOrReplaceTempView("verify_ticks")
    val entity = EntityModel[VerifyTick]("verify_ticks")
      .key("broker", "symbol").timestamp("ts").validated
    val catalog: String => org.apache.spark.sql.DataFrame = spark.table

    def bars(minutes: Int) = Planner.batch(
      Ksql.from(entity)
        .tumbling(Seq(Period.Minutes(minutes)))
        .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
        .select(
          KFunctions.earliestByOffset(col("price"), col("seq")).as("open"),
          max(col("price")).as("high"), min(col("price")).as("low"),
          KFunctions.latestByOffset(col("price"), col("seq")).as("close"))
        .build(),
      catalog)

    // (a) 5m bars straight from ticks
    val direct = bars(5)

    // (b) 5m bars rolled up from the 1m sink; the 1m bucket start is
    // the offset that orders opens/closes inside the 5m frame
    val rollup = bars(1)
      .withColumnRenamed("window_start", "m1_start")
      .groupBy($"broker", $"symbol",
        window($"m1_start", "5 minutes")("start").as("window_start"))
      .agg(
        KFunctions.earliestByOffset($"open", unix_timestamp($"m1_start")).as("open"),
        max($"high").as("high"), min($"low").as("low"),
        KFunctions.latestByOffset($"close", unix_timestamp($"m1_start")).as("close"))

    val cols = Seq("broker", "symbol", "window_start", "open", "high", "low", "close")
    val a = direct.selectExpr(cols: _*)
    val b = rollup.selectExpr(cols: _*)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()

    println(s"direct 5m bars: ${a.count()}, rolled-up 5m bars: ${b.count()}, mismatches: $diff")
    if (diff == 0) println("VERIFY OK: cascade rollup == direct aggregation")
    else { a.orderBy("symbol", "window_start").show(); b.orderBy("symbol", "window_start").show() }
  }
}
