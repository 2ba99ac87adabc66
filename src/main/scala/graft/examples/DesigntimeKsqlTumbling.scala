package graft.examples

import graft.GraftContext
import graft.core.{EntityModel, Period}
import graft.dsl.Ksql
import graft.plans.KsqlScriptGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class Tick(symbol: String, timestamp_utc: Timestamp, price: java.math.BigDecimal)

/** Design-time tumbling-window KSQL — mirror of
  * `/root/reference/examples/designtime-ksql-tumbling/Program.cs`: a
  * `Tick` source and a `MinuteBar` OHLC view defined by
  * Tumbling(1m) + GroupBy(symbol) + Earliest/LatestByOffset, emitted as a
  * windowed CTAS without running anything.
  *
  * Run: `sbt "runMain graft.examples.DesigntimeKsqlTumbling"`
  */
object DesigntimeKsqlTumbling extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {

    val ticks = EntityModel[Tick]("ticks")
      .key("symbol").timestamp("timestamp_utc")
      .decimal("price", 18, 4)
    val ctx = new GraftContext(spark, _ => spark.emptyDataFrame)
    ctx.register(ticks)
    ctx.toQuery(
      "minute_bars",
      Ksql.from(ticks)
        .tumbling(Seq(Period.Minutes(1)))
        .groupBy("symbol" -> col("symbol"))
        .select(
          col("symbol"),
          min_by(col("price"), col("timestamp_utc")).as("open"),
          max(col("price")).as("high"),
          min(col("price")).as("low"),
          max_by(col("price"), col("timestamp_utc")).as("close")
        )
        .build()
    )

    println("-- Design-time KSQL script for TumblingContext")
    println(KsqlScriptGen.build(ctx).toSql)
  }
}
