package graft.examples

import graft.operators.AsOfJoin
import graft.streaming.StreamAsOf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Point-in-time (as-of) enrichment, batch and streaming — beyond the
  * reference (its WITHIN join is symmetric-banded,
  * `/root/reference/src/Query/Dsl/KsqlQueryable.cs:48-67`; as-of is
  * one-sided latest-wins, the standard trade↔quote / feature-lookup
  * shape).
  *
  * Batch: `AsOfJoin.asOf` — union + ONE key shuffle + window carry, no
  * range-join blow-up. Streaming: `StreamAsOf` — `transformWithState`
  * with watermark-sealed matches; a late-but-earlier-stamped quote
  * arriving before the seal still wins, exactly like the batch form.
  *
  * Run: `sbt "runMain graft.examples.AsOfEnrichment"`
  */
object AsOfEnrichment extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)

    // ---- batch: trades pick up the prevailing quote
    val quotes = Seq(
      ("X", t("2024-01-01 09:00:01"), 101.0),
      ("X", t("2024-01-01 09:00:05"), 102.5),
      ("Y", t("2024-01-01 09:00:03"), 55.0)
    ).toDF("sym", "ts", "bid").select($"sym", $"ts", $"ts".as("quote_ts"), $"bid")
    val trades = Seq(
      ("X", t("2024-01-01 09:00:04"), 1L, 10),
      ("X", t("2024-01-01 09:00:06"), 2L, 20),
      ("Y", t("2024-01-01 09:00:02"), 3L, 30) // before Y's first quote
    ).toDF("sym", "ts", "trade_id", "qty")

    println("batch as-of (trade -> prevailing quote):")
    AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts", Seq("quote_ts", "bid"))
      .orderBy($"trade_id").show(truncate = false)

    // ---- streaming: same semantics, watermark-sealed
    val mem = MemoryStream[StreamAsOf.In]
    val enriched = StreamAsOf(mem.toDF().withWatermark("ts", "0 seconds").as[StreamAsOf.In])
    val q = enriched.writeStream.format("memory").queryName("asof_demo")
      .outputMode("append").start()
    mem.addData(
      StreamAsOf.In("X", t("2024-01-01 09:00:01"), 0, 0L, 101.0), // quote
      StreamAsOf.In("X", t("2024-01-01 09:00:04"), 1, 1L, 10.0),  // trade
      StreamAsOf.In("X", t("2024-01-01 09:00:02"), 0, 0L, 101.5)  // late quote, still pre-seal
    )
    q.processAllAvailable()
    mem.addData(StreamAsOf.In("X", t("2024-01-01 09:10:00"), 0, 0L, 103.0)) // advance watermark
    q.processAllAvailable()
    mem.addData(StreamAsOf.In("X", t("2024-01-01 09:20:00"), 0, 0L, 104.0)) // flush timers
    q.processAllAvailable()

    println("streaming as-of (the 09:00:02 late quote wins for the 09:00:04 trade):")
    spark.table("asof_demo").orderBy("seq").show(truncate = false)

    q.stop()
  }
}
