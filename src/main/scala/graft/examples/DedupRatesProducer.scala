package graft.examples

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

case class RateTick(broker: String, symbol: String, ts: Timestamp, bid: Double)

/** The reference's deduprates-producer example
  * (`/root/reference/examples/deduprates-producer/Program.cs`): produce
  * rate ticks with the duplicates already removed, so every downstream
  * consumer sees each (broker, symbol, ts) once.
  *
  * graft analog: `Dedup.streamingExact` —
  * `dropDuplicatesWithinWatermark` keyed on the rate identity. The
  * watermark bounds the state store: a duplicate arriving inside the
  * delay window is dropped, state for sealed windows is evicted, so
  * the operator runs forever at constant memory per key — the property
  * that matters on a 24/7 rates feed.
  *
  * Run: `sbt "runMain graft.examples.DedupRatesProducer"`
  */
object DedupRatesProducer extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)

    val mem = MemoryStream[RateTick]
    val deduped = Dedup.streamingExact(
      mem.toDF(), keyCols = Seq("broker", "symbol", "ts"), tsCol = "ts", delay = "10 seconds")

    // the producer fires the same tick three times (at-least-once
    // upstream); one survives. Data lands BEFORE start: AvailableNow
    // snapshots the available offsets when the query starts.
    mem.addData(
      RateTick("b", "X", t("2024-01-01 00:00:01"), 10.0),
      RateTick("b", "X", t("2024-01-01 00:00:01"), 10.0),
      RateTick("b", "X", t("2024-01-01 00:00:01"), 10.0),
      RateTick("b", "X", t("2024-01-01 00:00:02"), 11.0),
      RateTick("b", "Y", t("2024-01-01 00:00:01"), 20.0)
    )
    val q = deduped.writeStream
      .format("parquet")
      .option("path", s"$work/rates_dedup")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    println("deduplicated rates topic:")
    spark.read.parquet(s"$work/rates_dedup").orderBy("broker", "symbol", "ts")
      .show(truncate = false)
  }
}
