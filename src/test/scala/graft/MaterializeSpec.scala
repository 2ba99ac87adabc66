package graft

import graft.operators.Dedup
import graft.sources.TestEntities
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** Materialization manager (table-cache analog) + streaming dedup. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("calendar-month windows stream in update mode (EMIT CHANGES)") {
    // months have no fixed length, so the live cascade refuses them —
    // but a push query with EMIT CHANGES (update mode) serves them:
    // the windowFor struct is an ordinary grouping key there
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF().toDF("k", "ts", "v")
    val monthly = src
      .groupBy(
        graft.plans.Planner.windowFor($"ts", graft.core.Period.Months(1)).as("window"),
        $"k"
      )
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("month_start"), $"k", $"cnt")
    val q = monthly.writeStream.format("memory").queryName("monthly_update")
      .outputMode("update").start()
    try {
      mem.addData(
        ("a", t("2024-01-05 10:00:00"), 1.0),
        ("a", t("2024-01-28 10:00:00"), 2.0),
        ("a", t("2024-02-02 00:00:00"), 3.0)
      )
      q.processAllAvailable()
      val rows = spark.table("monthly_update")
        .groupBy($"month_start", $"k").agg(max($"cnt").as("cnt"))
        .as[(Timestamp, String, Long)].collect()
        .map { case (m, k, c) => (m.toString.take(10), k) -> c }.toMap
      assert(rows(("2024-01-01", "a")) == 2)
      assert(rows(("2024-02-01", "a")) == 1)
    } finally q.stop()
  }

  test("live (complete/memory) and final (append/parquet) materializations serve pulls") {
    implicit val sqlCtx = spark.sqlContext
    val ctx = new GraftContext(spark, TestEntities.catalog(spark, testData("0.001")))
    val root = Files.createTempDirectory("mat").toString

    val mem = MemoryStream[(String, Timestamp, Double)]
    val src = mem.toDF().toDF("k", "ts", "v")

    // live: running per-key counts, EMIT CHANGES ≈ complete to memory
    val live = src.groupBy($"k").agg(count(lit(1)).as("cnt"))
    val qLive = ctx.materializeLive("counts_live", live)

    // final: windowed sums sealed by watermark, EMIT FINAL ≈ append
    val fin = src
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 minute").as("window"), $"k")
      .agg(sum($"v").as("total"))
      .withColumn("bucket", $"window.start").drop("window")
    val qFin = ctx.materializeFinal("sums_final", fin, root)

    try {
      mem.addData(("a", t("2024-01-01 00:00:10"), 1.0), ("a", t("2024-01-01 00:00:20"), 2.0))
      qLive.processAllAvailable(); qFin.processAllAvailable()
      mem.addData(("b", t("2024-01-01 00:05:00"), 5.0)) // seals minute 0
      qLive.processAllAvailable(); qFin.processAllAvailable()

      val liveRows = ctx.set("counts_live").as[(String, Long)].collect().toMap
      assert(liveRows("a") == 2)

      mem.addData(("b", t("2024-01-01 00:10:00"), 1.0)) // let sink flush files
      qFin.processAllAvailable()
      val finRows = ctx.set("sums_final")
        .filter($"k" === "a").select("total").as[Double].collect()
      assert(finRows.toSeq == Seq(3.0))
    } finally { qLive.stop(); qFin.stop() }
  }

  test("streaming hopping window lowers through the planner (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dsl.Ksql
    import graft.sources.TestEntities
    import scala.concurrent.duration._
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val src = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val model = Ksql
      .from(TestEntities.events)
      .hopping(10.minutes, 5.minutes, grace = Some(0.seconds))
      .groupBy("event_type" -> col("event_type"))
      .select(count(lit(1)).as("cnt"))
      .build()
    val df = graft.plans.Planner.streaming(model, _ => src)
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("hop_stream")
      .outputMode("update").start()
    try {
      mem.addData((1L, t("2024-01-01 00:07:00"), "buy", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hop_stream").collect()
      // one event in size-10m/slide-5m windows -> two windows
      assert(rows.length == 2)
      assert(rows.forall(_.getAs[Long]("cnt") == 1))
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val deduped = Dedup.streamingExact(
      mem.toDF().toDF("id", "ts", "payload"), Seq("id"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, t("2024-01-01 00:00:00"), "a"), (1L, t("2024-01-01 00:00:05"), "a-dup"))
      q.processAllAvailable()
      mem.addData((2L, t("2024-01-01 00:00:10"), "b"), (1L, t("2024-01-01 00:00:20"), "a-dup2"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }
}
