package graft

import graft.functions.KFunctions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class PageHit(user: String, page: String, score: Double)

/** ksqlDB's TOPK/HISTOGRAM are streaming aggregates (EMIT CHANGES
  * updates per key as records arrive). Prove the engine's typed
  * imperative aggregates hold that contract: partial buffers must
  * round-trip through the state store between micro-batches, and each
  * update must refine — not restart — the running result.
  */
class StreamingTypedAggSpec extends SparkSpec {
  import spark.implicits._

  test("session windows seal in streaming append mode once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val agg = mem
      .toDF()
      .toDF("ts", "user")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "10 seconds").as("w"), $"user")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("start"), $"w.end".as("end"), $"user", $"n")

    val q = agg.writeStream
      .format("memory").queryName("sessions_stream").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // two bursts 30s apart: one session of 3, then one of 1
      mem.addData(
        (t("2024-01-01 00:00:00"), "u"),
        (t("2024-01-01 00:00:04"), "u"),
        (t("2024-01-01 00:00:08"), "u"),
        (t("2024-01-01 00:00:40"), "u")
      )
      q.processAllAvailable()
      // advance the watermark far past both sessions to seal them
      mem.addData((t("2024-01-01 00:10:00"), "u"))
      q.processAllAvailable()

      val rows = spark.table("sessions_stream")
        .orderBy($"start")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
      assert(rows.length >= 2)
      // merged session: events at 0/4/8s with a 10s gap → [0, 18s), 3 events
      assert(rows(0) == ((t("2024-01-01 00:00:00"), t("2024-01-01 00:00:18"), 3L)))
      assert(rows(1) == ((t("2024-01-01 00:00:40"), t("2024-01-01 00:00:50"), 1L)))
    } finally q.stop()
  }

  test("curateStream gates, hashes, and dedups first-arrival-wins on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val curated = graft.operators.Curation.curateStream(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "doc_id", "text", "ts", dedupDelay = "1 minute"
    )
    val q = curated.writeStream
      .format("memory").queryName("curated_stream").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val good = "the quick brown fox and the lazy dog walk to a river of calm water every day"
      mem.addData(
        (1L, t("2024-01-01 00:00:00"), good),
        // normalized duplicate inside the watermark window: dropped
        (2L, t("2024-01-01 00:00:10"), good.toUpperCase),
        // quality gate drops it
        (3L, t("2024-01-01 00:00:20"), "the a of")
      )
      q.processAllAvailable()
      val ids = spark.table("curated_stream").select($"doc_id").as[Long].collect().toSet
      assert(ids == Set(1L)) // first arrival wins; dup and low-quality dropped
    } finally q.stop()
  }

  test("curateStreamRouted splits kept from dropped-with-reason on one gate pass") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val (kept, dropped) = graft.operators.Curation.curateStreamRouted(
      mem.toDF().toDF("doc_id", "ts", "text"),
      "doc_id", "text", "ts", dedupDelay = "1 minute")
    val qk = kept.writeStream
      .format("memory").queryName("routed_kept").outputMode("append").start()
    val qd = dropped.writeStream
      .format("memory").queryName("routed_dropped").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val good = "the quick brown fox and the lazy dog walk to a river of calm water every day"
      mem.addData(
        (1L, t("2024-01-01 00:00:00"), good),
        (2L, t("2024-01-01 00:00:10"), "der und nicht das die der und nicht das die"), // lang gate
        (3L, t("2024-01-01 00:00:20"), "the a of") // quality gate
      )
      qk.processAllAvailable(); qd.processAllAvailable()
      assert(spark.table("routed_kept").select($"doc_id").as[Long].collect().toSet == Set(1L))
      val reasons = spark.table("routed_dropped")
        .select($"doc_id", $"drop_reason").as[(Long, String)].collect().toMap
      assert(reasons == Map(2L -> "lang:de", 3L -> "quality"))
    } finally { qk.stop(); qd.stop() }
  }

  test("bounded_topk and histogram aggregate across micro-batches in update mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageHit]

    val agg = mem
      .toDF()
      .groupBy($"user")
      .agg(
        expr("TOPK(score, 2)").as("top2"),
        to_json(KFunctions.histogram($"page")).as("pages")
      )

    val q = agg.writeStream
      .format("memory")
      .queryName("typed_agg")
      .outputMode("update")
      .start()
    try {
      mem.addData(
        PageHit("u1", "home", 3.0),
        PageHit("u1", "docs", 9.0),
        PageHit("u2", "home", 5.0)
      )
      q.processAllAvailable()
      // second micro-batch: the u1 buffer must come back from the state
      // store (deserialize path) and merge the new values in
      mem.addData(
        PageHit("u1", "home", 7.0),
        PageHit("u1", "docs", 1.0)
      )
      q.processAllAvailable()

      // update mode emits one row per changed key per batch; the sink
      // table holds every emission, so assert the refined batch-2 row
      // exists — it can only exist if the u1 buffer survived the state
      // store round-trip and merged the new values
      val rows = spark
        .table("typed_agg")
        .collect()
        .map(r => (r.getString(0), r.getSeq[Double](1), r.getString(2)))
        .toSet
      assert(rows.contains(("u1", Seq(9.0, 7.0), """{"docs":2,"home":2}"""))) // 3.0 evicted by the k=2 heap
      assert(rows.contains(("u1", Seq(9.0, 3.0), """{"docs":1,"home":1}"""))) // batch-1 emission
      assert(rows.contains(("u2", Seq(5.0), """{"home":1}""")))
    } finally q.stop()
  }
}
