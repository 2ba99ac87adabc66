package graft

import graft.core.ErrorAction
import graft.streaming.{ErrorSink, RuntimeEvent, RuntimeEventBus, RuntimeEventSink, Supervisor}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Runtime-event / incident surface (reference
  * `src/Events/RuntimeEventBus.cs`, `src/Incidents/IncidentBus.cs`):
  * the supervisor's self-healing loop and the DLQ arm are observable
  * through a sink registry — query started / failed / restarted /
  * gave-up and the envelope write each emit one event — and a
  * throwing sink never breaks the pipeline it observes.
  */
class RuntimeEventBusSpec extends SparkSpec {
  import spark.implicits._

  private final class Collecting extends RuntimeEventSink {
    val events = new CopyOnWriteArrayList[RuntimeEvent]()
    override def publish(e: RuntimeEvent): Unit = events.add(e)
    def names: Seq[String] = events.asScala.map(_.name).toSeq
  }

  test("supervised self-heal emits started, failed, restarted in order") {
    implicit val sqlCtx = spark.sqlContext
    val sink = new Collecting
    val chk = Files.createTempDirectory("evt-chk").toString
    val attempts = new AtomicInteger(0)
    val processed = new AtomicInteger(0)
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)

    val sup = new Supervisor(spark, maxRestarts = 3, backoffMs = 50, onEvent = sink.publish)
    try {
      val q = sup.supervise("flaky_evt") { () =>
        mem.toDS().writeStream
          .option("checkpointLocation", chk)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], _: Long) =>
            if (attempts.getAndIncrement() == 0) sys.error("first batch fails")
            processed.addAndGet(batch.collect().length)
            ()
          }
          .start()
      }
      intercept[Exception](q.awaitTermination())
      val deadline = System.currentTimeMillis() + 30000
      while (processed.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(processed.get() == 3)
      // restart event may race the data landing by a hair; poll for it
      val d2 = System.currentTimeMillis() + 5000
      while (!sink.names.contains("query.restarted") && System.currentTimeMillis() < d2)
        Thread.sleep(50)
      val names = sink.names
      assert(names.indexOf("query.started") >= 0, s"events: $names")
      assert(names.indexOf("query.failed") > names.indexOf("query.started"), s"events: $names")
      assert(names.indexOf("query.restarted") > names.indexOf("query.failed"), s"events: $names")
      val restarted = sink.events.asScala.find(_.name == "query.restarted").get
      assert(restarted.entity == "flaky_evt" && restarted.attempt.contains(1))
      val failedEvt = sink.events.asScala.find(_.name == "query.failed").get
      assert(failedEvt.success.contains(false) && failedEvt.message.nonEmpty)
    } finally sup.close()
  }

  test("restarts exhausted emits query.gave_up") {
    implicit val sqlCtx = spark.sqlContext
    val sink = new Collecting
    val chk = Files.createTempDirectory("evt-gaveup-chk").toString
    val mem = MemoryStream[Int]
    mem.addData(1)

    val sup = new Supervisor(spark, maxRestarts = 0, backoffMs = 50, onEvent = sink.publish)
    try {
      val q = sup.supervise("hopeless") { () =>
        mem.toDS().writeStream
          .option("checkpointLocation", chk)
          .foreachBatch { (_: org.apache.spark.sql.Dataset[Int], _: Long) =>
            sys.error("always fails"); ()
          }
          .start()
      }
      intercept[Exception](q.awaitTermination())
      val deadline = System.currentTimeMillis() + 10000
      while (!sink.names.contains("query.gave_up") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(sink.names.contains("query.gave_up"), s"events: ${sink.names}")
      assert(!sink.names.contains("query.restarted"))
    } finally sup.close()
  }

  test("DLQ envelope write and Skip each emit one incident with the batch id") {
    val sink = new Collecting
    val dlq = Files.createTempDirectory("evt-dlq").toString + "/dlq"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    val toDlq = ErrorSink.guardedForeachBatch(
      spark, "orders_src", ErrorAction.Dlq, dlq,
      onEvent = sink.publish)(_ => sys.error("boom"))
    toDlq(batch, 7L)
    val dlqEvt = sink.events.asScala.find(_.name == "dlq.enqueue").get
    assert(dlqEvt.entity == "orders_src" && dlqEvt.batchId.contains(7L) &&
      dlqEvt.message.exists(_.contains("boom")))
    assert(spark.read.parquet(dlq).count() == 2) // envelope rows written

    val skipper = ErrorSink.guardedForeachBatch(
      spark, "orders_src", ErrorAction.Skip, dlq,
      onEvent = sink.publish)(_ => sys.error("boom"))
    skipper(batch, 8L)
    assert(sink.events.asScala.exists(e => e.name == "batch.skip" && e.batchId.contains(8L)))
    assert(spark.read.parquet(dlq).count() == 2) // skip wrote nothing
  }

  test("a throwing sink is contained: delivery continues and the pipeline survives") {
    val boom = new RuntimeEventSink {
      override def publish(e: RuntimeEvent): Unit = sys.error("sink is broken")
    }
    val sink = new Collecting
    RuntimeEventBus.addSink(boom)
    RuntimeEventBus.addSink(sink)
    try {
      // bus-level containment: the broken sink doesn't stop the second
      RuntimeEventBus.publish(RuntimeEvent("test.evt", "e", 0L))
      assert(sink.names == Seq("test.evt"))

      // emitter-level containment: guardedForeachBatch with the DEFAULT
      // bus callback (broken sink registered) still writes the envelope
      val dlq = Files.createTempDirectory("evt-dlq2").toString + "/dlq"
      val toDlq = ErrorSink.guardedForeachBatch(
        spark, "src2", ErrorAction.Dlq, dlq)(_ => sys.error("boom"))
      toDlq(Seq((1L, "x")).toDF("id", "v"), 1L)
      assert(spark.read.parquet(dlq).count() == 1)
      assert(sink.events.asScala.exists(_.name == "dlq.enqueue"))
    } finally {
      RuntimeEventBus.removeSink(boom)
      RuntimeEventBus.removeSink(sink)
    }
  }

  test("every ingest-loop family emits batch.ingested with the appended row count") {
    import graft.streaming._
    import org.apache.spark.sql.functions.col
    val sink = new Collecting
    RuntimeEventBus.addSink(sink)
    val root = Files.createTempDirectory("evt-loops").toString
    try {
      IncrementalBm25.ingestBatch(spark,
        Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("doc_id", "text"),
        s"$root/bm25", batchId = Some(0L))
      val centroids =
        Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "centroid_vec")
      IncrementalAnn.ingestBatch(spark,
        Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.1f, 0.8f))).toDF("vec_id", "embedding"),
        s"$root/ann", centroids, "vec_id", "embedding", batchId = Some(0L))
      IncrementalScd2.ingestBatch(spark,
        Seq(("A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, "s"))
          .toDF("k", "ts", "id", "attr"),
        s"$root/scd2", Seq("k"), "ts", Seq("attr"), Seq("id"), batchId = Some(0L))
      IncrementalManifest.ingestBatch(spark,
        Seq((1L, "x"), (2L, "y")).toDF("id", "text"),
        s"$root/manifest", "id", Seq("id", "text"), nShards = 4, seed = "s",
        batchId = Some(0L))
      IncrementalSelection.ingestBatch(spark,
        Seq((1L, "target text here"), (2L, "raw text there")).toDF("doc_id", "text"),
        s"$root/dsir", "text", col("doc_id") === 1L, buckets = 32, batchId = Some(0L))
      IncrementalSketches.ingestBatch(spark,
        Seq(("s1", "tok1"), ("s1", "tok2")).toDF("source", "token"),
        s"$root/hll", Seq("source"), "token", batchId = Some(0L))
      IncrementalSketches.ingestQuantilesBatch(spark,
        Seq(("s1", 1.5), ("s1", 2.5), ("s2", 4.0)).toDF("source", "v"),
        s"$root/kll", Seq("source"), "v", batchId = Some(0L))
      IncrementalGraph.ingestBatch(spark,
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), s"$root/graph", batchId = Some(0L))
      IncrementalDedup.seed(
        Seq((100L, "some seed document text with enough distinct words to shingle properly"))
          .toDF("doc_id", "text"),
        s"$root/corpus", s"$root/bands")
      IncrementalDedup.ingestBatch(spark,
        Seq((200L, "a completely novel arriving document with many different interesting words"))
          .toDF("doc_id", "text"),
        s"$root/corpus", s"$root/bands", batchId = Some(0L))
      DriftMonitor.seedReference(Seq(1.0, 5.0, 9.0).toDF("v"), "v", Seq(4.0, 8.0),
        s"$root/drift_ref")
      DriftMonitor.scoreBatch(spark, Seq(2.0, 6.0).toDF("v"), "v", Seq(4.0, 8.0),
        s"$root/drift_ref", s"$root/drift", batchId = Some(0L))
      QualityMonitor.scoreBatch(spark, Seq((1L, "x"), (2L, null)).toDF("id", "text"),
        Seq(graft.operators.Quality.Complete("text")), s"$root/quality", batchId = Some(0L))
      val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "an unrelated arriving document about columnar storage formats")).toDF("doc_id", "text")
      StreamingCuration.seedEvalSet(docs.filter(col("doc_id") === 1L), s"$root/eval")
      StreamingCuration.ingestDecontaminate(docs, s"$root/eval", s"$root/decontaminate", 0L,
        probeReplay = true)
      StreamingCuration.seedNbClassifier(docs.withColumn("y", (col("doc_id") % 2).cast("int")),
        s"$root/nb")
      StreamingCuration.ingestNbGate(docs, s"$root/nb", s"$root/nb_gate", 0L, probeReplay = true,
        minScore = -1e9)
      StreamingCuration.seedLanguageModel(docs, s"$root/lm", buckets = 2)
      StreamingCuration.ingestGate(docs, s"$root/lm", s"$root/perplexity_gate", 0L,
        probeReplay = true, keepMaxBucket = 2)

      val byEntity = sink.events.asScala
        .filter(_.name == "batch.ingested").map(e => e.entity -> e).toMap
      for (store <- Seq("bm25", "ann", "scd2", "manifest", "dsir", "hll", "kll", "graph", "corpus",
          "drift", "quality", "decontaminate", "nb_gate", "perplexity_gate")) {
        val e = byEntity.getOrElse(s"$root/$store",
          fail(s"no batch.ingested for $store; got ${byEntity.keys}"))
        assert(e.batchId.contains(0L) && e.success.contains(true), s"$store: $e")
        val rows = e.message.get.stripPrefix("rows=").toLong
        val inStore = spark.read.parquet(s"$root/$store")
          .filter(col("ingest_batch") === 0L).count()
        assert(rows == inStore, s"$store event says rows=$rows, store holds $inStore")
      }
    } finally RuntimeEventBus.removeSink(sink)
  }

  test("compaction maintenance emits batch.compacted; unobserved loops pay no count") {
    import graft.streaming._
    // zero-overhead contract: the by-name rows payload must not be
    // evaluated when no sink is registered
    RuntimeEventBus.clearSinks()
    var evaluated = false
    RuntimeEventBus.ingested("nobody-listening", None, { evaluated = true; 1L })
    assert(!evaluated, "rows payload was computed with no sinks registered")

    val sink = new Collecting
    RuntimeEventBus.addSink(sink)
    val root = Files.createTempDirectory("evt-compact").toString
    try {
      IncrementalDedup.seed(
        Seq((100L, "seed corpus document with a healthy number of distinct shingle words"))
          .toDF("doc_id", "text"),
        s"$root/corpus", s"$root/bands")
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = IncrementalDedup.attach(
        mem.toDF().toDF("doc_id", "text"), s"$root/corpus", s"$root/bands",
        compactEvery = Some(1))
      try {
        mem.addData((200L, "fresh arriving text that is nothing like the seeded corpus entry"))
        q.processAllAvailable()
      } finally q.stop()
      val compacted = sink.events.asScala.filter(_.name == "batch.compacted").toSeq
      assert(compacted.exists(_.entity == s"$root/corpus"), s"events: ${sink.names}")
      assert(compacted.exists(_.entity == s"$root/bands"), s"events: ${sink.names}")
      compacted.foreach { e =>
        assert(e.message.exists(_.matches("files=\\d+")) && e.batchId.contains(0L), s"$e")
      }
    } finally RuntimeEventBus.removeSink(sink)
  }
}
