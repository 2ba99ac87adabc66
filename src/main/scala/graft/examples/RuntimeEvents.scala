package graft.examples

import graft.streaming.{RuntimeEvent, RuntimeEventBus, RuntimeEventSink, Supervisor}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.util.concurrent.atomic.AtomicInteger

/** The reference's runtime-events + self-healing queries
  * (`/root/reference/examples/runtime-events/`; restart policy in
  * `src/Runtime/...`): a persistent query dies, the runtime observes
  * the termination event and restarts it from its checkpoint.
  *
  * graft analog: `Supervisor.supervise(name)(start)` — a
  * `StreamingQueryListener` catches `QueryTerminated` with an error
  * and relaunches with backoff, up to `maxRestarts`; Structured
  * Streaming's checkpoint replays the failed batch, so the restart is
  * exactly-once (the demo counts processed records to prove no
  * duplicates).
  *
  * Every lifecycle step is OBSERVED, not polled: the supervisor emits
  * `query.started` / `query.failed` / `query.restarted` through
  * [[graft.streaming.RuntimeEventBus]] (the reference's
  * `RuntimeEventBus.SetSink` + `LoggerIncidentSink` surface —
  * `src/Events/RuntimeEventBus.cs:12-19`,
  * `src/Incidents/LoggerIncidentSink.cs:9-20`), and this demo registers
  * both the out-of-the-box stderr logger and its own collecting sink.
  *
  * Run: `sbt "runMain graft.examples.RuntimeEvents"`
  */
object RuntimeEvents extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val attempts = new AtomicInteger(0)
    val processed = new AtomicInteger(0)

    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)

    // sink incidents to your own logger instead of polling restartCount:
    // the bus fans out to every registered sink (logger + this collector)
    val seen = new java.util.concurrent.CopyOnWriteArrayList[RuntimeEvent]()
    val collector: RuntimeEventSink = e => { seen.add(e); () }
    RuntimeEventBus.addSink(RuntimeEventBus.loggerSink)
    RuntimeEventBus.addSink(collector)

    val sup = new Supervisor(spark, maxRestarts = 3, backoffMs = 100)
    try {
      val q = sup.supervise("flaky_job") { () =>
        mem.toDS().writeStream
          .option("checkpointLocation", s"$work/chk")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], _: Long) =>
            if (attempts.getAndIncrement() == 0)
              sys.error("simulated transient failure on first batch")
            processed.addAndGet(batch.collect().length)
            ()
          }
          .start()
      }
      try q.awaitTermination()
      catch { case e: Exception => println(s"first incarnation died: ${e.getMessage.linesIterator.next()}") }

      val deadline = System.currentTimeMillis() + 30000
      while (processed.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)

      println(s"restarts: ${sup.restartCount("flaky_job")}")
      println(s"processed after self-heal: ${processed.get()} records (checkpoint replay, no duplicates)")
      import scala.jdk.CollectionConverters._
      println(s"observed lifecycle: ${seen.asScala.map(_.name).mkString(" -> ")}")
    } finally {
      RuntimeEventBus.removeSink(collector)
      RuntimeEventBus.removeSink(RuntimeEventBus.loggerSink)
      sup.close()
    }
  }
}
