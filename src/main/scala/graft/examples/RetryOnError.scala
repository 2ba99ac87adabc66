package graft.examples

import graft.GraftContext
import graft.core.{EntityModel, ErrorAction}
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class RetryItem(id: Int, at: Timestamp, text: String)

/** The reference's retry-onerror
  * (`/root/reference/examples/retry-onerror/Program.cs`:
  * `.WithRetry(maxRetries: 3, retryInterval).OnError(ErrorAction.DLQ)`):
  * transient failures re-run the handler; only after the retry budget
  * is spent does the record fall through to the error action.
  *
  * graft analog: `.onError(ErrorAction.Retry)` on the entity +
  * `forEachGuarded(retries = 3)` — the flaky record below fails twice
  * and succeeds on the third attempt, so the DLQ stays empty.
  *
  * Run: `sbt "runMain graft.examples.RetryOnError"`
  */
object RetryOnError extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val items = EntityModel[RetryItem]("retry_items").key("id").timestamp("at")
      .onError(ErrorAction.Retry)
    val ctx = new GraftContext(spark, name => store.snapshot(name, items.keys))

    store.add("retry_items", Seq(
      RetryItem(1, Timestamp.valueOf("2024-01-01 00:00:00"), "Payload")
    ).toDF())

    val attempts = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    var dlqCount = 0
    ctx.eventSet(items).forEachGuarded(
      action = i => {
        attempts(i.id) += 1
        if (attempts(i.id) < 3)
          throw new IllegalStateException(s"transient failure #${attempts(i.id)}")
        println(s"Processed item ${i.id} on attempt ${attempts(i.id)}")
      },
      retries = 3,
      onDlq = (_, _) => dlqCount += 1
    )
    println(s"DLQ records: $dlqCount (retry succeeded, nothing routed)")
  }
}
