package graft.examples

import graft.GraftContext
import graft.core.{EntityModel, ErrorAction}
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class DlqOrder(id: Int, at: Timestamp, amount: Double)
case class DlqRecord(id: Int, error: String, failed_at: Long)

/** The reference's error-handling-dlq
  * (`/root/reference/examples/error-handling-dlq/Program.cs`:
  * `.OnError(ErrorAction.DLQ).WithRetry(3).ForEachAsync(...)` with a
  * negative amount throwing): a failing record is retried, then routed
  * to the DLQ topic instead of poisoning the consumer.
  *
  * graft analog: the entity declares `.onError(ErrorAction.Dlq)` and
  * `forEachGuarded` dispatches under that policy; the `onDlq` hook is
  * the DLQ producer (here another changelog entity, so the DLQ is
  * itself consumable). Streaming pipelines get the same routing from
  * `ErrorSink.guardedForeachBatch` / `splitCorrupt`.
  *
  * Run: `sbt "runMain graft.examples.ErrorHandlingDlq"`
  */
object ErrorHandlingDlq extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val orders = EntityModel[DlqOrder]("dlq_orders").key("id").timestamp("at")
      .onError(ErrorAction.Dlq)
    val ctx = new GraftContext(spark, name => store.snapshot(name, Seq("id")))

    def t(s: String) = Timestamp.valueOf(s)
    store.add("dlq_orders", Seq(
      DlqOrder(1, t("2024-01-01 00:00:00"), 10.0),
      DlqOrder(2, t("2024-01-01 00:00:01"), -42.5), // poison record
      DlqOrder(3, t("2024-01-01 00:00:02"), 7.5)
    ).toDF())

    ctx.eventSet(orders).forEachGuarded(
      action = o => {
        if (o.amount < 0) throw new IllegalStateException("Amount cannot be negative")
        println(s"Processed order ${o.id}: ${o.amount}")
      },
      onDlq = (o, e) =>
        store.add("dlq_orders_dlq", Seq(DlqRecord(o.id, e.getMessage, 0L)).toDF())
    )

    println("DLQ contents:")
    store.snapshot("dlq_orders_dlq", Seq("id")).show(truncate = false)
  }
}
