package graft.examples

import graft.GraftContext
import graft.core.{EntityModel, ErrorAction}
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

case class RiskyOrder(id: Int, amount: java.math.BigDecimal)

/** The reference's error-handling example
  * (`/root/reference/examples/error-handling/Program.cs`: consume
  * `Orders` with `.OnError(ErrorAction.DLQ).WithRetry(3)` and an action
  * that throws on a negative amount) — the RETRY-then-route consume
  * policy, distinct from [[ErrorHandlingDlq]]'s deserialization-failure
  * routing.
  *
  * graft analog: the entity declares `.onError(ErrorAction.Retry)` and
  * `EventSet.forEachGuarded(action, retries, onDlq)` applies the policy
  * per record — the action re-runs up to `retries` extra attempts and
  * the record then lands in the DLQ hook with its exception, while good
  * records process exactly once and consumption never stops.
  *
  * Run: `sbt "runMain graft.examples.ErrorHandling"`
  */
object ErrorHandling extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val orders = EntityModel[RiskyOrder]("orders")
      .key("id").decimal("amount", 18, 2)
      .onError(ErrorAction.Retry) // OnError(DLQ).WithRetry(3) analog

    val ctx = new GraftContext(spark, name => store.snapshot(name, orders.keys))

    def dec(s: String) = new java.math.BigDecimal(s)
    store.add("orders", Seq(
      RiskyOrder(1, dec("19.99")),
      RiskyOrder(2, dec("-42.50")), // poison record, as in Program.cs
      RiskyOrder(3, dec("7.25"))
    ).toDF())

    var attempts = 0
    ctx.eventSet(orders).forEachGuarded(
      action = { o =>
        if (o.amount.signum() < 0) {
          attempts += 1
          throw new IllegalStateException("Amount cannot be negative")
        }
        println(s"Processed order ${o.id}: ${o.amount}")
      },
      retries = 3,
      onDlq = (o, e) =>
        println(s"DLQ <- order ${o.id} after $attempts attempts: ${e.getMessage}")
    )
  }
}
