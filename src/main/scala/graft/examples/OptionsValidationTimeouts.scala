package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.plans.ToQueryValidator
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.concurrent.duration._

case class OvMessage(id: Int, created_at: Timestamp, text: String)
case class OvView(id: Int, text_len: Long)

/** The reference's options-validation-timeouts example
  * (`/root/reference/examples/options-validation-timeouts/Program.cs`):
  * `ConfigureValidation(autoRegister, failOnErrors, enablePreWarming)`
  * + `WithTimeouts(schemaRegistrationTimeout)` on the context builder.
  *
  * graft analogs, one per knob:
  *   - validation: `EntityModel.validated` (registration-time schema
  *     checks) and `ToQueryValidator.validate` (projection ↔ POCO
  *     compatibility, the fail-on-errors moment) — shown failing
  *     loudly on a type mismatch;
  *   - timeouts: consumption deadlines are per-call
  *     (`EventSet.forEach(action, timeout)`) — shown bounding a slow
  *     handler;
  *   - pre-warming: see `StartupWarmup`.
  *
  * Run: `sbt "runMain graft.examples.OptionsValidationTimeouts"`
  */
object OptionsValidationTimeouts extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    // 1. registration-time validation (ConfigureValidation analog)
    val model = EntityModel[OvMessage]("ov_messages")
      .key("id").timestamp("created_at").validated
    println(s"registered '${model.name}' with validated schema")

    // projection ↔ POCO check: planned text_len is BIGINT, target wants
    // it — compatible; then an incompatible target fails loudly
    val planned = spark.range(1).select(
      col("id").cast("int").as("id"), length(lit("x")).cast("long").as("text_len"))
    ToQueryValidator.validate(planned.schema, EntityModel[OvView]("ov_view").key("id"))
    println("projection -> OvView: compatible")
    try {
      val bad = spark.range(1).select(col("id").cast("string").as("id"),
        lit(1L).as("text_len"))
      ToQueryValidator.validate(bad.schema, EntityModel[OvView]("ov_view").key("id"))
    } catch {
      case e: ToQueryValidator.ValidationError =>
        println(s"failOnErrors: ${e.getMessage}")
    }

    // 2. consumption timeout (WithTimeouts analog): a slow handler is
    // cut off at the deadline instead of draining the whole set
    val store = new ChangelogStore(spark, work)
    val ctx = new GraftContext(spark, name => store.snapshot(name, model.keys))
    store.add("ov_messages", (1 to 100).map(i =>
      OvMessage(i, Timestamp.valueOf("2024-01-01 00:00:00"), s"m$i")).toDF())
    ctx.eventSet(model).toDS.count() // warm the plan so the deadline bounds the HANDLER, not job startup
    var seen = 0
    ctx.eventSet(model).forEach({ _ => seen += 1; Thread.sleep(30) }, timeout = 2.seconds)
    println(s"timeout-bounded consume: handled $seen of 100 before the 2s deadline")
  }
}
