package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.dsl.Ksql
import graft.plans.KsqlScriptGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class OrderEvent(id: Int, created_at: Timestamp, status: String)
case class OrderSummary(id: Int, created_date: java.sql.Date)

/** Design-time KSQL script generation — mirror of
  * `/root/reference/examples/designtime-ksql-script/Program.cs`: define a
  * context (a base `OrderEvent` entity plus a ToQuery-derived
  * `OrderSummary` view), then emit the CREATE STREAM DDL + CSAS and the
  * Avro value schemas WITHOUT any running Kafka/ksqlDB — the model alone
  * drives the script.
  *
  * Run: `sbt "runMain graft.examples.DesigntimeKsqlScript"`
  */
object DesigntimeKsqlScript extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {

    // OnModelCreating analog: register the source entity and the
    // ToQuery projection (Status == "Completed" → Id + CreatedAt.Date)
    val orders = EntityModel[OrderEvent]("orders")
      .key("id").timestamp("created_at").toTopic("orders_v1")
    val ctx = new GraftContext(spark, _ => spark.emptyDataFrame)
    ctx.register(orders)
    ctx.toQuery(
      "order_summaries",
      Ksql.from(orders)
        .where(col("status") === "Completed")
        .select(col("id"), to_date(col("created_at")).as("created_date"))
        .build()
    )

    val script = KsqlScriptGen.build(ctx)
    println("-- Design-time KSQL script for OrdersContext")
    println(script.toSql)

    println()
    println("-- Avro value schemas (.avsc) for entities")
    KsqlScriptGen.exportValueSchemas(ctx).foreach { case (entity, schema) =>
      println(s"-- Entity: $entity")
      println(schema)
      println()
    }
  }
}
