package graft.examples

import graft.GraftContext
import graft.dsl.Ksql
import graft.sources.TestEntities
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's view-toquery
  * (`/root/reference/examples/view-toquery/`:
  * `modelBuilder.Entity<T>().ToQuery(root => ...)` — a derived entity
  * defined by a query over another entity, consumable like any set).
  *
  * graft analog: `ctx.toQuery(name, model)` registers a named logical
  * plan; reads resolve it through the planner recursively (a view over
  * a view works), and Catalyst fuses the whole chain into one plan —
  * where the reference round-trips each view through a ksqlDB stream.
  *
  * Run: `sbt "runMain graft.examples.ViewToQuery [sfDir]"`
  */
object ViewToQuery extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val ctx = new GraftContext(spark, TestEntities.catalog(spark, sfDir))
    ctx.register(TestEntities.orders)

    // view 1: high-value orders
    ctx.toQuery(
      "big_orders",
      Ksql.from(TestEntities.orders)
        .where(col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .build()
    )
    // view 2: defined OVER view 1
    ctx.toQuery(
      "big_orders_by_cust",
      Ksql.from(graft.core.EntityModel[graft.sources.Order]("big_orders"))
        .groupBy("o_custkey" -> col("o_custkey"))
        .select(count(lit(1)).as("cnt"))
        .build()
    )

    println(s"big_orders rows: ${ctx.set("big_orders").count()}")
    ctx.set("big_orders_by_cust")
      .orderBy(col("cnt").desc, col("o_custkey"))
      .show(5, truncate = false)
  }
}
