package graft.examples

import graft.dsl.Ksql
import graft.plans.Planner
import graft.sources.TestEntities
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's query-basics + query-filter examples
  * (`/root/reference/examples/query-basics/README.md`,
  * `examples/query-filter/Program.cs`): the core LINQ→KSQL flow — a
  * `.Where(...)` predicate over a typed entity, projected to a view.
  *
  * graft analog: the same query through `Ksql.from(...).where(...)`.
  * The predicate is a Catalyst `Column`, so it is not just *applied* —
  * it is PUSHED into the parquet scan (printed below: look for
  * `PushedFilters`), which at 100 TB is the difference between reading
  * a partition and reading the lake.
  *
  * Run: `sbt "runMain graft.examples.QueryFilter [sfDir]"`
  */
object QueryFilter extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val catalog = TestEntities.catalog(spark, sfDir)

    // .Where(r => r.EventType == "purchase" && r.Value > 100)
    val filtered = Planner.batch(
      Ksql
        .from(TestEntities.events)
        .where(col("event_type") === "purchase" && col("value") > 100.0)
        .select(col("event_id"), col("user_id"), col("value"))
        .build(),
      catalog)

    println("filtered purchases > 100 (first 5):")
    filtered.orderBy(col("event_id")).show(5, truncate = false)

    // the filter reaches the scan — no post-hoc row sifting
    Example.scanFilters(filtered.queryExecution.executedPlan.toString).foreach(println)
  }
}
