package graft.examples

import graft.dsl.Ksql
import graft.plans.Planner
import graft.core.Period
import graft.sources.TestEntities
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** The reference's windowing + Hopping examples
  * (`/root/reference/examples/windowing/`, `examples/Hopping/`):
  * tumbling and hopping aggregates declared through the LINQ-style DSL,
  * with WINDOWSTART/WINDOWEND projected.
  *
  * graft analog: the same query shapes through `Ksql.from(...)`; the
  * planner lowers them onto Spark's `window(ts, size[, slide])` and
  * Catalyst plans the aggregation (hash agg with map-side partials —
  * see SCALE.md). Non-divisible SIZE/ADVANCE pairs are legal, exactly
  * as in ksqlDB.
  *
  * Run: `sbt "runMain graft.examples.Windowing [sfDir]"`
  */
object Windowing extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val catalog = TestEntities.catalog(spark, sfDir)

    // Tumbling 5m: one bucket per window per event_type
    val tumbling = Planner.batch(
      Ksql.from(TestEntities.events)
        .tumbling(Seq(Period.Minutes(5)))
        .groupBy("event_type" -> col("event_type"))
        .select(
          count(lit(1)).as("cnt"),
          round(avg(col("value")), 4).as("avg_value"))
        .build(),
      catalog)
    println("Tumbling 5m (first 5 buckets):")
    tumbling.orderBy(col("window_start"), col("event_type")).show(5, truncate = false)

    // Hopping SIZE 5m ADVANCE 2m — overlapping windows, non-divisible pair
    val hopping = Planner.batch(
      Ksql.from(TestEntities.events)
        .hopping(size = 5.minutes, advanceBy = 2.minutes)
        .groupBy("event_type" -> col("event_type"))
        .select(count(lit(1)).as("cnt"))
        .build(),
      catalog)
    println("Hopping 5m/2m (each event lands in ceil(5/2)=3 windows):")
    hopping.orderBy(col("window_start"), col("event_type")).show(5, truncate = false)
  }
}
