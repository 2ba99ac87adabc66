package graft.examples

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The reference's ksql-response-inspect example
  * (`/root/reference/examples/ksql-response-inspect/Program.cs`):
  * execute a statement and inspect the server response body.
  *
  * graft analog: there is no ksqlDB server — the "response" to a
  * statement is the Catalyst plan Spark will run. This main executes a
  * statement through the graft SQL dialect (`GraftExtensions`
  * registers UCASE/HISTOGRAM/…) and inspects what came back: the
  * analyzed schema, the optimized plan, and the physical plan with the
  * scan pushdown — the same diagnostics `graft.Explain` dumps for
  * every packaged query.
  *
  * Run: `sbt "runMain graft.examples.ResponseInspect [sfDir]"`
  */
object ResponseInspect extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    Tables.load(spark, sfDir, "events").createOrReplaceTempView("events")

    val statement =
      """SELECT event_type, UCASE(event_type) AS loud, COUNT(*) AS cnt
        |FROM events WHERE value > 50 GROUP BY event_type""".stripMargin
    println(s"statement:\n$statement\n")
    val res = spark.sql(statement)

    println("response / analyzed schema:")
    res.schema.fields.foreach(f => println(s"  ${f.name}: ${f.dataType.simpleString}"))

    println("\nresponse / optimized logical plan:")
    res.queryExecution.optimizedPlan.toString.linesIterator.take(6)
      .foreach(l => println("  " + l.take(110)))

    println("\nresponse / physical plan (scan pushdown):")
    val physical = res.queryExecution.executedPlan.toString
    physical.linesIterator.filter(_.contains("HashAggregate"))
      .take(3).foreach(l => println("  " + l.trim.take(110)))
    Example.scanFilters(physical).foreach(l => println("  " + l))
  }
}
