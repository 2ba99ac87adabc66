package graft.examples

import graft.functions.KFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class AssignTick(broker: String, symbol: String, ts: Timestamp, seq: Long, bid: Double)

/** The reference's rows-last-assignment example
  * (`/root/reference/examples/rows-last-assignment/Program.cs`):
  * deterministic last-value assignment with traces — when several rows
  * share a key, which row's value wins, and why, must be reproducible.
  *
  * graft analog: "last" is ALWAYS tied to an explicit total order —
  * `latest_by_offset(value, seq)` (`KFunctions.latestByOffset`,
  * max_by under the hood). A bare `last(value)` over a shuffled
  * DataFrame is partition-order-dependent and therefore
  * non-deterministic at any scale; the trace below shows both, with
  * the arrival order perturbed.
  *
  * Run: `sbt "runMain graft.examples.RowsLastAssignment"`
  */
object RowsLastAssignment extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)

    // arrival order deliberately NOT seq order (out-of-order delivery)
    val ticks = Seq(
      AssignTick("b", "X", t("2024-01-01 00:00:03"), 3, 12.5),
      AssignTick("b", "X", t("2024-01-01 00:00:01"), 1, 10.0),
      AssignTick("b", "X", t("2024-01-01 00:00:02"), 2, 11.0),
      AssignTick("b", "Y", t("2024-01-01 00:00:02"), 2, 21.0),
      AssignTick("b", "Y", t("2024-01-01 00:00:01"), 1, 20.0)
    ).toDF().repartition(4) // scatter across partitions like a real feed

    println("trace: per-row candidates in arrival order:")
    ticks.select($"broker", $"symbol", $"seq", $"bid").show(truncate = false)

    val assigned = ticks
      .groupBy($"broker", $"symbol")
      .agg(
        KFunctions.latestByOffset($"bid", $"seq").as("last_bid"),
        max($"seq").as("winning_seq"),
        count(lit(1)).as("candidates"))

    println("deterministic last assignment (latest_by_offset over seq):")
    assigned.orderBy($"broker", $"symbol").show(truncate = false)
  }
}
