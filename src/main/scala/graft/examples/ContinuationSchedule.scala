package graft.examples

import graft.core.Period
import graft.dsl.{Ksql, ScheduleSpec}
import graft.plans.{DerivationPlanner, Planner}
import graft.sources.TestEntities
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's continuation-schedule example
  * (`/root/reference/examples/continuation-schedule/Program.cs`):
  * From → TimeFrame(market schedule) → Tumbling(1m + 5m,
  * continuation: true) → GroupBy/Select — bars only inside trading
  * sessions, with empty in-session minutes filled by the continuation
  * stage.
  *
  * graft analog, in two views:
  *   1. the DERIVATION plan — `DerivationPlanner.plan` fans the one
  *      DSL model out into the hub → live → fill cascade entities the
  *      runtime launches (what `BarCascade.startFromModel` executes;
  *      see `Bar1mLiveConsumer` for the live run);
  *   2. the BATCH semantics — session gating via the broadcast
  *      schedule join (`MarketSchedule.sessionFilter`) ahead of the
  *      windowed aggregation, shown on the sf testdata.
  *
  * Run: `sbt "runMain graft.examples.ContinuationSchedule [sfDir]"`
  */
object ContinuationSchedule extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val schedule = ScheduleSpec(
      schedule = TestEntities.marketScheduleEntity,
      joinKeys = Seq("event_type" -> "event_type"),
      openCol = "open_ts",
      closeCol = "close_ts")

    val model = Ksql
      .from(TestEntities.events)
      .timeFrame(schedule)
      .tumbling(Seq(Period.Minutes(1), Period.Minutes(5)), continuation = true)
      .groupBy("event_type" -> col("event_type"))
      .select(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_value"))
      .build()

    // 1. the cascade the runtime would launch for this model
    println("derived cascade (one DSL model -> entities):")
    DerivationPlanner.plan("bars", model).foreach { d =>
      println(f"  ${d.name}%-16s role=${d.role}")
    }

    // 2. batch semantics of the 1m frame: session-gated tumbling bars
    val oneMinute = model.copy(tumbling = model.tumbling.map(t =>
      t.copy(timeframes = Seq(Period.Minutes(1)))))
    val bars = Planner.batch(oneMinute, TestEntities.catalog(spark, sfDir))
    println("session-gated 1m bars (first 5):")
    bars.orderBy(col("window_start"), col("event_type")).show(5, truncate = false)
  }
}
