package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp

case class Bar(symbol: String, bucket: Timestamp, close: Double)

/** The reference's pull-query
  * (`/root/reference/examples/pull-query/Program.cs`:
  * `PullCountAsync("bar_1m_live", "Broker='B1' AND Symbol='S1'")` and
  * `PullRowsAsync(..., limit: 5)`): point-in-time reads against a
  * materialized table, not a subscription.
  *
  * graft analog: the materialized table is a DataFrame snapshot —
  * `ctx.set(name)` for ad-hoc WHERE/count, `EventSet.toList(pkPrefix)`
  * for the key-prefix pull (pushed down to the scan), `latest(n)` for
  * newest-N. The oracle-gated `q_timebucket_read` pins the windowed
  * variant (WINDOWSTART filter + LIMIT).
  *
  * Run: `sbt "runMain graft.examples.PullQuery"`
  */
object PullQuery extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val bars = EntityModel[Bar]("bar_1m_live").key("symbol", "bucket").timestamp("bucket")
    val ctx = new GraftContext(spark, name => store.snapshot(name, bars.keys))

    def t(s: String) = Timestamp.valueOf(s)
    store.add("bar_1m_live", Seq(
      Bar("S1", t("2024-01-01 09:00:00"), 100.0),
      Bar("S1", t("2024-01-01 09:01:00"), 100.5),
      Bar("S1", t("2024-01-01 09:02:00"), 101.2),
      Bar("S2", t("2024-01-01 09:00:00"), 55.0)
    ).toDF())

    // PullCountAsync("bar_1m_live", "Symbol='S1'")
    val c1 = ctx.set("bar_1m_live").filter(col("symbol") === "S1").count()
    println(s"count=$c1")

    // key-prefix pull (leading primary-key components, pushdown-friendly)
    ctx.eventSet(bars).toList(Seq("S1")).foreach(b => println(s"pull: $b"))

    // PullRowsAsync(..., limit: n) — newest-N by event time
    ctx.eventSet(bars).latest(2).foreach(b => println(s"latest: $b"))
  }
}
