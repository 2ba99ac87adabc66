package graft.examples

import graft.core.EntityModel
import graft.dsl.Ksql
import graft.plans.Planner
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.concurrent.duration._

case class Txn(transaction_id: String, user_id: String, amount: Double,
    currency: String, transaction_time: Timestamp)

/** The reference's Hopping sample
  * (`/root/reference/examples/Hopping/HoppingSample.cs`): a hopping
  * aggregation (SIZE 5m ADVANCE 1m) over transactions — count / total /
  * max per user — then `ReadHoppingAsync(key, from, to, limit)`:
  * pulling the materialized windowed rows back BY KEY AND TIME RANGE,
  * which is the half [[Windowing]] doesn't show.
  *
  * graft analog: the aggregation is the same `Ksql.from(...).hopping(...)
  * .groupBy(...).select(...)` shape (Spark `window(ts, size, slide)`
  * under it); the windowed pull is a filter on (key, window_start in
  * [from, to)) + LIMIT against the materialized result — predicate
  * pushdown makes it an index-like read on a window-partitioned store,
  * the same access path the oracle-gated `q_timebucket_read` pins.
  *
  * Run: `sbt "runMain graft.examples.HoppingPull"`
  */
object HoppingPull extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val txns = EntityModel[Txn]("transactions")
      .key("transaction_id").timestamp("transaction_time")

    def t(s: String) = Timestamp.valueOf(s)
    // AddAsync(demo-1 @ now, 100 USD), AddAsync(demo-2 @ now+1m, 150 EUR)
    store.add("transactions", Seq(
      Txn("demo-1", "user_demo", 100.0, "USD", t("2024-01-01 09:00:30")),
      Txn("demo-2", "user_demo", 150.0, "EUR", t("2024-01-01 09:01:30"))
    ).toDF())

    // UserTransactionStat: Hopping(5m, 1m) x GroupBy(UserId)
    val stats = Planner.batch(
      Ksql.from(txns)
        .hopping(size = 5.minutes, advanceBy = 1.minute)
        .groupBy("user_id" -> col("user_id"))
        .select(
          max(col("transaction_time")).as("transaction_time"),
          count(lit(1)).as("transaction_count"),
          sum(col("amount")).as("total_amount"),
          max(col("amount")).as("max_amount"))
        .build(),
      name => store.snapshot(name, txns.keys))

    // ReadHoppingAsync(key = user_demo, from = now-1m, to = now+10m, limit = 10)
    val from = t("2024-01-01 08:59:00")
    val to = t("2024-01-01 09:10:00")
    val rows = stats
      .filter(col("user_id") === "user_demo" &&
        col("window_start") >= from && col("window_start") < to)
      .orderBy(col("window_start"))
      .limit(10)
      .collect()

    rows.foreach { r =>
      println(s"user=${r.getAs[String]("user_id")}, " +
        s"window=[${r.getAs[Timestamp]("window_start")} - ${r.getAs[Timestamp]("window_end")}], " +
        s"count=${r.getAs[Long]("transaction_count")}, " +
        s"total=${r.getAs[Double]("total_amount")}, max=${r.getAs[Double]("max_amount")}")
    }
    // each event lands in size/advance = 5 overlapping windows, but the
    // pull RANGE gates window_start >= from (08:59): event demo-1
    // (09:00:30) keeps starts {08:59, 09:00}, demo-2 (09:01:30) keeps
    // {08:59, 09:00, 09:01} — union = 3 windows, the first two holding
    // both transactions
    assert(rows.length == 3, s"expected 3 hopping windows in range, got ${rows.length}")
    assert(rows.take(2).forall(_.getAs[Long]("transaction_count") == 2L))
  }
}
