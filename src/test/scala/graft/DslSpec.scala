package graft

import graft.core.Period
import graft.dsl.Ksql
import graft.plans.Planner
import graft.sources.TestEntities
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** DSL stage-machine guards — parity with the reference's documented
  * error behavior (SURVEY §2.1): max-2-source joins, join-after-From
  * only, HAVING×Tumbling prohibition, WITHIN requiring a join.
  */
class DslSpec extends SparkSpec {
  import TestEntities._

  test("multi-month windowFor agrees with Periods.floorUtc") {
    import java.time.Instant
    import spark.implicits._
    val instants = Seq(
      "1970-01-01T00:00:00Z", "1970-02-15T12:00:00Z", "1999-12-31T23:59:59Z",
      "2024-03-01T00:00:00Z", "2024-07-04T09:30:00Z", "2031-11-30T23:00:00Z"
    ).map(Instant.parse)
    for (n <- Seq(2, 3, 5, 12)) {
      val df = instants
        .map(i => java.sql.Timestamp.from(i))
        .toDF("ts")
        .select(Planner.windowFor(col("ts"), Period.Months(n)).as("w"), col("ts"))
        .select(col("w.start"), col("w.end"), col("ts"))
      df.collect().foreach { r =>
        val ts = r.getTimestamp(2).toInstant
        val expectedStart = graft.core.Periods.floorUtc(ts, Period.Months(n))
        val expectedEnd = graft.core.Periods.add(expectedStart, Period.Months(n))
        assert(r.getTimestamp(0).toInstant == expectedStart, s"start n=$n ts=$ts")
        assert(r.getTimestamp(1).toInstant == expectedEnd, s"end n=$n ts=$ts")
      }
    }
  }

  test("week windowFor agrees with Periods.floorUtc for every anchor and multi-week spans") {
    import java.time.{DayOfWeek, Instant}
    import spark.implicits._
    val instants = Seq(
      "1970-01-01T00:00:00Z", "1970-01-10T07:00:00Z", "2024-02-29T23:59:59Z",
      "2024-07-04T09:30:00Z", "2030-12-31T12:00:00Z"
    ).map(Instant.parse)
    for (anchor <- DayOfWeek.values.toSeq; n <- Seq(1, 2, 4)) {
      val p = Period.Weeks(n, anchor)
      val df = instants
        .map(java.sql.Timestamp.from)
        .toDF("ts")
        .select(Planner.windowFor(col("ts"), p).as("w"), col("ts"))
        .select(col("w.start"), col("ts"))
      df.collect().foreach { r =>
        val ts = r.getTimestamp(1).toInstant
        val expected = graft.core.Periods.floorUtc(ts, p)
        assert(
          r.getTimestamp(0).toInstant == expected,
          s"weeks n=$n anchor=$anchor ts=$ts"
        )
      }
    }
  }

  test("second join is rejected (max 2 sources, JoinLimitationEnforcer)") {
    val q = Ksql.from(orders).join(customer, col("orders.o_custkey") === col("customer.c_custkey"))
    val e = intercept[IllegalStateException] {
      q.join(part, col("orders.o_orderkey") === col("part.p_partkey"))
    }
    assert(e.getMessage.contains("2 sources"))
  }

  test("join after where is rejected (Join immediately after From)") {
    val q = Ksql.from(orders).where(col("o_totalprice") > 0)
    intercept[IllegalStateException] {
      q.join(customer, col("orders.o_custkey") === col("customer.c_custkey"))
    }
  }

  test("HAVING with tumbling windows is rejected (KsqlGroupedQueryable.cs:29-30)") {
    val q = Ksql
      .from(events)
      .tumbling(Seq(Period.Minutes(5)))
      .groupBy("event_type" -> col("event_type"))
    val e = intercept[IllegalStateException](q.having(col("cnt") > 1))
    assert(e.getMessage.toLowerCase.contains("tumbling"))
  }

  test("WITHIN without a join is rejected") {
    intercept[IllegalStateException](Ksql.from(events).within(300))
  }

  test("timeframes are deduped and sorted ascending (KsqlQueryModel.cs:127-135)") {
    val q = Ksql
      .from(events)
      .tumbling(Seq(Period.Hours(1), Period.Minutes(5), Period.Minutes(5), Period.Minutes(1)))
    assert(q.model.tumbling.get.timeframes ==
      Seq(Period.Minutes(1), Period.Minutes(5), Period.Hours(1)))
  }

  test("hopping accepts a non-divisible SIZE/ADVANCE pair (KsqlQueryable.cs:100-123)") {
    import scala.concurrent.duration._
    val q = Ksql.from(events).hopping(5.minutes, 2.minutes)
    assert(q.model.hopping.get.size == 5.minutes)
    assert(q.model.hopping.get.advanceBy == 2.minutes)
  }

  test("hopping rejects advance > size (illegal in ksqlDB/Kafka Streams/Spark alike)") {
    import scala.concurrent.duration._
    val e = intercept[IllegalArgumentException] {
      Ksql.from(events).hopping(2.minutes, 5.minutes)
    }
    assert(e.getMessage.contains("advanceBy"))
  }

  test("multi-timeframe tumbling on the single-query path throws instead of truncating") {
    val m = Ksql
      .from(events)
      .tumbling(Seq(Period.Minutes(1), Period.Minutes(5)))
      .groupBy("event_type" -> col("event_type"))
      .select(count(lit(1)).as("cnt"))
      .build()
    val cat = (_: String) => spark.range(0).toDF()
    val eb = intercept[IllegalStateException](Planner.batch(m, cat))
    assert(eb.getMessage.contains("DerivationPlanner"))
    val es = intercept[IllegalStateException](Planner.streaming(m, cat))
    assert(es.getMessage.contains("DerivationPlanner"))
  }

  test("aggregates are rejected in WHERE and GROUP BY keys") {
    intercept[IllegalStateException] {
      Ksql.from(orders).where(sum(col("o_totalprice")) > 10)
    }
    intercept[IllegalStateException] {
      Ksql.from(orders).groupBy("bad" -> max(col("o_totalprice")))
    }
  }

  test("aggregate in a non-grouped Select classifies the query as Table") {
    import graft.core.StreamTableType
    val m = Ksql.from(orders).select(sum(col("o_totalprice")).as("t")).build()
    assert(m.isAggregateQuery && m.inferredType == StreamTableType.Table)
    // scalar functions do NOT trigger classification
    val s = Ksql.from(orders).select(upper(col("o_orderstatus")).as("u")).build()
    assert(!s.isAggregateQuery)
  }

  test("ORDER BY rejects functions flagged not-allowed (SPLIT, aggregates)") {
    val q = Ksql.from(orders).select(col("o_orderkey"), col("o_orderstatus"))
    intercept[IllegalStateException] {
      q.orderBy(split(col("o_orderstatus"), ","))
    }
    intercept[IllegalStateException] {
      q.orderBy(sum(col("o_orderkey")))
    }
    q.orderBy(col("o_orderkey").desc) // plain columns fine
  }

  test("aggregate query infers Table, plain projection infers Stream") {
    import graft.core.StreamTableType
    val agg = Ksql.from(orders).groupBy("o_custkey" -> col("o_custkey"))
      .select(count(lit(1)).as("cnt")).build()
    val proj = Ksql.from(orders).select(col("o_orderkey")).build()
    assert(agg.inferredType == StreamTableType.Table)
    assert(proj.inferredType == StreamTableType.Stream)
  }

  test("streaming lowering produces update-mode plan for aggregates") {
    val model = Ksql
      .from(events)
      .tumbling(Seq(Period.Minutes(5)), grace = 10.seconds)
      .groupBy("event_type" -> col("event_type"))
      .select(count(lit(1)).as("cnt"))
      .build()
    assert(Planner.outputMode(model) == "update")
    assert(Planner.outputMode(model, emitFinal = true) == "append")
    // lower over a streaming source and check it is a streaming plan
    val src = TestEntities.catalog(spark, testData("0.001"))
    val stream = spark.readStream
      .schema(src("events").schema)
      .parquet(testData("0.001")) // schema-compatible dir read not used; plan only
    val df = Planner.streaming(model, _ => stream)
    assert(df.isStreaming)
  }
}
