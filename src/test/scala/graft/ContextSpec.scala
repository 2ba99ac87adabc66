package graft

import graft.dsl.Ksql
import graft.sources.{TestEntities, Tables}
import org.apache.spark.sql.functions._

/** GraftContext / EventSet facade: registration, derived entities
  * (views-over-views), typed pulls.
  */
class ContextSpec extends SparkSpec {

  private val dir = testData("0.001")

  private def ctx = new GraftContext(spark, TestEntities.catalog(spark, dir))

  test("derived entity resolves through the planner, recursively") {
    val c = ctx
    c.register(TestEntities.orders)
    c.toQuery(
      "big_orders",
      Ksql.from(TestEntities.orders)
        .where(col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .build()
    )
    // second derivation on top of the first
    c.toQuery(
      "big_orders_by_cust",
      Ksql.from(graft.core.EntityModel[graft.sources.Order]("big_orders"))
        .groupBy("o_custkey" -> col("o_custkey"))
        .select(count(lit(1)).as("cnt"))
        .build()
    )
    val direct = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 100000.0)
    assert(c.set("big_orders").count() == direct.count())
    assert(c.set("big_orders_by_cust").agg(sum("cnt")).head.getLong(0) == direct.count())
    intercept[IllegalArgumentException] {
      c.toQuery("big_orders", Ksql.from(TestEntities.orders).select(col("o_orderkey")).build())
    }
  }

  test("EventSet typed pull, forEach and map") {
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    val regions = set.toList()
    assert(regions.size == 5)
    var n = 0
    set.forEach(_ => n += 1)
    assert(n == 5)
    import spark.implicits._
    val names = set.map(_.r_name).collect().toSet
    assert(names.size == 5)
  }

  test("forEach streams via toLocalIterator with the dataset's order (bounded driver memory)") {
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    // iteration order must match the dataset's own row order, same as the
    // old collect() dispatch — toLocalIterator preserves partition order
    val expected = set.toDS.collect().toSeq
    val seen = scala.collection.mutable.ArrayBuffer.empty[Any]
    set.forEach(r => seen += r)
    assert(seen.toSeq == expected)
  }

  test("pull reads respect the graft.pull.maxRows driver budget") {
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    spark.conf.set("graft.pull.maxRows", "3")
    try {
      // an over-budget snapshot pull fails fast with the bounded alternatives
      val e = intercept[IllegalStateException](set.toList())
      assert(e.getMessage.contains("graft.pull.maxRows") &&
        e.getMessage.contains("latest(") && e.getMessage.contains("forEach"))
      // bounded paths stay available under the same budget
      assert(set.toList(Seq("2")).size == 1) // prefix pull: 1 row < cap
    } finally spark.conf.unset("graft.pull.maxRows")
    assert(set.toList().size == 5) // default budget restored
  }

  test("key-prefix pull restricts to the leading key components") {
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    val one = set.toList(Seq("2"))
    assert(one.size == 1 && one.head.r_regionkey == 2)
    intercept[IllegalArgumentException](set.toList(Seq("1", "2"))) // more parts than keys
  }

  test("forEach timeout bounds dispatch; zero deadline dispatches nothing") {
    import scala.concurrent.duration._
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    var n = 0
    set.forEach(_ => n += 1, 30.seconds)
    assert(n == 5)
    var m = 0
    set.forEach(_ => m += 1, 0.nanos)
    assert(m == 0)
  }

  test("forEachWithMeta surfaces topic/offset meta and empty headers for plain sets") {
    val c = ctx
    val set = c.eventSet(TestEntities.region)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, String], Long, String)]
    set.forEachWithMeta { (r, headers, meta) =>
      seen += ((r.r_regionkey, headers, meta.offset, meta.topic))
    }
    assert(seen.size == 5)
    assert(seen.forall(_._2.isEmpty)) // parquet sets carry no headers
    assert(seen.map(_._3).toSeq == (0L until 5L)) // ordinal offsets
    assert(seen.forall(_._4 == "region"))
  }

  test("forEachGuarded applies the entity error policy: skip, retry-then-dlq, dlq") {
    import graft.core.ErrorAction
    val c = ctx
    def boom(r: graft.sources.Region): Unit =
      if (r.r_regionkey == 2) throw new RuntimeException("bad record") else ()

    // Skip: failure swallowed, others processed
    var ok = 0
    c.eventSet(TestEntities.region.onError(ErrorAction.Skip))
      .forEachGuarded(r => { boom(r); ok += 1 })
    assert(ok == 4)

    // Retry: action re-attempted, then routed to DLQ
    var attempts = 0
    val dlqd = scala.collection.mutable.ArrayBuffer.empty[Int]
    c.eventSet(TestEntities.region.onError(ErrorAction.Retry))
      .forEachGuarded(
        r => { if (r.r_regionkey == 2) attempts += 1; boom(r) },
        retries = 2,
        onDlq = (r, _) => dlqd += r.r_regionkey
      )
    assert(attempts == 3) // 1 + 2 retries
    assert(dlqd.toSeq == Seq(2))

    // Dlq: single attempt straight to the hook
    var tries = 0
    val dlqd2 = scala.collection.mutable.ArrayBuffer.empty[Int]
    c.eventSet(TestEntities.region.onError(ErrorAction.Dlq))
      .forEachGuarded(
        r => { if (r.r_regionkey == 2) tries += 1; boom(r) },
        onDlq = (r, _) => dlqd2 += r.r_regionkey
      )
    assert(tries == 1 && dlqd2.toSeq == Seq(2))
  }

  test("context construction injects the SQL dialect into the session") {
    ctx // constructing the context registers GraftExtensions.dialect
    assert(spark.sql("SELECT UCASE('graft')").head.getString(0) == "GRAFT")
    // SQL numeric literals are DECIMAL — TOPK keeps the type, like ksqlDB
    assert(spark.sql("SELECT TOPK(x, 1) FROM VALUES (2.0), (5.0) AS t(x)")
      .head.getSeq[java.math.BigDecimal](0) == Seq(new java.math.BigDecimal("5.0")))
  }

  test("unregistered entity fails fast") {
    intercept[NoSuchElementException](ctx.entityModel("nope"))
  }

  test("toQueryAs validates the projection against the target entity at registration") {
    val c = ctx
    c.register(TestEntities.orders)
    val target = graft.core.EntityModel[graft.sources.Order]("order_view")
    val good = Ksql.from(TestEntities.orders)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .build()
    c.toQueryAs("order_view", good, target) // validates, registers
    assert(c.set("order_view").count() > 0)

    val bad = Ksql.from(TestEntities.orders)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .build()
    intercept[graft.plans.ToQueryValidator.ValidationError] {
      c.toQueryAs("order_view2", bad, target)
    }
  }

  test("EventSet.latest keeps the newest N by event time") {
    val c = ctx
    val set = c.eventSet(TestEntities.events)
    val newest = set.latest(3)
    assert(newest.size == 3)
    val ts = newest.map(_.ts.getTime)
    assert(ts == ts.sorted.reverse) // descending
    val globalMax = set.toDS.agg(org.apache.spark.sql.functions.max("ts"))
      .head.getTimestamp(0).getTime
    assert(ts.head == globalMax)
    intercept[IllegalArgumentException](c.eventSet(TestEntities.region).latest(1))
  }

  test("ROWTIME / ROWKEY pseudo-columns resolve from the entity model") {
    import graft.functions.KFunctions
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val r = ev.select(
      KFunctions.rowTime(TestEntities.events).as("rt"),
      KFunctions.rowKey(TestEntities.events).as("rk")
    ).limit(1).collect().head
    assert(r.getAs[java.sql.Timestamp]("rt") != null)
    assert(r.getAs[Long]("rk") >= 0)
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
    val composite = li.select(KFunctions.rowKey(TestEntities.lineitem).as("rk"))
      .limit(1).collect().head.getString(0)
    assert(composite.contains("\u0000"))
    intercept[IllegalArgumentException](KFunctions.rowTime(TestEntities.customer))
  }
}
