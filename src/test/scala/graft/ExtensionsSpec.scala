package graft

import graft.functions.HistogramAgg
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** KSQL SQL dialect via `SparkSessionExtensions` (`GraftExtensions`):
  * the injectFunction path, the registerAll path for existing sessions,
  * and the semantics of each injected function — including the
  * HistogramAgg bounded aggregate vs its two-shuffle composite twin.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  // The inject path: same registerFunctions call session construction
  // applies to the registry of a session built `withExtensions`.
  ColumnBridge.applyInjectedFunctions(new GraftExtensions, spark)

  private def sql1(q: String): Any = spark.sql(q).head.get(0)

  test("UCASE / LCASE / LEN resolve with registry semantics (native aliases, not re-registered)") {
    // Spark 4 ships these exact names as Upper/Lower/Length aliases, so
    // the dialect deliberately leaves them out — re-registering identical
    // expression classes only spams "replaced a previously registered
    // function" into every session build.
    assert(sql1("SELECT UCASE('ksql')") == "KSQL")
    assert(sql1("SELECT LCASE('KSQL')") == "ksql")
    assert(sql1("SELECT LEN('graft')") == 5)
  }

  test("registerAll covers an existing session, including the extremum rewrite") {
    import org.apache.spark.sql.SparkSession
    // spark.newSession() would inherit the shared session's extensions,
    // so build a session WITHOUT them (same SparkContext) — the one
    // builder outside GraftSession (SessionGuardSpec allowlist)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().getOrCreate()
    try {
      def maxStructPlan = s2
        .sql("SELECT max(named_struct('a', 'v')) FROM VALUES (1) AS t(x)")
        .queryExecution.executedPlan.toString
      assert(!maxStructPlan.contains("max_by_object"), "the bare session must lack the rewrite")
      GraftExtensions.registerAll(s2)
      assert(s2.sql("SELECT UCASE('x')").head.getString(0) == "X")
      // live-session rule injection via experimental.extraOptimizations
      val plan = maxStructPlan
      assert(plan.contains("max_by_object") && !plan.contains("SortAggregate"))
      GraftExtensions.registerAll(s2) // idempotent: no duplicate rule
      assert(s2.experimental.extraOptimizations.count(_ == graft.plans.RewriteArgExtremum) == 1)
    } finally {
      // s2 shares the SparkContext — never stop it; just restore the
      // shared spec session as active/default
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("DATEADD is parser-owned with reference semantics (unquoted units)") {
    // Spark's TIMESTAMPADD grammar rule claims the DATEADD name before
    // any registry lookup — the dialect doesn't (and can't) re-register
    // it. Assert the native form matches the registry :63-77 semantics.
    assert(
      sql1("SELECT DATEADD(DAY, 3, TIMESTAMP '2024-01-01 00:00:00')").toString
        .startsWith("2024-01-04"))
    assert(
      sql1("SELECT DATEADD(HOUR, -2, TIMESTAMP '2024-01-01 01:00:00')").toString
        .startsWith("2023-12-31 23:00"))
  }

  test("GEO_DISTANCE defaults to km; MILES rescales by the 3959/6371 radius") {
    val km = sql1("SELECT GEO_DISTANCE(35.0d, 139.0d, 36.0d, 140.0d)")
      .asInstanceOf[Double]
    val mi = sql1("SELECT GEO_DISTANCE(35.0d, 139.0d, 36.0d, 140.0d, 'MILES')")
      .asInstanceOf[Double]
    assert(math.abs(km / mi - 6371.0 / 3959.0) < 1e-9)
    assert(km > 140 && km < 145) // ~142.6 km
  }

  test("JSON + URL + AS_GEOJSON dialect functions resolve through SQL") {
    assert(sql1("""SELECT JSON_EXTRACT_STRING('{"a":{"b":"v"}}', '$.a.b')""") == "v")
    assert(sql1("""SELECT JSON_ARRAY_LENGTH('[1,2,3]')""") == 3)
    assert(sql1("""SELECT JSON_ARRAY_CONTAINS('["x","y"]', 'y')""") == true)
    assert(sql1("""SELECT JSON_EXTRACT_STRING(JSON_CONCAT('{"a":"1"}', '{"a":"2"}'), '$.a')""") == "2")
    assert(sql1("""SELECT JSON_RECORDS('{"k":"v"}')['k']""") == "v")
    assert(sql1("SELECT URL_EXTRACT_HOST('https://ex.com/p?q=1')") == "ex.com")
    assert(sql1("SELECT URL_EXTRACT_PROTOCOL('https://ex.com/p')") == "https")
    assert(
      sql1("SELECT AS_GEOJSON(35.0d, 139.0d)") ==
        """{"type":"Point","coordinates":[139.0,35.0]}""")
  }

  test("offset aggregates + COUNT_DISTINCT + TOPK resolve to the native aggregates") {
    Seq((1L, "a", 10.0), (2L, "b", 30.0), (3L, "a", 20.0), (4L, "c", 20.0))
      .toDF("off", "k", "v")
      .createOrReplaceTempView("t_ext")
    val row = spark
      .sql("""SELECT LATEST_BY_OFFSET(v, off) AS last_v,
             |       EARLIEST_BY_OFFSET(v, off) AS first_v,
             |       COUNT_DISTINCT(k) AS nk,
             |       TOPK(v, 2) AS top2,
             |       TOPKDISTINCT(v, 2) AS top2d,
             |       TOPKDISTINCT(k, 2) AS top2s
             |FROM t_ext""".stripMargin)
      .head
    assert(row.getDouble(0) == 20.0 && row.getDouble(1) == 10.0)
    assert(row.getLong(2) == 3)
    assert(row.getSeq[Double](3) == Seq(30.0, 20.0))
    assert(row.getSeq[Double](4) == Seq(30.0, 20.0))
    // ksqlDB-typed: VARCHAR in → ARRAY<VARCHAR> out, no numeric coercion
    assert(row.getSeq[String](5) == Seq("c", "b"))
  }

  test("HISTOGRAM matches the two-shuffle composite and sorts keys") {
    graft.sources.Tables.load(spark, testData("0.001"), "events")
      .createOrReplaceTempView("ev_ext")
    val agg = spark
      .sql("SELECT to_json(HISTOGRAM(event_type)) AS h FROM ev_ext")
      .head.getString(0)
    val composite = spark
      .sql("""SELECT to_json(map_from_entries(sort_array(collect_list(struct(event_type, cnt))))) AS h
             |FROM (SELECT event_type, count(*) AS cnt FROM ev_ext GROUP BY event_type)
             |""".stripMargin)
      .head.getString(0)
    assert(agg == composite)
  }

  test("optimizer rule rewrites struct/string-carry min_by/max_by to the object-hash form") {
    // the spec session is built by GraftSession, with the extensions
    val df = Seq((1L, "a", 2.0), (2L, "b", 1.0)).toDF("o", "s", "d")
    val agg = df.agg(
      expr("min_by(named_struct('s', s), o)").as("lo"),
      expr("max_by(s, o)").as("hi"),
      expr("min_by(d, o)").as("num"), // mutable carry: must NOT rewrite
      expr("max(named_struct('d', d, 's', s))").as("mx"), // plain max(struct)
      min($"s").as("mn") // plain min(string)
    )
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("min_by_object") && plan.contains("max_by_object"))
    assert(!plan.contains("SortAggregate"), s"SortAggregate fallback survived:\n$plan")
    assert(plan.contains("min_by(d"), "numeric min_by should stay declarative")
    val row = agg.head
    assert(row.getStruct(0).getString(0) == "a")
    assert(row.getString(1) == "b")
    assert(row.getDouble(2) == 2.0)
    assert(row.getStruct(3).getDouble(0) == 2.0 && row.getStruct(3).getString(1) == "a")
    assert(row.getString(4) == "a")
  }

  test("HistogramAgg skips nulls and drops unseen keys past the cap") {
    val df = Seq(Some("a"), None, Some("b"), Some("a"), Some("c"), Some("b"))
      .toDF("v")
      .coalesce(1) // cap-overflow key retention depends on encounter order
    val capped = df
      .select(ColumnBridge.column(
        HistogramAgg(ColumnBridge.expression(col("v")), maxKeys = 2)
          .toAggregateExpression()).as("h"))
      .head.getMap[String, Long](0)
    // single partition order: a, b seen first; c dropped at the cap
    assert(capped == Map("a" -> 2L, "b" -> 2L))
  }

  test("HistogramAgg serde round-trips partial buffers") {
    val a = HistogramAgg(ColumnBridge.expression(lit("x")))
    val buf = a.createAggregationBuffer()
    buf.put(UTF8String.fromString("k1"), 7L)
    buf.put(UTF8String.fromString("κλειδί"), 3L)
    val back = a.deserialize(a.serialize(buf))
    assert(back == buf)
  }
}
