package graft

import graft.core.{EntityModel, Period}
import graft.dsl.Ksql
import graft.plans.KsqlScriptGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Pins the design-time KSQL emission surface against the reference's
  * `designtime-ksql-script` / `designtime-ksql-tumbling` examples
  * (`/root/reference/examples/designtime-ksql-script/Program.cs`,
  * `designtime-ksql-tumbling/Program.cs`): base-entity DDL carries the
  * WITH surface of `WithClauseBuilder.cs:36-66`, derived entities render
  * as CSAS/CTAS with the executed Catalyst tree as the SELECT source.
  */
class KsqlScriptGenSpec extends SparkSpec {
  // NOTE: must use the shared SparkSpec session — a private
  // builder().config(...).getOrCreate() here RETURNS the shared session
  // with this suite's configs applied to it (shuffle.partitions leak),
  // which broke SkewJoinAqeSpec's median-based skew detection.

  private def ordersCtx: GraftContext = {
    val orders = EntityModel[graft.examples.OrderEvent]("orders")
      .key("id").timestamp("created_at").toTopic("orders_v1")
    val ctx = new GraftContext(spark, _ => spark.emptyDataFrame)
    ctx.register(orders)
    ctx.toQuery(
      "order_summaries",
      Ksql.from(orders)
        .where(col("status") === "Completed")
        .select(col("id"), to_date(col("created_at")).as("created_date"))
        .build())
    ctx
  }

  test("base-entity DDL: stream with topic, key format, timestamp") {
    val ddl = KsqlScriptGen.build(ordersCtx).statements(1)
    assert(ddl ==
      "CREATE STREAM ORDERS WITH (KAFKA_TOPIC='orders_v1', " +
        "KEY_FORMAT='KAFKA', VALUE_FORMAT='AVRO', " +
        "VALUE_AVRO_SCHEMA_FULL_NAME='graft.orders_value', " +
        "TIMESTAMP='CREATED_AT', PARTITIONS=1, REPLICAS=1);")
  }

  test("derived entity renders as CSAS with WHERE and projection") {
    val csas = KsqlScriptGen.build(ordersCtx).statements(2)
    assert(csas ==
      """CREATE STREAM IF NOT EXISTS ORDER_SUMMARIES WITH (KAFKA_TOPIC='order_summaries', KEY_FORMAT='KAFKA', VALUE_FORMAT='AVRO', VALUE_AVRO_SCHEMA_FULL_NAME='graft.order_summaries_value', PARTITIONS=1, REPLICAS=1) AS
        |SELECT ID, CAST(CREATED_AT AS DATE) AS CREATED_DATE
        |FROM ORDERS
        |WHERE (STATUS = 'Completed')
        |EMIT CHANGES;""".stripMargin)
  }

  test("tumbling OHLC view renders as windowed CTAS (reference tumbling example)") {
    val ticks = EntityModel[graft.examples.Tick]("ticks")
      .key("symbol").timestamp("timestamp_utc").decimal("price", 18, 4)
    val ctx = new GraftContext(spark, _ => spark.emptyDataFrame)
    ctx.register(ticks)
    ctx.toQuery(
      "minute_bars",
      Ksql.from(ticks)
        .tumbling(Seq(Period.Minutes(1)))
        .groupBy("symbol" -> col("symbol"))
        .select(
          col("symbol"),
          min_by(col("price"), col("timestamp_utc")).as("open"),
          max(col("price")).as("high"),
          min(col("price")).as("low"),
          max_by(col("price"), col("timestamp_utc")).as("close"))
        .build())
    val ctas = KsqlScriptGen.build(ctx).statements(2)
    assert(ctas ==
      """CREATE TABLE IF NOT EXISTS MINUTE_BARS WITH (KAFKA_TOPIC='minute_bars', KEY_FORMAT='KAFKA', VALUE_FORMAT='AVRO', VALUE_AVRO_SCHEMA_FULL_NAME='graft.minute_bars_value', PARTITIONS=1, REPLICAS=1) AS
        |SELECT SYMBOL, EARLIEST_BY_OFFSET(PRICE) AS OPEN, MAX(PRICE) AS HIGH, MIN(PRICE) AS LOW, LATEST_BY_OFFSET(PRICE) AS CLOSE
        |FROM TICKS
        |WINDOW TUMBLING (SIZE 1 MINUTES)
        |GROUP BY SYMBOL
        |EMIT CHANGES;""".stripMargin)
  }

  test("expression dialect: CASE/IN/NOT/LIKE/COUNT DISTINCT/UCASE/LEN") {
    def r(c: org.apache.spark.sql.Column) = KsqlScriptGen.renderColumn(c)
    assert(r(upper(col("s"))) == "UCASE(S)")
    assert(r(length(col("s"))) == "LEN(S)")
    assert(r(countDistinct(col("u"))) == "COUNT_DISTINCT(U)")
    assert(r(col("x").isin(1, 2, 3)) == "(X IN (1, 2, 3))")
    assert(r(!col("b")) == "(NOT B)")
    assert(r(col("s").startsWith("ab")) == "(S LIKE 'ab%')")
    assert(r(col("v").isNull) == "(V IS NULL)")
    assert(r(when(col("a") > 1, "big").otherwise(lit(null)).as("c"))
      == "CASE WHEN (A > 1) THEN 'big' ELSE NULL END AS C")
    assert(r((col("a") + col("b") * 2).as("x")) == "(A + (B * 2)) AS X")
  }

  test("ksql type mapping covers the Avro-visible surface") {
    import KsqlScriptGen.ksqlType
    assert(ksqlType(IntegerType) == "INTEGER")
    assert(ksqlType(LongType) == "BIGINT")
    assert(ksqlType(StringType) == "VARCHAR")
    assert(ksqlType(BinaryType) == "BYTES")
    assert(ksqlType(DecimalType(18, 4)) == "DECIMAL(18, 4)")
    assert(ksqlType(ArrayType(FloatType)) == "ARRAY<DOUBLE>")
    assert(ksqlType(MapType(StringType, LongType)) == "MAP<VARCHAR, BIGINT>")
  }

  test("value-schema export covers every registered entity") {
    val schemas = KsqlScriptGen.exportValueSchemas(ordersCtx).toMap
    assert(schemas.keySet == Set("orders"))
    assert(schemas("orders").contains("\"name\""))
  }

  test("script is deterministic: same model, same bytes") {
    assert(KsqlScriptGen.build(ordersCtx).toSql ==
      KsqlScriptGen.build(ordersCtx).toSql)
  }

  // ---- reference goldens: key-path styles + PARTITION BY variants --------
  // (tests/Query/Golden/keypath_{none,dot,arrow}.sql,
  //  partition_by_variants.sql — compared through a port of the
  //  reference's SqlAssert.Normalize, tests/Utils/SqlAssert.cs:23-37)

  private def normalize(s: String): String = {
    var n = s.replace("\r\n", "\n").replace("\r", "\n")
    n = n.replaceAll("\\s+", " ")
    n = n.replaceAll("\\s*\\(\\s*", "(")
    n = n.replaceAll("\\s*\\)\\s*", ")")
    n = n.replaceAll("\\s*,\\s*", ", ")
    n = n.replaceAll("\\s*;\\s*", ";")
    n.trim.toLowerCase
  }

  // vendored copies of the reference goldens (src/test/resources/golden,
  // provenance in that directory's README.md)
  private def golden(file: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$file")
    assert(in != null, s"missing golden resource $file")
    try normalize(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  private def keyPathModel = {
    val te = EntityModel[KeyPathTableEntity]("tableentity").key("broker", "symbol")
    Ksql.from(te)
      .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
      .select(
        col("broker").as("broker"),
        col("symbol").as("symbol"),
        sum(col("qty")).as("total"))
      .build()
  }

  test("keypath goldens: none / dot / arrow render byte-identical (normalized)") {
    import graft.plans.{KeyPathStyle, RenderOptions}
    assert(normalize(KsqlScriptGen.buildStatement(
      "KEYPATH_NONE", keyPathModel,
      RenderOptions(KeyPathStyle.Flat))) == golden("keypath_none.sql"))
    assert(normalize(KsqlScriptGen.buildStatement(
      "KEYPATH_DOT", keyPathModel,
      RenderOptions(KeyPathStyle.Dot))) == golden("keypath_dot.sql"))
    assert(normalize(KsqlScriptGen.buildStatement(
      "KEYPATH_ARROW", keyPathModel,
      RenderOptions(KeyPathStyle.Arrow))) == golden("keypath_arrow.sql"))
  }

  test("partition_by_variants golden: dedup + name-sort + GROUP BY merge forces CTAS") {
    import graft.plans.RenderOptions
    val ko = EntityModel[KeyPathKeyedOrder]("keyedorder").key("id")
    val qm = Ksql.from(ko)
      .select(col("id").as("id"), col("customerid").as("customerid"))
      .build()
    val sql = KsqlScriptGen.buildStatement(
      "PARTITION_VARIANT", qm,
      RenderOptions(partitionBy = Some("o.CustomerId, o.Id, o.CustomerId")))
    assert(normalize(sql) == golden("partition_by_variants.sql"))
  }

  test("PARTITION BY re-stating the source key is dropped: plain CSAS survives") {
    import graft.plans.RenderOptions
    // cs:167-179 — partitionMatchesKey on a single-source stream keeps
    // the original keying, so no merge, no GROUP BY, still a STREAM
    val ko = EntityModel[KeyPathKeyedOrder]("keyedorder").key("id")
    val qm = Ksql.from(ko)
      .select(col("id").as("id"), col("customerid").as("customerid"))
      .build()
    val sql = KsqlScriptGen.buildStatement(
      "KEEP_KEY", qm, RenderOptions(partitionBy = Some("o.Id")))
    assert(normalize(sql).startsWith("create stream if not exists keep_key"))
    assert(!normalize(sql).contains("group by"))
  }

  test("join_within goldens: default AND explicit 300s render byte-identical (normalized)") {
    // GoldenJoinWithinSqlTests.cs — keyless two-source stream join with
    // the o/i alias convention; no Within call → the 300 s default
    val order = EntityModel[KeyPathOrder]("order")
    val customer = EntityModel[KeyPathCustomer]("customer")
    def model(explicit: Boolean) = {
      val st = Ksql.from(order)
        .join(customer, col("o.customerid") === col("i.id"))
      (if (explicit) st.within(300) else st)
        .select(col("o.id").as("id"), col("i.name").as("name"))
        .build()
    }
    assert(normalize(KsqlScriptGen.buildStatement("JOIN_DEFAULT", model(explicit = false)))
      == golden("join_within_default.sql"))
    assert(normalize(KsqlScriptGen.buildStatement("JOIN_EXPLICIT", model(explicit = true)))
      == golden("join_within_explicit_300s.sql"))
  }

  test("rows_1s_stream golden: inline-column DDL with KEY markers and retention") {
    // GoldenRowsStreamSqlTests.cs — the DerivedTumblingPipeline's 1s
    // rows stream: schema inline (no registry full-name), 7-day
    // retention on the windowed rows
    val bar = EntityModel[KeyPathBarRow]("bar_1s_rows")
      .key("broker", "symbol").timestamp("timestamp")
      .toTopic("bar_1s_rows", 1, 1).retention(604800000L)
    assert(normalize(KsqlScriptGen.createBaseWithColumns(bar, windowed = true))
      == golden("rows_1s_stream.sql"))
  }

  test("live-bars goldens: 5m/15m/60m windowed CTAS render byte-identical (normalized)") {
    // GoldenBarsLiveSqlTests/GoldenBarsLiveSqlMoreTests — the
    // KsqlCreateWindowedStatementBuilder surface over the 1s rows
    // stream (PARTITIONS=1, REPLICAS=1 from the sink extras)
    import graft.plans.RenderOptions
    val bar = EntityModel[KeyPathBarRow]("bar_1s_rows")
      .key("broker", "symbol").timestamp("timestamp")
    def model(minutes: Int) = Ksql.from(bar)
      .tumbling(Seq(Period.Minutes(minutes)))
      .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
      .select(
        col("broker").as("broker"),
        col("symbol").as("symbol"),
        min_by(col("open"), col("timestamp")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("ksqltimeframeclose"), col("timestamp")).as("ksqltimeframeclose"))
      .build()
    Seq(5 -> "bars_5m_live.sql", 15 -> "bars_15m_live.sql", 60 -> "bars_60m_live.sql")
      .foreach { case (m, g) =>
        assert(normalize(KsqlScriptGen.buildStatement(
          s"bar_${m}m_live", model(m),
          RenderOptions(partitions = Some(1), replicas = Some(1)))) == golden(g),
          s"mismatch for $g")
      }
  }

  test("whenempty live-bars golden: no IF NOT EXISTS, aliased source, windowstart projection") {
    import graft.plans.RenderOptions
    val bar = EntityModel[KeyPathBarRow]("bar_1s_rows")
      .key("broker", "symbol").timestamp("timestamp")
    val qm = Ksql.from(bar)
      .tumbling(Seq(Period.Minutes(1)))
      .groupBy("broker" -> col("broker"), "symbol" -> col("symbol"))
      .select(
        col("windowstart").as("windowstartraw"),
        col("broker").as("broker"),
        col("symbol").as("symbol"),
        col("windowstart").as("bucketstart"),
        min_by(col("o.open"), col("timestamp")).as("open"),
        max(col("o.high")).as("high"),
        min(col("o.low")).as("low"),
        max_by(col("o.ksqltimeframeclose"), col("timestamp")).as("ksqltimeframeclose"))
      .build()
    assert(normalize(KsqlScriptGen.buildStatement(
      "bar_1m_live", qm,
      RenderOptions(ifNotExists = false, sourceAlias = Some("o"))))
      == golden("bars_1m_live_whenempty.sql"))
  }

  test("PARTITION BY on a grouped query is ignored (GROUP BY owns the key)") {
    import graft.plans.RenderOptions
    val sql = KsqlScriptGen.buildStatement(
      "GROUPED", keyPathModel, RenderOptions(partitionBy = Some("o.Qty")))
    assert(normalize(sql).contains("group by broker, symbol"))
    assert(!normalize(sql).contains("qty emit") && !normalize(sql).contains("group by broker, symbol, qty"))
  }
}

// Product types for the golden-pinned models (top level: EntityModel
// needs a TypeTag-able Product, mirrors of the reference's TableEntity /
// KeyedOrder test classes in GoldenKeyPathStyleSqlTests.cs /
// GoldenPartitionBySqlTests.cs)
case class KeyPathTableEntity(broker: String, symbol: String, qty: Int)
case class KeyPathKeyedOrder(id: Int, customerid: Int)
case class KeyPathOrder(id: Int, customerid: Int)
case class KeyPathCustomer(id: Int, isactive: Boolean, name: String)
case class KeyPathBarRow(broker: String, symbol: String, timestamp: java.sql.Timestamp,
    bucketstart: Long, open: Double, high: Double, low: Double, close: Double)
