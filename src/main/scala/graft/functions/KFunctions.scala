package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's scalar/aggregate function surface — the Spark-native
  * re-expression of the reference's function registry
  * (`/root/reference/src/Query/Builders/Functions/KsqlFunctionRegistry.cs:15-147`).
  *
  * Where the reference maps C# method names to KSQL text templates, we
  * map DSL names to `Column` builders: every function below composes
  * built-in `org.apache.spark.sql.functions` (codegen'd, pushdown-safe)
  * rather than UDFs. Context-validity flags (`AllowedInGroupBy` /
  * `AllowedInOrderBy`, registry lines :17-77) are preserved in
  * [[KFunctions.registry]] so the DSL can reproduce the reference's
  * validation errors.
  */
object KFunctions {

  // ---- string (KsqlFunctionRegistry.cs:17-44) ----
  def ucase(c: Column): Column = upper(c)
  def lcase(c: Column): Column = lower(c)
  def len(c: Column): Column = length(c)
  /** C# `s.Contains(t)` → `INSTR(s,t) > 0` (registry :26). */
  def containsStr(s: Column, sub: String): Column = instr(s, sub) > 0
  /** Left(s, n) — clamped substring composite (registry :35-39). */
  def leftStr(c: Column, n: Int): Column = substring(c, 1, n)
  /** Right(s, n) — clamped composite (registry :40-44). */
  def rightStr(c: Column, n: Int): Column = substring(c, -n, n)

  // ---- conditional (registry :125-128) ----
  def caseWhen(branches: Seq[(Column, Column)], orElse: Column): Column =
    branches.tail
      .foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }
      .otherwise(orElse)
  def ifNull(c: Column, d: Column): Column = coalesce(c, d)

  // ---- date parts (registry :63-77) ----
  def addInterval(ts: Column, n: Column, unit: String): Column =
    ts + (n * expr(s"INTERVAL 1 $unit"))

  // ---- JSON (registry :108-113) ----
  /** JSON_CONCAT (:112) for flat string-valued objects: parse both to
    * MAP<STRING,STRING>, right side wins on key conflicts, re-serialize.
    */
  def jsonConcat(a: Column, b: Column): Column = {
    val mapType = org.apache.spark.sql.types.MapType(StringType, StringType)
    val ma = from_json(a, mapType)
    val mb = from_json(b, mapType)
    // right-wins merge without map_concat (which throws on duplicate
    // keys under the default mapKeyDedupPolicy)
    val keptFromA =
      filter(map_entries(ma), e => !array_contains(map_keys(mb), e.getField("key")))
    to_json(map_from_entries(concat(keptFromA, map_entries(mb))))
  }

  /** JSON_RECORDS (:113): flat object → MAP<STRING,STRING> of its
    * fields (key/value records).
    */
  def jsonRecords(c: Column): Column =
    from_json(c, org.apache.spark.sql.types.MapType(StringType, StringType))

  /** JSON_ARRAY_CONTAINS (registry :111): parse the JSON array with the
    * element type of the probe value, then array membership — pure
    * from_json + array_contains, no UDF.
    */
  def jsonArrayContains(
      jsonArr: Column,
      value: Column,
      elemType: DataType = StringType
  ): Column =
    array_contains(from_json(jsonArr, ArrayType(elemType)), value.cast(elemType))

  // ---- crypto (registry :141-143) ----
  /** SHA1 (registry :142) — hex digest like MD5/SHA256. DuckDB 1.0 has no
    * sha1, so this is covered by FunctionsSpec NIST vectors rather than a
    * driver oracle.
    */
  def sha1Hex(c: Column): Column = sha1(c)

  /** LOG with base (registry :57 two-arg form): log_base(b, x). */
  def logBase(base: Double, c: Column): Column = log(base, c)

  // ---- URL (registry :131-134) → parse_url ----
  def urlExtractHost(c: Column): Column = parse_url(c, lit("HOST"))
  def urlExtractPath(c: Column): Column = parse_url(c, lit("PATH"))
  def urlExtractQuery(c: Column): Column = parse_url(c, lit("QUERY"))
  def urlExtractProtocol(c: Column): Column = parse_url(c, lit("PROTOCOL"))

  // ---- GEO (registry :137-138) ----
  /** Haversine distance in km (GeoDistance, registry :137). Pure column
    * arithmetic — stays inside whole-stage codegen; no UDF.
    */
  def geoDistanceKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val toRad = math.Pi / 180.0
    val dLat = (lat2 - lat1) * toRad
    val dLon = (lon2 - lon1) * toRad
    val a = pow(sin(dLat / 2), 2) +
      cos(lat1 * toRad) * cos(lat2 * toRad) * pow(sin(dLon / 2), 2)
    lit(2 * 6371.0) * asin(sqrt(a))
  }

  /** AsGeoJson (registry :138) — Point geometry as a JSON string. */
  def asGeoJson(lat: Column, lon: Column): Column =
    concat(
      lit("""{"type":"Point","coordinates":["""),
      lon.cast(StringType), lit(","), lat.cast(StringType), lit("]}")
    )

  // ---- aggregates (registry :79-92) ----
  /** LATEST_BY_OFFSET (:85): Kafka offset order → an explicit monotonic
    * order column in Spark (event ts or a unique sequence). Deterministic,
    * unlike `last()`.
    */
  def latestByOffset(value: Column, order: Column): Column = max_by(value, order)
  /** EARLIEST_BY_OFFSET (:86). */
  def earliestByOffset(value: Column, order: Column): Column = min_by(value, order)

  /** ROWTIME pseudo-column (:146): the entity's event-time column. */
  def rowTime(entity: graft.core.EntityModel[_]): Column =
    col(entity.timeKey.getOrElse(
      throw new IllegalArgumentException(s"entity '${entity.name}' has no time key")))

  /** ROWKEY pseudo-column (:147): the (possibly composite) key, NUL-
    * joined like the reference's string-key convention.
    */
  def rowKey(entity: graft.core.EntityModel[_]): Column = {
    require(entity.hasKeys, s"entity '${entity.name}' has no key")
    if (entity.isCompositeKey) concat_ws("\u0000", entity.keys.map(col): _*)
    else col(entity.keys.head)
  }

  /** TOPK (:91) — composite built-ins: sort desc, take k. Buffers
    * every group element before sorting; the SQL `TOPK`/`TOPKDISTINCT`
    * every graft session registers run the bounded heap
    * ([[BoundedHeap.topK]], ≤ k per partial) instead. Kept as the
    * reference form the specs compare that heap against.
    */
  def topK(c: Column, k: Int): Column =
    slice(sort_array(collect_list(c), asc = false), 1, k)
  def topKDistinct(c: Column, k: Int): Column =
    slice(sort_array(collect_set(c), asc = false), 1, k)

  /** HISTOGRAM (:90) — value→count map. Compose from collect_list of
    * pre-grouped counts at the call site (see Planner.histogram) or use
    * this single-pass map_from_entries over a sorted entry array.
    */
  def histogramEntries(valueCol: Column, countCol: Column): Column =
    map_from_entries(sort_array(collect_list(struct(valueCol, countCol))))

  /** HISTOGRAM (:90) as the engine's native ONE-shuffle aggregate
    * ([[HistogramAgg]]): string in, key-sorted MAP<STRING,BIGINT> out,
    * capped at ksqlDB's 1000 distinct entries. Unlike the composite
    * forms above this needs no pre-grouping pass — map-side partials
    * carry ≤ maxKeys entries per group, so it is the 100 TB path.
    */
  def histogram(c: Column, maxKeys: Int = HistogramAgg.DefaultMaxKeys): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      HistogramAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .catalystExpression(c.cast(StringType)),
        maxKeys
      ).toAggregateExpression()
    )

  // ---- registry with context flags (parity validation) ----
  final case class FunctionSpec(
      name: String,
      allowedInGroupBy: Boolean = false,
      allowedInOrderBy: Boolean = true,
      isAggregate: Boolean = false
  )

  /** Names + context flags mirroring KsqlFunctionRegistry.cs:15-147.
    * `allowedInGroupBy` marks functions legal inside GROUP BY keys
    * (e.g. SUBSTRING, ROUND, YEAR — registry :17-77).
    */
  val registry: Map[String, FunctionSpec] = {
    def f(n: String, gb: Boolean = false, ob: Boolean = true) =
      n -> FunctionSpec(n, gb, ob)
    def agg(n: String) = n -> FunctionSpec(n, isAggregate = true, allowedInOrderBy = false)
    Map(
      // string
      f("UCASE", gb = true), f("LCASE", gb = true), f("SUBSTRING", gb = true),
      f("LEN"), f("TRIM", gb = true), f("REPLACE"), f("INSTR"),
      f("STARTS_WITH"), f("ENDS_WITH"), f("SPLIT", ob = false), f("CONCAT", gb = true),
      f("LPAD"), f("RPAD"), f("LEFT"), f("RIGHT"),
      // math
      f("ABS", gb = true), f("ROUND", gb = true), f("FLOOR", gb = true),
      f("CEIL", gb = true), f("SQRT"), f("POWER"), f("SIGN"),
      f("SIN"), f("COS"), f("TAN"), f("LOG"), f("LOG10"), f("EXP"),
      // date
      f("YEAR", gb = true), f("MONTH", gb = true), f("DAY", gb = true),
      f("HOUR", gb = true), f("MINUTE", gb = true), f("SECOND", gb = true),
      f("DAYOFWEEK", gb = true), f("DAYOFYEAR", gb = true), f("WEEKOFYEAR", gb = true),
      f("DATEADD"),
      // cast / conditional
      f("CAST", gb = true), f("CASE"), f("COALESCE"), f("IFNULL"), f("NULLIF"),
      // array
      f("ARRAY_LENGTH", ob = false), f("ARRAY_CONTAINS", ob = false),
      f("ARRAY_SLICE", ob = false), f("ARRAY_JOIN", ob = false),
      f("ARRAY_DISTINCT", ob = false), f("ARRAY_EXCEPT", ob = false),
      f("ARRAY_INTERSECT", ob = false), f("ARRAY_UNION", ob = false),
      f("ARRAY_SORT", ob = false), f("ARRAY_MAX", ob = false), f("ARRAY_MIN", ob = false),
      // json / url / geo / crypto
      f("JSON_EXTRACT_STRING"), f("JSON_ARRAY_LENGTH"), f("JSON_KEYS", ob = false),
      f("JSON_ARRAY_CONTAINS"), f("JSON_CONCAT", ob = false), f("JSON_RECORDS", ob = false),
      f("URL_EXTRACT_HOST"), f("URL_EXTRACT_PATH"), f("URL_EXTRACT_QUERY"),
      f("URL_EXTRACT_PROTOCOL"),
      f("GEO_DISTANCE"), f("AS_GEOJSON", ob = false),
      f("MD5"), f("SHA1"), f("SHA256"),
      // aggregates (KsqlFunctionRegistry.cs:79-92, IsAggregateFunction :210-214)
      agg("SUM"), agg("COUNT"), agg("MAX"), agg("MIN"), agg("AVG"),
      agg("LATEST_BY_OFFSET"), agg("EARLIEST_BY_OFFSET"),
      agg("COLLECT_LIST"), agg("COLLECT_SET"), agg("COUNT_DISTINCT"),
      agg("HISTOGRAM"), agg("TOPK"), agg("TOPKDISTINCT")
    )
  }

  /** RegisterCustomMapping analog (KsqlFunctionRegistry.cs:245-248):
    * user-extensible name → Column-builder entries.
    */
  private val custom =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Column] => Column]
  def registerCustom(name: String, fn: Seq[Column] => Column): Unit =
    custom.put(name.toUpperCase, fn)
  def customFn(name: String): Option[Seq[Column] => Column] =
    custom.get(name.toUpperCase)

  def isAggregateFunction(name: String): Boolean =
    registry.get(name.toUpperCase).exists(_.isAggregate)
  def allowedInGroupBy(name: String): Boolean =
    registry.get(name.toUpperCase).exists(_.allowedInGroupBy)
}
