package graft

import graft.functions.{BoundedHeap, HistogramAgg, KFunctions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** `SparkSessionExtensions` injector for the KSQL function dialect —
  * the reference's SQL-facing surface
  * (`/root/reference/src/Query/Builders/Functions/KsqlFunctionRegistry.cs:15-147`)
  * made callable from `spark.sql(...)`:
  *
  * {{{
  * GraftSession.local()                              // every graft session, or
  * spark.sql.extensions=graft.GraftExtensions        // config, or
  * GraftExtensions.registerAll(spark)                // existing session
  * }}}
  *
  * Every builder resolves to codegen'd built-in expressions or to the
  * engine's native aggregates ([[graft.functions.BoundedHeap]] for
  * TOPK/TOPKDISTINCT, [[graft.functions.HistogramAgg]] for HISTOGRAM)
  * — no UDFs, so the SQL surface carries the same 100 TB plan shapes
  * as the DSL. Names Spark already provides with identical semantics
  * (INSTR, IFNULL, NULLIF, ABS...) are not re-registered.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.dialect.foreach(ext.injectFunction)
    // plan hygiene at 100 TB: min_by/max_by with struct/string carries
    // would drag whole aggregates into SortAggregate — rewrite to the
    // typed imperative form (ObjectHashAggregate) post-analysis
    ext.injectOptimizerRule(_ => graft.plans.RewriteArgExtremum)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def desc(name: String)(
      b: Seq[Expression] => Expression
  ): FunctionDescription =
    (FunctionIdentifier(name.toLowerCase), new ExpressionInfo("graft", name), b)

  /** Builders composed from `Column` functions round-trip through the
    * ColumnNode bridge; nested unresolved functions resolve in the
    * analyzer's later fixed-point passes.
    */
  private def fromColumns(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => ColumnBridge.catalystExpression(f(exprs.map(ColumnBridge.column)))

  private def constStr(e: Expression, fn: String, pos: String): String = {
    require(e.foldable, s"$fn: $pos argument must be a constant string")
    String.valueOf(e.eval(InternalRow.empty))
  }
  private def constInt(e: Expression, fn: String, pos: String): Int = {
    require(e.foldable, s"$fn: $pos argument must be a constant integer")
    e.eval(InternalRow.empty).asInstanceOf[Number].intValue()
  }

  /** ksqlDB earth radii: 6371 km / 3959 miles. */
  private def geoUnitRadius(unit: String): Double = unit.toUpperCase match {
    case "KM"    => 6371.0
    case "MILES" => 3959.0
    case other =>
      throw new IllegalArgumentException(s"GEO_DISTANCE: unknown unit '$other'")
  }

  val dialect: Seq[FunctionDescription] = Seq(
    // ---- string (KsqlFunctionRegistry.cs:17-44) ----
    // UCASE / LCASE / LEN are deliberately ABSENT: Spark 4's builtins
    // of those exact names ARE Upper/Lower/Length — re-registering the
    // same expression classes only bought a "replaced a previously
    // registered function" warning per session build (ExtensionsSpec
    // pins the names still resolve with the registry :17-44 semantics).
    // DATEADD (registry :63-77) is deliberately ABSENT: Spark's parser
    // owns the name (the TIMESTAMPADD grammar rule), so registry
    // entries for it are unreachable — and the native form already has
    // the reference semantics with the same unquoted unit tokens
    // (DATEADD(DAY, 3, ts)); the DSL path is KFunctions.addInterval.
    // ---- JSON (registry :108-113) ----
    desc("JSON_EXTRACT_STRING") { exprs =>
      val path = constStr(exprs(1), "JSON_EXTRACT_STRING", "path")
      fromColumns(cs => get_json_object(cs(0), path))(exprs.take(1))
    },
    // JSON_ARRAY_LENGTH is deliberately ABSENT: Spark 4's builtin
    // json_array_length IS LengthOfJsonArray — re-registering the same
    // expression class only buys a "replaced a previously registered
    // function" warning on every session build (ExtensionsSpec pins the
    // name still resolves natively with registry :108-113 semantics).
    desc("JSON_KEYS")(fromColumns(cs => json_object_keys(cs(0)))),
    desc("JSON_ARRAY_CONTAINS")(
      fromColumns(cs => KFunctions.jsonArrayContains(cs(0), cs(1)))),
    desc("JSON_CONCAT")(fromColumns(cs => KFunctions.jsonConcat(cs(0), cs(1)))),
    desc("JSON_RECORDS")(fromColumns(cs => KFunctions.jsonRecords(cs(0)))),
    // ---- URL (registry :131-134) ----
    desc("URL_EXTRACT_HOST")(fromColumns(cs => KFunctions.urlExtractHost(cs(0)))),
    desc("URL_EXTRACT_PATH")(fromColumns(cs => KFunctions.urlExtractPath(cs(0)))),
    desc("URL_EXTRACT_QUERY")(fromColumns(cs => KFunctions.urlExtractQuery(cs(0)))),
    desc("URL_EXTRACT_PROTOCOL")(
      fromColumns(cs => KFunctions.urlExtractProtocol(cs(0)))),
    // ---- GEO (registry :137-138), optional 5th arg 'KM' | 'MILES' ----
    desc("GEO_DISTANCE") { exprs =>
      require(exprs.length == 4 || exprs.length == 5,
        s"GEO_DISTANCE expects (lat1, lon1, lat2, lon2[, unit]), got ${exprs.length} args")
      val scale =
        if (exprs.length == 5) geoUnitRadius(constStr(exprs(4), "GEO_DISTANCE", "unit")) / 6371.0
        else 1.0
      fromColumns(cs =>
        KFunctions.geoDistanceKm(cs(0), cs(1), cs(2), cs(3)) * scale
      )(exprs.take(4))
    },
    desc("AS_GEOJSON")(fromColumns(cs => KFunctions.asGeoJson(cs(0), cs(1)))),
    // ---- aggregates (registry :79-92) ----
    desc("LATEST_BY_OFFSET")(exprs =>
      MaxBy(exprs(0), exprs(1)).toAggregateExpression()),
    desc("EARLIEST_BY_OFFSET")(exprs =>
      MinBy(exprs(0), exprs(1)).toAggregateExpression()),
    desc("COUNT_DISTINCT")(exprs =>
      Count(exprs).toAggregateExpression(isDistinct = true)),
    // typed like ksqlDB's: ARRAY<input type> out, no numeric coercion
    desc("TOPK")(exprs =>
      BoundedHeap.topK(exprs(0), constInt(exprs(1), "TOPK", "k"), distinct = false)
        .toAggregateExpression()),
    desc("TOPKDISTINCT")(exprs =>
      BoundedHeap.topK(exprs(0), constInt(exprs(1), "TOPKDISTINCT", "k"), distinct = true)
        .toAggregateExpression()),
    desc("HISTOGRAM")(exprs =>
      HistogramAgg(Cast(exprs.head, StringType)).toAggregateExpression())
  )

  /** Register the dialect into an already-built session (the
    * `withExtensions`-less path — e.g. a shared test session or a
    * notebook session the user didn't configure). Optimizer rules
    * can't be injected post-construction, but the live-session
    * `experimental.extraOptimizations` hook carries the plan-hygiene
    * rewrite to the same place.
    */
  def registerAll(spark: SparkSession): Unit = {
    dialect.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteArgExtremum)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteArgExtremum
    }
  }
}
