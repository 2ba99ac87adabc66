package graft.plans

import graft.functions.KFunctions
import org.apache.spark.sql.Column

/** Aggregate detection over unresolved Column expressions — the
  * reference's `AggregateDetectionVisitor` (used by Select to classify
  * a query as aggregate ⇒ Table, `KsqlQueryable.cs:53-55`) and its
  * clause validation (aggregates are illegal in WHERE and in GROUP BY
  * keys).
  *
  * Pre-analysis, aggregate calls surface as `UnresolvedFunction` nodes,
  * so detection is by function name: Spark's builtin aggregate names
  * plus the engine registry's aggregate entries (SUM, LATEST_BY_OFFSET,
  * ...).
  */
object AggregateDetection {

  private val sparkAggNames: Set[String] = Set(
    "sum", "count", "min", "max", "avg", "mean", "max_by", "min_by",
    "collect_list", "collect_set", "count_distinct", "approx_count_distinct",
    "first", "last", "first_value", "last_value", "stddev", "variance",
    "count_if", "bool_and", "bool_or"
  )

  def containsAggregate(c: Column): Boolean =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .functionNames(c)
      .exists { n =>
        val name = n.toLowerCase
        sparkAggNames.contains(name) || KFunctions.isAggregateFunction(name)
      }

  def forbidIn(clause: String)(cols: Seq[Column]): Unit =
    cols.find(containsAggregate).foreach { c =>
      throw new IllegalStateException(
        s"aggregate functions are not allowed in $clause (got: $c)"
      )
    }
}
