package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraints, all evaluated in ONE pass —
  * the pre-training validation report (the Deequ idea re-expressed as a
  * single Spark aggregate): completeness, uniqueness, ranges, value
  * sets, regex shape. At 100 TB the design constraint is that adding a
  * check must NOT add a scan: every constraint here contributes one
  * more cell to the same map-side-combinable aggregate row, and the
  * report explodes from that single row driver-free.
  *
  * Determinism (oracle-gated): metrics are ratios of exact longs
  * rounded at 6 dp; pass/fail compares exact counts against
  * `threshold·n` — at the default threshold 1.0 that is integer
  * equality.
  */
object Quality {

  sealed trait Constraint {
    def name: String
    /** Count of rows satisfying the constraint (the aggregate cell). */
    private[graft] def satisfied: Column
  }

  /** Fraction of non-null values. */
  final case class Complete(colName: String) extends Constraint {
    val name = s"complete_$colName"
    private[graft] def satisfied: Column = count(col(colName))
  }

  /** Distinct-to-total ratio (1.0 ⇔ key column is unique). */
  final case class Unique(colName: String) extends Constraint {
    val name = s"unique_$colName"
    private[graft] def satisfied: Column = count_distinct(col(colName))
  }

  /** Fraction inside [lo, hi] (nulls count as violations). */
  final case class InRange(colName: String, lo: Double, hi: Double) extends Constraint {
    val name = s"range_$colName"
    private[graft] def satisfied: Column =
      sum(when(col(colName).between(lo, hi), 1L).otherwise(0L))
  }

  /** Fraction inside the allowed value set (nulls are violations). */
  final case class InSet(colName: String, values: Seq[String]) extends Constraint {
    val name = s"set_$colName"
    private[graft] def satisfied: Column =
      sum(when(col(colName).isin(values: _*), 1L).otherwise(0L))
  }

  /** Fraction matching the (RE2-compatible) regex. */
  final case class MatchesRegex(colName: String, regex: String) extends Constraint {
    val name = s"regex_$colName"
    private[graft] def satisfied: Column =
      sum(when(col(colName).rlike(regex), 1L).otherwise(0L))
  }

  /** One report row per constraint: `check_name`, `metric` (satisfied
    * fraction, 6 dp), `passed` (satisfied ≥ threshold·n). ONE aggregate
    * over `df` no matter how many constraints. An empty `df` reports no
    * rows: its fractions would be 0/0 (a division-by-zero error under
    * ANSI), and a streaming monitor's empty micro-batch has nothing to
    * report.
    */
  def check(
      df: DataFrame,
      constraints: Seq[Constraint],
      threshold: Double = 1.0
  ): DataFrame = {
    require(constraints.nonEmpty, "no constraints given")
    require(constraints.map(_.name).distinct.size == constraints.size,
      "duplicate constraint names")
    require(threshold > 0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val cells = count(lit(1)).as("__n") +:
      constraints.zipWithIndex.map { case (c, i) => c.satisfied.as(s"__c$i") }
    val row = df.agg(cells.head, cells.tail: _*).filter(col("__n") > 0)
    val reportRows = constraints.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.name).as("check_name"),
        round(col(s"__c$i") / col("__n"), 6).as("metric"),
        (col(s"__c$i") >= lit(threshold) * col("__n")).as("passed"))
    }
    row
      .select(explode(array(reportRows: _*)).as("r"))
      .select(col("r.check_name"), col("r.metric"), col("r.passed"))
  }
}
