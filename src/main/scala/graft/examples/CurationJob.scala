package graft.examples

import graft.operators.Curation
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The integrated training-data curation job over the documents table:
  * language gate → quality gate → PII scrub → normalize → exact dedup,
  * one plan (see `Curation.curate` and SCALE.md). Prints the kept-doc
  * stats per source.
  *
  * Run: `sbt "runMain graft.examples.CurationJob [sfDir]"`
  */
object CurationJob extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    val kept = Curation.curate(
      Tables.load(spark, sfDir, "documents"),
      "doc_id", "text",
      keepLang = "en", minQuality = 0.5, carry = Seq("source")
    )
    kept
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_kept"),
        sum(col("dup_count")).as("docs_in"),
        round(avg(col("quality")), 4).as("avg_quality")
      )
      .orderBy(col("source"))
      .show(50, truncate = false)
  }
}
