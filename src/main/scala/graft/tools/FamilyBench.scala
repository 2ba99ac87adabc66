package graft.tools

import graft.GraftSession
import graft.operators.{Curation, HashFamily, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc A/B for oracle-vs-production hash families (BASELINE.md
  * records the results): times decontaminate and fingerprint under md5
  * and xxhash64 at `SPARK_GRAFT_SF_DIR`. Warm-up pass first; three
  * timed passes each.
  *
  * `runMain graft.tools.FamilyBench [op ...]` — ops default to all of
  * `decontaminate fingerprint`.
  */
object FamilyBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ops = if (args.nonEmpty) args.toSeq else Seq("decontaminate", "fingerprint")
    val spark = GraftSession.local()
    val d = Tables.load(spark, dir, "documents")
    val families = Seq("md5" -> HashFamily.Md5, "xxhash64" -> HashFamily.XxHash64)

    def build(op: String, family: HashFamily): DataFrame = op match {
      case "decontaminate" =>
        Curation.decontaminate(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0),
          "doc_id",
          "text",
          hashFamily = family
        )
      case "fingerprint" =>
        d.select(
          col("doc_id"),
          TextAnalysis.fingerprint("text", hashFamily = family).as("fp")
        )
      case other => throw new IllegalArgumentException(s"unknown op '$other'")
    }

    def run(op: String, family: HashFamily): Double = {
      val t0 = System.nanoTime()
      build(op, family).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    ops.foreach { op =>
      families.foreach { case (_, f) => run(op, f) } // warm-up
      families.foreach { case (name, f) =>
        val ts = (1 to 3).map(_ => run(op, f))
        println(f"op=$op family=$name min=${ts.min}%.2f s runs=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
