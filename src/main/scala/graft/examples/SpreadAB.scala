package graft.examples

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Paired in-JVM A/B for the single-row-group scan-spread question on
  * the TEXT-kernel queries (r19): the full-suite and solo-bench
  * captures disagree by more than the effect size (per-JVM bias — JIT,
  * thermal, ambient), so this alternates both arms inside ONE JVM and
  * reports the per-arm minimum, the repo's paired-measurement
  * discipline (ProbeTailAB pattern).
  *
  * Arm A: operator over the raw single-partition documents scan.
  * Arm B: same operator over documents.repartition(defaultParallelism).
  *
  * Usage: sbt "runMain graft.examples.SpreadAB [rounds]"
  */
object SpreadAB {
  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def docsRaw() = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    def docsSpread() =
      docsRaw().repartition(spark.sparkContext.defaultParallelism)

    val ops: Seq[(String, (() => DataFrame)  => DataFrame)] = Seq(
      "bm25" -> { docs =>
        val d = docs()
        val queries = d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
        graft.operators.TextAnalysis.bm25TopK(
          d.filter(col("doc_id") % 97 =!= 0), queries,
          "doc_id", "text", "query_id", "qtext", topK = 10)
      },
      "minhash_cands" -> { docs =>
        graft.operators.Dedup.minhashCandidates(docs(), "doc_id", "text",
          maxBucketSize = Some(1000))
      },
      "simhash" -> { docs =>
        graft.operators.Dedup.simhashNearDup(docs(), "doc_id", "text")
      }
    )

    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warm both arms once (codegen for both plan shapes)
    ops.foreach { case (_, op) => time(op(docsRaw _)); time(op(docsSpread _)) }

    for ((name, op) <- ops) {
      var aMin = Double.MaxValue
      var bMin = Double.MaxValue
      var r = 0
      while (r < rounds) {
        aMin = math.min(aMin, time(op(docsRaw _)))
        bMin = math.min(bMin, time(op(docsSpread _)))
        r += 1
      }
      println(f"[spread-ab] $name%-14s raw $aMin%.3f s  spread $bMin%.3f s  (spread/raw ${bMin / aMin}%.2f)")
    }
    spark.stop()
  }
}
