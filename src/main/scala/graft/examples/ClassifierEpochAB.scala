package graft.examples

import graft.GraftSession
import graft.operators.{Classifier, Curation, HashFamily}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Paired measurement harness for the [[Classifier.train]] epoch loop
  * (r19 optimization round): times the full 10-epoch fit twice in one
  * JVM (pass 1 = cold codegen, pass 2 = warm steady state — the number
  * the bench suite sees after its warm-up) and prints the formatted
  * physical plan of one epoch's gradient query, so plan-shape claims in
  * OPTIMIZATION_r19.md are reproducible from the repo.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... tools/runmain.sh graft.examples.ClassifierEpochAB
  */
object ClassifierEpochAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // the q_classifier_auc_trained fit frame, verbatim (SelectionQueries)
    val fit = Tables
      .load(spark, sfDir, "documents")
      .filter(Curation.sampleByHash("doc_id", 25))
      .withColumn("label", array_contains(split(col("text"), " "), "spark").cast("int"))

    def fitOnce(): Double = {
      val t0 = System.nanoTime()
      Classifier.train(fit, "doc_id", "text", "label",
        buckets = 256, epochs = 10, learnRate = 2.0, l2 = 1e-4)
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = fitOnce()
    val t2 = fitOnce()
    val t3 = fitOnce()
    println(f"[classifier-epoch-ab] train 10 epochs: cold $t1%.2f s, warm $t2%.2f s / $t3%.2f s")

    // the per-epoch gradient plan at zero weights (representative: the
    // plan shape is weight-independent)
    val feat = Classifier
      .buildFeatures(fit, "doc_id", "text", "label", 256, HashFamily.Md5)
      .persist()
    feat.count()
    Classifier.epochGrad(feat, 0.0, Array.fill(256)(0.0)).explain("formatted")
    feat.unpersist()
    spark.stop()
  }
}
