package graft.examples

import graft.GraftSession
import graft.operators.Tokenizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B pin for the tokenizer word-memo claim (BASELINE.md r14): the
  * tokenizer family's top-decade super-linearity was attributed to
  * ScaleUp's deliberate per-replica alphabet rotation GROWING the
  * distinct-word set (a smaller memo hit rate per task), not to the
  * encoder itself. This main measures both fixtures at the same row
  * count:
  *
  *   - ROTATED: the ScaleUp output directory's documents (each replica
  *     rotates 10-letter alphabets, multiplying the vocabulary);
  *   - NATURAL: the SAME base corpus replicated with offset ids and
  *     text UNCHANGED — the Zipfian word distribution a real corpus
  *     keeps at scale (more data, same vocabulary).
  *
  * For each arm: the per-task memo-hit proxy
  * `1 − distinct_words/words` per scan partition (the memo runs the
  * DP once per DISTINCT word per task — with the 64k cap unhit, this
  * IS the hit rate), then the q_bpe_tokenize-shaped train+encode
  * timed warm (min of `SPARK_GRAFT_REPEAT`, default 3).
  *
  * Run: `sbt "runMain graft.examples.TokenizerMemoAB <rotatedDir> <baseDir>"`
  * (e.g. /tmp/sf10 /root/testdata/sf0.1)
  */
object TokenizerMemoAB {
  def main(args: Array[String]): Unit = {
    val rotatedDir = args.headOption.getOrElse("/tmp/sf10")
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val spark = GraftSession.local()

    val rotated = graft.sources.Tables.load(spark, rotatedDir, "documents")
      .select(col("doc_id"), col("text"))
    val base = graft.sources.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"), col("text"))
    val nRot = rotated.count()
    val nBase = base.count()
    val k = math.max(1L, nRot / nBase)
    val stride = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    // natural replication: same text, offset ids — the un-rotated twin
    val natural = base
      .withColumn("__r", explode(sequence(lit(0L), lit(k - 1))))
      .select((col("doc_id") + col("__r") * stride).as("doc_id"), col("text"))

    def arm(name: String, docs: DataFrame): Unit = {
      val words = docs.select(spark_partition_id().as("p"),
        explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      val perTask = words.groupBy("p")
        .agg(count(lit(1)).as("n"), count_distinct(col("w")).as("d"))
        .agg(sum("n").as("n"), sum("d").as("d"),
          avg(lit(1.0) - col("d") / col("n")).as("hit"))
        .head()
      val (total, distinctPerTaskSum, hitRate) =
        (perTask.getLong(0), perTask.getLong(1), perTask.getDouble(2))
      val vocab = words.agg(count_distinct(col("w"))).head().getLong(0)
      val model = Tokenizer.train(docs, "text", numMerges = 200, vocabCap = 16384)
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        Tokenizer.tokenize(docs, "text", model)
          .select(col("doc_id"), col("n_tokens"), col("tokens"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val nDocs = docs.count()
      val best = times.min
      println(f"[$name] docs=$nDocs%d vocab=$vocab%d words=$total%d " +
        f"memoHit=$hitRate%.4f taskDistinct=$distinctPerTaskSum%d " +
        f"tokenize=$best%.2f s (${best * 1e6 / nDocs}%.1f us/doc)")
    }

    println(s"fixtures: rotated=$rotatedDir ($nRot docs), natural=${k}x $baseDir")
    arm("rotated", rotated)
    arm("natural", natural)
    spark.stop()
  }
}
