package graft.examples

import org.apache.spark.sql.SparkSession

/** Continuous-ingestion dedup — the end-to-end loop a training-data
  * pipeline runs forever: a stream of arriving documents is checked
  * against the existing corpus (band join, no corpus self-pairing),
  * survivors are appended to the corpus AND to the persisted corpus
  * band table, so the next batch dedups against everything before it.
  *
  * The loop itself is [[graft.streaming.IncrementalDedup]] (plan shape
  * documented there and spec-pinned end-to-end across micro-batches in
  * IncrementalIngestionSpec); this example seeds a corpus + band table
  * and drives one batch through it.
  *
  * Run: `sbt "runMain graft.examples.IncrementalIngestion"`
  */
object IncrementalIngestion extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val corpusDir = s"$work/corpus"
    val bandsDir = s"$work/bands"

    // day 0: a seeded, already-deduplicated corpus + its band table
    val seed = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
      (101L, "completely different content about distributed query engines and storage layers")
    ).toDF("doc_id", "text")
    graft.streaming.IncrementalDedup.seed(seed, corpusDir, bandsDir)

    // the arriving stream: one near-dup of doc 100, one novel doc, and
    // a within-batch duplicate pair (300/301)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem.addData(
      (200L, "the quick brown fox jumps over the lazy dog near the quiet river bank now"),
      (201L, "entirely new material about adaptive query execution in modern spark engines"),
      (300L, "repeated batch content that appears twice within one ingestion batch here"),
      (301L, "repeated batch content that appears twice within one ingestion batch here"))
    val arriving = mem.toDF().toDF("doc_id", "text")

    val q = graft.streaming.IncrementalDedup.attach(arriving, corpusDir, bandsDir)
    q.processAllAvailable()
    q.stop()

    val finalCorpus = spark.read.parquet(corpusDir)
      .select($"doc_id").as[Long].collect().toSet
    println(s"corpus after ingestion: ${finalCorpus.toSeq.sorted.mkString(", ")}")
    // 200 (near-dup of 100) dropped; 201 kept; 300/301 collapsed to 300
    assert(finalCorpus == Set(100L, 101L, 201L, 300L),
      s"unexpected corpus: $finalCorpus")
  }
}
