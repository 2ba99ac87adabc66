package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Scan-boundedness guard for model-extraction samples (the
  * sample-FIRST rule, BASELINE.md round 8): every Lloyd's trainer
  * (`lloydCodebooks`, `lloydResidualCodebooks`, `lloydCentroids`) pulls
  * `Similarity.trainingSample` of its corpus, and this spec pins — on a
  * corpus 5× the sample cap, written with small row groups so the
  * assertion has teeth — that executing that sample, plain and
  * residual, reads ~cap rows from the parquet scan, not the corpus. An
  * orderBy+limit sample (full sort before the limit) or a wide
  * transform upstream of the bounded-id filter would read all rows and
  * fail here. The source sweeps below keep the trainers the only model
  * path: no `.collect()` outside the allowlist, no Spark ML.
  */
class ModelSampleGuardSpec extends SparkSpec {

  import spark.implicits._

  private val cap = 4096
  private val corpusRows = 20000L
  // one row ≈ 70 B; a 64 KiB row group holds ~900 rows, so the 20k-row
  // table spans ~20+ row groups and group-granularity slack stays ≪ corpus
  private lazy val embDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_msg_emb").toString
    spark.range(0, corpusRows)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), i -> cast((id * (i + 3)) % 97 as float))")
          .as("embedding"))
      .repartitionByRange(4, col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("overwrite").option("parquet.block.size", 64 * 1024).parquet(dir)
    dir
  }

  /** Execute df and return total rows the parquet scans produced. */
  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.sum
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("trainingSample extraction reads ~cap rows from the scan, not the corpus") {
    val emb = spark.read.parquet(embDir)
    val extraction = Similarity.trainingSample(emb, "vec_id", "embedding", cap)
    val rows = scanRows(extraction)
    // ≤ cap + one row-group of slack (pushdown skips at group granularity)
    assert(rows <= cap + 2000, s"sample extraction scanned $rows of $corpusRows rows")
    assert(rows >= cap, s"sample must still see all $cap training rows, got $rows")
    // and the bound comes from pushdown, not luck: the filter reaches the scan
    val plan = extraction.queryExecution.executedPlan.toString
    assert(plan.contains(s"LessThan(vec_id,$cap)"), "bounded-id filter must be pushed")
  }

  test("residual trainingSample (IVF-PQ) samples FIRST — residuals never see the corpus") {
    val emb = spark.read.parquet(embDir)
    val centroids = (0 until 8)
      .map(i => (i, Array.tabulate(16)(j => ((i * 7 + j) % 5).toFloat).toSeq))
      .toDF("centroid_id", "centroid_vec")
    val extraction =
      Similarity.trainingSample(emb, "vec_id", "embedding", cap, Some(centroids))
    val rows = scanRows(extraction)
    assert(rows <= cap + 2000, s"residual sample scanned $rows of $corpusRows rows")
    assert(rows >= cap, s"residual sample must still see all $cap training rows, got $rows")
  }

  test("no unbounded driver materialization in src/main: every .collect() site is allowlisted") {
    // The companion rule to the scan-boundedness pins above: a
    // `.collect()` in an operator path means the operator isn't
    // distributed (or OOMs the driver) at 100×. Every call site must be
    // bounded — by a limit/cap, a one-row aggregate, a dimension table,
    // or a sampleCap'd model extraction — and registered here WITH its
    // bound. A new .collect() anywhere else fails this sweep: either
    // bound it (toLocalIterator / limit / cap) or consciously extend
    // the allowlist with the reason. Counts are exact: a stale allowance
    // (a file that lost a site) fails too, so it cannot silently
    // re-admit a new collect later.
    val allowed = Map(
      // latest(n): orderBy.limit(n) — bounded by the caller's n
      "GraftContext.scala" -> 1,
      // idPushdownCap-bounded candidate-id pull (cap + 1 probes the overflow)
      "streaming/IncrementalDedup.scala" -> 1,
      // vocabCap-bounded model pulls: BPE merge-table extraction plus the
      // round-14 trainUnigram / unigramLogLikelihood word-count pulls —
      // all three are limit(vocabCap).collect() bounded-model extractions
      "operators/Tokenizer.scala" -> 3,
      // the sampleCap'd Lloyd's-training sample pull (the tests above)
      // and codebooksFromRows' caller-bounded oracle-form rows
      "operators/Similarity.scala" -> 2,
      // buckets-bounded gradient pull: the logistic-regression fit
      // collects ≤ buckets + 1 (bucket, gradient) rows per epoch —
      // the model is driver-sized by construction, never the corpus
      "operators/Classifier.scala" -> 1,
      // buckets-bounded DSIR ratio-table pull feeding the literal-array
      // scoring fold (the tokenizer-codebook discipline)
      "operators/Selection.scala" -> 1,
      // measurement mirrors: one-row aggregates (count/sum) and
      // per-batch key sets bounded by the batch, all feeding printed
      // evidence tables, not operator plans
      // nShards-bounded manifest pulls (pre-write + read-back verify)
      "examples/ShardWriteScale.scala" -> 2,
      "examples/RuntimeEvents.scala" -> 1,
      "examples/HoppingPull.scala" -> 1,
      "examples/IncrementalIngestion.scala" -> 1,
      // manifest-verification pulls in the crawl→shards pipeline stage:
      // each is ≤ #shards rows (1024 manifest lines), never the corpus
      "examples/ProductionPipeline.scala" -> 3,
      // A/B equality-proof dumper: toJSON.collect() of named BENCH
      // query outputs (top-k / per-radius / per-group frames, all
      // driver-sized by the queries' own bounds), written to files for
      // diffing — a measurement harness, never an operator plan (r20)
      "examples/DumpBench.scala" -> 1
    )
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        val n = "\\.collect\\(\\)|collectAsList".r
          .findAllIn(java.nio.file.Files.readString(p)).size
        if (n != allowed.getOrElse(rel, 0))
          offenders += s"$rel has $n .collect() sites (allowlisted: ${allowed.getOrElse(rel, 0)})"
      }
    }
    // a stale entry would silently re-admit a file of that name
    allowed.keys.filterNot(rel => java.nio.file.Files.exists(root.resolve(rel))).toSeq.sorted
      .foreach(rel => offenders += s"$rel is allowlisted but no longer exists")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no Spark ML in src/main: the Lloyd's trainers are the only model path") {
    // MLlib KMeans ran one model fit per subspace over the whole corpus
    // (hundreds of jobs for one codebook set) and was not deterministic
    // across partitionings; any org.apache.spark.ml reference re-admits it
    val found = SourceSweep.sweep("src/main/scala", """\borg\.apache\.spark\.ml\b""".r)
    assert(found.isEmpty, s"org.apache.spark.ml referenced at (file, scope) -> lines: $found")
  }

  test("the counter-example: an orderBy+limit sample DOES read the corpus") {
    // documents the hazard the helpers exist to avoid — if this ever
    // starts passing the ≤-cap bound, the guard above lost its teeth
    val emb = spark.read.parquet(embDir)
    val bad = emb.orderBy("vec_id").select(col("embedding")).limit(cap)
    assert(scanRows(bad) == corpusRows, "full sort must read everything")
  }
}
