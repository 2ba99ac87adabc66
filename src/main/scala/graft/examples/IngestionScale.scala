package graft.examples

import graft.{GraftSession, Profile}
import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.functions._

/** Scale evidence for the continuous-ingestion dedup loop: feed a
  * documents table through [[IncrementalDedup.ingestBatch]] in
  * equal-size batches and print, while the corpus (and its persisted
  * band table) grows:
  *   - per-batch WALL seconds for the full loop body;
  *   - the corpus-TEXT fetch cost per batch, measured in scan BYTES by
  *     replaying the exact fetch plan `ingestBatch` runs (candidate-id
  *     `isin` pushed to the parquet scan, `inFilterThreshold` raised)
  *     against the pre-append corpus snapshot, next to the pre-round-9
  *     full-scan shape on the same snapshot. Flat pruned bytes vs
  *     linearly-growing full-scan bytes is the direct evidence that the
  *     verify stage's last O(|corpus|) term is gone.
  * Bytes are [[graft.Profile]] `read_bytes` windows (`/proc/self/io`
  * `rchar`: all read syscalls of the single local-mode JVM) around each
  * isolated fetch — Spark 4 reads local parquet through NIO
  * (`LocalInputFile`), bypassing both task-level
  * `inputMetrics.bytesRead` and Hadoop FS statistics, so syscall
  * accounting is the only counter that sees the scan. Nothing
  * else runs concurrently, so the delta attributes cleanly; it includes
  * parquet footer reads (every file's footer is consulted for min/max
  * skipping), which is why the pruned arm grows slowly with FILE count
  * while the full arm grows with corpus BYTES.
  *
  * What stays O(corpus) per batch — deliberately: the band-table scan in
  * [[Dedup.candidatesAgainstBanded]]. Band rows are fixed-width
  * signature ints (~40× smaller than KB-scale text) and the scan is one
  * equi-join probe side; at 100 TB of text that is a few TB of
  * signatures, the accepted steady-state cost of banded dedup. The
  * corpus TEXT — the dominant payload — is only touched for candidate
  * ids.
  *
  * SPARK_GRAFT_LOWDUP=true rewrites the input to the PRODUCTION regime:
  * globally-unique ~1.5 KB docs of incompressible hash tokens, except
  * ~2% "dup rows" (id ≡ 1 mod 50) copying a doc from a BOUNDED
  * reference window (ids < 800, i.e. inside the seed slice; referenced
  * ids are never themselves dup rows). Per batch that is a handful of
  * candidate corpus ids confined to a handful of row groups — which is
  * what makes the granularity work: parquet min/max skipping operates
  * per ROW GROUP (per page with column indexes), so the pruned fetch
  * reads only the row groups holding candidates. Candidates smeared
  * uniformly across every row group degrade to a full scan at any
  * corpus size — the realistic 100 TB regime is the former: a batch's
  * dups reference a vanishing fraction of the corpus's row groups.
  * (The as-is sf tables are dup-dense: candidates touch most corpus
  * files and the fetch is candidate-bound either way.) Incompressible
  * tokens matter for the MEASUREMENT: natural-language text
  * parquet-compresses ~25×, shrinking the full-scan arm's byte growth
  * below the noise floor at test scale.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_LOWDUP=true
  *       sbt "runMain graft.examples.IngestionScale"`
  * (numbers recorded in BASELINE.md).
  */
object IngestionScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "5").toInt
    val spark = GraftSession.local()

    val profile = Profile.of(spark)
    def measureMb(body: => Unit): Double = profile.window(body)._2("read_bytes") / 1e6

    val root = java.nio.file.Files.createTempDirectory("graft_ingest_scale").toString
    val corpusDir = s"$root/corpus"
    val bandsDir = s"$root/bands"

    val lowDup = sys.env.get("SPARK_GRAFT_LOWDUP").contains("true")
    val raw = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    // ~24 hash tokens ≈ 1.5 KB/doc of incompressible text (see scaladoc)
    def uniqOf(id: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 to 23).map(i => sha2(concat(lit(s"u$i"), ((id * (2 * i + 1)) % 10000019L).cast("string")), 256)): _*)
    val docs =
      if (lowDup) {
        // materialize the synthetic input ONCE — the wide concat must
        // not sit under every per-batch plan (optimizer cost), and a
        // real ingestion source is a stored table anyway
        // refs land in [0, 800) — the seed slice — skewed off ≡1 mod 50
        // so a referenced doc is never itself a dup row
        val ref0 = (col("doc_id") * 13) % 800
        val ref = when(ref0 % 50 === 1, ref0 + 7).otherwise(ref0)
        raw.select(col("doc_id"),
          when(col("doc_id") % 50 === 1 && col("doc_id") >= 800, uniqOf(ref))
            .otherwise(uniqOf(col("doc_id"))).as("text"))
          .repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").parquet(s"$root/input")
        spark.read.parquet(s"$root/input")
      } else raw
    val n = docs.count()
    val per = n / (batches + 1)

    // seed: the first slice is the existing corpus
    val seed = docs.filter(col("doc_id") < per)
    IncrementalDedup.seed(seed, corpusDir, bandsDir)
    println(s"[scale] seeded corpus: ${seed.count()} docs from $sfDir (lowDup=$lowDup)")
    // warmup: shed classloading/codegen reads before the first measured fetch
    spark.read.parquet(corpusDir).agg(sum(length(col("text")))).collect()

    val inThresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    (1 to batches).foreach { b =>
      val lo = per * b
      val hi = per * (b + 1)
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      // pin the pre-append corpus snapshot + candidate ids (same inputs
      // ingestBatch sees) for the isolated fetch measurement below
      val corpusBefore = spark.read.parquet(corpusDir)
      val bandsBefore = spark.read.parquet(bandsDir)
      val candIds = Dedup
        .candidatesAgainstBanded(batch, bandsBefore, "doc_id", "text")
        .select(col("corpus_id")).distinct().collect().map(_.get(0))

      val t0 = System.nanoTime()
      IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir,
        batchId = Some(b.toLong))
      val sec = (System.nanoTime() - t0) / 1e9

      // corpus-TEXT fetch, isolated: the pruned shape ingestBatch ran
      // (isin reaches the scan; sum(length) forces the text column)
      // vs the pre-round-9 full-scan shape, both on the same snapshot
      val prunedMb = measureMb {
        val prev = spark.conf.get(inThresholdKey, "10")
        spark.conf.set(inThresholdKey, math.max(10, candIds.length).toString)
        try corpusBefore.filter(col("doc_id").isin(candIds.toSeq: _*))
          .agg(sum(length(col("text")))).collect()
        finally spark.conf.set(inThresholdKey, prev)
      }
      val fullMb = measureMb {
        corpusBefore.agg(sum(length(col("text")))).collect()
      }
      val corpusNow = spark.read.parquet(corpusDir).count()
      println(f"[scale] batch $b: ${hi - lo} docs in $sec%.2f s; corpus-text fetch: " +
        f"pruned $prunedMb%.2f MB (${candIds.length} cand ids) vs full-scan $fullMb%.2f MB; corpus now $corpusNow")
    }
    spark.stop()
  }
}
