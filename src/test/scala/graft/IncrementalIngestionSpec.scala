package graft

import graft.operators.Dedup
import graft.streaming.IncrementalDedup
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

/** END-TO-END streaming incremental dedup: the full band → stream-static
  * join → verify → drop → append loop ([[IncrementalDedup]]) driven by a
  * MemoryStream across MULTIPLE micro-batches — proving not just the
  * candidate stage (DedupSpec pins that) but that batch N's survivors
  * are part of the corpus batch N+1 dedups against.
  */
class IncrementalIngestionSpec extends SparkSpec {
  import spark.implicits._

  test("ingestion loop drops near-dups across micro-batches, corpus and band table grow") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_spec").toString
    val corpusDir = s"$root/corpus"
    val bandsDir = s"$root/bands"

    // day 0: a seeded, already-deduplicated corpus + its UNCAPPED band table
    val seed = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
      (101L, "completely different content about distributed query engines and storage layers")
    ).toDF("doc_id", "text")
    IncrementalDedup.seed(seed, corpusDir, bandsDir)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(
      mem.toDF().toDF("doc_id", "text"), corpusDir, bandsDir)
    try {
      // batch 1: a near-dup of seeded doc 100, a novel doc, and a
      // within-batch duplicate pair (300/301 collapse to 300)
      mem.addData(
        (200L, "the quick brown fox jumps over the lazy dog near the quiet river bank now"),
        (201L, "entirely new material about adaptive query execution in modern spark engines"),
        (300L, "repeated batch content that appears twice within one ingestion batch here"),
        (301L, "repeated batch content that appears twice within one ingestion batch here"))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().toSet
      assert(afterB1 == Set(100L, 101L, 201L, 300L),
        s"batch 1: 200 near-dups seed 100, 301 collapses into 300 — got $afterB1")

      // batch 2: a near-dup of doc 201 — which arrived IN BATCH 1, so
      // dropping it proves the corpus and band table actually grew —
      // plus a near-dup of the within-batch survivor 300, plus one
      // genuinely novel doc. The near-dups append one word (Jaccard
      // ≈ 0.9): a mid-text edit can deterministically miss the 4-band
      // LSH (md5 is fixed, there is no retry luck), a suffix append
      // leaves most minhash values — and so at least one band — intact.
      mem.addData(
        (400L, "entirely new material about adaptive query execution in modern spark engines overall"),
        (401L, "repeated batch content that appears twice within one ingestion batch here indeed"),
        (402L, "unrelated fresh text about columnar shuffle formats and spill behavior limits"))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().toSet
      assert(afterB2 == Set(100L, 101L, 201L, 300L, 402L),
        s"batch 2: 400 near-dups batch-1 survivor 201, 401 near-dups 300 — got $afterB2")

      // the band table covers every survivor (4 bands each), so batch 3
      // would dedup against all of them without re-shingling the corpus
      val bandedIds = spark.read.parquet(bandsDir)
        .select($"doc_id").distinct().as[Long].collect().toSet
      assert(bandedIds == afterB2, s"band table must track the corpus — got $bandedIds")
      // ...and it is audit-ready: built uncapped, nothing excluded
      assert(Dedup.droppedBucketsFromBanded(
        spark.read.parquet(bandsDir), Int.MaxValue).isEmpty)
    } finally q.stop()
  }

  test("replayed ingestBatch is a no-op: batchId-keyed appends never duplicate") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_replay").toString
    val (corpusDir, bandsDir) = (s"$root/corpus", s"$root/bands")
    IncrementalDedup.seed(
      Seq((1L, "seeded corpus text about storage engines and columnar formats today"))
        .toDF("doc_id", "text"),
      corpusDir, bandsDir)
    val batch = Seq(
      (10L, "fresh material on vectorized execution and adaptive partition coalescing"),
      (11L, "seeded corpus text about storage engines and columnar formats now"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir, batchId = Some(42L))
    val once = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().sorted
    assert(once.toSet == Set(1L, 10L), s"11 near-dups seed 1 — got ${once.toSet}")
    // a foreachBatch replay re-runs the SAME batch id: both stores must
    // come out row-for-row identical, not double-appended — and the
    // recompute must not let the earlier append make survivors match
    // themselves (the reads exclude the batch's own ingest_batch rows)
    IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir, batchId = Some(42L))
    val twice = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().sorted
    assert(twice.sameElements(once), s"replay must be a no-op — got ${twice.mkString(",")}")
    val bandRows = spark.read.parquet(bandsDir)
      .groupBy($"doc_id").count().select($"count").as[Long].collect()
    assert(bandRows.forall(_ == 4), "exactly one 4-band signature set per doc after replay")
    // a NEW batch id against the same store still appends normally
    IncrementalDedup.ingestBatch(spark, batch.filter($"doc_id" === 10L)
      .withColumn("doc_id", lit(20L)), corpusDir, bandsDir, batchId = Some(43L))
    val after = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().toSet
    assert(after == Set(1L, 10L), s"20 is a dup of 10 and must be dropped — got $after")
  }

  test("ingestBatch without a batch id appends the same survivors to corpus and bands") {
    // the public default: no stamp, so nothing excludes the batch's own
    // band rows — the corpus append must still see the survivors the
    // bands append saw, not a recompute against the bands just written
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_noid").toString
    val (corpusDir, bandsDir) = (s"$root/corpus", s"$root/bands")
    IncrementalDedup.seed(
      Seq((1L, "seeded corpus text about storage engines and columnar formats today"))
        .toDF("doc_id", "text"),
      corpusDir, bandsDir)
    val batch = Seq(
      (10L, "fresh material on vectorized execution and adaptive partition coalescing"),
      (11L, "unrelated notes on watermark propagation through streaming joins"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir))
    val ids = (dir: String) =>
      spark.read.parquet(dir).select($"doc_id").distinct().as[Long].collect().toSet
    assert(ids(bandsDir) == Set(1L, 10L, 11L), s"bands: ${ids(bandsDir)}")
    assert(ids(corpusDir) == Set(1L, 10L, 11L), s"corpus: ${ids(corpusDir)}")
    // every file of both stores carries the stamp (-1, as the seed's): a
    // read takes its schema from one file, so an unstamped file could
    // drop the column and the replay probe would then find no batch
    val conf = spark.sessionState.newHadoopConf()
    for (dir <- Seq(corpusDir, bandsDir);
         f <- new java.io.File(dir).listFiles() if f.getName.endsWith(".parquet")) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try assert(r.getFooter.getFileMetaData.getSchema.containsField("ingest_batch"),
        s"${f.getName} of $dir has no ingest_batch")
      finally r.close()
    }
    assert(spark.read.parquet(corpusDir).filter($"doc_id" > 1L)
      .select($"ingest_batch").distinct().as[Long].collect().toSeq == Seq(-1L))
  }

  test("replay repairs a partial failure: bands landed, corpus append lost") {
    // the crash window between the two writes — bands are written FIRST
    // (a band row without a corpus row is harmless), so the failure
    // mode to repair is exactly this one
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_partial").toString
    val (corpusDir, bandsDir) = (s"$root/corpus", s"$root/bands")
    IncrementalDedup.seed(
      Seq((1L, "seeded corpus text about storage engines and columnar formats today"))
        .toDF("doc_id", "text"),
      corpusDir, bandsDir)
    val batch = Seq(
      (10L, "fresh material on vectorized execution and adaptive partition coalescing"),
      (11L, "seeded corpus text about storage engines and columnar formats now"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir, batchId = Some(7L))
    val healthyCorpus = spark.read.parquet(corpusDir).collect().map(_.toString).sorted
    val healthyBands = spark.read.parquet(bandsDir).collect().map(_.toString).sorted

    // simulate the partial failure: drop batch 7's corpus rows (keep bands)
    val withoutBatch = spark.read.parquet(corpusDir)
      .filter(col("ingest_batch") =!= 7L).collect()
    val schema = spark.read.parquet(corpusDir).schema
    spark.createDataFrame(spark.sparkContext.parallelize(withoutBatch.toSeq), schema)
      .write.mode("overwrite").parquet(corpusDir)
    assert(spark.read.parquet(corpusDir).count() == 1, "batch 7 corpus rows removed")

    // foreachBatch replays batch 7: bands are already present (no-op),
    // the corpus append is recomputed — deterministically identical
    IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir, batchId = Some(7L))
    assert(spark.read.parquet(corpusDir).collect().map(_.toString).sorted
      .sameElements(healthyCorpus), "corpus repaired to the healthy state")
    assert(spark.read.parquet(bandsDir).collect().map(_.toString).sorted
      .sameElements(healthyBands), "band table untouched by the repair")
  }

  test("candidate-id pushdown path and full-scan fallback agree") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_prune").toString
    val docs = (0L until 40L).map { i =>
      (i, s"document number $i holding its own unrepeated content token${i * 7} and token${i * 7 + 3}")
    } ++ Seq(
      (100L, "document number 5 holding its own unrepeated content token35 and token38 x"),
      (101L, "document number 9 holding its own unrepeated content token63 and token66 y"))
    val seed = docs.filter(_._1 < 40L).toDF("doc_id", "text")
    val batch = docs.filter(_._1 >= 40L).toDF("doc_id", "text")
    for ((cap, tag) <- Seq((100000, "pruned"), (0, "fallback"))) {
      val (corpusDir, bandsDir) = (s"$root/$tag/corpus", s"$root/$tag/bands")
      IncrementalDedup.seed(seed, corpusDir, bandsDir)
      IncrementalDedup.ingestBatch(spark, batch, corpusDir, bandsDir,
        batchId = Some(1L), idPushdownCap = cap)
    }
    val pruned = spark.read.parquet(s"$root/pruned/corpus")
      .select($"doc_id").as[Long].collect().sorted
    val fallback = spark.read.parquet(s"$root/fallback/corpus")
      .select($"doc_id").as[Long].collect().sorted
    assert(pruned.sameElements(fallback),
      s"id-pruned verify must not change results: ${pruned.mkString(",")} vs ${fallback.mkString(",")}")
    // and the near-dups of corpus docs were actually dropped in both
    assert(!pruned.contains(100L) && !pruned.contains(101L))
  }

  test("compaction cadence preserves results and the id-range clustering of the corpus") {
    // drive enough single-row batches that both stores accrete files,
    // compact every 2 batches, and check (a) results identical to the
    // uncompacted run, (b) corpus files keep TIGHT disjoint id ranges
    // (the min/max skipping contract), (c) file counts actually drop
    import graft.streaming.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_compact").toString
    val seedDf = Seq(
      (0L, "seeded corpus text about storage engines and columnar formats today"))
      .toDF("doc_id", "text")
    def batchDf(i: Long) = Seq(
      (i, s"unique content number $i about subject${i * 3} and topic${i * 3 + 1} today"))
      .toDF("doc_id", "text")

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // three arms: no maintenance, in-trigger compaction, and the
    // off-trigger (async) variant whose rewrite overlaps ingest and
    // whose swap lands at a later trigger boundary
    val results = Seq(("plain", None, false), ("compact2", Some(2), false),
      ("async2", Some(2), true)).map { case (tag, cadence, async) =>
      val (c, b) = (s"$root/$tag/corpus", s"$root/$tag/bands")
      IncrementalDedup.seed(seedDf, c, b)
      val mem = MemoryStream[(Long, String)]
      val q = IncrementalDedup.attach(
        mem.toDF().toDF("doc_id", "text"), c, b,
        checkpointLocation = Some(s"$root/$tag/chk"), compactEvery = cadence,
        asyncCompact = async)
      try {
        (1L to 6L).foreach { i => mem.addData((i, batchDf(i).head().getString(1))); q.processAllAvailable() }
      } finally q.stop()
      val ids = spark.read.parquet(c).select($"doc_id").as[Long].collect().sorted
      val files = Option(new java.io.File(c).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      (ids.toSeq, files)
    }
    val (plainIds, plainFiles) = results(0)
    val (compIds, compFiles) = results(1)
    val (asyncIds, _) = results(2)
    assert(compIds == plainIds, s"compaction changed results: $compIds vs $plainIds")
    assert(asyncIds == plainIds, s"async compaction changed results: $asyncIds vs $plainIds")
    assert(compFiles < plainFiles,
      s"compaction must reduce corpus files: $compFiles vs $plainFiles")
    // async arm: the live swap dirs must never outlive the stream (a
    // background-rewrite scratch dir MAY — it is invisible to readers
    // and the next start() clears it)
    val asyncSiblings = Option(new java.io.File(s"$root/async2").listFiles())
      .getOrElse(Array.empty).map(_.getName)
    assert(!asyncSiblings.exists(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old")),
      asyncSiblings.mkString(","))
    // clustering contract: per-file id ranges are disjoint after compaction
    val perFile = spark.read.parquet(s"$root/compact2/corpus")
      .select(input_file_name().as("f"), $"doc_id")
      .groupBy($"f").agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file id ranges overlap after compaction: ${perFile.mkString(",")}")
      case _ => ()
    }
  }
}
