package graft.streaming

import graft.operators.Dedup
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuous-ingestion dedup — the end-to-end loop a training-data
  * pipeline runs forever: each arriving micro-batch is checked against
  * the existing corpus (band join against the PERSISTED corpus band
  * table, no corpus self-pairing and no re-shingling of the corpus),
  * survivors are deduplicated within the batch and appended to the
  * corpus AND to the band table, so the next batch dedups against
  * everything before it.
  *
  * Plan shape per micro-batch (all equi-joins, SCALE.md):
  *   1. [[Dedup.candidatesAgainstBanded]]: band the (small) batch, join
  *      against the stored band table — cost scales with |batch| plus
  *      the touched corpus buckets, never |corpus|²;
  *   2. exact-Jaccard verify of the candidates, with the corpus TEXT
  *      fetch pruned to the candidate ids (see below) — the verify
  *      stage never scans the full corpus text;
  *   3. within-batch [[Dedup.dropNearDuplicates]] (bounded by the batch
  *      size, not the corpus);
  *   4. append survivors + their [[Dedup.bandedSignatures]] rows —
  *      band table FIRST (a band row without a corpus row is harmless;
  *      the reverse would silently stop deduping against those docs).
  *
  * Corpus-text pruning: the candidate corpus ids per batch are bounded
  * (|batch| × matched buckets, capped further by `maxBucketSize`), so
  * they are extracted driver-side (a BOUNDED model-style collect, capped
  * at `idPushdownCap`, like the codebook samples in Similarity) and
  * pushed into the corpus scan as an `isin` filter. Because ingestion
  * appends one file-set per batch, corpus files carry disjoint id
  * ranges, and parquet min/max stats skip every file/row-group holding
  * no candidate — per-batch corpus-scan BYTES stay flat as the corpus
  * grows (BASELINE.md, "Ingestion-loop corpus-scan bytes (round 9)"). Above
  * the cap the loop falls back to the previous full-scan left-semi
  * shape (correct, just not pruned).
  *
  * Exactly-once: `foreachBatch` replays a batch after a failure, and a
  * plain parquet append would then double-append. With `batchId` set
  * (what [[attach]] passes), every appended row is stamped with an
  * `ingest_batch` column and each store is append-keyed by it:
  *   - a replayed batch recomputes against reads that EXCLUDE its own
  *     `ingest_batch` rows (so a half-written earlier attempt cannot
  *     make survivors match themselves), then appends only to the
  *     store(s) that do not already contain the batch — a full replay
  *     is a no-op, a partial failure between the two appends is
  *     repaired on replay (the computation is deterministic, so the
  *     missing half gets identical content);
  *   - seed the stores through [[seed]] so every file carries the
  *     `ingest_batch` column (mixed schemas across parquet files are
  *     resolved from an arbitrary file — do not mix stamped and
  *     unstamped writes in one store).
  * With `batchId = None` the appends are plain (backfills that manage
  * idempotence externally).
  */
object IncrementalDedup {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Bucketed band store: (catalog table name, bucket count). With this
    * set, the band table is a `bucketBy(n, band_idx, band_hash)` table
    * (the [[graft.sources.Bucketing]] co-location discipline applied to
    * the ingest loop's hot join): the per-batch candidate join reads
    * the stored buckets IN PLACE — zero corpus-side exchange, zero sort
    * (shuffle-hash build on the batch side) — where the plain parquet
    * path re-shuffles the whole band table every trigger. The table is
    * registered in the session catalog (a production deployment points
    * the session at a persistent metastore so the registration survives
    * restarts; the PATH always holds the data either way).
    *
    * MEASURED HONESTLY (BASELINE.md r16): at the sf10 replay shapes this
    * is a NET LOSS for the STREAMING loop — 1,852 vs 1,955 docs/s at
    * 50k-doc batches and 455 vs 920 at 10k-doc batches — because every
    * bucketed APPEND writes one file per (task × bucket): 49 appends ×
    * 32 buckets left ~2,400 band files whose per-file open/footer cost
    * exceeds the one exchange the layout saves (the plain path's shuffle
    * of a few-million-row band table is cheap). Use the bucketed layout
    * where it actually pays: a band table written ONCE (or compacted on
    * a cadence — [[graft.sources.Lake.compact]]) and probed MANY times,
    * i.e. the recurring-audit [[graft.operators.Dedup.candidatesFromBanded]]
    * path, not a high-frequency append loop.
    */
  final case class BandTable(name: String, buckets: Int)

  /** Write the initial (already-deduplicated) corpus and its UNCAPPED
    * band table, stamped with `ingest_batch = -1` so subsequent
    * [[ingestBatch]] appends keep a uniform schema. Band parameters are
    * [[Dedup.bandedSignatures]]' defaults — the same ones
    * [[ingestBatch]] bands each batch with.
    */
  def seed(
      docs: DataFrame,
      corpusDir: String,
      bandsDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      bandTable: Option[BandTable] = None
  ): Unit = {
    clusterById(
      docs.select(col(idCol), col(textCol)).withColumn(BatchCol, lit(-1L)), idCol,
      docs.sparkSession.sessionState.conf.numShufflePartitions)
      .write.mode("overwrite").parquet(corpusDir)
    val bands = Dedup.bandedSignatures(docs, idCol, textCol).withColumn(BatchCol, lit(-1L))
    bandTable match {
      case Some(BandTable(name, n)) =>
        docs.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
        bands.write.mode("overwrite")
          .option("path", bandsDir)
          .bucketBy(n, "band_idx", "band_hash")
          .saveAsTable(name)
      case None =>
        bands.write.mode("overwrite").parquet(bandsDir)
    }
  }

  /** Range-cluster a corpus append on the id so every written file (and
    * row group) covers a TIGHT contiguous id span — that is what lets
    * the candidate-id `isin` fetch skip non-candidate files via parquet
    * min/max stats. An unclustered append (hash-partitioned survivors)
    * gives every file the full batch's id range and nothing ever skips.
    *
    * `parts` sizes the append's file fan-out from the already-counted
    * survivor volume (r19): the old shape wrote one file per SHUFFLE
    * partition per trigger regardless of batch size, so a 17-doc batch
    * appended up to 8 near-empty files per store — the file-count
    * growth term the compaction cadence exists to bound grew 8× faster
    * than the data. One file per ~50k rows keeps small-batch appends at
    * exactly one file while large backfill batches still fan out.
    */
  private def clusterById(df: DataFrame, idCol: String, parts: Int): DataFrame =
    df.repartitionByRange(parts, col(idCol)).sortWithinPartitions(idCol)

  private def withoutBatch(df: DataFrame, bid: Option[Long]): DataFrame =
    bid match {
      case Some(b) if df.columns.contains(BatchCol) =>
        df.filter(col(BatchCol) =!= lit(b))
      case _ => df
    }

  /** One micro-batch of the ingestion loop — steps 1–4 above, batch
    * API. Callable directly (unit tests, backfills) or from
    * [[attach]]'s `foreachBatch`.
    *
    * @param batchId       stamp + idempotence key for the appends (see
    *                      the object scaladoc); [[attach]] passes the
    *                      streaming batch id
    * @param idPushdownCap max candidate-corpus-id count pushed into the
    *                      corpus scan as an `isin` filter; above it the
    *                      verify fetch falls back to a full corpus scan
    * @return              true iff it appended stamped rows (false for a
    *                      replay no-op or a batch with no survivor)
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      corpusDir: String,
      bandsDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.4,
      maxBucketSize: Option[Int] = None,
      batchId: Option[Long] = None,
      idPushdownCap: Int = 100000,
      bandTable: Option[BandTable] = None,
      probeReplay: Boolean = true
  ): Boolean = {
    // a crash inside a previous trigger's compaction can leave the live
    // directory set aside at <dir>.__compact_old — repair before reading
    // (two existence checks when healthy; see Lake.recoverCompact)
    Lake.recoverCompact(corpusDir)
    if (bandTable.isEmpty) Lake.recoverCompact(bandsDir)
    val corpusRaw = Lake.read(spark, corpusDir)
    // bucketed mode reads through the CATALOG — a path read would drop
    // the bucket spec and the join would re-shuffle the whole table
    val bandsRaw = bandTable match {
      case Some(t) => spark.table(t.name)
      case None => Lake.read(spark, bandsDir)
    }
    // probeReplay = false skips both probe jobs — only safe when the
    // caller KNOWS the id is fresh (StoreGuard.ReplayProbe)
    val (doneBands, doneCorpus) = batchId match {
      case Some(b) if probeReplay =>
        (StoreGuard.hasBatch(bandsRaw, BatchCol, b), StoreGuard.hasBatch(corpusRaw, BatchCol, b))
      case _                      => (false, false)
    }
    if (doneBands && doneCorpus) return false // replayed batch: full no-op

    val corpus = withoutBatch(corpusRaw, batchId)
    val candsRaw = bandTable match {
      case Some(_) =>
        Dedup.candidatesAgainstBandedColocated(
          batch, withoutBatch(bandsRaw, batchId), idCol, textCol,
          maxBucketSize = maxBucketSize)
      case None =>
        Dedup.candidatesAgainstBanded(batch, withoutBatch(bandsRaw, batchId), idCol, textCol,
          maxBucketSize = maxBucketSize)
    }
    val cands = candsRaw
      .select(col("new_id").as("doc1"), col("corpus_id").as("doc2"))
      .persist()
    // the pins are released in `finally`: a failed append must not leave
    // a batch cached for the life of the session (each supervised restart
    // would add one more)
    try {
    // Candidate-id pushdown: fetch corpus text ONLY for docs some batch
    // doc banded with. The collect is bounded by idPushdownCap (the
    // justified model-style bound — ids, not data); the isin filter
    // reaches the parquet scan, and because appends are id-range
    // clustered ([[clusterById]]) the file/row-group min/max stats skip
    // the (overwhelming at scale) non-candidate corpus majority: scan
    // bytes track the CANDIDATE count, not the corpus size. Parquet
    // degrades an In filter with > inFilterThreshold values to one
    // min/max range (which spans everything for scattered candidates),
    // so the threshold is raised to the cap for the duration of the
    // batch and restored after.
    val candIdRows = cands.select(col("doc2")).distinct().limit(idPushdownCap + 1).collect()
    val inThresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prevInThreshold = spark.conf.get(inThresholdKey, "10")
    val pruned = candIdRows.length <= idPushdownCap
    if (pruned)
      spark.conf.set(inThresholdKey, math.max(10, idPushdownCap).toString)
    try {
    val corpusText =
      if (pruned)
        corpus.select(col(idCol), col(textCol))
          .filter(col(idCol).isin(candIdRows.map(_.get(0)).toSeq: _*))
      else corpus.select(col(idCol), col(textCol))
    val both = batch.select(col(idCol), col(textCol)).union(corpusText)
    val losers = Dedup
      .verifyCandidates(cands, both, idCol, textCol, minJaccard = minJaccard)
      .select(col("doc1").as(idCol)).distinct()
    val survivors0 = batch.join(losers, Seq(idCol), "left_anti")
    // materialize BEFORE either append: both writes must consume the
    // SAME survivor rows. The pin is detached from the stores
    // ([[ColumnBridge.detached]]): a persist over the plain chain does
    // not survive the bands append, whose `CacheManager.recacheByPath`
    // rebuilds every cached plan over bandsDir, so the corpus append
    // would recompute the survivors against the bands just written —
    // and without a batch id to exclude, each survivor then matches its
    // own bands and the corpus append loses every new doc
    val survivors = ColumnBridge.detached(Dedup.dropNearDuplicates(
      survivors0, idCol, textCol, minJaccard = minJaccard, maxBucketSize = maxBucketSize))
      .persist()
    try {
    val nSurvivors = survivors.count()
    val stamp = (df: DataFrame) => batchId.fold(df)(b => df.withColumn(BatchCol, lit(b)))
    // zero survivors ⇒ both appends would write empty part files that
    // still count toward the store's file-growth term — skip them (a
    // replay of an all-dup batch recomputes to the same no-op)
    if (!doneBands && nSurvivors > 0) {
      // band rows ≈ survivors × bands (bandedSignatures runs with its
      // defaults here, so DefaultBands is the actual multiplier — the
      // old ×32 estimate fanned large backfill appends into ~8× more
      // files than the 50k-row target; r19 ADVICE). Size the fan-out
      // like the corpus append instead of writing one near-empty file
      // per shuffle partition per trigger.
      val bandParts = StoreGuard.appendParts(spark, nSurvivors * Dedup.DefaultBands)
      val newBands = stamp(Dedup.bandedSignatures(survivors, idCol, textCol))
      bandTable match {
        case Some(BandTable(name, n)) =>
          // append with the SAME bucket spec: each batch adds one file
          // set per bucket; the bucketed scan unions a bucket's files,
          // so the exchange-free join property survives every append.
          // Repartition BY THE BUCKET COLUMNS (not round-robin): each
          // bucket's rows then concentrate in one task, so the append
          // emits at most one file per bucket actually present — a
          // round-robin spread would emit up to bandParts × n files
          // per batch (r19 ADVICE).
          newBands.repartition(bandParts, col("band_idx"), col("band_hash"))
            .write.mode("append")
            .bucketBy(n, "band_idx", "band_hash")
            .saveAsTable(name)
        case None =>
          newBands.repartition(bandParts)
            .write.mode("append").parquet(bandsDir)
      }
    }
    if (!doneCorpus && nSurvivors > 0)
      clusterById(stamp(survivors), idCol, StoreGuard.appendParts(spark, nSurvivors))
        .write.mode("append").parquet(corpusDir)
    // loop-health ride-along: rows = survivors appended (the count is
    // already materialized above, so this costs nothing either way)
    RuntimeEventBus.ingested(corpusDir, batchId, nSurvivors)
    nSurvivors > 0
    } finally survivors.unpersist()
    } finally if (pruned) spark.conf.set(inThresholdKey, prevInThreshold)
    } finally cands.unpersist()
  }

  /** Attach the ingestion loop to a streaming frame of (idCol, textCol)
    * documents: every micro-batch runs [[ingestBatch]], keyed by the
    * streaming batch id so a `foreachBatch` replay after failure cannot
    * double-append. The caller owns the returned query's lifecycle
    * (awaitTermination / stop). Seed the stores with [[seed]] first.
    *
    * Maintenance guidance (measured, BASELINE.md r16/r17 300-batch
    * crossover): leave `compactEvery` off for short-lived loops — the
    * rewrites cost more than they save below roughly 500 store files
    * (the crossover sat at batch 75-100 of the measured replay). Past
    * that, plain per-batch walls keep growing with file count (3× over
    * 300 batches) while a compacting loop stays flat. `asyncCompact =
    * true` additionally moves the rewrite onto a background thread
    * ([[graft.sources.AsyncCompactor]]) so the trigger pays only the
    * swap — the best average and the flattest curve of the three
    * measured arms, at the price of rewrite CPU overlapping ingest.
    */
  def attach(
      arriving: DataFrame,
      corpusDir: String,
      bandsDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.4,
      maxBucketSize: Option[Int] = None,
      checkpointLocation: Option[String] = None,
      bandTable: Option[BandTable] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery = {
    val spark = arriving.sparkSession
    // asyncCompact moves the expensive REWRITE off the trigger path
    // (Lake.AsyncCompactor): the cadenced trigger only LAUNCHES the
    // background repack; the atomic swap + late-append rescue runs at
    // the start of a later trigger, on the loop thread. The r16 A/B
    // showed the in-trigger rewrite is what inflates compacting
    // triggers (max 40.9 s at 10k-doc batches) — this caps the loop's
    // per-trigger maintenance cost at two renames + a file-list diff.
    // The corpus repacks RANGE-clustered on the id so the candidate-id
    // min/max file skipping survives compaction; the band store repacks
    // sorted on the band key. Content-identical, so a replay around a
    // compaction is still a no-op. Plain-parquet stores only — a
    // bucketed catalog table's layout is owned by the catalog. Both
    // keep the spec-pinned `(bid + 1) % n` cadence (offset 1).
    val corpus = StoreLoop.Compacted(corpusDir, rangeCols = Seq(idCol), offset = 1)
    val compacted =
      if (bandTable.isEmpty)
        Seq(StoreLoop.Compacted(bandsDir, sortCols = Seq("band_idx", "band_hash"), offset = 1),
          corpus)
      else Seq(corpus)
    StoreLoop.attach(arriving, compacted, checkpointLocation, compactEvery,
      asyncCompact) { (batch, bid, probe) =>
      ingestBatch(spark, batch, corpusDir, bandsDir, idCol, textCol,
        minJaccard, maxBucketSize, batchId = Some(bid), bandTable = bandTable,
        probeReplay = probe)
    }
  }
}
