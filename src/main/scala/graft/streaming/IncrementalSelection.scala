package graft.streaming

import graft.operators.{HashFamily, Selection}
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Streaming face of the DSIR bucket model ([[graft.operators.Selection]]):
  * each arriving micro-batch collapses to ONE persisted row — its
  * 2·buckets hashed-n-gram count vector — and any later fit question
  * (the log-ratio table, per-doc importance weights for NEW documents)
  * is answered by summing the KB-sized store. The crawl is touched
  * exactly once, at ingest; the model keeps absorbing fresh data
  * without ever re-reading history.
  *
  * This is the [[IncrementalSketches]] cost inversion applied to data
  * selection, and the identity is even stronger than the sketch
  * family's: bucket counts are plain longs, element-wise addition is
  * exact, and [[Selection.ratiosFromCountsRow]] derives both smoothing
  * totals from the vector itself — so the incrementally maintained
  * ratio table is IDENTICAL (double-for-double) to a from-scratch
  * [[Selection.dsirLogRatios]] over everything the store has seen
  * (StreamingSelectionSpec pins this, and that scoring through the
  * maintained store equals [[Selection.dsirScore]] on the full corpus).
  *
  * Scale shape: per-batch work is one [[graft.functions.GramBucketCounts]]
  * typed aggregate over the BATCH (each task ships a single 2·buckets
  * buffer — KBs on the exchange at any batch size); the store grows by
  * one ~16 KB row per batch; a ratio refresh reads |batches|·2·buckets
  * exploded cells — sub-second at thousands of batches. At 100 TB the
  * corpus-sized cost lives where it must (the ingest scan you were
  * already paying), and the model refresh is free.
  *
  * Exactly-once: the [[StoreLoop.appendStamped]] stamp discipline — a
  * replayed `foreachBatch` invocation sees its own batch id in the store
  * and no-ops; counting is deterministic, so a repaired append carries
  * identical content.
  */
object IncrementalSelection {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** The store's hash-parameter metadata lives in a one-row parquet
    * UNDER the store dir. The `_` prefix makes Spark's file index skip
    * it when `Lake.read(spark, storeDir)` reads the count rows, so
    * the data path never sees it; every write stamps it and every read
    * validates it, because a buckets/n/family mismatch between writer
    * and reader does not FAIL — it silently lands grams on the wrong
    * cells and produces confidently wrong ratios. Making the mismatch
    * loud is the whole point (the fit-vs-score family rule that
    * [[graft.operators.Classifier.HashedLogReg]] solves with a model
    * field, applied to a store that outlives any one process).
    */
  private def metaDir(storeDir: String): String =
    storeDir.stripSuffix("/") + "/_graft_meta"

  private def writeMeta(
      spark: SparkSession,
      storeDir: String,
      buckets: Int,
      n: Int,
      family: HashFamily
  ): Unit = {
    import spark.implicits._
    Seq((buckets, n, family.toString))
      .toDF("buckets", "n", "family")
      .coalesce(1)
      .write.mode("overwrite").parquet(metaDir(storeDir))
  }

  /** Require the persisted metadata (when present — a pre-metadata
    * store validates nothing rather than failing reads of old data) to
    * match the caller's parameters. `n`/`family` are optional because
    * [[ratios]] is family-agnostic: summing count vectors only needs
    * the right `buckets`.
    */
  private def checkMeta(
      spark: SparkSession,
      storeDir: String,
      buckets: Int,
      n: Option[Int],
      family: Option[HashFamily]
  ): Unit =
    StoreGuard.readStore(spark, metaDir(storeDir)).foreach { m =>
      val r = m.select(col("buckets"), col("n"), col("family")).head()
      require(r.getInt(0) == buckets,
        s"DSIR count store $storeDir was written with buckets=${r.getInt(0)}; " +
          s"caller passed buckets=$buckets — the slice windows would land on the wrong cells")
      n.foreach(v => require(r.getInt(1) == v,
        s"DSIR count store $storeDir was written with n=${r.getInt(1)}; caller passed n=$v"))
      family.foreach(f => require(r.getString(2) == f.toString,
        s"DSIR count store $storeDir was written with family=${r.getString(2)}; " +
          s"caller passed family=$f"))
    }

  private def countsRow(
      batch: DataFrame,
      textCol: String,
      isTarget: Column,
      buckets: Int,
      n: Int,
      family: HashFamily
  ): DataFrame =
    batch.agg(Selection.gramCountsAgg(col(textCol), isTarget, buckets, n, family).as("counts"))

  /** Write the initial count store from an existing corpus
    * (`ingest_batch = -1`), establishing the stamped schema. `isTarget`
    * marks the target-domain rows (the [[Selection.dsirLogRatios]]
    * convention: target ⊆ raw; an external target corpus unions in
    * with the flag set).
    */
  def seed(
      df: DataFrame,
      storeDir: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = 1024,
      n: Int = 2,
      family: HashFamily = HashFamily.Md5
  ): Unit = {
    // counts first, meta second: the overwrite deletes the whole store
    // dir (including a prior _graft_meta), so the stamp must follow it
    countsRow(df, textCol, isTarget, buckets, n, family)
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)
    writeMeta(df.sparkSession, storeDir, buckets, n, family)
  }

  /** Count one micro-batch and append its single vector row. With
    * `batchId` set, a replay is a no-op. `probeReplay = false` skips
    * BOTH the replay probe and the meta validation/bootstrap reads —
    * only safe after a prior fresh ingest through the same parameters
    * ([[StoreGuard.ReplayProbe]]: meta existence and legacy status
    * cannot change mid-run, and the parameters are fixed per attach).
    * Returns true iff it appended stamped rows (false for a replay
    * no-op or an empty append).
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = 1024,
      n: Int = 2,
      family: HashFamily = HashFamily.Md5,
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean = {
    // heal a compaction the previous run crashed mid-swap BEFORE any
    // read (the meta sidecar rides inside storeDir, so the swap heal
    // restores it too — Lake.rescueLateAppends carries subdirs). It must
    // run before checkMeta reads the store; appendStamped's own call
    // below then finds nothing to heal (two existence checks)
    Lake.recoverCompact(storeDir)
    if (probeReplay) checkMeta(spark, storeDir, buckets, Some(n), Some(family))
    // Bootstrap-stamp eligibility must be decided BEFORE the append: a
    // legacy pre-metadata store that already holds count rows must NOT
    // get the first post-upgrade caller's parameters stamped as canonical
    // (they may differ from what the legacy rows were written with —
    // r16 ADVICE). Only a truly NEW store (no meta AND no data rows)
    // bootstraps; legacy stores stay unstamped, with a one-line notice
    // that their parameters are unverifiable. Known conservative edge
    // (r17 ADVICE): a crash between a brand-new store's first append and
    // writeMeta permanently demotes that store to "legacy" — the replay
    // sees rows without meta and never stamps. Correctness is unharmed
    // (validation is skipped, not wrong); re-seed or hand-write the meta
    // row to restore loud mismatch checking.
    // probeReplay = false implies a prior fresh ingest already ran the
    // bootstrap decision: meta exists (stamped then or at seed) or the
    // store is legacy — either way the block below would no-op/renag
    val metaAbsent = probeReplay && StoreGuard.readStore(spark, metaDir(storeDir)).isEmpty
    val storeWasEmpty = metaAbsent && StoreGuard.readStore(spark, storeDir).isEmpty
    // the stamped append tolerates a missing/partial store:
    // attach-without-seed bootstraps on the first micro-batch
    val fresh = StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      countsRow(batch, textCol, isTarget, buckets, n, family))
    if (fresh && metaAbsent) {
      if (storeWasEmpty) writeMeta(spark, storeDir, buckets, n, family)
      else System.err.println(
        s"[graft] $storeDir: legacy store without _graft_meta — existing rows' " +
          "(buckets, n, family) unverifiable; not stamping caller parameters")
    }
    fresh
  }

  /** The maintained model: element-wise-sum the store's count vectors
    * (posexplode → one hash agg over |batches|·2·buckets tiny rows →
    * re-assemble in bucket order) and derive the smoothed log-ratio
    * table — exactly `buckets` rows, broadcast material, identical to a
    * from-scratch fit of everything ingested.
    */
  def ratios(spark: SparkSession, storeDir: String, buckets: Int = 1024): DataFrame = {
    checkMeta(spark, storeDir, buckets, None, None)
    val merged = Lake.read(spark, storeDir)
      .select(posexplode(col("counts")))
      .groupBy(col("pos")).agg(sum(col("col")).as("c"))
      .agg(collect_list(struct(col("pos"), col("c"))).as("__pc"))
      .select(transform(array_sort(col("__pc")), x => x.getField("c")).as("__v"))
    Selection.ratiosFromCountsRow(merged, buckets)
  }

  /** Score any frame (typically documents the store never saw) under
    * the maintained model — [[Selection.dsirWeights]] with the merged
    * ratio table: the ≤buckets-row model rides in as a literal array,
    * the scored frame never shuffles.
    */
  def score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      storeDir: String,
      buckets: Int = 1024,
      n: Int = 2,
      family: HashFamily = HashFamily.Md5
  ): DataFrame = {
    checkMeta(df.sparkSession, storeDir, buckets, Some(n), Some(family))
    Selection.dsirWeights(
      df, idCol, textCol,
      ratios(df.sparkSession, storeDir, buckets),
      buckets, n, family)
  }

  /** Attach the count-store maintenance loop to a stream. The store
    * grows ONE KB-scale row per batch, but one FILE SET per batch too —
    * `compactEvery` folds the accretion back ([[CompactCadence]]); the
    * `_graft_meta` sidecar rides through the swap untouched
    * (Lake.rescueLateAppends carries subdirectories).
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = 1024,
      n: Int = 2,
      family: HashFamily = HashFamily.Md5,
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir)),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, textCol, isTarget, buckets, n,
        family, batchId = Some(bid), probeReplay = probe)
    }
}
