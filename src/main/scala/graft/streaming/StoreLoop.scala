package graft.streaming

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The one exactly-once store-loop engine behind every incremental
  * store's `attach` (BM25, HLL/KLL sketches, manifest, graph, ANN,
  * selection, SCD2, dedup) and every stamped output sink (the
  * DriftMonitor and QualityMonitor logs, the StreamingCuration
  * decontamination, NB and perplexity gates). [[attach]] is the only
  * `foreachBatch` of these; [[appendStamped]] is the stamped append of
  * a single store, and [[appendPinned]] that of the SCD2 and dedup
  * loops, whose two stores take one materialization (StoreLoopGuardSpec
  * sweeps the source for any other append).
  *
  * Protocol: the idempotent sink keyed by batch id of Structured
  * Streaming, with recovery by deterministic recomputation as in
  * D-Streams. Every appended row carries the `ingest_batch` stamp; a
  * batch re-delivered after a crash between its append and the
  * checkpoint commit finds its stamp in the store and no-ops, and since
  * the per-batch computation is deterministic, a half-written batch is
  * repaired with identical content.
  *
  * Per trigger, [[attach]] runs, in this order and on the loop thread:
  *   1. [[CompactCadence.finishPending]] for every compacted store —
  *      install a finished background rewrite before the batch reads;
  *   2. the store's ingest with `probeReplay = probe.needed`
  *      ([[StoreGuard.ReplayProbe]]: only the first trigger after a
  *      (re)start can be a replay);
  *   3. `probe.ingested()`, only when the ingest appended stamped rows;
  *   4. [[CompactCadence.maybeCompact]] for every compacted store.
  */
private[streaming] object StoreLoop {

  val BatchCol = "ingest_batch"

  /** One compacted directory of a store and its repack layout: pick
    * `sortCols`/`rangeCols` for the store's probe pattern. `offset`
    * shifts the cadence (see [[CompactCadence]]).
    */
  final case class Compacted(
      dir: String,
      sortCols: Seq[String] = Nil,
      rangeCols: Seq[String] = Nil,
      offset: Int = 0)

  /** Start the loop: `ingest(batch, batchId, probeReplay)` returns true
    * iff it appended rows stamped with `batchId` (false for a replay
    * no-op and for a batch with nothing to append). The caller owns the
    * returned query's lifecycle.
    */
  def attach(
      arriving: DataFrame,
      compacted: Seq[Compacted],
      checkpointLocation: Option[String],
      compactEvery: Option[Int],
      asyncCompact: Boolean
  )(ingest: (DataFrame, Long, Boolean) => Boolean): StreamingQuery = {
    val spark = arriving.sparkSession
    val cadences = compacted.map(c => new CompactCadence(spark, c.dir, compactEvery,
      asyncCompact, c.sortCols, c.rangeCols, c.offset))
    val probe = new StoreGuard.ReplayProbe
    val writer = arriving.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        cadences.foreach(_.finishPending(bid))
        if (ingest(batch, bid, probe.needed)) probe.ingested()
        cadences.foreach(_.maybeCompact(bid))
      }
    checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The stamped append of every single-store loop and output sink;
    * returns true iff it appended rows stamped with `batchId`: false
    * when `batchId` is already in the store (a replay no-op) and when
    * `rows` is empty.
    *
    *   - heal a compaction the previous run crashed mid-swap BEFORE any
    *     read of the store (two existence checks when healthy —
    *     [[Lake.recoverCompact]]);
    *   - probe for the batch unless `probeReplay = false` (only safe
    *     when the caller KNOWS the id is fresh). [[StoreGuard]]
    *     tolerates a missing store, so the first batch bootstraps it;
    *   - stamp and write in ONE job, with no cache and no count: the
    *     file count comes from the plan's size estimate, on the driver
    *     ([[StoreGuard.sized]]: a micro-batch lands in one file instead
    *     of one per input or shuffle partition), and the row count for
    *     `batch.ingested` is observed on the write itself. A replay
    *     repair recomputes `rows`, which is deterministic, so no cached
    *     copy is needed;
    *   - a zero-row write still leaves one schema-only file (Spark writes
    *     partition 0 even when it is empty); it is removed, so an empty
    *     batch appends no file.
    */
  def appendStamped(
      spark: SparkSession,
      storeDir: String,
      batchId: Option[Long],
      probeReplay: Boolean
  )(rows: => DataFrame): Boolean = {
    Lake.recoverCompact(storeDir)
    val replay = batchId.exists(b =>
      probeReplay && StoreGuard.hasBatch(spark, storeDir, BatchCol, b))
    !replay && {
      val stamped = rows.withColumn(BatchCol, lit(batchId.getOrElse(-1L)))
      val observed = Observation()
      StoreGuard.sized(stamped.observe(observed, count(lit(1)).as("rows")))
        .write.mode("append").parquet(storeDir)
      val n = observed.get("rows").asInstanceOf[Long]
      if (n == 0) dropEmptyFile(spark, storeDir)
      RuntimeEventBus.ingested(storeDir, batchId, n)
      n > 0
    }
  }

  /** One store of an [[appendPinned]]: its dir, `skip` when the caller's
    * replay probe already found the batch there, and `layout`, which
    * lays the pinned rows out into the given number of files. `rowsPer`
    * is how many rows the layout writes per pinned row (band rows per
    * document); the file count is sized for count × rowsPer rows.
    */
  final case class Target(
      dir: String,
      skip: Boolean,
      layout: (DataFrame, Int) => DataFrame,
      rowsPer: Long = 1L)

  /** The stamped append of the loops whose stores take one row set: the
    * SCD2 head then version log, the dedup bands then corpus. Returns
    * the row count.
    *
    *   - pin `rows` once, detached from every store path
    *     ([[ColumnBridge.detached]]), and count them once. An append
    *     re-plans every cached plan over its dir
    *     (`CacheManager.recacheByPath`), so a pin over the plain plan
    *     would make a later target recompute the rows against the store
    *     an earlier target just wrote — and without a batch id to
    *     exclude, the rows then match themselves and are lost;
    *   - when there are rows, append to each target not skipped, in the
    *     given order, into [[StoreGuard.appendParts]] files, stamped
    *     with `batchId` (-1 without one: a store never mixes stamped and
    *     unstamped files) after the layout. A zero-row batch writes no
    *     file;
    *   - release the pin in `finally`: a failed append must not leave
    *     the batch cached for the life of the session;
    *   - then publish `batch.ingested` for the last target, the commit
    *     point the caller's replay probe reads: a failed append
    *     publishes nothing.
    */
  def appendPinned(rows: DataFrame, batchId: Option[Long], targets: Seq[Target]): Long = {
    val spark = rows.sparkSession
    val pinned = ColumnBridge.detached(rows).persist()
    val n = try {
      val n = pinned.count()
      if (n > 0) targets.filterNot(_.skip).foreach { t =>
        t.layout(pinned, StoreGuard.appendParts(spark, n * t.rowsPer))
          .withColumn(BatchCol, lit(batchId.getOrElse(-1L)))
          .write.mode("append").parquet(t.dir)
      }
      n
    } finally pinned.unpersist()
    RuntimeEventBus.ingested(targets.last.dir, batchId, n)
    n
  }

  /** Delete the newest zero-row parquet file of `dir`: the schema-only
    * file a zero-row append just wrote. The loop thread is the store's
    * only appender, so that file is the newest; any zero-row file holds
    * no rows, so the store's content is the same whichever is taken.
    * Runs only after an empty append.
    */
  private def dropEmptyFile(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(-_.getModificationTime)
      .find { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount == 0 finally r.close()
      }
      .foreach(f => fs.delete(f.getPath, false))
  }
}
