package graft.streaming

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The one exactly-once store-loop engine behind every incremental
  * store's `attach` (BM25, HLL/KLL sketches, manifest, graph, ANN,
  * selection, SCD2, dedup) and every stamped output sink (the
  * DriftMonitor and QualityMonitor logs, the StreamingCuration
  * decontamination, NB and perplexity gates). [[attach]] is the only
  * `foreachBatch` of these, and [[appendStamped]] the only stamped
  * append outside the SCD2 and dedup bodies, whose two appends share
  * one materialization (StoreLoopGuardSpec sweeps the source for
  * any other).
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
