package graft.streaming

import graft.operators.TextAnalysis
import graft.operators.TextAnalysis.Bm25Index
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Incrementally-maintained BM25 index: each arriving micro-batch
  * appends its documents' term-frequency rows to ONE persisted store;
  * document frequencies and corpus stats are DERIVED from that store,
  * once per store file set ([[load]]), so there is no second table to
  * keep transactionally in step — the maintainer inherits exactly-once
  * from a single batch-stamped append (the [[IncrementalSketches]]
  * shape, applied to retrieval).
  *
  * Contract (spec-pinned): `bm25Serve(load(store))` returns the SAME
  * ranking as a from-scratch [[TextAnalysis.bm25Index]] over the
  * accumulated corpus — tf/df/N are exact counts either way, and the
  * df/stats derivation is one O(|tf|) aggregate over the store, never a
  * corpus re-tokenization. Per-batch cost: tokenize THE BATCH, one hash
  * agg, one append. Append-only (deletions rebuild, like the dedup
  * corpus stores).
  */
object IncrementalBm25 {

  private[graft] val BatchCol = StoreLoop.BatchCol

  private def tfOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("double"))
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** Write the initial tf store (`ingest_batch = -1`). */
  def seed(
      corpus: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit =
    tfOf(corpus, idCol, textCol)
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Append one micro-batch's tf rows; replay-idempotent with
    * `batchId` set. `probeReplay = false` skips the store probe — only
    * safe when the caller KNOWS the id is fresh
    * ([[StoreGuard.ReplayProbe]]). Returns true iff it appended stamped
    * rows (false for a replay no-op or an empty append).
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      tfOf(batch, idCol, textCol))

  /** Load the store as a servable [[Bm25Index]]: df and corpus stats
    * derive from the tf rows (df = terms' doc counts; N/avgdl from the
    * per-doc lengths, one row per doc via the (id, dl) projection),
    * once per store file set. The store is read through [[Lake.read]],
    * so loading runs no Spark job: the schema comes from one footer on
    * the driver, and the first job is the caller's first serve.
    *
    * The derived df table and stats row are persisted, one entry per
    * store dir, keyed by the session, the id column and the exact file
    * set of the tf frame this load returns (`Dataset.inputFiles`, read
    * from the relation's file index on the driver: no job, no second
    * listing), so the statistics always match the rows being scored.
    * Every graft write of the store creates new file names (part files
    * carry a per-write UUID) and none rewrites a file in place, so an
    * append, a compaction swap or an empty-file drop each changes the
    * key. On a key change the tables are re-derived as before and the
    * old entry is unpersisted (non-blocking). They derive from tf rows
    * detached from the store path ([[ColumnBridge.detached]]): Spark's
    * cache manager re-lists and re-plans every cached plan over a path
    * at each write to it, which would put that work on every ingest
    * trigger, and matches cached plans by root path. The first serve
    * after a change materializes the entry; later serves of the same
    * file set read it. Another file set replaces the store's entry, and
    * a load in another session drops the entries of every store (a
    * stopped session's too), so at most one live session's frames stay
    * pinned; a deleted store's frames go when that session stops or at
    * the next load in another session.
    */
  def load(
      spark: SparkSession,
      storeDir: String,
      idCol: String = "doc_id"
  ): Bm25Index = {
    val tf = Lake.read(spark, storeDir).drop(BatchCol)
    val d = Derived.of(spark, storeDir, tf, idCol)
    Bm25Index(tf, d.dfreq, d.stats, idCol)
  }

  /** One store's derived side tables, for `spark`, `idCol` and the tf
    * file set `files`. */
  private final case class Derived(
      spark: SparkSession, idCol: String, files: Set[String], dfreq: DataFrame, stats: DataFrame) {
    // a cleared cache (catalog.clearCache) re-derives rather than
    // recomputing both tables inside every serve
    def live: Boolean =
      dfreq.storageLevel != StorageLevel.NONE && stats.storageLevel != StorageLevel.NONE
    def release(): Unit =
      if (!spark.sparkContext.isStopped) {
        dfreq.unpersist(blocking = false)
        stats.unpersist(blocking = false)
      }
  }

  private object Derived {
    private val byStore = scala.collection.mutable.Map.empty[String, Derived]

    def of(spark: SparkSession, storeDir: String, tf: DataFrame, idCol: String): Derived = {
      val files = tf.inputFiles.toSet
      byStore.synchronized {
        byStore.filterInPlace { (_, d) =>
          val keep = (d.spark eq spark) && !d.spark.sparkContext.isStopped
          if (!keep) d.release()
          keep
        }
        byStore.get(storeDir)
          .filter(d => d.idCol == idCol && d.files == files && d.live)
          .getOrElse {
            byStore.remove(storeDir).foreach(_.release())
            val rows = ColumnBridge.detached(tf)
            val dfreq = rows.groupBy(col("term")).agg(count(lit(1)).as("df"))
            val docs = rows.select(col(idCol), col("dl")).groupBy(col(idCol))
              .agg(max(col("dl")).as("dl"))
            val stats = docs.agg(
              avg(col("dl")).as("avgdl"),
              count(lit(1)).cast("double").as("n"))
            val fresh = Derived(spark, idCol, files, dfreq.persist(), stats.persist())
            byStore(storeDir) = fresh
            fresh
          }
      }
    }
  }

  /** Attach the index maintenance loop to a document stream.
    *
    * `compactEvery` folds the per-batch file accretion back every N
    * batches ([[CompactCadence]] — the measured ~500–700-file
    * crossover applies to this store like any other; the tf store is
    * the LARGEST of the incremental stores, one row per (doc, term),
    * so a long-running loop goes footer-bound without it). The repack
    * RANGE-clusters on `term` so a serve-time term probe can skip
    * whole files on min/max stats — the df/stats derivation in
    * [[load]] aggregates everything (once per file set), but retrieval
    * touches only the query's terms. `asyncCompact` moves the rewrite
    * off the trigger path (the [[IncrementalDedup]] discipline —
    * measured guidance on that attach's scaladoc).
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir, rangeCols = Seq("term"))),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, idCol, textCol,
        batchId = Some(bid), probeReplay = probe)
    }
}
