package graft.streaming

import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally-maintained link-graph store: crawl batches append
  * their observed edges to ONE batch-stamped parquet store; degree and
  * PageRank snapshots DERIVE from the store at read time, so there is
  * no second table to keep transactionally in step (the
  * [[IncrementalBm25]] / [[IncrementalSketches]] shape, applied to the
  * curation link graph).
  *
  * Semantics: the graph is a SET of edges — a crawl re-observing a
  * link is a no-op at load time (`loadEdges` collapses duplicates), so
  * ingestion is idempotent both at the batch level (batch-stamped
  * replays skip) and at the edge level (re-observations don't reweight
  * PageRank). Deletions (dead links) rebuild, like the dedup corpus
  * stores.
  *
  * Cost model at 100 TB (SCALE.md): ingest is O(batch) — one stamped
  * append, no read of the accumulated store on the write path.
  * Snapshots are global by nature (PageRank is a whole-graph fixpoint):
  * `rankSnapshot` costs O(iterations × |E|) WHEN TAKEN, which a
  * pipeline schedules periodically (daily host-rank refresh), not
  * per-batch — the store's job is to make ingestion flat and the
  * periodic global pass read an already-materialized edge list instead
  * of re-crawling.
  */
object IncrementalGraph {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Write the initial edge store (`ingest_batch = -1`). */
  def seed(
      edges: DataFrame,
      storeDir: String,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): Unit =
    edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Append one micro-batch's edges; replay-idempotent with `batchId`
    * set. Bootstraps a missing store (attach without seed).
    * `probeReplay = false` skips the store probe — only safe when the
    * caller KNOWS the id is fresh ([[StoreGuard.ReplayProbe]]).
    * Returns false iff the batch was a replay no-op.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      srcCol: String = "src",
      dstCol: String = "dst",
      batchId: Option[Long] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      batch.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** The accumulated edge SET (duplicates across observations/batches
    * collapsed — one distinct, the only shuffle a snapshot pays before
    * the graph pass itself).
    */
  def loadEdges(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir).select(col("src"), col("dst")).distinct()

  /** Node frame implied by the store: every id that appears on either
    * edge end.
    */
  def loadNodes(spark: SparkSession, storeDir: String): DataFrame = {
    val e = spark.read.parquet(storeDir)
    e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
  }

  /** In/out degrees over the accumulated edge set. */
  def degreeSnapshot(spark: SparkSession, storeDir: String): DataFrame =
    Graph.degrees(loadNodes(spark, storeDir), loadEdges(spark, storeDir))

  /** PageRank over the accumulated edge set — identical by construction
    * to [[Graph.pageRank]] over a from-scratch edge list (spec-pinned
    * `==`, the store adds no approximation).
    */
  def rankSnapshot(
      spark: SparkSession,
      storeDir: String,
      iterations: Int = 5,
      damping: Double = 0.85,
      checkpointDir: Option[String] = None
  ): DataFrame =
    Graph.pageRank(
      loadNodes(spark, storeDir),
      loadEdges(spark, storeDir),
      iterations,
      damping,
      checkpointDir = checkpointDir)

  /** Fixpoint refresh over the accumulated edge set, warm-startable
    * from the previous snapshot. PageRank is globally defined and
    * cannot be updated per-batch; the refresh is tolerance-stopped and
    * returns its round count. Warm starts begin closer to the fixpoint
    * but rounds-to-tol is spectrum-dependent (see
    * [[Graph.pageRankConverged]]) — observe the returned count rather
    * than assuming a saving.
    *
    * @return (ranks, rounds taken)
    */
  def rankSnapshotConverged(
      spark: SparkSession,
      storeDir: String,
      tol: Double = 1e-8,
      maxRounds: Int = 500,
      damping: Double = 0.85,
      warmStart: Option[DataFrame] = None,
      checkpointDir: Option[String] = None
  ): (DataFrame, Int) =
    Graph.pageRankConverged(
      loadNodes(spark, storeDir),
      loadEdges(spark, storeDir),
      tol,
      maxRounds,
      damping,
      init = warmStart,
      checkpointDir = checkpointDir)

  /** Attach the edge-store maintenance loop to an edge stream.
    * `compactEvery` folds the per-batch file accretion back
    * ([[CompactCadence]]), RANGE-clustered on `src` so a neighborhood
    * probe can skip whole files on min/max stats; `asyncCompact` moves
    * the rewrite off the trigger path.
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      srcCol: String = "src",
      dstCol: String = "dst",
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir, rangeCols = Seq("src"))),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, srcCol, dstCol,
        batchId = Some(bid), probeReplay = probe)
    }
}
