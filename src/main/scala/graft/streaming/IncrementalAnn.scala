package graft.streaming

import graft.operators.Similarity
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuously-maintained IVF index — the [[IncrementalBm25]] pattern
  * for vectors: the expensive corpus-side work of ANN serving is the
  * CELL ASSIGNMENT (per vector, a fold over the centroid table — the
  * term the round-11 `assignCellsApprox` fix tamed), and a batch
  * pipeline that re-runs [[Similarity.ivfTopK]] per query batch re-pays
  * it for the WHOLE corpus every time. Here each vector is assigned
  * once, when it arrives:
  *
  *   - [[seed]]: assign the existing corpus, persist (id, vec, cell)
  *     rows — the index IS a parquet table of assignments;
  *   - [[ingestBatch]]: assign ONLY the arriving batch and append —
  *     per-batch cost O(|batch| · assign), independent of corpus size;
  *     replay-idempotent via the `ingest_batch` stamp ([[StoreGuard]]);
  *   - [[serve]]: query-side nprobe cell ranking + the cell equi-join
  *     against the PERSISTED assignments
  *     ([[Similarity.topKAgainstCells]]) — the corpus contributes a
  *     scan + equi-join probe and nothing else. Identity with a fresh
  *     `ivfTopK` over the same corpus/centroids is spec-pinned
  *     (IncrementalAnnSpec).
  *
  * The centroid table is pinned at seed time (passed by the caller and
  * reused verbatim for every ingest/serve): assignments are only
  * comparable under ONE quantizer. Re-training centroids (corpus
  * drifted; [[Similarity.lloydCentroids]]) means re-seeding —
  * the classic IVF rebuild, done at rebuild cadence, not per batch.
  *
  * 100 TB shape: the store carries one row per vector with its cell —
  * at serve time only the probed cells' rows survive the equi-join
  * (cell is the leading filter), and the assignment term amortizes to
  * ingest. Files are appended per batch; fold the accretion back with
  * [[graft.sources.Lake.compact]] at `compactEvery` cadence, sorted by
  * cell so parquet min/max row-group stats prune un-probed cells at
  * serve time.
  */
object IncrementalAnn {

  private[graft] val BatchCol = StoreLoop.BatchCol

  /** Initialize the store: assign every corpus vector to its cell. */
  def seed(
      corpus: DataFrame,
      storeDir: String,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      assignPlanes: Option[Int] = None
  ): Unit =
    assigned(corpus, centroids, idCol, vecCol, assignPlanes)
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").parquet(storeDir)

  /** Assign one arriving batch and append it to the index.
    * `probeReplay = false` skips the store probe — only safe when the
    * caller KNOWS the id is fresh ([[StoreGuard.ReplayProbe]]).
    * Returns true iff it appended stamped rows (false for a replay
    * no-op or an empty append).
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Option[Long] = None,
      assignPlanes: Option[Int] = None,
      probeReplay: Boolean = true
  ): Boolean =
    StoreLoop.appendStamped(spark, storeDir, batchId, probeReplay)(
      assigned(batch, centroids, idCol, vecCol, assignPlanes))

  /** Top-k cosine neighbors for `queries` against the persisted index —
    * no corpus-side assignment, just the probe.
    */
  def serve(
      spark: SparkSession,
      storeDir: String,
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 1
  ): DataFrame =
    Similarity.topKAgainstCells(
      queries,
      Lake.read(spark, storeDir).drop(BatchCol),
      centroids, idCol, vecCol, k, nprobe)

  /** Drive the loop from a stream of arriving vectors; `compactEvery`
    * folds the per-batch file accretion back, CELL-SORTED so serve-time
    * row-group pruning keeps working (see class doc). `asyncCompact`
    * moves the rewrite off the trigger path (the IncrementalDedup
    * discipline — see that attach's measured guidance).
    */
  def attach(
      arriving: DataFrame,
      storeDir: String,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      checkpointLocation: Option[String] = None,
      assignPlanes: Option[Int] = None,
      compactEvery: Option[Int] = None,
      asyncCompact: Boolean = false
  ): StreamingQuery =
    StoreLoop.attach(arriving, Seq(StoreLoop.Compacted(storeDir, sortCols = Seq("cell"))),
      checkpointLocation, compactEvery, asyncCompact) { (batch, bid, probe) =>
      ingestBatch(arriving.sparkSession, batch, storeDir, centroids, idCol, vecCol,
        batchId = Some(bid), assignPlanes = assignPlanes, probeReplay = probe)
    }

  private def assigned(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      assignPlanes: Option[Int]
  ): DataFrame = {
    val slim = vectors.select(col(idCol), col(vecCol))
    val a = assignPlanes match {
      case Some(p) => Similarity.assignCellsApprox(slim, centroids, vecCol, p)
      case None    => Similarity.assignCells(slim, centroids, vecCol)
    }
    a.select(col(idCol), col(vecCol), col("cell"))
  }
}
