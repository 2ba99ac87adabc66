package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.StreamingQuery

/** The per-attach replay-probe memoization ([[StoreGuard.ReplayProbe]]):
  * a loop probes the store until its first FRESH ingest, then skips the
  * probe — safe because checkpointed batch ids are monotone within a
  * run and only the first trigger after a (re)start can be a replay.
  * The conservative branch matters for UNcheckpointed reruns, whose
  * batch ids restart at 0: a replay-SKIPPED trigger must keep probing,
  * and so must a trigger that appended nothing (it leaves no stamp for
  * the rerun's probe to find), or stale ids would double-append.
  */
class ReplayProbeSpec extends SparkSpec {
  import spark.implicits._

  test("probe stays armed across replay-skips and disarms on the first fresh ingest") {
    val p = new StoreGuard.ReplayProbe
    assert(p.needed, "a new attach must probe its first trigger")
    // replay-skipped triggers do NOT disarm (the attach only calls
    // ingested() when ingestBatch returns true)
    assert(p.needed)
    p.ingested()
    assert(!p.needed, "after a fresh ingest the probe is off for the run")
  }

  test("an uncheckpointed re-attach replays old batch ids without duplicating, then ingests fresh ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_probe_rerun").toString
    val store = s"$root/edges"
    def edges(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, i.toLong + 1))
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // run 1 (no checkpoint): batches 0 and 1 land
    val mem1 = MemoryStream[(Long, Long)]
    val q1 = IncrementalGraph.attach(mem1.toDF().toDF("src", "dst"), store)
    try {
      mem1.addData(edges(0, 10): _*); q1.processAllAvailable()
      mem1.addData(edges(10, 20): _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(store).count() == 20)

    // run 2 (no checkpoint, fresh source): ids restart at 0. Batch 0
    // and batch 1 carry the same ids as run 1's — BOTH must be
    // probe-skipped (the first skip must not disarm the probe), and
    // only the genuinely new batch 2 may append.
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = IncrementalGraph.attach(mem2.toDF().toDF("src", "dst"), store)
    try {
      mem2.addData(edges(0, 10): _*); q2.processAllAvailable()
      mem2.addData(edges(10, 20): _*); q2.processAllAvailable()
      mem2.addData(edges(20, 30): _*); q2.processAllAvailable()
    } finally q2.stop()
    val byBatch = spark.read.parquet(store)
      .groupBy($"ingest_batch").count()
      .as[(Long, Long)].collect().toMap
    assert(byBatch == Map(0L -> 10L, 1L -> 10L, 2L -> 10L),
      s"each batch id exactly once, got $byBatch")

    // the contract the probe leans on, stated as code: with the probe
    // forced OFF, a replayed id double-appends — which is exactly why
    // attach only disarms after a FRESH ingest
    IncrementalGraph.ingestBatch(
      spark, edges(0, 10).toDF("src", "dst"), store, batchId = Some(0L),
      probeReplay = false)
    assert(spark.read.parquet(store).filter($"ingest_batch" === 0L).count() == 20L)
  }

  test("an uncheckpointed rerun past a batch that appended nothing does not double-append (monitors)") {
    val root = java.nio.file.Files.createTempDirectory("graft_probe_empty").toString
    val edges = Seq(10.0, 20.0, 40.0)
    DriftMonitor.seedReference((0 until 40).map(_.toDouble).toDF("v"), "v", edges, s"$root/ref")
    val checks = Seq(graft.operators.Quality.Complete("v"))
    // negative values are filtered out before the sink, so the middle
    // batch reaches it empty and appends nothing
    val monitors = Seq[(String, org.apache.spark.sql.DataFrame => StreamingQuery)](
      "drift" -> (in => DriftMonitor.attach(in, "v", edges, s"$root/ref", s"$root/drift")),
      "quality" -> (in => QualityMonitor.attach(in, checks, s"$root/quality")))
    val batches = Seq((0 until 30).map(_.toDouble), Seq(-1.0, -2.0), (5 until 45).map(_.toDouble))
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def run(attach: org.apache.spark.sql.DataFrame => StreamingQuery, data: Seq[Seq[Double]]): Unit = {
      val mem = MemoryStream[Double]
      val q = attach(mem.toDF().toDF("v").filter($"v" >= 0))
      try data.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    def byBatch(dir: String): Map[Long, Long] =
      spark.read.parquet(dir).groupBy($"ingest_batch").count().as[(Long, Long)].collect().toMap

    for ((name, attach) <- monitors) {
      val dir = s"$root/$name"
      run(attach, batches)
      val first = byBatch(dir)
      assert(first.keySet == Set(0L, 2L), s"$name: first run logged $first")
      // the rerun restarts ids at 0: batches 0-2 are the logged ones
      // again, and only batch 3 is new
      run(attach, batches :+ (10 until 20).map(_.toDouble))
      assert(byBatch(dir) == first + (3L -> first(0L)), s"$name: rerun logged ${byBatch(dir)}")
    }
  }
}
