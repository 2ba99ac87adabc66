package graft.examples

import graft.{GraftSession, Profile}
import graft.sources.Tables
import graft.streaming.IncrementalScd2
import org.apache.spark.sql.functions._

/** Scale evidence for the continuously-maintained SCD2 loop — the
  * [[IngestionScale]] protocol applied to [[IncrementalScd2]]: feed the
  * events changelog through `ingestBatch` in ts-ordered batches (the
  * per-key non-decreasing-time contract) and print, while the VERSION
  * LOG grows:
  *   - per-batch WALL seconds for the full loop body (collapse +
  *     open-fetch + cross-batch collapse + two appends + head fold);
  *   - the open-version fetch cost per batch in scan BYTES
  *     ([[graft.Profile]] read bytes, the [[IngestionScale]] counter
  *     rationale), replaying the exact fetch `ingestBatch` runs against
  *     the compacted HEAD store next to the pre-round-12 shape that
  *     semi-pruned the FULL version log.
  *
  * The claim under test: per-batch cost is O(|batch| + #keys) —
  * independent of how many VERSIONS the history has accreted. The head
  * store is the log-compacted latest-row-per-key (Kafka compacted-topic
  * semantics), so its size is pinned by key cardinality while the
  * version log grows without bound; flat head-fetch bytes next to
  * linearly-growing log-fetch bytes is the direct evidence.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain
  *       graft.examples.Scd2IngestionScale"` (numbers in BASELINE.md).
  */
object Scd2IngestionScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "5").toInt
    val spark = GraftSession.local()

    val profile = Profile.of(spark)
    def measureMb(body: => Unit): Double = profile.window(body)._2("read_bytes") / 1e6

    val K = Seq("user_id")
    val A = Seq("event_type")
    val T = Seq("event_id")
    val root = java.nio.file.Files.createTempDirectory("graft_scd2_scale").toString
    val storeDir = s"$root/scd2"

    // ts-ordered slices: global time order guarantees the per-key
    // ordering contract across batches
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val cuts = ev.stat.approxQuantile(
      "event_id", (0 to batches + 1).map(_.toDouble / (batches + 1)).toArray, 0.001)
    // event_id is assigned in ts order in the generator; ranging on it
    // gives equal-size, time-ordered batches without a global sort
    def slice(i: Int) = ev.filter(
      col("event_id") >= cuts(i) && (if (i == batches) lit(true) else col("event_id") < cuts(i + 1)))

    IncrementalScd2.seed(slice(0), storeDir, K, "ts", A, T)
    println(s"[scale] seeded from $sfDir: ${spark.read.parquet(storeDir).count()} versions, " +
      s"head ${spark.read.parquet(storeDir + "_open").count()} keys")
    spark.read.parquet(storeDir).agg(count(lit(1))).collect() // warmup reads

    (1 to batches).foreach { b =>
      val batch = slice(b)
      // key list materialized driver-side (1.5k keys) so the isolated
      // fetch below reads ONLY the store — with the events slice in the
      // plan, its scan dominates both arms and hides the contrast
      val keyRows = batch.select(col("user_id")).distinct().collect().map(_.getLong(0))
      val batchKeys = spark.createDataFrame(
        spark.sparkContext.parallelize(keyRows.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType))))

      // open-version fetch, isolated, MEASURED BEFORE the ingest (the
      // per-batch fold rename-swaps the head dir, so a pre-captured
      // DataFrame over it would dangle): the HEAD shape ingestBatch now
      // runs vs the pre-round-12 shape that semi-pruned the full
      // version log — same pre-batch store state either way
      def fetch(path: String): Unit = spark.read.parquet(path)
        .join(broadcast(batchKeys), K, "left_semi")
        .groupBy(col("user_id"))
        .agg(graft.functions.BoundedHeap
          .maxBy(struct(col("event_type")), struct(col("ts"), col("event_id")))
          .as("__open"))
        .agg(count(lit(1))).collect()
      val headMb = measureMb(fetch(storeDir + "_open"))
      val logMb = measureMb(fetch(storeDir))

      val t0 = System.nanoTime()
      IncrementalScd2.ingestBatch(spark, batch, storeDir, K, "ts", A, T,
        batchId = Some(b.toLong))
      val sec = (System.nanoTime() - t0) / 1e9
      val logNow = spark.read.parquet(storeDir).count()
      val headNow = spark.read.parquet(storeDir + "_open").count()
      println(f"[scale] batch $b: $sec%.2f s; open-fetch head $headMb%.2f MB " +
        f"vs version-log $logMb%.2f MB; log $logNow versions, head $headNow keys")
    }
    spark.stop()
  }
}
