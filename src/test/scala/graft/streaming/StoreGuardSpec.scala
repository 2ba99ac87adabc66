package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The replay-idempotence guard's failure taxonomy: genuine ABSENCE
  * (no store yet / no committed footers) reads as "batch not seen" so
  * the first micro-batch can bootstrap, but any OTHER read failure
  * (here: a corrupt file where a parquet footer should be) PROPAGATES —
  * swallowing it would let a replayed batch double-append, the exact
  * corruption the guard exists to prevent.
  */
class StoreGuardSpec extends SparkSpec {
  import spark.implicits._

  private val B = "ingest_batch"

  test("missing dir and committed store read as absent / present correctly") {
    val root = java.nio.file.Files.createTempDirectory("graft_sg").toString
    assert(!StoreGuard.hasBatch(spark, s"$root/nope", B, 1L))
    assert(StoreGuard.readStore(spark, s"$root/nope").isEmpty)

    val dir = s"$root/store"
    Seq((1L, "a"), (2L, "b")).toDF(B, "v").write.parquet(dir)
    assert(StoreGuard.hasBatch(spark, dir, B, 1L))
    assert(!StoreGuard.hasBatch(spark, dir, B, 9L))
    // store readable but lacking the batch column: not seen, no throw
    val noCol = s"$root/nocol"
    Seq("x").toDF("v").write.parquet(noCol)
    assert(!StoreGuard.hasBatch(spark, noCol, B, 1L))
  }

  test("an empty dir (partial write, no footers) reads as absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sg_empty").toString
    assert(StoreGuard.readStore(spark, dir).isEmpty)
    assert(!StoreGuard.hasBatch(spark, dir, B, 1L))
  }

  test("a corrupt store PROPAGATES instead of reading as 'batch not seen'") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sg_bad").toString
    val f = new java.io.FileOutputStream(s"$dir/part-00000.parquet")
    try f.write("this is not a parquet file".getBytes("UTF-8"))
    finally f.close()
    assertThrows[Exception](StoreGuard.hasBatch(spark, dir, B, 1L))
  }

  test("absent-store probes fail no query, even after an observed stamped append") {
    val root = Files.createTempDirectory("graft_sg_listen")
    // the stamped append's Dataset.observe registers Spark's observation
    // listener, which rethrows (and logs) every failed query
    IncrementalBm25.ingestBatch(spark, Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      root.resolve("bm25").toString, batchId = Some(0L))
    val empty = Files.createDirectory(root.resolve("empty"))
    Files.createFile(empty.resolve("_SUCCESS"))
    val failures = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        failures.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      assert(StoreGuard.readStore(spark, root.resolve("missing").toString).isEmpty)
      assert(StoreGuard.readStore(spark, empty.toString).isEmpty)
      ListenerBusBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(failures.get == 0, s"${failures.get} failed queries around absent-store reads")
  }
}
