package graft.streaming

import graft.SparkSpec
import graft.sources.{Lake, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** [[Lake.read]] — the parquet read without a schema-inference job —
  * against Spark's own reader: same schema, same rows on every testdata
  * table and on an appended-then-compacted store; the absence contract
  * of [[StoreGuard.readStore]] unchanged; and building a table's
  * DataFrame runs no job at all.
  */
class LakeReadSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = testData("0.01")

  private def assertSameRead(path: String): Unit = {
    val fast = Lake.read(spark, path)
    val spark0 = spark.read.parquet(path)
    assert(fast.schema == spark0.schema, s"$path: schema differs")
    assert(fast.exceptAll(spark0).isEmpty && spark0.exceptAll(fast).isEmpty,
      s"$path: rows differ")
  }

  test("Lake.read equals spark.read.parquet on every testdata table") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try Tables.names.foreach { name =>
      // events reads under nanosAsLong, as Tables.load reads it
      spark.conf.set(key, (name == "events").toString)
      assertSameRead(s"$sfDir/$name.parquet")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Lake.read equals spark.read.parquet on a store after appends and a compaction") {
    val dir = Files.createTempDirectory("graft_lake_read").resolve("bm25").toString
    def docs(from: Int): DataFrame =
      (from until from + 5).map(i => (i.toLong, s"doc $i says alpha beta ${i % 3}"))
        .toDF("doc_id", "text")
    (0 until 3).foreach(b => IncrementalBm25.ingestBatch(spark, docs(5 * b), dir, batchId = Some(b)))
    Lake.compact(spark, dir, targetBytes = 1L << 30)
    (3 until 5).foreach(b => IncrementalBm25.ingestBatch(spark, docs(5 * b), dir, batchId = Some(b)))
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 3)
    assertSameRead(dir)
  }

  test("Lake.read equals spark.read.parquet on a streaming sink dir") {
    val root = Files.createTempDirectory("graft_lake_sink").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val q = in.toDF().writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/chk").start()
    try {
      in.addData(1L, 2L, 3L); q.processAllAvailable()
      in.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    assertSameRead(s"$root/out")
  }

  test("StoreGuard.readStore: a missing path and a _SUCCESS-only dir are absent stores") {
    val root = Files.createTempDirectory("graft_lake_absent")
    assert(StoreGuard.readStore(spark, root.resolve("missing").toString).isEmpty)
    val empty = Files.createDirectory(root.resolve("empty"))
    Files.createFile(empty.resolve("_SUCCESS"))
    assert(StoreGuard.readStore(spark, empty.toString).isEmpty)
  }

  test("building table and store DataFrames starts no Spark job") {
    val dir = Files.createTempDirectory("graft_lake_jobs").resolve("bm25").toString
    IncrementalBm25.ingestBatch(spark, Seq((1L, "alpha beta")).toDF("doc_id", "text"), dir,
      batchId = Some(0L))
    val jobs = jobsOf {
      Tables.names.foreach(Tables.load(spark, sfDir, _))
      IncrementalBm25.load(spark, dir)
    }
    assert(jobs == 0, s"$jobs jobs started while building the DataFrames")
  }
}
