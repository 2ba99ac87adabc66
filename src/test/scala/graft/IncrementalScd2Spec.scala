package graft

import graft.operators.History
import graft.streaming.IncrementalScd2
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming SCD2 maintenance: the append-only change-log store driven
  * by a MemoryStream across micro-batches must converge to exactly the
  * batch [[History.scd2]] of the full event history — including the
  * cross-batch collapse (an unchanged attribute spanning a batch
  * boundary must NOT open a new version) — and replays must be no-ops.
  */
class IncrementalScd2Spec extends SparkSpec {
  import spark.implicits._

  private def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")

  private val K = Seq("k")
  private val A = Seq("attr")
  private val T = Seq("id")

  test("stream-maintained store converges to the batch scd2, across-batch no-ops collapse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2").toString + "/store"
    // seed history: A is x (two no-op updates collapse), B is z
    val seed = Seq(
      ("A", t(1), 1L, "x"), ("A", t(2), 2L, "x"), ("B", t(2), 3L, "z")
    ).toDF("k", "ts", "id", "attr")
    IncrementalScd2.seed(seed, dir, K, "ts", A, T)

    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val q = IncrementalScd2.attach(
      mem.toDF().toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T)
    try {
      // batch 1: A stays x at t3 (cross-batch no-op — must NOT version),
      // then flips to y at t4; C is a brand-new key
      mem.addData(("A", t(3), 4L, "x"), ("A", t(4), 5L, "y"), ("C", t(3), 6L, "w"))
      q.processAllAvailable()
      // batch 2: B re-asserts z (no-op), A flips back to x; a
      // within-batch no-op pair for C
      mem.addData(("B", t(5), 7L, "z"), ("A", t(6), 8L, "x"),
        ("C", t(5), 9L, "w"), ("C", t(6), 10L, "v"))
      q.processAllAvailable()
    } finally q.stop()

    val allEvents = Seq(
      ("A", t(1), 1L, "x"), ("A", t(2), 2L, "x"), ("B", t(2), 3L, "z"),
      ("A", t(3), 4L, "x"), ("A", t(4), 5L, "y"), ("C", t(3), 6L, "w"),
      ("B", t(5), 7L, "z"), ("A", t(6), 8L, "x"),
      ("C", t(5), 9L, "w"), ("C", t(6), 10L, "v")
    ).toDF("k", "ts", "id", "attr")
    val expected = History.scd2(allEvents, K, "ts", A, T)
    val got = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"view:\n${got.orderBy($"k", $"version").collect().mkString("\n")}\n" +
        s"expected:\n${expected.orderBy($"k", $"version").collect().mkString("\n")}")

    // the store holds one row per VERSION, not per event: 3 (A) + 1 (B)
    // + 2 (C) = 6 change rows for 10 events
    assert(spark.read.parquet(dir).count() == 6)

    // current snapshot is queryable: is_current rows only
    val current = got.filter($"is_current").select($"k", $"attr").as[(String, String)]
      .collect().toMap
    assert(current == Map("A" -> "x", "B" -> "z", "C" -> "v"))

    // the compacted HEAD store holds exactly one row per key — the
    // open version — so the next batch's open-fetch is O(#keys) no
    // matter how long the version log grows
    val head = spark.read.parquet(dir + "_open")
    assert(head.count() == 3, s"head not folded: ${head.collect().mkString(",")}")
    val headMap = head.select($"k", $"attr").as[(String, String)].collect().toMap
    assert(headMap == Map("A" -> "x", "B" -> "z", "C" -> "v"))
  }

  test("periodic compaction bounds the store's file count without losing state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2c").toString + "/store"
    IncrementalScd2.seed(
      Seq(("A", t(0), 0L, "s")).toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val q = IncrementalScd2.attach(
      mem.toDF().toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T,
      compactEvery = Some(2))
    try {
      (1 to 6).foreach { i =>
        mem.addData(("A", t(i), i.toLong, s"v$i"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val files = Option(new java.io.File(dir).listFiles()).get
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // 7 appends (seed + 6) would leave ≥ 7 files; compaction folds them
    assert(files <= 3, s"expected a compacted store, found $files files")
    // state intact: 7 versions of A (s, v1..v6), v6 current
    val v = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(v.count() == 7)
    assert(v.filter($"is_current").select($"attr").as[String].collect().toSeq == Seq("v6"))
  }

  test("async compaction of the version log preserves state; no live swap dirs outlive the stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2a").toString + "/store"
    IncrementalScd2.seed(
      Seq(("A", t(0), 0L, "s")).toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val q = IncrementalScd2.attach(
      mem.toDF().toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T,
      compactEvery = Some(2), asyncCompact = true)
    try {
      (1 to 6).foreach { i =>
        mem.addData(("A", t(i), i.toLong, s"v$i"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // content identity regardless of how many background swaps landed
    val v = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(v.count() == 7)
    assert(v.filter($"is_current").select($"attr").as[String].collect().toSeq == Seq("v6"))
    // the loop-thread swap dirs never outlive the stream (an async
    // scratch dir may — invisible to readers, cleared by the next start)
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old")),
      siblings.mkString(","))
  }

  test("attach without seed bootstraps the store on the first micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2b").toString + "/store"
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val q = IncrementalScd2.attach(
      mem.toDF().toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T)
    try {
      mem.addData(("A", t(1), 1L, "x"), ("B", t(1), 2L, "z"))
      q.processAllAvailable()
      mem.addData(("A", t(2), 3L, "x"), ("A", t(3), 4L, "y")) // cross-batch no-op + flip
      q.processAllAvailable()
    } finally q.stop()
    val allEvents = Seq(
      ("A", t(1), 1L, "x"), ("B", t(1), 2L, "z"),
      ("A", t(2), 3L, "x"), ("A", t(3), 4L, "y")
    ).toDF("k", "ts", "id", "attr")
    val expected = History.scd2(allEvents, K, "ts", A, T)
    val got = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(spark.read.parquet(dir).count() == 3) // A×2 versions + B×1
    assert(spark.read.parquet(dir + "_open").count() == 2)
  }

  test("fold crash leftovers are recovered: stale swap dirs cleared, missing head rebuilt from the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2x").toString + "/store"
    IncrementalScd2.seed(
      Seq(("A", t(1), 1L, "x"), ("B", t(1), 2L, "z")).toDF("k", "ts", "id", "attr"),
      dir, K, "ts", A, T)

    def rmAll(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmAll)
      f.delete()
    }
    val head = new java.io.File(dir + "_open")

    // crash state 1: a fold died after writing __fold_tmp and after
    // setting the head aside as __fold_old — head dir GONE, junk dirs
    // present. The next batch must clear the leftovers and rebuild the
    // head from the (intact) version log.
    val tmpDir = new java.io.File(dir + "_open.__fold_tmp")
    val oldDir = new java.io.File(dir + "_open.__fold_old")
    assert(head.renameTo(oldDir)) // simulate the mid-swap crash
    tmpDir.mkdirs()
    new java.io.FileOutputStream(new java.io.File(tmpDir, "junk")).close()

    IncrementalScd2.ingestBatch(spark,
      Seq(("A", t(2), 3L, "y")).toDF("k", "ts", "id", "attr"),
      dir, K, "ts", A, T, batchId = Some(1L))

    assert(!tmpDir.exists() && !oldDir.exists(), "stale swap dirs not cleared")
    val headMap = spark.read.parquet(dir + "_open")
      .select($"k", $"attr").as[(String, String)].collect().toMap
    assert(headMap == Map("A" -> "y", "B" -> "z"), s"head not rebuilt: $headMap")
    val v = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(v.count() == 3 &&
      v.filter($"is_current" && $"k" === "A").select($"attr").as[String].head() == "y")

    // crash state 2: leftovers exist but the head survived — they must
    // be cleared without disturbing it.
    tmpDir.mkdirs(); oldDir.mkdirs()
    IncrementalScd2.ingestBatch(spark,
      Seq(("B", t(3), 4L, "w")).toDF("k", "ts", "id", "attr"),
      dir, K, "ts", A, T, batchId = Some(2L))
    assert(!tmpDir.exists() && !oldDir.exists())
    val v2 = IncrementalScd2.view(spark, dir, K, "ts", A, T)
    assert(v2.filter($"is_current" && $"k" === "B").select($"attr").as[String].head() == "w")
  }

  test("replayed batch is a no-op (batchId-keyed append)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2r").toString + "/store"
    IncrementalScd2.seed(
      Seq(("A", t(1), 1L, "x")).toDF("k", "ts", "id", "attr"), dir, K, "ts", A, T)
    val batch = Seq(("A", t(2), 2L, "y")).toDF("k", "ts", "id", "attr")
    IncrementalScd2.ingestBatch(spark, batch, dir, K, "ts", A, T, batchId = Some(7L))
    val once = IncrementalScd2.view(spark, dir, K, "ts", A, T).collect().toSet
    IncrementalScd2.ingestBatch(spark, batch, dir, K, "ts", A, T, batchId = Some(7L))
    val twice = IncrementalScd2.view(spark, dir, K, "ts", A, T).collect().toSet
    assert(once == twice && spark.read.parquet(dir).count() == 2)
  }
}
