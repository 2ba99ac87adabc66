package graft

import graft.sources.{Lake, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Day-partitioned lake layout: a time-bounded read must prune
  * partitions at planning time — asserted from the executed scan's
  * selected-partition count, not just the plan text.
  */
class LakeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("readRange prunes day partitions at the scan") {
    val dir = Files.createTempDirectory("graft_lake").toString
    val ev = Tables.load(spark, testData("0.001"), "events")
    Lake.materializeByDay(ev, "ts", dir)

    val allDays = spark.read.parquet(dir).select(col("day")).distinct().count()
    assert(allDays > 3, s"fixture needs several day shards, got $allDays")

    val bounds = ev.agg(min(col("ts")).cast("date").cast("string")).head.getString(0)
    val from = bounds
    val to = java.time.LocalDate.parse(bounds).plusDays(2).toString

    val read = Lake.readRange(spark, dir, "ts", from, to)
    // run THIS DataFrame's own execution so its scan metrics populate
    // (count() would wrap a new queryExecution and leave these at 0)
    val got = read.collect().length

    val scans = collectWithSubqueries(read.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val selected = scans.head.metrics("numPartitions").value
    assert(
      selected == 2,
      s"expected 2 pruned day partitions of $allDays, scanned $selected"
    )

    // and the rows really are the bounded range
    val expected = ev
      .filter(col("ts") >= lit(from).cast("timestamp") && col("ts") < lit(to).cast("timestamp"))
      .count()
    assert(got == expected)

    // a toExclusive WITH a time-of-day component must include the
    // partial final day's partition (a `day <` bound would silently
    // drop its morning rows)
    val toPartial = s"$to 12:00:00"
    val partial = Lake.readRange(spark, dir, "ts", from, toPartial)
    val gotPartial = partial.collect().length
    val expectedPartial = ev
      .filter(col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(toPartial).cast("timestamp"))
      .count()
    assert(gotPartial == expectedPartial && gotPartial > got)
    val partialScan = collectWithSubqueries(partial.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.head
    assert(partialScan.metrics("numPartitions").value == 3)
  }

  test("TimeBucket pull read prunes the PERSISTED bar table by WINDOWSTART") {
    // the production pull path (ref: src/Runtime/HoppingWindow.cs:33-76)
    // reads a MATERIALIZED bar table, not the in-memory derivation the
    // gated q_timebucket_read pins — a WINDOWSTART >= bound must prune
    // day partitions at planning time and push the residual filter into
    // the parquet scan, or the pull scans the whole bar history.
    val dir = Files.createTempDirectory("graft_bar_lake").toString
    val bars = SparkEntry.benchQueries("q_bars_1s")(spark, testData("0.001"))
    Lake.materializeByDay(bars, "window_start", dir)

    val allDays = spark.read.parquet(dir).select(col("day")).distinct().count()
    assert(allDays >= 3, s"bar fixture needs several day shards, got $allDays")

    val lastDay = spark.read.parquet(dir)
      .agg(max(col("day")).cast("string")).head.getString(0)
    val pull = Lake.readRange(spark, dir, "window_start",
        lastDay, java.time.LocalDate.parse(lastDay).plusDays(1).toString)
      .filter(col("event_type") === "purchase")
      .select(col("window_start"), col("event_type"), col("close"), col("cnt"))
    val got = pull.collect().length
    assert(got > 0)

    val scan = collectWithSubqueries(pull.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metrics("numPartitions").value == 1,
      s"WINDOWSTART bound must prune to the one matching day of $allDays")
    // the residual time + event_type predicates reach the parquet scan
    // (row-group min/max skipping inside the selected partition) —
    // read the untruncated metadata, not toString's elided copy
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(window_start"),
      s"window_start must be a pushed filter — got: $pushed")
    assert(pushed.contains("EqualTo(event_type,purchase)"),
      s"event_type equality must be pushed to the scan — got: $pushed")

    // and the pruned read returns exactly the unpruned filter's rows
    val expected = bars
      .filter(col("window_start") >= lit(lastDay).cast("timestamp") &&
        col("event_type") === "purchase")
      .count()
    assert(got == expected, s"pruned pull returned $got rows, expected $expected")
  }

  test("compact rewrites an append-accreted store into few files, content-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/store"
    // simulate 12 micro-batch appends → ≥ 12 small files
    (0 until 12).foreach { b =>
      spark.range(b * 100, (b + 1) * 100)
        .select($"id", ($"id" * 2).as("v"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def parquetFiles = Option(new java.io.File(dir).listFiles()).get
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles >= 12)
    val before = spark.read.parquet(dir).orderBy($"id").collect()

    val bytes = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum
    val n = Lake.compact(spark, dir, targetBytes = bytes / 3, sortCols = Seq("id"))
    assert(n <= 4 && parquetFiles == n.toInt, s"expected ~3 files, got $parquetFiles (n=$n)")
    assert(spark.read.parquet(dir).orderBy($"id").collect().sameElements(before))
    // no leftover temp/old directories from the swap
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(_.contains("__compact")), siblings.mkString(","))

    // re-running converges: parquet recompression can shrink bytes and
    // fold one more file, after which compact is a stable no-op
    val again = Lake.compact(spark, dir, targetBytes = bytes / 3)
    assert(again <= n && parquetFiles == again.toInt)
    val third = Lake.compact(spark, dir, targetBytes = bytes / 3)
    assert(third == again && parquetFiles == again.toInt)
  }

  test("compact carries sidecar directories through the swap") {
    // the selection store nests its `_graft_meta` parameter table
    // INSIDE the store dir; the swap sets the whole live dir aside and
    // deletes it after the rescue, so without the ride-along the meta
    // would vanish with the set-aside copy (r18)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_sidecar").toString + "/store"
    (0 until 6).foreach { b =>
      spark.range(b * 50, (b + 1) * 50).select($"id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    Seq((256, 2, "md5")).toDF("buckets", "n", "family")
      .write.mode("overwrite").parquet(s"$dir/_graft_meta")
    val before = spark.read.parquet(dir).orderBy($"id").collect()

    val bytes = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum
    Lake.compact(spark, dir, targetBytes = bytes / 2, sortCols = Seq("id"))
    // data content identical (spark.read ignores `_`-prefixed entries)
    assert(spark.read.parquet(dir).orderBy($"id").collect().sameElements(before))
    // ...and the sidecar survived, content intact
    val meta = spark.read.parquet(s"$dir/_graft_meta").collect()
    assert(meta.length == 1 && meta.head.getInt(0) == 256 && meta.head.getString(2) == "md5")
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(_.contains("__compact")), siblings.mkString(","))
  }

  test("async compact: rewrite off-thread, late appends rescued at the swap, content identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acompact").toString + "/store"
    (0 until 10).foreach { b =>
      spark.range(b * 100, (b + 1) * 100)
        .select($"id", ($"id" * 3).as("v"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def files = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val bytes = files.map(_.length()).sum
    val c = new graft.sources.AsyncCompactor(spark, dir, targetBytes = bytes / 2, sortCols = Seq("id"))

    assert(c.start(), "first start must launch")
    assert(!c.start(), "second start while in flight must be a no-op")
    // wait for the background rewrite to finish; only the swap remains
    val deadline = System.currentTimeMillis() + 60000
    while (!c.awaitingSwap && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(c.awaitingSwap, "rewrite did not finish in time")

    // a "late" append lands AFTER the snapshot, BEFORE the swap — the
    // exact window the rescue exists for
    spark.range(5000, 5010).select($"id", ($"id" * 3).as("v"))
      .coalesce(1).write.mode("append").parquet(dir)

    val swapped = c.maybeFinish()
    assert(swapped.exists(_ <= 3), s"expected a compacted file count, got $swapped")
    assert(!c.pending)
    // content identity: 1000 compacted rows + the 10 late rows
    val ids = spark.read.parquet(dir).select($"id").as[Long].collect().sorted
    assert(ids.length == 1010 && ids.take(1000).sameElements(0L until 1000L) &&
      ids.drop(1000).sameElements(5000L until 5010L))
    // the late file rides along uncompacted until the next cycle
    assert(files.length == swapped.get.toInt + 1, s"files: ${files.map(_.getName).mkString(",")}")
    // no leftover swap/async dirs
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName)
    assert(!siblings.exists(_.contains("__compact")), siblings.mkString(","))
    // idempotent when idle
    assert(c.maybeFinish().isEmpty)
  }

  test("recoverCompact rescues post-snapshot appends from a crash-left old dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rcompact").toString + "/store"
    (0 until 6).foreach { b =>
      spark.range(b * 50, (b + 1) * 50).select($"id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val bytes = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum
    Lake.compact(spark, dir, targetBytes = bytes) // leaves _graft_snapshot in dir
    assert(new java.io.File(dir, "_graft_snapshot").exists())

    // manufacture the crash window: the set-aside old dir still exists
    // and holds one file the snapshot never saw (a post-snapshot append)
    val old = new java.io.File(s"$dir.__compact_old")
    assert(old.mkdirs())
    val lateSrc = Files.createTempDirectory("graft_late").toString
    spark.range(9000, 9005).select($"id").coalesce(1).write.mode("overwrite").parquet(lateSrc)
    val latePart = Option(new java.io.File(lateSrc).listFiles()).get
      .find(_.getName.endsWith(".parquet")).get
    assert(latePart.renameTo(new java.io.File(old, latePart.getName)))

    assert(Lake.recoverCompact(dir), "recovery must report a repair")
    assert(!old.exists())
    val ids = spark.read.parquet(dir).select($"id").as[Long].collect().sorted
    assert(ids.length == 305 && ids.takeRight(5).sameElements(9000L until 9005L),
      s"late append lost: ${ids.length} rows")
  }

  test("async compact failure is contained: store intact, compactor reusable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fcompact").toString + "/store"
    (0 until 4).foreach { b =>
      spark.range(b * 10, (b + 1) * 10).select($"id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val bad = new graft.sources.AsyncCompactor(spark, dir, targetBytes = 1,
      rangeCols = Seq("no_such_column"))
    assert(bad.start())
    val deadline = System.currentTimeMillis() + 60000
    while (bad.pending && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(bad.maybeFinish().isEmpty)
    assert(spark.read.parquet(dir).count() == 40)
    assert(!bad.pending, "a failed rewrite must return the compactor to idle")
  }

  // ---- training shards + manifest ---------------------------------------

  private def md5First8(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  test("shard manifest matches a driver reference cell-for-cell") {
    import spark.implicits._
    val rows = (0 until 400).map(i => (i.toLong, s"doc $i " + ("w " * (i % 7)).trim, (i % 7 + 2).toLong))
    val df = rows.toDF("id", "text", "n_tok")
    val got = Lake
      .shardManifest(df, "id", Seq("id", "text"), nShards = 16, seed = "t1", tokenCol = Some("n_tok"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ref = rows
      .groupBy { case (id, _, _) => md5First8(s"t1-$id") % 16 }
      .view.mapValues { g =>
        (g.size.toLong,
          g.map(_._3).sum,
          g.map { case (id, t, _) => md5First8(s"${id}\u0001${t}") }.reduce(_ ^ _))
      }.toMap
    assert(got == ref, s"manifest diverges from driver reference")
    // expectation-balance on hash assignment: no shard empty, none > 3x mean
    val counts = got.values.map(_._1)
    assert(counts.min > 0 && counts.max <= 3 * 400 / 16, s"imbalanced: $counts")
  }

  test("writeTrainingShards: read-back re-manifests identically and the layout matches the assignment") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = (0 until 500)
      .map(i => (i.toLong, s"body $i ${"x" * (i % 5)}", (i % 5 + 1).toLong))
      .toDF("id", "text", "n_tok")
    val pre = Lake
      .writeTrainingShards(df, "id", Seq("id", "text"), dir, nShards = 8, seed = "sh", tokenCol = Some("n_tok"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val back = spark.read.parquet(dir)
    // the physical shard= directory of every row IS its hash assignment
    val misplaced = back
      .filter(col("shard").cast("long") =!= Lake.shardAssign(col("id"), 8, "sh"))
      .count()
    assert(misplaced == 0, s"$misplaced rows in the wrong shard directory")
    // order-independent checksums: re-manifest of the read-back (no
    // ordering contract) equals the pre-write manifest
    val post = Lake
      .shardManifest(back.drop("shard"), "id", Seq("id", "text"), nShards = 8, seed = "sh", tokenCol = Some("n_tok"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(post == pre, "read-back manifest diverges from the pre-write manifest")
    // one parquet file per shard directory (the repartition contract)
    val shardDirs = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 8)
    shardDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName} has $files parquet files")
    }
  }

  test("xx shard family keeps the balance and write/read identity") {
    import spark.implicits._
    val df = (0 until 600).map(i => (i.toLong, s"t $i")).toDF("id", "text")
    val m = Lake
      .shardManifest(df, "id", Seq("id", "text"), nShards = 12, seed = "p",
        family = graft.operators.HashFamily.XxHash64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(m.length == 12 && m.map(_._2).sum == 600)
    assert(m.map(_._2).min > 0 && m.map(_._2).max <= 3 * 600 / 12)
    // n_tokens column is an honest null when no token column is given
    val row = Lake.shardManifest(df, "id", Seq("text"), 4, "p").head()
    assert(row.isNullAt(2))
  }
}
