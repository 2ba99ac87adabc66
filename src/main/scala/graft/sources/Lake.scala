package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Date-partitioned storage layout — the second storage axis (with
  * [[Bucketing]]) a 100 TB corpus needs: data lands in day shards, and
  * every time-bounded read must PRUNE partitions at planning time
  * rather than scan-and-filter. The reference gets this from Kafka
  * retention + offsets-by-timestamp; a lake gets it from directory
  * layout (`day=YYYY-MM-DD/`) + Catalyst partition pruning.
  *
  * At 100 TB with ~3 years of dailies, a one-week query over a pruned
  * layout reads 7/1000ths of the files; unpartitioned, it reads
  * everything and filters after decode. LakeSpec asserts the pruned
  * file count from the executed scan node, not just the filter's
  * presence.
  */
object Lake {

  /** The file size [[compact]] repacks to, and the size a stamped store
    * append sizes its files against (`StoreGuard.estimatedParts`).
    */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema comes from the one footer Spark's own inference would read,
    * read on the driver ([[org.apache.spark.sql.graftbridge.ParquetSchemaBridge]]),
    * and is handed to the reader as a user schema. A bare
    * `spark.read.parquet` runs a one-task job per call just to read that
    * footer (~65 ms on a 4-core box); every table and store read goes
    * through here instead (ParquetReadGuardSpec pins it). Schema and
    * rows equal Spark's reader; the session conf that shapes inference
    * (`nanosAsLong` and the like) is read at call time. A missing path,
    * a glob, a dir with no data file or a schema-merging session goes
    * through Spark's reader, so errors (PATH_NOT_FOUND,
    * UNABLE_TO_INFER_SCHEMA) stay Spark's own.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, ParquetSchemaBridge.listing(spark, path))

  /** [[read]] of a path that holds data, or None when it does not (the
    * path is missing or lists no data file), decided from the same
    * listing: no read that fails analysis is attempted, so an absent
    * store logs no error through the session's query listeners. A glob
    * reads as absent. Any other read failure (a corrupt footer)
    * propagates.
    */
  def readPresent(spark: SparkSession, path: String): Option[DataFrame] =
    ParquetSchemaBridge.listing(spark, path) match {
      case ParquetSchemaBridge.NoData => None
      case listed => Some(read(spark, path, listed))
    }

  private def read(spark: SparkSession, path: String, listed: ParquetSchemaBridge.Listing)
      : DataFrame = listed match {
    case ParquetSchemaBridge.HasData(Some(s)) => spark.read.schema(s).parquet(path)
    case _ => spark.read.parquet(path)
  }

  /** Write `df` partitioned by the DATE of its event-time column. */
  def materializeByDay(
      df: DataFrame,
      timeCol: String,
      path: String
  ): Unit =
    df.withColumn("day", to_date(col(timeCol)))
      .write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(path)

  /** Time-bounded read: the `day` predicate derives from the requested
    * range so pruning happens at file listing, before any decode.
    */
  def readRange(
      spark: SparkSession,
      path: String,
      timeCol: String,
      fromInclusive: String,
      toExclusive: String
  ): DataFrame = {
    // a toExclusive with a time-of-day component (e.g. '...-10 12:00')
    // needs the partial final day's PARTITION (inclusive day bound, the
    // row-level timeCol bound enforces the exclusivity); a midnight-
    // exact bound excludes that day entirely
    val toLdt = java.time.LocalDateTime.parse(
      if (toExclusive.length == 10) s"${toExclusive}T00:00:00"
      else toExclusive.replace(' ', 'T')
    )
    val midnightExact = toLdt.toLocalTime == java.time.LocalTime.MIDNIGHT
    val dayUpper =
      if (midnightExact) col("day") < to_date(lit(toExclusive))
      else col("day") <= to_date(lit(toExclusive))
    spark.read
      .parquet(path)
      .filter(
        col("day") >= to_date(lit(fromInclusive)) && dayUpper &&
          col(timeCol) >= lit(fromInclusive).cast("timestamp") &&
          col(timeCol) < lit(toExclusive).cast("timestamp")
      )
  }

  /** Z-order-clustered write — the THIRD storage axis: day partitions
    * prune on time, bucketing co-locates joins, and Z-ordering makes
    * parquet min/max stats prune MULTI-dimensional range predicates on
    * any of `zCols`, not just a leading sort column. A linear sort by
    * (a, b) leaves every file spanning all of `b`; the Morton curve
    * gives each file a compact hyper-rectangle, so a `b`-only filter
    * skips all but ~1/2^bits of the row groups (ZOrderSpec measures
    * exactly this from scan metrics).
    *
    * Scale shape: one pass computes per-column quantile boundaries
    * (`approx_percentile`, all columns in a single aggregate); the
    * Z-key is a broadcast-literal native expression
    * ([[graft.functions.ZValue]], binary-search + bit-interleave per
    * row); `repartitionByRange` on the key gives every output task a
    * contiguous Z-range (one range shuffle — the same exchange any
    * clustering write pays) and `sortWithinPartitions` orders inside
    * each file so row groups nest inside the file's rectangle. No
    * window, no global sort, no driver data path beyond the bounded
    * boundary arrays.
    *
    * `zCols` must be numeric/date/timestamp (rank needs an order);
    * hash a string column first if equality-only pruning is enough.
    */
  /** Name of the snapshot manifest a rewrite leaves inside the
    * compacted directory: the exact file names the rewrite READ.
    * Underscore-prefixed, so parquet directory listings ignore it. The
    * swap uses it to RESCUE files appended after the snapshot was
    * taken (the async-compaction case) instead of deleting them with
    * the set-aside directory.
    */
  private[sources] val SnapshotName = "_graft_snapshot"

  /** Delete `f` and everything under it; a file that will not delete is
    * left in place.
    */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  private def parquetFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Move any parquet file in `oldDir` that is NOT in `newDir`'s
    * snapshot manifest into `newDir` — files appended between the
    * rewrite's snapshot and the swap. Without a manifest (a legacy
    * layout) nothing is rescued: the sync path is quiescent by
    * contract, so the set-aside dir holds only pre-rewrite content.
    * Idempotent (an already-moved file is no longer in `oldDir`).
    */
  private def rescueLateAppends(newDir: java.io.File, oldDir: java.io.File): Unit = {
    // sidecar DIRECTORIES ride along unconditionally (e.g. the
    // selection store's `_graft_meta`, a checkpoint dir a caller nested
    // under the store): the rewrite repacks only top-level parquet
    // files, so a subdir exists solely in the set-aside dir and would
    // otherwise be dropped with it. Spark's parquet reader ignores
    // `_`-prefixed entries, so the ride-along never changes a read.
    // Idempotent across a crash-retry: an already-moved dir is no
    // longer in oldDir.
    Option(oldDir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && !new java.io.File(newDir, f.getName).exists())
      .foreach { d =>
        require(d.renameTo(new java.io.File(newDir, d.getName)),
          s"compact: could not carry sidecar dir ${d.getName} through the swap")
      }
    val snapFile = new java.io.File(newDir, SnapshotName)
    if (snapFile.exists()) {
      val snap = java.nio.file.Files.readAllLines(snapFile.toPath)
      val inSnap = new java.util.HashSet[String](snap)
      parquetFiles(oldDir).foreach { f =>
        if (!inSnap.contains(f.getName))
          require(f.renameTo(new java.io.File(newDir, f.getName)),
            s"compact: could not rescue late append ${f.getName}")
      }
    }
  }

  /** Crash recovery for [[compact]]'s two-rename swap (r16 ADVICE): a
    * kill between `renameTo(old)` and `renameTo(path)` leaves the live
    * store only at `path.__compact_old` — every subsequent read fails
    * until repaired. Idempotent and cheap (existence checks); called at
    * the top of every [[compact]] and by the unattended ingest loops
    * before each trigger. Recovery cases:
    *   - live path MISSING, tmp present  → the rewrite finished, the
    *     swap half-completed: COMPLETE it (tmp → path, rescue
    *     post-snapshot appends from old, drop old);
    *   - live path MISSING, tmp absent   → ROLL BACK (old → path);
    *   - live path present               → a stale tmp holds nothing
    *     the path lacks — drop it; a leftover old may hold
    *     post-snapshot appends — rescue, then drop.
    * Returns true if anything was repaired.
    */
  def recoverCompact(path: String): Boolean = {
    val p = new java.io.File(path)
    val t = new java.io.File(s"$path.__compact_tmp")
    val o = new java.io.File(s"$path.__compact_old")
    if (!p.exists() && (t.exists() || o.exists())) {
      if (t.exists()) { // rewrite completed before the crash: finish the swap
        require(t.renameTo(p), s"recoverCompact: could not complete swap of $path")
        if (o.exists()) { rescueLateAppends(p, o); rmTree(o) }
      } else { // no rewrite to install: restore the set-aside live store
        require(o.renameTo(p), s"recoverCompact: could not roll back $path")
      }
      true
    } else if (t.exists() || o.exists()) {
      // live path intact: a stale tmp holds nothing the path lacks (the
      // rewrite never removes inputs before the swap) — drop it; a
      // leftover old (crash after the swap, before cleanup) may still
      // hold post-snapshot appends — rescue them first
      if (t.exists()) rmTree(t)
      if (o.exists()) { rescueLateAppends(p, o); rmTree(o) }
      true
    } else false
  }

  /** The rewrite half of [[compact]]: repack the CURRENT parquet file
    * set of `path` into ~`targetBytes` files at `tmpDir`, plus the
    * snapshot manifest. Reads the snapshot by EXPLICIT file list, never
    * the directory — a file appended while the rewrite runs (the async
    * path) must not leak into the rewrite output, or the swap's rescue
    * would duplicate it. Returns None when already compact.
    */
  private[sources] def rewriteToTmp(
      spark: SparkSession,
      path: String,
      tmpDir: String,
      targetBytes: Long,
      sortCols: Seq[String],
      rangeCols: Seq[String]
  ): Option[Long] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = parquetFiles(new java.io.File(path))
    val bytes = files.map(_.length()).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.length <= n) return None

    val df = spark.read.parquet(files.map(_.getAbsolutePath).toIndexedSeq: _*)
    val repacked = {
      // rangeCols preserves (re-establishes) a range-clustered layout
      // through compaction — a round-robin repack of an id-clustered
      // store would give every output file the full id range and kill
      // the min/max file skipping the clustering exists for (the
      // IncrementalDedup corpus fetch)
      val r =
        if (rangeCols.nonEmpty) df.repartitionByRange(n, rangeCols.map(col): _*)
        else df.repartition(n)
      val sorts = if (sortCols.nonEmpty) sortCols else rangeCols
      if (sorts.isEmpty) r else r.sortWithinPartitions(sorts.map(col): _*)
    }
    repacked.write.mode("overwrite").parquet(tmpDir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmpDir, SnapshotName),
      files.map(_.getName).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    Some(n)
  }

  /** The swap half: set the live dir aside, install `__compact_tmp`,
    * rescue post-snapshot appends from the set-aside dir, drop it. Also
    * installs the SCD2 head fold (`IncrementalScd2.foldOpen`). MUST run
    * quiescent w.r.t. appends (the loop thread).
    *
    * Quiescence covers READERS too (r17 ADVICE): each rename is atomic,
    * but the sequence is not — between `renameTo(old)` and
    * `renameTo(path)` the live path does not exist (a concurrent
    * `spark.read` fails with path-not-found), and between the tmp
    * install and the end of [[rescueLateAppends]] a reader sees the
    * compacted set WITHOUT already-acked late appends. The ingest loops
    * satisfy this by swapping only at a trigger boundary on the loop
    * thread; a deployment that SERVES from the store concurrently must
    * either route reads through the same boundary or treat a transient
    * path-not-found as retryable (the window is two renames long).
    */
  private[graft] def swapIn(path: String): Unit = {
    val p = new java.io.File(path)
    val t = new java.io.File(s"$path.__compact_tmp")
    val o = new java.io.File(s"$path.__compact_old")
    require(p.renameTo(o), s"compact: could not set aside $path")
    require(t.renameTo(p), s"compact: could not swap in ${t.getPath}")
    rescueLateAppends(p, o)
    rmTree(o)
  }

  /** Small-file compaction — the lake-maintenance pass every
    * streaming/incremental append path eventually needs: micro-batch
    * appends (IncrementalDedup/IncrementalScd2, the bar cascade sinks)
    * accrete MB-scale files, and at 100 TB the file COUNT becomes the
    * bottleneck (driver listing memory, task-launch overhead, parquet
    * footer reads — a 1000-executor scan of 10M tiny files spends
    * longer opening footers than decoding data).
    *
    * Rewrites `path` into ~`targetBytes` files: the output file count
    * derives from the CURRENT on-disk byte size (a listing, no data
    * read), rows land in files via one round-robin exchange
    * (`repartition(n)` — no keyed shuffle, no sort), optionally
    * re-sorted per file on `sortCols` to restore row-group locality
    * the appends destroyed. The rewrite goes through a sibling temp
    * directory and a two-rename swap: a reader never sees a MIX of old
    * and new files, but the swap window itself is not reader-atomic —
    * see [[swapIn]] for the exact contract (readers share the
    * quiescence requirement; concurrent serve paths retry on transient
    * path-not-found). For the rewrite OFF the trigger path, see
    * [[AsyncCompactor]].
    *
    * Operates on a FLAT store (one directory of parquet files — the
    * shape every incremental append store here uses); for a
    * `partitionBy` layout, compact each partition directory on its own
    * so partition pruning survives.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long = TargetFileBytes,
      sortCols: Seq[String] = Nil,
      rangeCols: Seq[String] = Nil
  ): Long = {
    recoverCompact(path)
    rewriteToTmp(spark, path, s"$path.__compact_tmp", targetBytes, sortCols, rangeCols) match {
      case None => parquetFiles(new java.io.File(path)).length.toLong // already compact
      case Some(n) => swapIn(path); n
    }
  }

  def writeZOrdered(
      df: DataFrame,
      zCols: Seq[String],
      path: String,
      bits: Int = 8,
      numFiles: Int = 64,
      maxRecordsPerFile: Long = 0L
  ): Unit = {
    require(zCols.nonEmpty, "writeZOrdered needs at least one column")
    val ranked = zCols.map(c => col(c).cast("double").as(s"__zr_$c"))
    val probes = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
    val qAgg = zCols.map(c =>
      expr(s"approx_percentile(`__zr_$c`, array(${probes.mkString(",")}))")
        .as(s"__q_$c"))
    val qRow = df.select(ranked: _*).agg(qAgg.head, qAgg.tail: _*).head()
    val boundaries = zCols.indices.map { i =>
      qRow.getSeq[Double](i).toArray
    }
    val zed = df.withColumn(
      "__z",
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.ZValue(
          zCols.map(c =>
            org.apache.spark.sql.graftbridge.ColumnBridge
              .expression(col(c).cast("double"))),
          boundaries,
          bits)))
    zed
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
  }

  // ---- training-shard layout: the FOURTH storage axis ------------------

  /** Deterministic shard id in [0, nShards): the
    * [[graft.operators.Curation.sampleByHash]] id-hash convention at
    * shard granularity — md5 (oracle-mirrorable) or xxhash64
    * (production). A pure function of the id: stable across runs,
    * engines, partitionings, and re-executions, and size-balanced in
    * expectation, so shard layout never needs a global rank — the
    * row_number-per-shard alternative is a corpus sort at 100 TB.
    */
  def shardAssign(
      idCol: Column,
      nShards: Int,
      seed: String,
      family: graft.operators.HashFamily = graft.operators.HashFamily.Md5
  ): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val tagged = concat(lit(seed + "-"), idCol.cast("string"))
    family match {
      case graft.operators.HashFamily.Md5 =>
        conv(substring(md5(tagged.cast("binary")), 1, 8), 16, 10).cast("long") %
          nShards.toLong
      case graft.operators.HashFamily.XxHash64 =>
        pmod(xxhash64(tagged), lit(nShards.toLong))
    }
  }

  /** KB-scale shard manifest — the artifact a training loader consumes:
    * one row per shard with example count, token mass, and an
    * ORDER-INDEPENDENT content checksum (bit_xor of per-row hashes over
    * `contentCols`, joined on the \u0001 separator — order independence is what lets the
    * read-back of a distributed write verify against a manifest
    * computed before it, with no ordering contract between the two).
    * One map-side-combinable hash aggregate; output is nShards rows
    * whatever the corpus size.
    */
  def shardManifest(
      df: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      nShards: Int,
      seed: String,
      tokenCol: Option[String] = None,
      family: graft.operators.HashFamily = graft.operators.HashFamily.Md5
  ): DataFrame = {
    require(contentCols.nonEmpty, "shardManifest needs at least one content column")
    // NULLs are encoded, not skipped: concat_ws drops null arguments, so
    // ('a', NULL, 'b') and ('a', 'b', NULL) would hash identically -- a
    // blind spot in an integrity checksum. Coalescing each column to a
    // \u0002 sentinel keeps every position in the joined string (a
    // literal \u0002 inside a value can still alias a NULL -- acceptable
    // for a checksum over ordinary text; the DuckDB oracle mirrors the
    // same COALESCE(..., CHR(2)) so both engines hash the same bytes).
    val joined = concat_ws(
      "\u0001",
      contentCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    val rowHash = family match {
      case graft.operators.HashFamily.Md5 =>
        conv(substring(md5(joined.cast("binary")), 1, 8), 16, 10).cast("long")
      case graft.operators.HashFamily.XxHash64 => xxhash64(joined)
    }
    val toks = tokenCol.map(t => sum(col(t).cast("long"))).getOrElse(lit(null).cast("long"))
    df.withColumn("shard", shardAssign(col(idCol), nShards, seed, family))
      .withColumn("__h", rowHash)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_examples"),
        toks.as("n_tokens"),
        expr("bit_xor(__h)").as("checksum")
      )
      .orderBy(col("shard"))
  }

  /** Write the corpus as `nShards` hash-assigned shard directories
    * (`shard=K/`) with a deterministic in-shard order (the id), and
    * return the manifest computed from the INPUT frame — re-run
    * [[shardManifest]] on the read-back to verify write fidelity
    * (LakeSpec does; the checksums are order-independent, so the
    * verification needs no ordering contract from parquet).
    */
  def writeTrainingShards(
      df: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      dir: String,
      nShards: Int,
      seed: String = "shard17",
      tokenCol: Option[String] = None,
      family: graft.operators.HashFamily = graft.operators.HashFamily.Md5
  ): DataFrame = {
    df.withColumn("shard", shardAssign(col(idCol), nShards, seed, family))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(dir)
    shardManifest(df, idCol, contentCols, nShards, seed, tokenCol, family)
  }
}

/** Off-trigger ("async") store compaction — the maintenance shape a
  * production ingest loop actually wants: [[Lake.compact]]'s expensive
  * rewrite (read every file, repack, re-sort) runs on a BACKGROUND
  * thread against a snapshot of the store's current file set, while the
  * loop keeps ingesting; only the cheap atomic swap runs on the loop
  * thread at a later trigger boundary ([[maybeFinish]]). Appends that
  * land between the snapshot and the swap are reconciled by rename —
  * the rewrite reads its snapshot by explicit file list and records it
  * in the `_graft_snapshot` manifest, so the swap can move exactly the
  * post-snapshot files into the new layout (content identity holds; the
  * late files just stay uncompacted until the next cycle).
  *
  * Threading contract: [[start]] and [[maybeFinish]] are called from
  * the ONE loop thread (foreachBatch guarantees triggers never
  * overlap); only the rewrite runs concurrently, and it never mutates
  * the live directory. The SWAP inside [[maybeFinish]] inherits
  * [[Lake.swapIn]]'s reader contract: for the two renames the live
  * path briefly does not exist, so a serve-while-ingest deployment
  * reading the store from OTHER threads must either align reads to
  * trigger boundaries or retry on transient path-not-found — async
  * moves the rewrite off the trigger, not the swap's reader window
  * (r17 ADVICE). The background rewrite lands at
  * `path.__compact_async_tmp` — a name [[Lake.recoverCompact]] ignores,
  * so the per-trigger recovery sweep cannot race a rewrite in flight;
  * the rename to the swap's `__compact_tmp` happens on the loop thread
  * inside [[maybeFinish]]. A crash-orphaned async tmp is deleted by the
  * next [[start]].
  */
final class AsyncCompactor(
    spark: SparkSession,
    path: String,
    targetBytes: Long = Lake.TargetFileBytes,
    sortCols: Seq[String] = Nil,
    rangeCols: Seq[String] = Nil
) {
  private sealed trait State
  private case object Idle extends State
  private case object Rewriting extends State
  private final case class Ready(files: Long) extends State
  private final case class Failed(e: Throwable) extends State
  private val state =
    new java.util.concurrent.atomic.AtomicReference[State](Idle)
  private val asyncTmp = s"$path.__compact_async_tmp"

  /** Launch a background rewrite of the current file set. No-op (false)
    * while a rewrite is in flight or a finished one awaits its swap.
    */
  def start(): Boolean =
    state.compareAndSet(Idle, Rewriting) && {
      val th = new Thread(() => {
        val next: State =
          try Lake.rewriteToTmp(spark, path, asyncTmp, targetBytes, sortCols, rangeCols)
            .map(Ready(_): State)
            .getOrElse(Idle) // already compact: nothing to swap
          catch { case e: Throwable => Failed(e) }
        state.set(next)
      }, s"graft-async-compact-${new java.io.File(path).getName}")
      th.setDaemon(true)
      // stale orphan from a crashed run: invisible to readers, but its
      // bytes would confuse this rewrite's overwrite — clear first
      val orphan = new java.io.File(asyncTmp)
      if (orphan.exists()) Lake.rmTree(orphan)
      th.start()
      true
    }

  /** Install a finished rewrite, if any — call at a trigger boundary on
    * the loop thread, never concurrently with an append. Returns the
    * new file count when a swap happened. A failed rewrite is reported
    * and cleared (the live store was never touched).
    */
  def maybeFinish(): Option[Long] = state.get() match {
    case Ready(n) =>
      require(new java.io.File(asyncTmp).renameTo(new java.io.File(s"$path.__compact_tmp")),
        s"async compact: could not stage $asyncTmp for swap")
      Lake.swapIn(path)
      state.set(Idle)
      Some(n)
    case Failed(e) =>
      System.err.println(s"[graft] async compact of $path failed: $e")
      state.set(Idle)
      None
    case _ => None
  }

  /** True while a rewrite is running or awaiting its swap (a FAILED
    * rewrite is not pending — nothing is in flight; the next
    * [[maybeFinish]] reports and clears it).
    */
  def pending: Boolean = {
    val s = state.get()
    s == Rewriting || s.isInstanceOf[Ready]
  }

  /** True once the background rewrite finished and only the loop-thread
    * swap remains — the deterministic point tests append "late" files
    * at to exercise the rescue path.
    */
  private[graft] def awaitingSwap: Boolean = state.get().isInstanceOf[Ready]
}
