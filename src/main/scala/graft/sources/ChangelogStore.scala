package graft.sources

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong

/** File-backed changelog store — the produce/compaction semantics of a
  * keyed Kafka topic, over parquet.
  *
  * The reference's write path (`AddAsync` → Avro produce,
  * `/root/reference/src/EntitySets/EventSet.cs:148-161`; `RemoveAsync`
  * → tombstone) appends key/value records to a compacted topic; readers
  * see the latest value per key, tombstones delete. Here: appends carry
  * `__seq`/`__op` columns; [[snapshot]] compacts with one window over
  * the key (max-seq row per key, tombstones dropped) — the same
  * log-compaction a KTable reader performs, and at scale a single
  * shuffle by key.
  */
final class ChangelogStore(spark: SparkSession, root: String) {

  private val seq = new AtomicLong(0)

  private def path(entity: String) = s"$root/$entity"

  /** Produce (upsert) rows. */
  def add(entity: String, rows: DataFrame): Unit =
    add(entity, rows, Map.empty)

  /** Produce with record headers (`AddAsync(entity, headers)`,
    * `/root/reference/src/EntitySets/EventSet.cs:148-161`): headers ride
    * as a `__headers` map column on the changelog — visible to log
    * readers and [[graft.EventSet.forEachWithMeta]], dropped from the
    * compacted value snapshot like Kafka header metadata.
    */
  def add(entity: String, rows: DataFrame, headers: Map[String, String]): Unit = {
    val headerCol =
      if (headers.isEmpty) map().cast("map<string,string>")
      else map(headers.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    rows
      .withColumn("__seq", lit(seq.incrementAndGet()) * 1000000 + monotonically_increasing_id() % 1000000)
      .withColumn("__op", lit("u"))
      .withColumn("__headers", headerCol)
      .write.mode("append").parquet(path(entity))
  }

  /** Tombstone rows (RemoveAsync analog). `keyRows` must carry the full
    * entity schema (only the key columns matter — a Kafka tombstone is
    * key + null value; a uniform schema keeps the parquet log readable
    * without schema merging).
    */
  def remove(entity: String, keyRows: DataFrame): Unit =
    keyRows
      .withColumn("__seq", lit(seq.incrementAndGet()) * 1000000 + monotonically_increasing_id() % 1000000)
      .withColumn("__op", lit("d"))
      .withColumn("__headers", map().cast("map<string,string>"))
      .write.mode("append").parquet(path(entity))

  /** Raw changelog (the "topic"): every produce in order. mergeSchema,
    * because log files can carry different column sets across versions
    * (e.g. pre-/post-`__headers`) — without it one footer's schema wins
    * and columns the other files DO have read back as absent, silently
    * dropping recorded headers (and compaction would then rewrite the
    * log without them, permanently).
    */
  def log(entity: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(entity))

  /** Compacted view: latest row per key, tombstones removed. */
  def snapshot(entity: String, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__seq").desc)
    log(entity)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "u")
      .drop("__rn", "__seq", "__op", "__headers")
  }

  def exists(entity: String): Boolean = new java.io.File(path(entity)).exists()

  /** Log compaction — the maintenance op Kafka runs on compacted
    * topics: rewrite the changelog so it holds exactly one live record
    * per key (tombstoned keys vanish), bounding log size by the keyed
    * working set instead of total produce history. Without it an
    * upsert-heavy entity's log (and every `snapshot` window read over
    * it) grows with writes forever. The rewrite goes through a temp
    * directory then an atomic-enough swap; sequence numbering restarts
    * above the surviving maximum so later produces still order after
    * compacted rows.
    */
  def compact(entity: String, keys: Seq[String]): Unit = {
    val keep = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__seq").desc)
      log(entity)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("__op") === "u")
        .drop("__rn")
    }
    val dir = new java.io.File(path(entity))
    val tmp = new java.io.File(dir.getParent, s"${dir.getName}__compacting")
    keep.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val maxSeq = Lake.read(spark, tmp.getAbsolutePath)
      .agg(org.apache.spark.sql.functions.max(col("__seq"))).head()
    // point the sequence above everything that survived
    if (!maxSeq.isNullAt(0)) {
      val next = maxSeq.getLong(0) / 1000000 + 1
      var cur = seq.get()
      while (cur < next && !seq.compareAndSet(cur, next)) cur = seq.get()
    }
    // crash-safe swap: move the live log ASIDE, move the compacted one
    // in, only then delete the old data. A failure between the two
    // renames leaves the old log recoverable at __precompact (deleting
    // first would lose the entity on a crash or failed rename).
    val old = new java.io.File(dir.getParent, s"${dir.getName}__precompact")
    def rmTree(f: java.io.File): Boolean = {
      val childrenOk =
        if (f.isDirectory) f.listFiles().forall(rmTree) else true
      childrenOk && f.delete()
    }
    if (old.exists() && !rmTree(old))
      throw new java.io.IOException(s"cannot clear stale '$old' for '$entity'")
    if (!dir.renameTo(old))
      throw new java.io.IOException(s"compaction swap failed for '$entity' (log untouched)")
    if (!tmp.renameTo(dir)) {
      old.renameTo(dir) // restore
      throw new java.io.IOException(s"compaction swap failed for '$entity' (log restored)")
    }
    rmTree(old): Unit
  }
}
