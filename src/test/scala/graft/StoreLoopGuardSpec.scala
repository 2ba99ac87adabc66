package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the one exactly-once sink path: every stamped
  * store and output sink attaches through `graft.streaming.StoreLoop`,
  * whose `attach` owns the trigger order (pending compaction, replay
  * probe, ingest, cadence), whose `appendStamped` owns the single-store
  * append (crash heal, probe, stamp, one sized write, observed rows, no
  * file for an empty batch) and whose `appendPinned` owns the SCD2 and
  * dedup two-store append (one detached pin and count, stamp, sized
  * writes in order, release in `finally`, one event). A hand-copied
  * `foreachBatch` or stamped append misses whichever of those its
  * author forgot, and nothing but this sweep notices. It fails on any
  * `foreachBatch` under `src/main/scala/graft` outside
  * `StoreLoop.attach`, and on any append write under `graft/streaming`
  * outside the two `StoreLoop` appends. Each exception is allowlisted
  * per enclosing `def`, WITH its reason; a new site fails, and so does
  * an allowlist entry whose site is gone.
  */
class StoreLoopGuardSpec extends AnyFunSuite {

  private val root = "src/main/scala/graft"

  // `.foreachBatch`, across line breaks
  private val foreachBatch = """\.\s*foreachBatch\b""".r

  // `.mode("append")` or `.mode(SaveMode.Append)`, across line breaks
  private val appendWrite =
    """\.\s*mode\s*\(\s*(?:"append"|(?:SaveMode\s*\.\s*)?Append)\s*\)""".r

  /** (file under src/main/scala/graft, enclosing def) -> (sites, reason) */
  private val foreachAllowed: Map[(String, String), (Int, String)] = Map(
    ("streaming/StoreLoop.scala", "attach") -> (1, "the engine itself"),
    ("examples/RuntimeEvents.scala", "run") ->
      (1, "a Supervisor demo whose sink fails once on purpose; it stores nothing")
  )

  /** (file under src/main/scala/graft/streaming, enclosing def) -> (sites, reason) */
  private val appendAllowed: Map[(String, String), (Int, String)] = Map(
    ("StoreLoop.scala", "appendStamped") -> (1, "the engine itself"),
    ("StoreLoop.scala", "appendPinned") -> (1, "the engine itself"),
    ("ErrorSink.scala", "guardedForeachBatch") ->
      (1, "the DLQ envelope of a failed batch: a dead-letter log, not a stamped store"),
    ("BarCascade.scala", "write") ->
      (1, "TimeBucketWriter: a user's bar import into the materialized bar table")
  )

  private def counts(m: Map[(String, String), (Int, String)]) =
    m.map { case (k, (n, _)) => k -> n }

  test("the scan recognizes every foreachBatch and append shape and nothing else") {
    val src =
      """object X {
        |  def a = df.writeStream.foreachBatch { (b: DataFrame, id: Long) => () }
        |  def b = df.writeStream
        |      .foreachBatch(f)
        |  // def c = df.writeStream.foreachBatch(f)
        |  /* def d = df.writeStream.foreachBatch(f) */
        |  def e = ErrorSink.guardedForeachBatch(spark, "s", a, p)(w)
        |  def f = df.write.mode("append").parquet(p)
        |  def g = df.write
        |      .mode( "append" )
        |      .parquet(p)
        |  def h = df.write.mode(SaveMode.Append).saveAsTable(t)
        |  def i = df.write.mode("overwrite").parquet(p)
        |  def j = df.writeStream.outputMode("append").start()
        |}""".stripMargin
    assert(SourceSweep.find(foreachBatch, src) == Seq(("a", 2), ("b", 4)))
    assert(SourceSweep.find(appendWrite, src) == Seq(("f", 8), ("g", 10), ("h", 12)))
  }

  test("no foreachBatch in src/main outside StoreLoop.attach and the allowlist") {
    val found = SourceSweep.sweep(root, foreachBatch)
    val offenders = SourceSweep.offenders(found, counts(foreachAllowed), "foreachBatch",
      "attach through StoreLoop.attach")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no append write in graft/streaming outside StoreLoop.appendStamped and the allowlist") {
    val found = SourceSweep.sweep(s"$root/streaming", appendWrite)
    val offenders = SourceSweep.offenders(found, counts(appendAllowed), "append write",
      "append through StoreLoop.appendStamped or StoreLoop.appendPinned")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
