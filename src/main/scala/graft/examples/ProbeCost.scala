package graft.examples

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Isolate the replay-probe cost on a real post-replay band store:
  * time spark.read + filter(ingest_batch === fresh-id).isEmpty — the
  * exact job ReplayProbe skips on steady-state triggers.
  */
object ProbeCost {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local()
    // warm (JIT + listing cache behavior matches a steady-state trigger:
    // each trigger re-reads, so we re-read per iteration too)
    (1 to 2).foreach { _ =>
      spark.read.parquet(dir).filter(col("ingest_batch") === 999999L).isEmpty
    }
    val n = 10
    val t0 = System.nanoTime()
    (1 to n).foreach { _ =>
      val df = spark.read.parquet(dir)
      assert(df.filter(col("ingest_batch") === 999999L).isEmpty)
    }
    val probeMs = (System.nanoTime() - t0) / 1e6 / n
    // the read-only (listing + schema) share, no probe job
    val t1 = System.nanoTime()
    (1 to n).foreach { _ => spark.read.parquet(dir).schema }
    val readMs = (System.nanoTime() - t1) / 1e6 / n
    println(f"probe(listing+schema+scan job) = $probeMs%.0f ms/trigger; listing+schema alone = $readMs%.0f ms")
    spark.stop()
  }
}
