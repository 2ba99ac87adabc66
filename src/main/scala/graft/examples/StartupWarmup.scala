package graft.examples

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The reference's startup-warmup example
  * (`/root/reference/examples/startup-warmup/Program.cs`): fill the
  * table caches at application start so the first real request does
  * not pay the cold-read penalty.
  *
  * graft analog: the cold costs on Spark are file listing + parquet
  * footer reads + codegen; a warm-up pass touches every table once
  * (`count()` reads footers and caches the file index) and pins the
  * small dimension tables in executor memory (`persist`), the analog
  * of the reference's table-cache fill. Timings are printed so the
  * effect is visible: the second count of a persisted table is
  * memory-speed.
  *
  * Run: `sbt "runMain graft.examples.StartupWarmup [sfDir]"`
  */
object StartupWarmup extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)

    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1000000)
    }

    // phase 1: touch every table (file index + footers + codegen)
    println("warm-up pass:")
    Tables.names.foreach { t =>
      val (n, ms) = timed(Tables.load(spark, sfDir, t).count())
      println(f"  $t%-12s $n%9d rows  $ms%5d ms")
    }

    // phase 2: pin the dimension tables (the reference's MY_TABLE_A/B
    // cache fill) — these are the broadcast-join sides of every query
    val dims = Seq("region", "nation", "supplier")
    dims.foreach { t =>
      val df = Tables.load(spark, sfDir, t).persist(StorageLevel.MEMORY_ONLY)
      df.count() // materialize the cache
    }
    println("dimension tables pinned; re-read is memory-speed:")
    dims.foreach { t =>
      val (n, ms) = timed(Tables.load(spark, sfDir, t).count())
      println(f"  $t%-12s $n%9d rows  $ms%5d ms (cold pass above)")
    }
  }
}
