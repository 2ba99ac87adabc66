package graft.examples

import graft.GraftSession
import org.apache.spark.sql.functions.col

/** Dump named bench-only queries' full outputs as single sorted JSON
  * files, for A/B equality proofs on queries the DuckDB oracle can't
  * gate (xxhash64 twins, sketch-backed graph queries). Run once on the
  * candidate tree and once on the baseline, then `diff` the files —
  * doubles print via Jackson's shortest-round-trip form, so bit-equal
  * results diff clean (r20, HyperBall union-fold proof).
  *
  * Usage: tools/runmain.sh graft.examples.DumpBench <outDir> <q ...>
  */
object DumpBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpBench <outDir> <query names...>")
    val outDir = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.benchQueries(name)(spark, sfDir)
      val sorted = df.orderBy(df.columns.sorted.map(col).toIndexedSeq: _*)
      val rows = sorted.toJSON.collect()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.json"),
        rows.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"[dump-bench] $name: ${rows.length} rows -> $outDir/$name.json")
    }
    spark.stop()
  }
}
