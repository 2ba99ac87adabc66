package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the job-free parquet read: every table and
  * store read under `src/main/scala/graft` goes through
  * `graft.sources.Lake.read`. A bare `spark.read.parquet(path)` runs a
  * one-task schema-inference job on every call (~65 ms on a 4-core
  * box), and nothing but this sweep notices a new one. Examples and
  * tools are exempt (measurement mains, not the product's read path).
  * Each read that `Lake.read` does not serve is allowlisted per
  * enclosing `def`, WITH its reason; a new site fails the sweep, and so
  * does an allowlist entry whose read is gone.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  /** The reader itself: its schema'd read and its Spark-reader fallback. */
  private val reader = ("sources/Lake.scala", "read") -> 2

  /** (file under src/main/scala/graft, enclosing def) -> (reads, reason) */
  private val allowed: Map[(String, String), (Int, String)] = Map(
    ("sources/Lake.scala", "readRange") ->
      (1, "day-partitioned layout: the `day` column comes from partition discovery"),
    ("sources/Lake.scala", "rewriteToTmp") ->
      (1, "compaction reads an explicit file list (the snapshot), not a directory"),
    ("sources/ChangelogStore.scala", "log") ->
      (1, "mergeSchema: log files carry different column sets across versions")
  )

  private val exempt = Seq("examples/", "tools/")

  // `read` (not `readStream`), any `.schema/.option/.options(...)` links
  // across line breaks, then `.parquet(`; or a `format("parquet")` read
  private val parquetRead =
    ("""\bread\s*(?:\.\s*(?:schema|option|options)\s*\((?:[^()]|\([^()]*\))*\)\s*)*""" +
      """\.\s*parquet\s*\(|\bread\s*\.\s*format\s*\(\s*"parquet"\s*\)""").r

  test("the scan recognizes every read shape and nothing else") {
    val src =
      """object X {
        |  def a = spark.read.parquet(p)
        |  def b = spark.read
        |      .parquet(p)
        |  def c = spark.read.schema(s).option("k", f(v)).parquet(p)
        |  def d = spark.read.format("parquet").load(p)
        |  // def e = spark.read.parquet(p)
        |  /* def f = spark.read.parquet(p) */
        |  def g = spark.readStream.schema(s).parquet(p)
        |  def h = df.write.parquet(p)
        |  def i = Lake.read(spark, p)
        |  def j = spark.read.json(p)
        |}""".stripMargin
    assert(SourceSweep.find(parquetRead, src) == Seq(("a", 2), ("b", 3), ("c", 5), ("d", 6)))
  }

  test("every parquet read in src/main goes through Lake.read or is allowlisted") {
    val found = SourceSweep.sweep("src/main/scala/graft", parquetRead,
      rel => !exempt.exists(rel.startsWith))
    val expected = allowed.map { case (k, (n, _)) => k -> n } + reader
    val offenders = SourceSweep.offenders(found, expected, "parquet read", "use Lake.read")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
