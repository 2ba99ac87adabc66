package graft

import org.apache.spark.sql.functions._

/** [[Profile]]: a window read straight after the listener-bus drain
  * holds exactly its own work, with no sleep, and `src/main` keeps no
  * listener or `/proc/self/io` reader of its own.
  */
class ProfileSpec extends SparkSpec {

  private lazy val profile = {
    // a query another suite left running would add its jobs to a window
    spark.streams.active.foreach(_.stop())
    Profile.of(spark)
  }

  test("a window holds exactly its jobs and tasks, read with no sleep") {
    (1 to 50).foreach { i =>
      val (_, cost) = profile.window(spark.range(0, 1000, 1, 7).foreach(_ => ()))
      assert((cost("jobs"), cost("stages"), cost("tasks")) == ((1L, 1L, 7L)), s"iteration $i")
    }
  }

  test("a window around building a checkpointed frame counts the checkpoint's job") {
    var built = 0
    val (_, cost) = profile.window {
      built = jobsOf(spark.range(0, 100, 1, 3).selectExpr("id * 2 AS v").localCheckpoint())
    }
    assert(built >= 1 && cost("jobs") == built, s"window ${cost("jobs")}, job group $built")
  }

  test("the phase, codegen and read-byte columns are non-negative") {
    val (_, cost) = profile.window {
      spark.range(0, 5000, 1, 4).select((col("id") % 13).as("k"), (col("id") * 3).as("v"))
        .groupBy("k").agg(sum("v")).collect()
    }
    Seq("analysis_ms", "optimization_ms", "planning_ms", "jit_ms", "gc_ms", "codegen_units",
      "codegen_compile_ms", "codegen_source_bytes")
      .foreach(c => assert(cost(c) >= 0, s"$c = ${cost(c)}"))
    if (java.nio.file.Files.isReadable(java.nio.file.Paths.get("/proc/self/io")))
      assert(cost("read_bytes") >= 0)
    else assert(cost("read_bytes") == -1)
    // a column that cannot be read on either side of a window stays -1
    val unread = Profile.Totals(Vector(5L, -1L)) - Profile.Totals(Vector(3L, 7L))
    assert(unread.values == Vector(2L, -1L))
  }

  test("a shuffle-only window fills the shuffle columns, and labels stay on their values") {
    val (_, cost) = profile.window(spark.range(0, 1000, 1, 4).repartition(3).foreach(_ => ()))
    assert(cost("shuffle_write_bytes") > 0 && cost("shuffle_read_bytes") > 0, cost.values)
    assert(cost("input_bytes") == 0 && cost.values.size == Profile.Columns.size)
    intercept[IllegalArgumentException](cost("shuffle_writes"))
    val swapped = Profile.Columns.updated(0, Profile.Columns(1)).updated(1, Profile.Columns(0))
    intercept[IllegalArgumentException](Profile.Totals.of(swapped.map(_ -> 0L): _*))
  }

  private val listener = ("""\b(new|extends)\s+(?:[\w.]+\.)?""" +
    """(SparkListener|SparkFirehoseListener|QueryExecutionListener)\b""" +
    """|\baddSparkListener\b|\blistenerManager\s*\.\s*register\b|/proc/self/io""").r

  test("the listener sweep sees qualified, firehose and registration forms") {
    val src = Seq(
      "val a = new org.apache.spark.scheduler.SparkListener {",
      "object B extends SparkFirehoseListener",
      "sc.addSparkListener(c)",
      "spark.listenerManager.register(d)",
      "val e = new SparkListenerJobStart(1, 0L, Nil)",
      "// new SparkListener in a comment").mkString("\n")
    assert(SourceSweep.find(listener, src).map(_._2) == Seq(1, 2, 3, 4))
  }

  test("no listener and no /proc/self/io read in src/main outside Profile") {
    val found = SourceSweep.sweep("src/main/scala", listener, _ != "graft/Profile.scala")
    assert(found.isEmpty, found.map { case ((f, s), l) => s"$f:${l.mkString(",")} ($s)" }
      .mkString("measure through graft.Profile:\n", "\n", ""))
  }
}
