package graft.examples

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Paired measurement harness for the iterative graph operators (r19
  * optimization round): executes the named bench queries (default: the
  * PageRank family) through the noop sink N times in one JVM and
  * prints, per query, the min wall plus the per-execution job / stage /
  * shuffle-byte counts from a SparkListener — the honest instrument for
  * a loop whose final explain() is checkpoint-truncated to a scan of
  * the last round's RDD.
  *
  * Usage: tools/runmain.sh graft.examples.GraphRoundsAB [q_name ...]
  */
object GraphRoundsAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val spark = GraftSession.local()

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    // SPARK_GRAFT_DUMP_PLANS=<dir>: write every executed plan (the
    // per-round checkpoint actions included — the plans a final
    // explain() can't show) to numbered files
    sys.env.get("SPARK_GRAFT_DUMP_PLANS").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val seq = new java.util.concurrent.atomic.AtomicInteger
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val i = seq.incrementAndGet()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"plan_$i%03d_$funcName.txt"),
            qe.executedPlan.toString.getBytes("UTF-8"))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_graph_pagerank", "q_graph_trustrank", "q_graph_host_rank")
    // warm-up pass so codegen/JIT init doesn't pollute the first query
    graft.sources.Tables.load(spark, sfDir, "documents").count()
    names.foreach { name =>
      val fn = graft.SparkEntry.benchQueries(name)
      val walls = (1 to repeat).map { i =>
        Thread.sleep(500) // let the async listener bus drain
        val (j0, s0, r0, w0) = (jobs.get, stages.get, shufRead.get, shufWrite.get)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        println(f"[graph-rounds-ab] $name run$i: wall $wall%.2f s, " +
          f"jobs ${jobs.get - j0}, stages ${stages.get - s0}, " +
          f"shufRead ${(shufRead.get - r0) / 1e6}%.1f MB, shufWrite ${(shufWrite.get - w0) / 1e6}%.1f MB")
        wall
      }
      println(f"[graph-rounds-ab] $name min wall: ${walls.min}%.2f s")
    }
    spark.stop()
  }
}
