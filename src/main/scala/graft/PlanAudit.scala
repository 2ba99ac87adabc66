package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Scan-duplication audit (BASELINE.md r15 open lead): a composed
  * operator whose STATIC plan references its base table N times is fine
  * when the repeats are pruned column reads or runtime-reused
  * exchanges, and a 4.3×-at-sf100 bug when a repeated subtree carries
  * an expensive kernel (the Classifier.auc diamond). The static count
  * alone cannot tell the two apart, so this main measures each query
  * three ways:
  *
  *   - static scans: `Scan parquet` occurrences in the pre-AQE
  *     formatted plan (the count the r15 sweep flagged);
  *   - final scans / reuse: the same count in the EXECUTED adaptive
  *     plan, where runtime exchange/stage reuse has collapsed whatever
  *     Catalyst actually deduplicated (`ReusedExchange` /
  *     `ReusedQueryStage` markers counted alongside);
  *   - scanned bytes: task-level `inputMetrics.bytesRead` summed over
  *     the query's execution — the ground truth: N pruned scans of a
  *     2-column slice cost less than one unpruned read, and a
  *     duplicated shingle kernel shows up as bytes ≈ k× the table.
  *
  * Usage: `sbt "runMain graft.PlanAudit [sfDir] [minStaticScans|query...]"`
  * — with no query args, audits every bench query whose static scan
  * count is ≥ the threshold (default 5). Full final plans land in
  * /tmp/plan_audit/<query>.txt for the projection-by-projection read.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1)
    val (threshold, named) = rest.partition(_.forall(_.isDigit)) match {
      case (nums, qs) => (nums.headOption.map(_.toInt).getOrElse(5), qs)
    }
    val spark = GraftSession.local()

    val bytesRead = new AtomicLong(0)
    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    // True process-level read bytes (r19/r20 carry: NIO-read local
    // parquet bypasses Hadoop's FileSystem.Statistics, so
    // inputMetrics.bytesRead reads ~0 here). local[n] runs driver and
    // executors in ONE process, so /proc/self/io rchar deltas are the
    // ground truth for "how many bytes did this query actually read" —
    // including every duplicated-scan re-read. Includes shuffle-file
    // and spill re-reads too (an upper bound on scan bytes, and exactly
    // the number a scan-duplication audit wants to see multiply).
    def procRchar(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/io")
        try src.getLines().collectFirst {
          case l if l.startsWith("rchar:") => l.stripPrefix("rchar:").trim.toLong
        }.getOrElse(-1L)
        finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
          memSpilled.addAndGet(t.taskMetrics.memoryBytesSpilled)
          diskSpilled.addAndGet(t.taskMetrics.diskBytesSpilled)
        }
    })

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/tmp/plan_audit"))

    def staticScans(name: String): Int = {
      val df = SparkEntry.benchQueries(name)(spark, sfDir)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      "Scan parquet".r.findAllIn(s).size
    }

    val all = SparkEntry.benchQueries.keys.toSeq.sorted
    val targets: Seq[String] =
      if (named.nonEmpty) named.toSeq
      else all.map(n => n -> (try staticScans(n) catch { case _: Throwable => -1 }))
        .filter(_._2 >= threshold).map(_._1)

    println(f"${"query"}%-28s ${"static"}%6s ${"final"}%6s ${"reused"}%6s ${"inputMB"}%8s ${"ioMB"}%8s ${"spillMB"}%8s ${"sec"}%7s")
    targets.foreach { name =>
      try {
        val df = SparkEntry.benchQueries(name)(spark, sfDir)
        val qe = df.queryExecution
        val stat = "Scan parquet".r
          .findAllIn(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)).size
        bytesRead.set(0); memSpilled.set(0); diskSpilled.set(0)
        // ONE distributed materialization serves both the timing and the
        // final-plan rendering: toRdd.foreach executes the full adaptive
        // plan without pulling a row onto the driver (a row-heavy
        // candidate-pair query would OOM a full executeCollect, r16
        // ADVICE), and the SAME QueryExecution then renders with its
        // runtime-reused stages visible. At sf1000 scale the former
        // two-execution shape doubled a 17-minute query.
        val io0 = procRchar()
        val t0 = System.nanoTime()
        qe.toRdd.foreach(_ => ())
        val sec = (System.nanoTime() - t0) / 1e9
        // a listener race can trail the action by a beat
        Thread.sleep(200)
        val ioMb = if (io0 < 0) -1.0 else (procRchar() - io0) / 1e6
        val mb = bytesRead.get() / 1e6
        val spillMb = diskSpilled.get() / 1e6
        val fin = qe.executedPlan.toString
        val finScans = "Scan parquet".r.findAllIn(fin).size
        val reused = "Reused".r.findAllIn(fin).size
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"/tmp/plan_audit/$name.txt"),
          (qe.explainString(
            org.apache.spark.sql.execution.FormattedMode) + "\n\n===== FINAL =====\n" + fin)
            .getBytes("UTF-8"))
        println(f"$name%-28s $stat%6d $finScans%6d $reused%6d $mb%8.1f $ioMb%8.1f $spillMb%8.1f $sec%7.2f" +
          (if (memSpilled.get() > 0) f"  (mem-spill ${memSpilled.get() / 1e6}%.0f MB)" else ""))
      } catch {
        case e: Throwable =>
          println(f"$name%-28s FAILED: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
