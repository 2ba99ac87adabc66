package graft

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
  *   - scanned bytes: task-level `inputMetrics.bytesRead` (inputMB)
  *     and the process's read-syscall bytes (ioMB; local parquet is read
  *     through NIO, which inputMetrics misses) over the query's build and
  *     execution — the ground truth: N pruned scans of a 2-column slice
  *     cost less than one unpruned read, and a duplicated shingle kernel
  *     shows up as bytes ≈ k× the table.
  *
  * jobs, bytes, spill and sec are one [[Profile]] window that opens
  * before the frame is built and closes after it ran, the region Bench
  * times after the same warm-up, so they match the query's row in
  * Bench's layer table.
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

    val profile = Profile.of(spark)
    Bench.warmUp(spark, sfDir)

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

    println(f"${"query"}%-28s ${"static"}%6s ${"final"}%6s ${"reused"}%6s ${"jobs"}%5s ${"inputMB"}%8s ${"ioMB"}%8s ${"spillMB"}%8s ${"sec"}%7s")
    targets.foreach { name =>
      try {
        // The window opens before the frame is built, as Bench times
        // fn(spark, sfDir) plus the write: an iterative operator runs its
        // per-round checkpoint jobs while the frame is built. ONE
        // distributed materialization serves both the timing and the
        // final-plan rendering: toRdd.foreach executes the full adaptive
        // plan without pulling a row onto the driver (a row-heavy
        // candidate-pair query would OOM a full executeCollect, r16
        // ADVICE), and the SAME QueryExecution then renders with its
        // runtime-reused stages visible (at sf1000 scale the former
        // two-execution shape doubled a 17-minute query). The clock stops
        // only while the planned, not yet executed, plan is rendered for
        // the static count.
        val ((qe, stat, sec), cost) = profile.window {
          val t0 = System.nanoTime()
          val qe = SparkEntry.benchQueries(name)(spark, sfDir).queryExecution
          qe.executedPlan
          val planned = System.nanoTime()
          val stat = "Scan parquet".r
            .findAllIn(qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)).size
          val t1 = System.nanoTime()
          qe.toRdd.foreach(_ => ())
          (qe, stat, (planned - t0 + System.nanoTime() - t1) / 1e9)
        }
        def mb(column: String): Double = cost(column) / 1e6
        val ioMb = if (cost("read_bytes") < 0) -1.0 else mb("read_bytes")
        val fin = qe.executedPlan.toString
        val finScans = "Scan parquet".r.findAllIn(fin).size
        val reused = "Reused".r.findAllIn(fin).size
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"/tmp/plan_audit/$name.txt"),
          (qe.explainString(
            org.apache.spark.sql.execution.FormattedMode) + "\n\n===== FINAL =====\n" + fin)
            .getBytes("UTF-8"))
        println(f"$name%-28s $stat%6d $finScans%6d $reused%6d ${cost("jobs")}%5d ${mb("input_bytes")}%8.1f $ioMb%8.1f ${mb("disk_spill_bytes")}%8.1f $sec%7.2f" +
          (if (cost("memory_spill_bytes") > 0) f"  (mem-spill ${mb("memory_spill_bytes")}%.0f MB)" else ""))
      } catch {
        case e: Throwable =>
          println(f"$name%-28s FAILED: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
