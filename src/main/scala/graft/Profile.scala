package graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one profiler behind graft's measurement mains (Bench's layer
  * table, PlanAudit, the pipeline and ingestion-scale drivers): one
  * `SparkListener` and one `QueryExecutionListener`, registered once per
  * session by [[Profile.of]], keep cumulative totals, and a caller
  * differences two [[Profile.Totals]] around a [[window]]. Every read
  * first drains the listener bus, so a window closed right after an
  * action holds all of that action's events, with no sleep.
  *
  * The Spark columns count every job of the session's context, jobs
  * started from other threads included. The JVM columns (JIT, GC,
  * codegen) and the process read bytes cover the whole process: under
  * `local[n]` driver and executors are one JVM. The listeners run on
  * the bus thread, outside any timed region.
  */
final class Profile private (sc: SparkContext) {
  private val jobs, stages, tasks, taskRunMs, taskCpuNs, taskGcMs, shuffleRead, shuffleWrite,
    inputBytes, memorySpill, diskSpill, analysisMs, optimizationMs, planningMs = new AtomicLong

  private val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskGcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        memorySpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private val phases: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach {
        case ("analysis", s)     => analysisMs.addAndGet(s.durationMs)
        case ("optimization", s) => optimizationMs.addAndGet(s.durationMs)
        case ("planning", s)     => planningMs.addAndGet(s.durationMs)
        case _                   => ()
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The totals so far; a bus that cannot be drained reads -1 in the
    * listener columns, blanking a window instead of aborting its caller. */
  private def totals(): Profile.Totals = {
    val drained =
      try { ListenerBusBridge.drain(sc); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    def bus(n: AtomicLong, per: Long = 1L): Long = if (drained) n.get / per else -1L
    Profile.Totals.of("jobs" -> bus(jobs), "stages" -> bus(stages), "tasks" -> bus(tasks),
      "task_run_ms" -> bus(taskRunMs), "task_cpu_ms" -> bus(taskCpuNs, 1000000),
      "task_gc_ms" -> bus(taskGcMs), "shuffle_read_bytes" -> bus(shuffleRead),
      "shuffle_write_bytes" -> bus(shuffleWrite), "input_bytes" -> bus(inputBytes),
      "memory_spill_bytes" -> bus(memorySpill), "disk_spill_bytes" -> bus(diskSpill),
      "analysis_ms" -> bus(analysisMs), "optimization_ms" -> bus(optimizationMs),
      "planning_ms" -> bus(planningMs),
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      "codegen_units" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen_compile_ms" -> CodeGenerator.compileTime / 1000000,
      "codegen_source_bytes" -> Profile.codegenSourceBytes(), "read_bytes" -> Profile.readBytes())
  }

  /** `body`'s result and what it cost: the totals after it less those before. */
  def window[A](body: => A): (A, Profile.Totals) = {
    val before = totals()
    val result = body
    (result, totals() - before)
  }
}

object Profile {

  /** The columns of [[Totals]], in order. */
  val Columns: Seq[String] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "memory_spill_bytes", "disk_spill_bytes",
    "analysis_ms", "optimization_ms", "planning_ms",
    "jit_ms", "gc_ms", "codegen_units", "codegen_compile_ms", "codegen_source_bytes",
    "read_bytes")

  /** One value per [[Columns]] entry; -1 where the value cannot be read. */
  final case class Totals(values: Vector[Long]) {
    def apply(column: String): Long = {
      require(Columns.contains(column), s"no Profile column $column")
      values(Columns.indexOf(column))
    }
    def -(earlier: Totals): Totals =
      Totals(values.lazyZip(earlier.values).map((a, b) => if (a < 0 || b < 0) -1L else a - b))
    def tsv: String = values.mkString("\t")
  }

  object Totals {
    /** Totals from (column, value) pairs, which must name [[Columns]] in order. */
    def of(pairs: (String, Long)*): Totals = {
      require(pairs.map(_._1) == Columns, s"Profile columns ${pairs.map(_._1)}")
      Totals(pairs.map(_._2).toVector)
    }
  }

  private val bySession =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Profile])

  /** The profile of `spark`, registered on its first use. */
  def of(spark: SparkSession): Profile =
    bySession.computeIfAbsent(spark, s => {
      val p = new Profile(s.sparkContext)
      s.sparkContext.addSparkListener(p.listener)
      s.listenerManager.register(p.phases)
      p
    })

  /** Bytes every read syscall of this process returned (`rchar` of
    * `/proc/self/io`), or -1 where that file cannot be read. Spark reads
    * local parquet through NIO, past both `inputMetrics.bytesRead` and
    * Hadoop's FS statistics, so this is the counter that sees every
    * scan, footer, shuffle-file and spill re-read. */
  private def readBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("rchar:") => l.stripPrefix("rchar:").trim.toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  private var seenUnits, sourceBytes = 0L

  /** Generated source bytes so far. Spark keeps only a decaying sample of
    * the sizes, so each read adds its new units times the sample's mean:
    * an estimate that never decreases, exact when the new units have the
    * sample's mean size. */
  private def codegenSourceBytes(): Long = synchronized {
    val h = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val n = h.getCount
    if (n > seenUnits) {
      sourceBytes += ((n - seenUnits) * h.getSnapshot.getMean).toLong
      seenUnits = n
    }
    sourceBytes
  }
}
