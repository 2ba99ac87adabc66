package graftbench

import graft.streaming.{RuntimeEvent, RuntimeEventBus, RuntimeEventSink}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** JVM-wide counters that cost nothing to read: JIT, GC, code cache,
  * and Spark's whole-stage codegen metrics. Read in every run (the
  * health record) and differenced around phases in traced runs.
  */
object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def codeCachePeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var liveHeapPeak = 0L
  /** Record the heap in use after every collection from now on. Only
    * the collector's notification thread writes the peak. */
  def watchHeap(): Unit = {
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > liveHeapPeak) liveHeapPeak = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
  /** the most heap any collection left in use: the peak of what the
    * program keeps live, however large the young generation grew */
  def liveHeapPeakMb: Double = liveHeapPeak / 1048576.0

  import org.apache.spark.metrics.source.CodegenMetrics._
  def codegenUnits: Long = METRIC_COMPILATION_TIME.getCount
  // the histograms keep a sampled reservoir: count x mean is the total
  def codegenCompileMs: Double =
    METRIC_COMPILATION_TIME.getCount * METRIC_COMPILATION_TIME.getSnapshot.getMean
  def codegenSourceBytes: Double =
    METRIC_SOURCE_CODE_SIZE.getCount * METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean

  def snapshot: Map[String, Double] = Map(
    "jit_ms" -> jitMs.toDouble, "gc_ms" -> gcMs.toDouble,
    "codegen_units" -> codegenUnits.toDouble, "codegen_compile_ms" -> codegenCompileMs,
    "codegen_source_bytes" -> codegenSourceBytes)
}

/** Every per-layer probe of a traced run, registered through Spark's
  * public listener interfaces and graft's [[RuntimeEventBus]]. An
  * untraced run never constructs one.
  */
final class Trace(spark: SparkSession) {
  val jobs, stages, tasks, taskRunMs, taskCpuNs, taskGcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, inputBytes = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  val ingestedRows, compactions = new AtomicLong
  /** (start, end) wall ms of every finished job */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  /** every progress report, by streaming query id */
  val progress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
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
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach {
        case ("analysis", s)     => analysisMs.addAndGet(s.durationMs)
        case ("optimization", s) => optimizationMs.addAndGet(s.durationMs)
        case ("planning", s)     => planningMs.addAndGet(s.durationMs)
        case _                   => ()
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.id.toString, _ => new ConcurrentLinkedQueue)
        .add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val eventSink = new RuntimeEventSink {
    private val Rows = "rows=(\\d+)".r.unanchored
    override def publish(e: RuntimeEvent): Unit = e.name match {
      case "batch.ingested" =>
        e.message.foreach { case Rows(n) => ingestedRows.addAndGet(n.toLong); case _ => () }
      case "batch.compacted" => compactions.incrementAndGet()
      case _                 => ()
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    RuntimeEventBus.addSink(eventSink)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    RuntimeEventBus.removeSink(eventSink)
  }

  def drain(): Unit = org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

  /** Wall ms inside `windows` not covered by any running job. */
  def driverGapMs(windows: Seq[(Long, Long)]): Double = {
    val spans = jobSpans.asScala.toSeq.sortBy(_._1)
    windows.map { case (w0, w1) =>
      var covered = 0L
      var cur = w0
      spans.foreach { case (s, e) =>
        val a = math.max(s, cur)
        val b = math.min(e, w1)
        if (b > a) { covered += b - a; cur = b }
      }
      (w1 - w0 - covered).toDouble
    }.sum
  }

  /** Cumulative listener totals, for differencing around a phase. */
  def totals: Map[String, Double] = Map[String, Double](
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "task_cpu_ms" -> taskCpuNs.get / 1e6,
    "task_gc_ms" -> taskGcMs.get, "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
    "input_bytes" -> inputBytes.get, "analysis_ms" -> analysisMs.get,
    "optimization_ms" -> optimizationMs.get, "planning_ms" -> planningMs.get)
}
