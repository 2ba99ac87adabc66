package graftbench

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one run measured: raw samples (percentiles are taken by the
  * caller), scalars, per-layer values (traced runs only), named
  * failures and the health record. Written as one JSON object.
  */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, ArrayBuffer.empty) += v
  def fail(what: String): Unit = { failures += what; System.err.println(s"[graftbench] FAILED $what") }

  def toJson: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "samples" -> obj(samples.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") }),
      "scalars" -> obj(scalars.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "info" -> obj(info.map { case (k, v) => k -> str(v) }),
      "failures" -> failures.map(str).mkString("[", ",", "]"),
      "attempted" -> attempted.toString))
  }
}

final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, setupOnly: Boolean,
    work: Path, out: Path, cores: Int, params: Map[String, String])

/** One benchmark workload. `setup` is what a user pays before the first
  * timed operation can run, beyond the session itself. It leaves the
  * inputs untouched, so a set-up-only JVM can time it on the same inputs.
  */
trait Workload {
  def setup(spark: SparkSession, dir: Path, res: Result): Unit
  def teardown(): Unit
  def run(spark: SparkSession, res: Result, trace: Option[Trace]): Unit
  /** extra traced-only work after the measured run (untimed end-to-end) */
  def traceExtra(res: Result): Unit = ()
}

object Main {
  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graftbench")
      // the settings graft.Bench times under
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every progress report of a run for the late-row check
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Make a prepared file visible to a stream: one atomic rename. */
  def publish(file: Path, dir: Path): Unit =
    Files.move(file, dir.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m.get("setup-only").contains("1"), Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.getOrElse("cores", "4").toInt, m)
  }

  def main(args: Array[String]): Unit = {
    // Spark prints banners on stdout; the result goes to a file
    System.setOut(System.err)
    val opts = parse(args)
    val res = new Result
    val w: Workload = opts.workload match {
      case "ksql_pull"      => new BatchWorkload(opts, BatchWorkload.ksqlPull)
      case "curation_batch" => new BatchWorkload(opts, BatchWorkload.curation)
      case "bar_cascade"    => new BarCascadeWorkload(opts)
      case "store_loop"     => new StoreLoopWorkload(opts)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Jvm.watchHeap()
    var spark: SparkSession = null
    try {
      // set-up runs from JVM start: class loading, the session with
      // GraftExtensions, and the workload's own set-up
      spark = session(opts.cores, opts.work)
      spark.sparkContext.setLogLevel("ERROR")
      val trace = if (opts.trace) Some(new Trace(spark)) else None
      trace.foreach(_.register())
      w.setup(spark, opts.work.resolve(s"session-${ProcessHandle.current().pid()}"), res)
      res.sample("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3)
      if (!opts.setupOnly) {
        w.run(spark, res, trace)
        trace.foreach(_.unregister())
        health(spark, res)
      }
      w.teardown()
      stopSession(spark)
      if (opts.trace && !opts.setupOnly) w.traceExtra(res)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"run aborted: ${e.toString.linesIterator.next()}")
    } finally {
      Files.write(opts.out, res.toJson.getBytes("UTF-8"))
    }
    // non-daemon threads left by a stopped context must not keep the JVM
    sys.exit(0)
  }

  def health(spark: SparkSession, res: Result): Unit = {
    res.scalars("jit_s") = Jvm.jitMs / 1000.0
    res.scalars("gc_s") = Jvm.gcMs / 1000.0
    res.scalars("code_cache_peak_mb") = Jvm.codeCachePeakMb
    res.scalars("heap_max_mb") = Jvm.heapMaxMb
    res.scalars("peak_heap_mb") = Jvm.liveHeapPeakMb
    // VmHWM: the resident-set high-water mark of this JVM
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0))
      .toOption.flatten.foreach(v => res.scalars("peak_rss_mb") = v)
    res.info("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")
    res.info("spark") = spark.version
    res.info("master") = spark.sparkContext.master
  }
}
