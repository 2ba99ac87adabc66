package graft.examples

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.util.Using

/** The one runner behind every example: an example is an `object`
  * extending this trait with a [[run]] body, and the shared [[main]]
  * owns the lifecycle: it builds the session
  * ([[GraftSession.local]]), makes one temp work directory, calls
  * `run`, and in `finally` deletes the directory and stops the session.
  *
  * `ExamplesSpec` calls [[runIn]] on a session of its own, so a body
  * never stops the session or builds another, stops every query it
  * starts, and leaves context-wide settings (the log level) to `main`.
  */
trait Example {

  /** The example. `args` are the command-line arguments; `work` is the
    * path of an empty directory for its stores and checkpoints, deleted
    * after it.
    */
  def run(spark: SparkSession, args: Array[String], work: String): Unit

  /** [[run]] in a fresh work directory that is deleted afterwards. */
  final def runIn(spark: SparkSession, args: Array[String]): Unit =
    Example.inWork(this)(run(spark, args, _))

  def main(args: Array[String]): Unit = Example.session(runIn(_, args))
}

object Example {

  /** The testdata scale-factor directory: the first argument, else sf0.001. */
  def sfDir(args: Array[String]): String = args.headOption.getOrElse("/root/testdata/sf0.001")

  /** `body` on a graft session that is stopped afterwards. */
  def session(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local()
    try body(spark) finally spark.stop()
  }

  /** `body` on a fresh temp directory named after `example`, deleted afterwards. */
  def inWork(example: Example)(body: String => Unit): Unit = {
    val name = example.getClass.getSimpleName.stripSuffix("$")
    val work = Files.createTempDirectory(s"graft_$name")
    try body(work.toString) finally delete(work)
  }

  /** Each file scan of a physical plan's text as one line: the scan's
    * head (format and read columns) and its `PushedFilters: [...]`, the
    * filters the reader applies itself. A scan line runs to hundreds of
    * characters, so a fixed-width cut ends it before its pushed filters.
    */
  def scanFilters(plan: String): Seq[String] =
    plan.linesIterator.filter(l => l.contains("FileScan") && l.contains("PushedFilters: [")).map { l =>
      val from = l.indexOf("FileScan")
      val open = l.indexOf("PushedFilters: [") + "PushedFilters: ".length
      var depth = 0
      val close = (open until l.length).find { i =>
        if (l(i) == '[') depth += 1 else if (l(i) == ']') depth -= 1
        depth == 0
      }.getOrElse(l.length - 1)
      s"${l.substring(from, l.indexOf(']', from) + 1)} PushedFilters: ${l.substring(open, close + 1)}"
    }.toSeq

  /** Deletes `p` and everything under it. */
  def delete(p: Path): Unit =
    Using.resource(Files.walk(p)) {
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
}
