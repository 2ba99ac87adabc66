package graft

import scala.util.matching.Regex

/** The source scan behind the guard specs (`ParquetReadGuardSpec`,
  * `SessionGuardSpec`, `ExamplesSpec`): find every match of a pattern in
  * code, outside comments, keyed by file and enclosing `def` or
  * `test(...)` (or another scope pattern's name), and
  * compare those sites with an allowlist of expected counts.
  */
object SourceSweep {

  private val comment = """(?s)/\*.*?\*/|(?m)(?<![:"])//[^\n]*""".r
  private val defOrTest = """\bdef\s+(\w+)|\btest\s*\(\s*"([^"]*)"""".r

  /** Comments blanked to spaces, so offsets and line numbers survive. */
  private def code(src: String): String =
    comment.replaceAllIn(src, m =>
      Regex.quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))

  /** (enclosing scope, line) of every match of `pattern` in `src`; the
    * scope is the name the last `scope` match before it captured (by
    * default the enclosing def or test). */
  def find(pattern: Regex, src: String, scope: Regex = defOrTest): Seq[(String, Int)] = {
    val c = code(src)
    pattern.findAllMatchIn(c).map { m =>
      val before = c.substring(0, m.start)
      val s = scope.findAllMatchIn(before).toSeq.lastOption
        .flatMap(_.subgroups.find(_ != null)).getOrElse("<top>")
      (s, before.count(_ == '\n') + 1)
    }.toSeq
  }

  /** (file relative to `root`, enclosing scope) -> match lines, over
    * every `.scala` file under `root` that `include` accepts. */
  def sweep(root: String, pattern: Regex, include: String => Boolean = _ => true,
      scope: Regex = defOrTest): Map[(String, String), Seq[Int]] = {
    val dir = java.nio.file.Paths.get(root)
    val found = scala.collection.mutable.Map.empty[(String, String), Seq[Int]]
    java.nio.file.Files.walk(dir).forEach { p =>
      val rel = dir.relativize(p).toString.replace('\\', '/')
      if (rel.endsWith(".scala") && include(rel))
        find(pattern, java.nio.file.Files.readString(p), scope).foreach { case (s, line) =>
          found((rel, s)) = found.getOrElse((rel, s), Seq.empty) :+ line
        }
    }
    found.toMap
  }

  /** One line per site whose match count differs from `expected` (0 when
    * not listed): an unlisted site names its lines and `fix`; a listed one
    * with a different count, stale entries included, names both counts. */
  def offenders(found: Map[(String, String), Seq[Int]], expected: Map[(String, String), Int],
      what: String, fix: String): Seq[String] =
    (found.keySet ++ expected.keySet).toSeq.sorted.flatMap { k =>
      val lines = found.getOrElse(k, Seq.empty)
      val n = expected.getOrElse(k, 0)
      if (lines.size == n) None
      else if (n == 0) Some(s"${k._1}:${lines.mkString(",")} (${k._2}): $what — $fix")
      else Some(s"${k._1} (${k._2}): ${lines.size} × $what, allowlisted $n")
    }
}
