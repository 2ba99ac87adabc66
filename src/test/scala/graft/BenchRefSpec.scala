package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's settle-reference pick: a reference qualifies only if it was
  * taken at the run's sf AND on its core count; an explicit override
  * goes ahead of the committed file.
  */
class BenchRefSpec extends AnyFunSuite {

  private val sf01 = "/data/sf0.1"

  /** One reference file in Bench's own single-line format. */
  private def ref(sf: String, cpus: Option[Int], secs: Double = 1.5): String =
    f"""{"metric":"ref","value":$secs%.3f,"unit":"sec","queries":{"q_a":$secs%.3f},""" +
      """"settled":{},"failed":[],"sf":"""" + sf + "\"" +
      cpus.fold("")(c => s""","cpus":$c""") + "}"

  private def pick(cands: (String, String)*)(cpus: Int) =
    Bench.settleRef(cands, sf01, cpus)

  test("a reference taken at another sf does not qualify") {
    val got = pick(
      "override" -> ref("/data/sf1", Some(4)),
      "committed" -> ref(sf01, Some(32)))(cpus = 4)
    assert(got == ("none" -> Map.empty), got)
  }

  test("a reference taken on another core count does not qualify") {
    val committed = "committed" -> ref(sf01, Some(32))
    assert(pick(committed)(cpus = 4) == ("none" -> Map.empty))
    // "cpus":32 is not a match for 3 cores
    assert(pick(committed)(cpus = 3) == ("none" -> Map.empty))
    assert(pick(committed)(cpus = 32) == ("committed" -> Map("q_a" -> 1.5)))
  }

  test("a reference without a cpus field does not qualify") {
    val got = pick("committed" -> ref(sf01, None))(cpus = 32)
    assert(got == ("none" -> Map.empty), got)
  }

  test("a matching override goes ahead of the committed reference; a foreign one does not") {
    val committed = "committed" -> ref(sf01, Some(4), secs = 2.0)
    assert(pick("override" -> ref(sf01, Some(4)), committed)(cpus = 4) ==
      ("override" -> Map("q_a" -> 1.5)))
    assert(pick("override" -> ref(sf01, Some(32)), committed)(cpus = 4) ==
      ("committed" -> Map("q_a" -> 2.0)))
  }
}
