package graft.scale

import org.scalatest.funsuite.AnyFunSuite

/** The dedup family's memory-pressure gate (round-11 advice #6): the
  * 100 TB design claims rest on bounded shuffle rows per task, and this
  * is the matching runtime claim — under a heap cut to 2g (vs the
  * suite's 8g) the exact-pair operators must COMPLETE by spilling, not
  * die with OOM. Runs [[graft.tools.PressureProbe]] (q85 ngram-Jaccard,
  * q147 containment, q62 sentence dedup at sf0.1) in a forked child JVM
  * so the constrained heap never touches the suite session; asserts
  * exit 0 and nonzero result rows. Spill bytes are reported, not
  * asserted — whether sf0.1 spills at 2g depends on the corpus, and the
  * gate is "no OOM", not "must spill" (the sf1 × 2g run recorded in
  * SCALING.md is the one that demonstrably spills).
  */
class MemoryPressureSpec extends AnyFunSuite {

  test("exact-pair dedup family completes under a 2g heap (spill, not OOM)") {
    // inherit the suite's add-opens etc., but REPLACE the heap cap
    // PressureProbe's default corpus is sf0.1
    val res = graft.core.ChildJvm.run("graft.tools.PressureProbe",
      timeoutSec = 15 * 60, inheritStderr = true, xmx = Some("2g"))
    assert(res.isDefined, "pressure probe timed out")
    val (rc, out) = res.get
    assert(rc == 0, s"pressure probe failed (rc=$rc):\n$out")
    val line = out.linesIterator.find(_.startsWith("PRESSURE_OK"))
    assert(line.isDefined, s"no PRESSURE_OK line in:\n$out")
    val kv = line.get.split("\\s+").drop(1)
      .map(_.split("=")).collect { case Array(k, v) => k -> v.toLong }.toMap
    assert(kv("q85") > 0L, s"q85 returned no pairs: $line")
    assert(kv("q147") > 0L, s"q147 returned no pairs: $line")
    assert(kv("q62") > 0L, s"q62 returned no rows: $line")
    assert(kv("q217") > 0L, s"q217 returned no pairs: $line")
    assert(kv("q218") > 0L, s"q218 returned no spans: $line")
    info(s"pressure probe: ${line.get}")
  }
}
