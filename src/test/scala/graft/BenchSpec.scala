package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("per-query best line plus the headline fit an 1800-char stdout tail") {
    // worst case under 10 s: every value prints as 4 characters
    val best = Seq.fill(257)(9.994)
    val line = Bench.perQueryBestLine(best)
    val head = Bench.headline(best.sum, best.sum * 1.5,
      "/data/lsdspark/testdata/sf0.1", best.size, errorNames = Nil)
    assert(line.length + 1 + head.length <= 1800,
      s"${line.length} + ${head.length} chars")
    assert(line.startsWith("""{"metric":"per_query_best","""))
    assert(line.contains(""""n":257,""") && line.contains("[9.99,9.99,"))
    assert(head.endsWith(""""n_errors":0,"errors":[]}"""))
  }

  test("the headline names errored queries only") {
    val head = Bench.headline(1.0, 2.0, "sf", 3, Seq("q_b", "q_a"))
    assert(head.endsWith(""""n_errors":2,"errors":["q_a","q_b"]}"""))
  }
}
