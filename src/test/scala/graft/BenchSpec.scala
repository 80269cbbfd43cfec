package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout line stays inside its capture window. */
class BenchSpec extends AnyFunSuite {

  private val entry = "\"(q_\\w+)\":[0-9.]+".r

  private def render(tail: String)(qs: String, shown: Int): String =
    s"""{"metric":"total","queries":$qs,"shown":$shown$tail}"""

  test("stdout line keeps the slowest entries that fit the ceiling") {
    // 400 long-named queries, fastest first, so the sort is exercised
    val results = (1 to 400).map(i => f"q_synthetic_family_query_$i%04d" ->
      i / 100.0)
    // a short rest-of-line keeps the 1000-char entry budget; a long one
    // (e.g. many --repeat runs) forces entries out on top of it
    val Seq(roomy, tight) = Seq("", ",\"runs\":\"" + "x" * 1500 + "\"")
      .map(tail => Bench.stdoutLine(results, render(tail)))
    val keptCounts = for (line <- Seq(roomy, tight)) yield {
      assert(line.length <= Bench.StdoutCeiling, s"${line.length} chars")
      val kept = entry.findAllMatchIn(line).map(_.group(1)).toSeq
      assert(kept.nonEmpty)
      assert(line.contains(s""""shown":${kept.size}"""))
      // the fastest are dropped: what is left is a prefix of the slowest
      assert(kept == results.sortBy(-_._2).map(_._1).take(kept.size))
      kept.size
    }
    assert(keptCounts(1) < keptCounts(0))
  }

  test("stdout line keeps every entry when all fit") {
    val results = Seq("q_a" -> 1.0, "q_b" -> 2.0)
    assert(Bench.stdoutLine(results, render("")) ==
      """{"metric":"total","queries":{"q_b":2.000,"q_a":1.000},"shown":2}""")
  }
}
