package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's round-over-round drift trigger (VERDICT r10 #1):
  * a closing artifact must adjudicate any query whose cold min drifted
  * past [[Bench.DriftLimit]] × the last committed artifact's min — the
  * r10 artifact shipped the IVF trio at 2-3× their r9 cost with flat
  * in-run spreads (whole-run contention), which in-run spread checks
  * cannot see. Pure-function tests; the measurement loop itself is the
  * per-round driver run.
  */
class BenchSpec extends AnyFunSuite {

  test("parseQueriesBlock pulls the per-query map from a committed artifact line") {
    val line = """{"metric":"total","value":9.5,"unit":"sec","pass_spread_median":1.2,""" +
      """"queries":{"q_a":1.5,"q_b":0.25,"q_err":-1.0},""" +
      """"spreads":{"q_a":1.10,"q_b":9.99,"q_err":-1},""" +
      """"remeasured":["q_b"],"sf":"/root/testdata/sf0.1"}"""
    val m = Bench.parseQueriesBlock(line)
    assert(m == Map("q_a" -> 1.5, "q_b" -> 0.25, "q_err" -> -1.0))
  }

  test("parseQueriesBlock scopes to the FIRST queries block, never spreads/drift") {
    val m = Bench.parseQueriesBlock(
      """{"queries":{"q_a":2.0},"spreads":{"q_a":1.38},"drift":{"q_a":{"prev":1.0}}}""")
    assert(m == Map("q_a" -> 2.0))
  }

  test("parseQueriesBlock tolerates garbage and absence") {
    assert(Bench.parseQueriesBlock("") == Map.empty[String, Double])
    assert(Bench.parseQueriesBlock("not json at all") == Map.empty[String, Double])
    assert(Bench.parseQueriesBlock("""{"value":3.0}""") == Map.empty[String, Double])
  }

  test("jstr escapes every control character and round-trips through parseQueriesBlock") {
    val name = (0 until 0x20).map(_.toChar).mkString + "\"\\q"
    val escaped = Harness.jstr(name)
    assert(!escaped.exists(_ < ' '), s"raw control character in $escaped")
    assert(Bench.parseQueriesBlock(s"""{"queries":{$escaped:1.5,"q_b":0.25}}""") ==
      Map(name -> 1.5, "q_b" -> 0.25))
  }

  test("driftedQueries flags >limit× regressions and nothing else") {
    val prev = Map("q_slow" -> 0.40, "q_same" -> 1.00, "q_faster" -> 2.00,
      "q_err_prev" -> -1.0, "q_mild" -> 1.00)
    val cur = Map("q_slow" -> 1.28, // the r10 q_similarity_ivfpq_apply shape: 3.2×
      "q_same" -> 1.05, // noise, not drift
      "q_faster" -> 0.70, // improvements never flag
      "q_err_prev" -> 0.50, // no valid reference → no flag
      "q_err_now" -> -1.0, // current error → no flag
      "q_new" -> 5.00, // absent from prev → no reference → no flag
      "q_mild" -> 1.99) // at 1.99× — under the 2× line
    val flagged = Bench.driftedQueries(prev, cur, Bench.DriftLimit)
    assert(flagged == Seq("q_slow"))
  }

  test("driftedQueries is deterministic (name-sorted) for the artifact") {
    val prev = Map("q_b" -> 1.0, "q_a" -> 1.0, "q_c" -> 1.0)
    val cur = Map("q_c" -> 3.0, "q_a" -> 3.0, "q_b" -> 3.0)
    assert(Bench.driftedQueries(prev, cur, 2.0) == Seq("q_a", "q_b", "q_c"))
  }
}
