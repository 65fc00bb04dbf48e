package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared `only=` query filter of the harness mains. Pure functions:
  * no Spark session.
  */
class HarnessSpec extends AnyFunSuite {

  private val registry = Map("q_b" -> 2, "q_a" -> 1, "q_c" -> 3)

  test("parseArgs splits positional arguments from the only= filter") {
    assert(Harness.parseArgs(Seq("sf", "out")) == ((Seq("sf", "out"), None)))
    assert(Harness.parseArgs(Seq("sf", "only=q_a,q_b", "out")) ==
      ((Seq("sf", "out"), Some(Set("q_a", "q_b")))))
    assert(Harness.parseArgs(Seq("only=q_a,,")) == ((Seq.empty, Some(Set("q_a")))))
  }

  test("select: no filter keeps every entry, a filter keeps the named ones, both name-sorted") {
    assert(Harness.select(registry, None) ==
      Right(Seq("q_a" -> 1, "q_b" -> 2, "q_c" -> 3)))
    assert(Harness.select(registry, Some(Set("q_c", "q_a"))) ==
      Right(Seq("q_a" -> 1, "q_c" -> 3)))
  }

  test("select rejects unknown names and lists every one of them") {
    assert(Harness.select(registry, Some(Set("q_a", "q_typo", "q_other"))) ==
      Left(Seq("q_other", "q_typo")))
    assert(Harness.select(registry, Some(Set.empty[String])) == Right(Seq.empty))
  }
}
