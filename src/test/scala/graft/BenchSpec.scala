package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's JSON string escaping: every artifact line the
  * bench prints or writes goes through [[Harness.jstr]], so a query name
  * or an error message carrying a control character must never break the
  * reader's parse. Pure-function test; the measurement loop itself is
  * exercised by running `graft.Bench`.
  */
class BenchSpec extends AnyFunSuite {

  test("jstr escapes every control character, quote and backslash") {
    val name = (0 until 0x20).map(_.toChar).mkString + "\"\\q"
    val escaped = Harness.jstr(name)
    assert(!escaped.exists(_ < ' '), s"raw control character in $escaped")
    val expected = "\"" +
      "\\u0000\\u0001\\u0002\\u0003\\u0004\\u0005\\u0006\\u0007" +
      "\\u0008\\t\\n\\u000b\\u000c\\r\\u000e\\u000f" +
      "\\u0010\\u0011\\u0012\\u0013\\u0014\\u0015\\u0016\\u0017" +
      "\\u0018\\u0019\\u001a\\u001b\\u001c\\u001d\\u001e\\u001f" +
      "\\\"\\\\q\""
    assert(escaped == expected)
  }
}
