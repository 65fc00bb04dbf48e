package graft

import java.util.regex.Pattern

import org.apache.spark.sql.functions._

import graft.plans.NormalizeChain
import graft.text.Normalize

/** The guarded native chain against the plain `regexp_replace` fold it
  * replaces. The reference fold is kept here, written out as it stood:
  * `trim(regexp_replace(… regexp_replace(lower(c), p1, r1) …, p8, r8))`.
  * Inputs are generated from fragments that put each guard literal
  * present, absent, broken by a word character, and split across a span
  * another step rewrites; `@` and `\` outside any address or path; and
  * the chars `\s`/`\d` must not match (U+00A0, U+2003, full-width
  * digits, surrogate pairs, control characters).
  */
class NormalizeChainSpec extends SparkSuite {

  private def referenceFold(c: org.apache.spark.sql.Column) =
    trim(Normalize.Replacements.foldLeft(lower(c)) {
      case (acc, step) => regexp_replace(acc, step.pattern, step.replacement)
    })

  /** Java's `Matcher.replaceAll` fold: what each `regexp_replace` step runs. */
  private val compiled = Normalize.Replacements.map(s => (Pattern.compile(s.pattern), s.replacement))
  private def referenceKernel(s: String): String =
    compiled.foldLeft(s) { case (acc, (p, rep)) => p.matcher(acc).replaceAll(rep) }

  private val fragments: IndexedSeq[String] = IndexedSeq(
    // guard literals, present, cased, and with a word char breaking \b
    "encounter id", "Encounter ID", "long text id", "area affected", "affected applications",
    "xencounter id", "encounter idx", "area affectedness", "_long text id",
    // halves of literals, joined by whatever separator comes next
    "encounter ", "long text", " id", "area ", "affected", " applications",
    // e-mail step: addresses and '@' with no address
    "user@example.com", "A.B+c@sub.domain.org", "@", "a@b", "x@y.z", "me@host.", "@@",
    // path step: paths and '\' with no path
    "c:\\windows\\system32\\file.txt", "\\share\\dir-1\\", "\\", "\\\\", "a\\b", "\\ \\", "d:\\",
    // digits and whitespace, incl. chars the default classes do not match
    "123", "0", "4x5", "\uff11\uff12\uff13", "\u0661\u0662", "\ud835\udfd8", "\ud83d\ude00",
    "\u00a0", "\u2003", "\t", "\n", "\u000b", "\f", "\r", "  ", "\u0001", "\u0002", "\u007f",
    "\u0085", "\u2028",
    "Word", "tokens", "É", "İ", "ΣΑΣ", "#")

  private val separators = IndexedSeq("", " ", "  ", "\t", "\u00a0", "\n")

  private def generated(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val parts = Seq.fill(rnd.nextInt(9))(fragments(rnd.nextInt(fragments.length)))
      parts.map(_ + separators(rnd.nextInt(separators.length))).mkString
    }
  }

  private val handCases: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\u00a0", "\u2003",
    // literals split by a span an earlier or later step rewrites
    "area encounter id affected", "encounter area affected id", "long text encounter id id",
    "area\taffected", "encounter\u00a0id", "long text  id", "affected  applications",
    "mail USER@Example.COM now", "a @ b", "trailing @",
    "path C:\\Temp\\a.b.c rest", "back\\slash only \\",
    "\u0001abc", "abc\u0002", "\u00a0 x \u2003", "ab\t\tcd  ef", "line\r\nbreak",
    "\uff11\uff12 and 12", "\ud83d\ude00 4 \ud835\udfd8")

  test("kernel equals the replaceAll fold of every step on generated and hand strings") {
    for (s <- handCases.filter(_ != null) ++ generated(20000, 7L)) {
      assert(NormalizeChain.normalize(s) == referenceKernel(s), s"input: ${Harness.jstr(s)}")
    }
  }

  test("normalize_text equals the regexp_replace fold, generated code and interpreted") {
    import spark.implicits._
    val samples = handCases ++ generated(3000, 11L)
    // an RDD source keeps the projection in whole-stage generated code; a
    // local Seq frame is folded by the optimizer through `eval`
    val viaRdd = spark.sparkContext.parallelize(samples.zipWithIndex, 4).toDF("text", "i")
    val viaLocal = samples.zipWithIndex.toDF("text", "i")
    for (df <- Seq(viaRdd, viaLocal)) {
      val rows = df.select(col("i"), Normalize.normalizeText(col("text")).as("got"),
          referenceFold(col("text")).as("ref"))
        .collect().sortBy(_.getInt(0))
      assert(rows.length == samples.length)
      rows.foreach { r =>
        val in = samples(r.getInt(0))
        assert(r.getString(1) == r.getString(2), s"input: ${Option(in).map(Harness.jstr)}")
      }
    }
  }

  test("kernel returns its input when no step applies, a new string when one does") {
    val untouched = org.apache.spark.unsafe.types.UTF8String.fromString("plain words only")
    assert(NormalizeChain.normalize(untouched) eq untouched)
    val changed = org.apache.spark.unsafe.types.UTF8String.fromString("two  spaces 7")
    assert(NormalizeChain.normalize(changed).toString == "two spaces  ")
  }
}
