package graft.text

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.NormalizeChain

/** UD1 `normalize_text` (`preprocess_and_store_parquets.py:111-138`)
  * re-expressed natively: `lower` → 4 domain-keyword removals →
  * whitespace collapse → email strip → file-path strip → digit strip →
  * trim.
  *
  * The reference runs this as a Python UDF — a per-row JVM↔Python
  * serialization wall (`BatchEvalPython` breaks whole-stage codegen). Here
  * `lower` and the outer `trim` are Spark's own expressions and the eight
  * replacements run as one codegen'd [[graft.plans.NormalizeChain]] node,
  * whose kernel skips a step when the string lacks the literal every match
  * of that step contains. A Scala-UDF twin calls the same kernel, only to
  * demonstrate the UDF registration surface.
  *
  * Step ORDER is semantics: the reference collapses whitespace BEFORE
  * stripping digits, so digit runs leave behind un-collapsed spaces —
  * faithfully preserved here.
  */
object Normalize {

  /** One replacement of the chain: every match of `pattern` becomes
    * `replacement`. `literal`, when set, is a string every match of
    * `pattern` contains, so a string without it cannot match and the step
    * is skipped.
    */
  final case class Step(pattern: String, replacement: String, literal: Option[String])

  /** The chain ↔ `preprocess_and_store_parquets.py:121-132`, in order.
    * Patterns are valid in both Java regex (Spark) and RE2 (DuckDB oracle).
    */
  val Replacements: Seq[Step] = Seq(
    Step("\\bencounter id\\b", "", Some("encounter id")),
    Step("\\blong text id\\b", "", Some("long text id")),
    Step("\\barea affected\\b", "", Some("area affected")),
    Step("\\baffected applications\\b", "", Some("affected applications")),
    Step("\\s+", " ", None),
    Step("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "", Some("@")),
    Step("([A-Za-z]:)?(\\\\[\\w-]+)+\\\\?([\\w-]+(\\.\\w+)*)?", "", Some("\\")),
    Step("\\d+", " ", None)
  )

  /** The full normalize chain: `trim(normalize_chain(lower(c)))`. */
  def normalizeText(c: Column): Column = {
    val chain = NormalizeChain(GraftColumnShim.expression(lower(c)))
    trim(GraftColumnShim.column(chain))
  }

  /** Scala-UDF twin — same kernel as [[normalizeText]], in-JVM (no pickle
    * boundary) but opaque to codegen. Kept to cover the reference's UDF
    * registration surface (`preprocess_and_store_parquets.py:141`).
    * Lowers and trims with Spark's own `UTF8String` methods: its `trim`
    * strips spaces only, where `String.trim` would also strip control
    * characters.
    */
  val normalizeTextScala: String => String = { text =>
    if (text == null) null
    else NormalizeChain.normalize(UTF8String.fromString(text).toLowerCase).trim().toString
  }

  /** DuckDB equivalent of [[normalizeText]] applied to column expr `c` —
    * generated from the same [[Replacements]] so the two can't drift.
    * DuckDB regexp_replace needs the 'g' flag (Spark is global by default).
    */
  def normalizeSql(c: String): String = {
    // The runtime pattern string (e.g. `\bencounter id\b`) is already the
    // regex RE2 should see; DuckDB single-quoted literals keep backslashes,
    // so the pattern passes through verbatim.
    val replaced = Replacements.foldLeft(s"lower($c)") { case (acc, step) =>
      s"regexp_replace($acc, '${step.pattern.replace("'", "''")}', '${step.replacement}', 'g')"
    }
    s"trim($replaced)"
  }
}
