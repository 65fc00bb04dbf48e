package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Normalize

/** The eight replacements of UD1 `normalize_text`
  * ([[graft.text.Normalize.Replacements]], in order) as one per-row node:
  * the same result as folding Spark's `regexp_replace` over the steps,
  * from one string decode and one encode instead of eight of each.
  *
  * The kernel skips a step whose [[Normalize.Step.literal]] is absent from
  * the current string — such a regex cannot match without it, so the skip
  * is exact — and runs the `\s+` and `\d+` steps as char loops over Java's
  * default classes (`[ \t\n\x0B\f\r]`, `[0-9]`) that return their input
  * when there is nothing to replace. The other steps keep their compiled
  * `Pattern`.
  *
  * Per-row, shuffle-free, codegen'd: generated code calls
  * [[NormalizeChain.normalize]] directly.
  */
case class NormalizeChain(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"normalize_chain requires string, got $t")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_chain"

  override def nullSafeEval(input: Any): Any =
    NormalizeChain.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NormalizeChain.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeChain {

  private val Whitespace = 0
  private val Digit = 1

  private val Kernels: Array[String => String] = Normalize.Replacements.map {
    case Normalize.Step("\\s+", rep, _) => (s: String) => replaceRuns(s, Whitespace, rep)
    case Normalize.Step("\\d+", rep, _) => (s: String) => replaceRuns(s, Digit, rep)
    case Normalize.Step(pat, rep, literal) =>
      val p = Pattern.compile(pat)
      literal match {
        case Some(l) => (s: String) => if (s.contains(l)) p.matcher(s).replaceAll(rep) else s
        case None => (s: String) => p.matcher(s).replaceAll(rep)
      }
  }.toArray

  /** Static so generated code calls it directly. Returns `s` itself when
    * no step changed it (and it is valid UTF-8, which decoding would
    * otherwise repair, as `regexp_replace` does).
    */
  def normalize(s: UTF8String): UTF8String = {
    val in = s.toString
    val out = normalize(in)
    if ((out eq in) && s.isValid) s else UTF8String.fromString(out)
  }

  /** The chain over a Java string; the Scala-UDF twin's kernel. */
  def normalize(s: String): String = {
    var out = s
    var i = 0
    while (i < Kernels.length) {
      out = Kernels(i)(out)
      i += 1
    }
    out
  }

  private def inClass(cls: Int, c: Char): Boolean =
    if (cls == Whitespace) c == ' ' || (c >= '\t' && c <= '\r')
    else c >= '0' && c <= '9'

  /** `s` with every maximal run of `cls` chars replaced by `rep` — what
    * `replaceAll("\\s+" | "\\d+", rep)` gives — allocating only when some
    * run differs from `rep`.
    */
  private def replaceRuns(s: String, cls: Int, rep: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      if (inClass(cls, s.charAt(i))) {
        var j = i + 1
        while (j < n && inClass(cls, s.charAt(j))) j += 1
        if (j - i != rep.length || !s.regionMatches(i, rep, 0, rep.length)) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, copied, i).append(rep)
          copied = j
        }
        i = j
      } else i += 1
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }
}
