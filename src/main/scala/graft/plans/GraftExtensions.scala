package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` hook: exposes [[DotProductLong]], [[SimHash48]],
  * [[CdcChunks]], [[WinnowHashes]] and [[PhraseMerge]] to SQL as `dot_long`,
  * `simhash48`, `cdc_chunks`, `winnow_hashes` and `phrase_merge`, installs
  * [[SargableMonthRule]] in the optimizer and [[AsofJoinStrategy]] in the
  * planner. Activate with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "dot_long"),
      (children: Seq[Expression]) => DotProductLong(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash48"),
      new ExpressionInfo(classOf[SimHash48].getName, "simhash48"),
      (children: Seq[Expression]) => SimHash48(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => children match {
        // 1-arg default form, or explicit literal (w, divisor) — anything
        // else must error, never silently fall back to defaults
        case Seq(c) => CdcChunks(c, CdcChunks.DefaultW, CdcChunks.DefaultDivisor)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _),
                    org.apache.spark.sql.catalyst.expressions.Literal(d: Int, _)) =>
          CdcChunks(c, w, d)
        case _ => throw new IllegalArgumentException(
          "cdc_chunks(text) or cdc_chunks(text, <int literal w>, <int literal divisor>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_hashes"),
      new ExpressionInfo(classOf[WinnowHashes].getName, "winnow_hashes"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => WinnowHashes(c, WinnowHashes.DefaultK, WinnowHashes.DefaultW)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _),
                    org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _)) =>
          WinnowHashes(c, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow_hashes(text) or winnow_hashes(text, <int literal k>, <int literal w>)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("phrase_merge"),
      new ExpressionInfo(classOf[PhraseMerge].getName, "phrase_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(t, p) => PhraseMerge(t, p)
        case Seq(t, p, org.apache.spark.sql.catalyst.expressions.Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
          PhraseMerge(t, p, s.toString)
        case _ => throw new IllegalArgumentException(
          "phrase_merge(tokens array<string>, phrases array<string>[, <string literal sep>])")
      }))
    ext.injectOptimizerRule(_ => SargableMonthRule)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}
