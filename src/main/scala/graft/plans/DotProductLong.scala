package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd integer dot product of two `array<bigint>` columns —
  * the hot inner loop of every similarity/ANN operator in [[graft.sim]].
  *
  * Why a custom Expression (SURVEY §4 named this the one candidate):
  * the composable form `aggregate(zip_with(a, b, _*_), 0L, _+_)` is
  * correct but built from higher-order functions, which Spark evaluates
  * per-element through lambda plumbing OUTSIDE whole-stage codegen. This
  * expression generates a tight primitive `long` loop inside the codegen
  * stage — no lambda dispatch, no boxing, no intermediate product array.
  *
  * Semantics: null array → null (standard BinaryExpression null handling);
  * length mismatch → min-length prefix; null elements skipped. The
  * [[graft.sim]] quantized vectors are dense and equal-length, where this
  * coincides exactly with the HOF form (tested).
  */
case class DotProductLong(left: Expression, right: Expression)
  extends BinaryExpression {

  // (ExpectsInputTypes is unusable outside Spark's namespace in 4.x —
  // its signature exposes the private[sql] AbstractDataType — so input
  // validation happens here instead.)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_long requires (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += $x.getLong($i) * $y.getLong($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
