package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the similarity hot path (SURVEY.md §7.3:
  * "custom Expression w/ codegen if hot"). The generated code is a tight
  * primitive loop over the array buffers — no boxing, no lambda dispatch —
  * and stays inside whole-stage codegen, unlike the equivalent
  * `aggregate(zip_with(...))` higher-order chain.
  *
  * Summation is sequential left-to-right, matching DuckDB's
  * `list_dot_product` fold, so oracle comparisons stay bit-exact for the
  * integer-quantized vectors used in `graft.llm.Similarity`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires two array<double> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // Length mismatch is an ERROR, not a truncation: a corrupt embedding
  // must not silently score as a plausible lower similarity (DuckDB's
  // list_dot_product raises on unequal dimensions — silent divergence
  // from the oracle is exactly what this kernel exists to prevent).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: vector dimensions must be equal, got $n and ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: vector dimensions must be equal, got " + $n +
         |    " and " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
