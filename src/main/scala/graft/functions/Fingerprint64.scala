package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native document-fingerprint kernel: position-weighted code-point sum
  * `Σ cp(i) · ((i · 2654435761) mod 1000003)` over 1-based character
  * positions — one tight loop per row inside whole-stage codegen.
  *
  * Replaces the higher-order `aggregate(sequence(1, length(text)), …)`
  * fold, which allocates an int array the size of the document and
  * dispatches an interpreted lambda per character (measured ~8× slower at
  * sf0.1). Exact int64 arithmetic: terms < 2^41, overflow-free for any
  * realistic document. Matches DuckDB's
  * `SUM(ORD(SUBSTRING(text, i, 1)) * ((i * 2654435761) % 1000003))`
  * code-point-for-code-point (both engines index by code point, so no
  * ASCII-only assumption).
  */
case class Fingerprint64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fingerprint64 requires string, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var pos = 0L
    var k = 0
    while (k < s.length) {
      val cp = s.codePointAt(k)
      pos += 1
      acc += cp.toLong * ((pos * 2654435761L) % 1000003L)
      k += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val pos = ctx.freshName("pos")
      val k = ctx.freshName("k")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $str.toString();
         |long $acc = 0L;
         |long $pos = 0L;
         |int $k = 0;
         |while ($k < $s.length()) {
         |  int $cp = $s.codePointAt($k);
         |  $pos += 1L;
         |  $acc += (long) $cp * (($pos * 2654435761L) % 1000003L);
         |  $k += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
