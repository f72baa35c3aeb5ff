package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native SimHash kernel: 64-bit fingerprint from an array of 64-bit token
  * hashes (bit j of the result is set iff more tokens have bit j set than
  * clear). Equivalent to the higher-order
  * `aggregate(hs, array_repeat(0,64), zip_with(..±1..))` fold but emitted
  * as two tight primitive loops inside whole-stage codegen — the
  * interpreted lambda chain costs ~64 closure dispatches per token.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<bigint>, got $t")
  }

  // guard executed/emitted only for containsNull=true inputs — same
  // rationale as minhash_sigs (NPE or phantom 0L hash otherwise)
  private lazy val mayNull = SortedMerge.mayHaveNull(child.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.numElements()) {
      if (mayNull) SortedMerge.checkNull(hs, i, prettyName)
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  ${SortedMerge.checkNullSrc(mayNull, a, i, prettyName)}
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $counts[$j] += (((${h} >>> $j) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
