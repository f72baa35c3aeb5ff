package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash kernel: 32 signature minima from an array of 64-bit
  * shingle hashes, in one pass. Identical values to the higher-order fold
  * it replaces: `sig_i = min over h of (pmod(h, M) * A_i + B_i) mod M`
  * with `M = 2^31−1`, `A_i = 2654435761 + 40503·i`, `B_i = 97·i + 1`
  * (all products stay below 2^63 — ANSI-safe).
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  import MinHashSigs._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires array<bigint>, got $t")
  }

  // guard executed/emitted only for containsNull=true inputs (internal
  // callers build non-null arrays and pay nothing): unchecked getLong
  // turns a null slot into an NPE or a phantom 0L shingle hash that
  // silently corrupts signatures
  private lazy val mayNull = SortedMerge.mayHaveNull(child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sigs = Array.fill(NumHashes)(M)
    var i = 0
    while (i < hs.numElements()) {
      if (mayNull) SortedMerge.checkNull(hs, i, prettyName)
      val hp = ((hs.getLong(i) % M) + M) % M
      var k = 0
      while (k < NumHashes) {
        val v = (hp * (A0 + AStep * k) + (BStep * k + 1)) % M
        if (v < sigs(k)) sigs(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sigs = ctx.freshName("sigs")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val hp = ctx.freshName("hp")
      val v = ctx.freshName("v")
      s"""
         |long[] $sigs = new long[$NumHashes];
         |java.util.Arrays.fill($sigs, ${M}L);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  ${SortedMerge.checkNullSrc(mayNull, a, i, prettyName)}
         |  long $hp = (($a.getLong($i) % ${M}L) + ${M}L) % ${M}L;
         |  for (int $k = 0; $k < $NumHashes; $k++) {
         |    long $v = ($hp * (${A0}L + ${AStep}L * $k) + (${BStep}L * $k + 1L)) % ${M}L;
         |    if ($v < $sigs[$k]) $sigs[$k] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {
  val NumHashes = 32
  val M = 2147483647L // 2^31 − 1
  val A0 = 2654435761L
  val AStep = 40503L
  val BStep = 97L
}
