package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Element-type dispatch shared by the two kernels below: both accept
  * sorted `array<string>` (binary string order) or sorted `array<bigint>`
  * (numeric order — the cheaper representation: token/shingle *hashes*
  * merge with one long compare instead of a byte-wise string compare).
  */
private[functions] object SortedMerge {
  def ok(l: DataType, r: DataType): Boolean = (l, r) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => true
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => true
    case _ => false
  }
  def mayHaveNull(t: DataType): Boolean = t match {
    case ArrayType(_, n) => n
    case _ => false
  }
  /** Runtime guard for nullable-ELEMENT arrays — executed/emitted only
    * when the input TYPE admits null elements (every internal operator
    * builds containsNull=false arrays and pays nothing): the kernels
    * read with unchecked getUTF8String/getLong, so a null slot would NPE
    * interpreted or read garbage under codegen — a silently wrong count.
    * A loud error beats both.
    */
  def checkNull(x: ArrayData, i: Int, fn: String): Unit =
    if (x.isNullAt(i))
      throw new IllegalArgumentException(s"$fn: null array element at index $i")
  def checkNullSrc(mayNull: Boolean, a: String, i: String, fn: String): String =
    if (!mayNull) ""
    else s"""if ($a.isNullAt($i)) throw new IllegalArgumentException("$fn: null array element");"""
  def isLong(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  /** Java source for `compare(a[i], b[j])` over the element type. */
  def cmpSrc(long: Boolean, a: String, i: String, b: String, j: String): String =
    if (long) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
    else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
  def cmp(long: Boolean, x: ArrayData, i: Int, y: ArrayData, j: Int): Int =
    if (long) java.lang.Long.compare(x.getLong(i), y.getLong(j))
    else x.getUTF8String(i).compareTo(y.getUTF8String(j))
}

/** Native set-intersection-size kernel for the pair-verification hot path
  * (Jaccard / MinHash exact verify): `|A ∩ B|` of two SORTED distinct
  * arrays (string or bigint elements) by linear merge — O(|A|+|B|)
  * compares, zero allocation. The equivalent `size(array_intersect(a, b))`
  * builds a hash set and materializes the intersection array per pair,
  * which dominates blocked all-pairs joins (the per-pair inner loop of
  * q24/q25).
  *
  * PRECONDITION: both inputs sorted ascending in the element type's order
  * (`array_sort` / `sort_array` produce exactly this; sorting is
  * once per document, amortized over all pairs in its block). Elements
  * need not be globally distinct — equal runs advance both sides by one
  * match, which equals `array_intersect` semantics when each side is
  * distinct (the dedup operators always intersect `array_distinct` sets).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (SortedMerge.ok(left.dataType, right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires two array<string> or two array<bigint> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  private lazy val longElems = SortedMerge.isLong(left.dataType)
  private lazy val mayNullL = SortedMerge.mayHaveNull(left.dataType)
  private lazy val mayNullR = SortedMerge.mayHaveNull(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      if (mayNullL) SortedMerge.checkNull(x, i, prettyName)
      if (mayNullR) SortedMerge.checkNull(y, j, prettyName)
      val cmp = SortedMerge.cmp(longElems, x, i, y, j)
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  ${SortedMerge.checkNullSrc(mayNullL, a, i, prettyName)}
         |  ${SortedMerge.checkNullSrc(mayNullR, b, j, prettyName)}
         |  int $cmp = ${SortedMerge.cmpSrc(longElems, a, i, b, j)};
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Early-exit variant for thresholded pair verification: returns the exact
  * `|A ∩ B|` if it is ≥ `minRequired`, else -1 — bailing out as soon as
  * `matches + min(remaining_a, remaining_b) < minRequired`. For a Jaccard
  * ≥ t filter, `minRequired = ceil(t/(1+t) · (|A|+|B|))`, so non-matching
  * pairs (the overwhelming majority in blocked all-pairs joins) exit after
  * a fraction of the merge; matching pairs pay the full merge and return
  * the exact count, so any predicate of form `count ≥ minRequired` —
  * e.g. the Jaccard threshold itself — is answer-identical.
  */
case class SortedIntersectCountMin(
    first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (a, b, IntegerType) if SortedMerge.ok(a, b) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          "sorted_intersect_count_min requires (array<string>, array<string>, int) " +
            s"or (array<bigint>, array<bigint>, int), got ($a, $b, $c)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count_min"

  private lazy val longElems = SortedMerge.isLong(first.dataType)
  private lazy val mayNullL = SortedMerge.mayHaveNull(first.dataType)
  private lazy val mayNullR = SortedMerge.mayHaveNull(second.dataType)

  override def nullSafeEval(a: Any, b: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = m.asInstanceOf[Int]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      if (c + math.min(nx - i, ny - j) < need) return Int.box(-1)
      if (mayNullL) SortedMerge.checkNull(x, i, prettyName)
      if (mayNullR) SortedMerge.checkNull(y, j, prettyName)
      val cmp = SortedMerge.cmp(longElems, x, i, y, j)
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    if (c >= need) c else -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      val rem = ctx.freshName("rem")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $rem = ($nx - $i < $ny - $j) ? ($nx - $i) : ($ny - $j);
         |  if ($c + $rem < $m) { $c = -1; break; }
         |  ${SortedMerge.checkNullSrc(mayNullL, a, i, prettyName)}
         |  ${SortedMerge.checkNullSrc(mayNullR, b, j, prettyName)}
         |  int $cmp = ${SortedMerge.cmpSrc(longElems, a, i, b, j)};
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = ($c >= $m) ? $c : -1;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
