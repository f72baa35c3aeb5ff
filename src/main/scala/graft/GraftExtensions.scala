package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: injects every native graft kernel into
  * the session's function registry at session build time, so a cluster
  * deployment enables them once via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * instead of calling [[GraftExtensions.registerAll]] on each session
  * (the ad-hoc/local path — both register identical expressions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.kernels.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == n,
        s"$name requires exactly $n argument(s), got ${es.length}")
      build(es)
    }

  /** Every native kernel the library ships, by SQL name — the single
    * source of truth for both registration paths.
    */
  val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> arity("vec_dot", 2)(es => functions.DotProduct(es(0), es(1))),
    "minhash_sigs" -> arity("minhash_sigs", 1)(es => functions.MinHashSigs(es.head)),
    "simhash64" -> arity("simhash64", 1)(es => functions.SimHash64(es.head)),
    "fingerprint64" -> arity("fingerprint64", 1)(es => functions.Fingerprint64(es.head)),
    "sorted_intersect_count" -> arity("sorted_intersect_count", 2)(
      es => functions.SortedIntersectCount(es(0), es(1))),
    "sorted_intersect_count_min" -> arity("sorted_intersect_count_min", 3)(
      es => functions.SortedIntersectCountMin(es(0), es(1), es(2))),
    // Spark's OWN runtime-filter kernels (the pair Catalyst's
    // InjectRuntimeFilter plans with), surfaced by name so library code
    // can build explicit semi-join pruning filters (Scale.bloomPrune)
    // where the optimizer's automatic injection doesn't reach. Both are
    // codegen expressions; nothing here is reimplemented.
    "bloom_filter_agg" -> { es =>
      require(es.length >= 1 && es.length <= 3,
        s"bloom_filter_agg takes 1-3 arguments, got ${es.length}")
      es match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n, b)
      }
    },
    "might_contain" -> arity("might_contain", 2)(es =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1))))

  /** Register all kernels on an already-built session (ad-hoc twin of the
    * extensions path). Only names the session's registry does not already
    * hold are added, so the operators that call this per build neither
    * re-register a kernel nor log a replacement warning each time.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    kernels.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
