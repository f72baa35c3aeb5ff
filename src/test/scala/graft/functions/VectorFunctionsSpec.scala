package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite with SparkTestSession {

  test("vec_dot matches the higher-order-function fold exactly") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(-1.5, 0.25), Seq(2.0, 8.0)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
    val out = df.select(
      expr("vec_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)")
        .as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(n == h) }
    assert(out(0)._1 == 32.0)
    assert(out(2)._1 == 0.0)
  }

  test("vec_dot survives whole-stage codegen on fixture embeddings") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
    val norms = emb.selectExpr("vec_id", "vec_dot(v, v) as n2").as[(Long, Double)]
      .collect()
    assert(norms.nonEmpty)
    assert(norms.forall(_._2 >= 0.0))
    // the vec_dot projection carries the `*(n)` whole-stage-codegen marker
    val plan = emb.selectExpr("vec_dot(v, v)").queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("vec_dot") && l.trim.startsWith("*")),
      plan)
  }

  test("minhash_sigs matches the higher-order fold formula exactly") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val df = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("transform(split(text, ' '), t -> xxhash64(t)) AS hs")
    val rows = df.selectExpr(
      "minhash_sigs(hs) AS native",
      """aggregate(
        |  transform(hs, h -> pmod(h, 2147483647L)),
        |  array_repeat(2147483647L, 32),
        |  (acc, h) -> zip_with(acc, sequence(0, 31), (m, i) ->
        |    least(m, pmod(h * (2654435761L + i * 40503L) + i * 97L + 1L, 2147483647L))))
        |AS hof""".stripMargin)
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("simhash64 matches the higher-order fold exactly") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val df = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t)) AS hs")
    val rows = df.selectExpr(
      "simhash64(hs) AS native",
      """aggregate(
        |  zip_with(
        |    aggregate(hs, array_repeat(0, 64), (acc, h) ->
        |      zip_with(acc,
        |        transform(sequence(0, 63), j -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END),
        |        (a, b) -> a + b)),
        |    sequence(0, 63), (b, j) -> IF(b > 0, shiftleft(1L, j), 0L)),
        |  0L, (acc, v) -> acc + v) AS hof""".stripMargin)
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h) }
  }

  test("fingerprint64 matches the higher-order fold exactly, incl. non-ASCII") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val fixture = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"text")
    val extra = Seq("", "a", "héllo wörld", "日本語テキスト", "mixed éé 123").toDF("text")
    val rows = fixture.union(extra).selectExpr(
      "fingerprint64(text) AS native",
      """aggregate(sequence(1, length(text)), 0L,
        |  (acc, i) -> acc + cast(ascii(substring(text, i, 1)) AS bigint) *
        |              ((cast(i AS bigint) * 2654435761) % 1000003)) AS hof""".stripMargin)
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h) }
    // codegen marker: the projection stays inside whole-stage codegen
    val plan = fixture.selectExpr("fingerprint64(text)")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("fingerprint64") && l.trim.startsWith("*")),
      plan)
  }

  test("sorted_intersect_count matches size(array_intersect) on sorted distinct sets") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("array_sort(array_distinct(split(text, ' '))) AS toks", "lang")
    val pairs = docs.alias("a").join(docs.alias("b"), Seq("lang"))
      .selectExpr(
        "sorted_intersect_count(a.toks, b.toks) AS native",
        "size(array_intersect(a.toks, b.toks)) AS builtin")
      .limit(20000)
      .as[(Int, Int)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, b) => assert(n == b) }
    // edge cases incl. empty arrays and disjoint/identical sets
    val edge = spark.sql(
      """SELECT sorted_intersect_count(cast(array() AS array<string>), array('a')) AS e1,
        |  sorted_intersect_count(array('a','b','c'), array('a','b','c')) AS e2,
        |  sorted_intersect_count(array('a','b'), array('c','d')) AS e3,
        |  sorted_intersect_count(cast(null AS array<string>), array('a')) AS e4
        |""".stripMargin).collect().head
    assert(edge.getInt(0) == 0 && edge.getInt(1) == 3 && edge.getInt(2) == 0)
    assert(edge.isNullAt(3))
  }

  test("sorted_intersect_count_min returns exact counts above threshold, -1 below") {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("array_sort(array_distinct(split(text, ' '))) AS toks", "lang")
    val rows = docs.alias("a").join(docs.alias("b"), Seq("lang"))
      .limit(20000)
      .selectExpr(
        "size(a.toks) AS na", "size(b.toks) AS nb",
        "sorted_intersect_count(a.toks, b.toks) AS exact",
        "sorted_intersect_count_min(a.toks, b.toks, cast((3 * (size(a.toks) + size(b.toks)) + 7) div 8 AS int)) AS bounded")
      .as[(Int, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (na, nb, exact, bounded) =>
      val need = (3 * (na + nb) + 7) / 8
      if (exact >= need) assert(bounded == exact, s"na=$na nb=$nb")
      else assert(bounded == -1, s"na=$na nb=$nb exact=$exact need=$need")
    }
    // both the survive and early-exit branches must occur in the fixture
    assert(rows.exists(_._4 >= 0) && rows.exists(_._4 == -1))
  }

  test("null inputs propagate null") {
    graft.GraftExtensions.registerAll(spark)
    val row = spark.sql("SELECT vec_dot(cast(null as array<double>), array(1.0d))")
      .collect().head
    assert(row.isNullAt(0))
  }
}
