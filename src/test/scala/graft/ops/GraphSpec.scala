package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkTestSession {

  private val d = "/root/testdata/sf0.001"

  test("q144 conserves rank mass and ranks hubs above leaves") {
    import spark.implicits._
    val pr = graft.SparkEntry.queries("q144_copurchase_pagerank")(spark, d)
      .as[(Long, Long, Double)].collect()
    assert(pr.nonEmpty, "empty co-purchase graph at sf0.001")
    // no dangling nodes (symmetric supported edges), so each sweep
    // redistributes all damped mass: Σpr = 1 up to the 1e-12 grid and
    // IEEE rounding, N·ulp-ish — 1e-6 is orders of magnitude of headroom
    val mass = pr.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"rank mass drifted: $mass")
    // monotone sanity: the max-degree node must outrank the min-degree
    // node (true for this fixture's hub-vs-leaf spread; PageRank is not
    // globally monotone in degree, so compare the extremes only)
    val byDeg = pr.sortBy(_._2)
    assert(byDeg.last._3 > byDeg.head._3,
      s"max-degree node ${byDeg.last} does not outrank min-degree ${byDeg.head}")
    // every rank strictly positive (damping floor)
    assert(pr.forall(_._3 > 0.0))
  }

  test("q144 frees its intermediate sweep checkpoints, keeping only the last") {
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistedIds
    val df = graft.SparkEntry.queries("q144_copurchase_pagerank")(spark, d)
    df.collect()
    // sweep freezes are lazy, so none can be freed mid-loop: the earlier
    // sweeps belong to the query's own snapshot set and are held to
    // query end. High-water = 1 edge freeze + Iters (3) sweep
    // freezes = 4 graft-owned snapshots, and release must free them all
    val created = persistedIds -- before
    assert(created.size == 4,
      s"expected 4 live q144 checkpoints (edges + 3 sweeps), got $created")
    graft.Checkpoints.release(df)
    val leaked = created intersect persistedIds
    assert(leaked.isEmpty, s"$leaked still persisted after release")
  }

  test("q145 lift is symmetric and support-consistent with the edge relation") {
    import spark.implicits._
    val rules = graft.SparkEntry.queries("q145_association_rules")(spark, d)
      .select($"src", $"dst", $"support", $"lift")
      .as[(Long, Long, Long, Double)].collect()
    assert(rules.nonEmpty)
    val byPair = rules.map(r => (r._1, r._2) -> r).toMap
    rules.foreach { case (src, dst, w, lift) =>
      val rev = byPair.get((dst, src))
      assert(rev.isDefined, s"missing mirror rule for ($src,$dst)")
      // lift's formula is symmetric in (i, j); support likewise
      assert(rev.get._3 == w && rev.get._4 == lift,
        s"asymmetric pair ($src,$dst): $w/$lift vs ${rev.get}")
      assert(lift > 0.0)
    }
  }

  test("q156: round-1 peels are exactly the deg0 < 3 nodes; rounds stay in 0..4") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q156_kcore_peel")(spark, d)
      .as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 >= 0 && r._3 <= 4))
    rows.foreach { case (node, deg0, rr) =>
      assert((rr == 1) == (deg0 < 3),
        s"node $node: deg0=$deg0 but removed_round=$rr")
    }
  }

  test("q160: ranks are dense 1..k per seed, seeds never self-recommend") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q160_ppr_recommendations")(spark, d)
      .select($"seed", $"rank", $"node", $"score")
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 != r._3 && r._4 > 0.0))
    rows.groupBy(_._1).foreach { case (seed, rs) =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1 to rs.length), s"seed $seed ranks not dense: $ranks")
      // scores weakly decrease with rank (ties broken by node id)
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"seed $seed scores not monotone: ${byRank.toSeq}")
    }
  }

  test("q162: BFS distances are consistent with the edge relation") {
    import spark.implicits._
    val reach = graft.SparkEntry.queries("q162_recursive_reachability")(spark, d)
      .select($"node", $"dist", $"n_walks").as[(Long, Int, Long)].collect()
    assert(reach.exists(r => r._1 == 0L && r._2 == 0),
      "the seed must appear at distance 0")
    assert(reach.forall(r => r._2 >= 0 && r._2 <= 3 && r._3 >= 1))
    // frontier sanity: exactly one node at distance 0, the seed is not
    // its own neighbor, and the reached set cannot exceed the graph
    val hop1 = reach.filter(_._2 == 1).map(_._1).toSet
    assert(!hop1.contains(0L))
    assert(reach.count(_._2 == 0) == 1)
    val graphSize = graft.SparkEntry.queries("q144_copurchase_pagerank")(spark, d).count()
    assert(reach.length <= graphSize + 1)
  }

  test("reachability depth generalizes: deeper runs extend, never contradict") {
    import spark.implicits._
    def at(depth: Int): Map[Long, Int] =
      graft.ops.Graph.reachability(spark, d, depth)
        .select($"node", $"dist").as[(Long, Int)].collect().toMap
    val (d2, d3) = (at(2), at(3))
    // the depth-2 reachable set is a subset of depth-3's
    assert(d2.keySet.subsetOf(d3.keySet))
    // BFS distances agree on the shared set (depth truncates, never warps)
    d2.foreach { case (n, dist) => assert(d3(n) == dist,
      s"node $n: dist $dist at depth 2 but ${d3(n)} at depth 3") }
    // every depth respects its own bound
    assert(d2.values.forall(_ <= 2) && d3.values.forall(_ <= 3))
  }
}
