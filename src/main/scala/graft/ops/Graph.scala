package graft.ops

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over relations the corpus already contains — the
  * item-affinity views a recommendation / curation pipeline derives from
  * transactional co-occurrence (which parts ship together), expressed as
  * keyed joins and aggregations so the same plans run at warehouse scale.
  *
  * The graph itself is DERIVED, never materialized driver-side: the
  * per-order basket self-join bounds pair fan-out by the basket size
  * (domain-bounded — an order has a handful of lines at any corpus
  * scale, so pairs-per-order is O(L²) with small constant L), and the
  * support threshold prunes the hairball before any iterative work.
  *
  * Iterative PageRank (q144) follows the Pregel shape relationally:
  * ranks live in a node-keyed relation, one shuffle per iteration moves
  * contributions along edges, and the iteration count is a FIXED
  * constant — the driver loop is over iterations, never over data. Each
  * iteration's ranks are frozen with [[graft.Checkpoints]] so the plan
  * (and its lineage) stays iteration-sized rather than growing
  * geometrically, exactly the posture the distributed
  * connected-components loop in [[graft.llm.Dedup]] takes.
  *
  * Cross-engine determinism (both queries hash-match their oracles):
  * every count is exact int64; the only floating steps are single IEEE
  * divisions/multiplications of exactly-representable operands. PageRank
  * contributions are quantized to an integer 1e-12 grid and summed
  * exactly as int64 (the [[graft.Det.csum]] posture — per-target bound:
  * indegree · 1e12 < 2^63 holds to indegrees of ~9e6; beyond that raise
  * the grid), so the per-iteration sum is order-free, and the damping
  * constants 0.75 / 0.25 are dyadic rationals with exact IEEE products.
  */
object Graph {

  /** Support threshold: a co-purchase pair must appear in ≥ MinSupport
    * distinct orders to become an edge. One definition, interpolated
    * into both engines' plans.
    */
  private val MinSupport = 2

  /** Fixed PageRank iteration count (the operator exposes rank AFTER k
    * sweeps, a deterministic quantity — convergence detection would make
    * the output depend on float comparisons; k sweeps is what an oracle
    * can replay).
    */
  private val Iters = 3

  /** Contribution quantization grid: pr/deg is rounded to this many
    * fractional decimal digits and summed as exact int64.
    */
  private val Grid = 1e12

  /** Directed co-purchase edges with support ≥ [[MinSupport]]; symmetric
    * by construction (both (i,j) and (j,i) present, equal weight).
    *
    * Derivation is BASKET-LOCAL (the [[graft.llm.Dedup]] bucketPairs
    * posture): one shuffle groups each order to its sorted distinct
    * part set, pairs expand in-buffer over that list (`src < dst` by
    * construction from the sorted order), the support count and
    * threshold run on the HALF relation, and only the ≥-support
    * survivors mirror into the symmetric edge set. The self-join
    * formulation this replaces shuffled the basket relation twice and
    * pushed 2·Σ L² pair rows through the exchange — measured 0.8 s
    * slower per consumer at sf0.1 — while the expansion itself stays
    * bounded by basket size L (domain-bounded) either way.
    *
    * Round 16 (guide §2.4 — remove shuffles outright): the former
    * `(o, p) DISTINCT → groupBy(o)` prelude paid TWO serial exchanges
    * of the basket relation; `collect_set` dedupes in the aggregation
    * buffer itself (map-side partial aggregation included), so ONE
    * order-keyed exchange now produces the same sorted distinct part
    * list per basket — answer-identical (set semantics), one fewer
    * corpus-sized shuffle for every graph consumer.
    */
  private def edges(s: SparkSession, d: String): DataFrame =
    edgesFromBaskets(groupedBaskets(s, d))

  /** One row per order: the sorted distinct part set — the ONE
    * order-keyed exchange every basket-derived relation (edges, pair
    * supports, triples, basket stats) starts from.
    */
  private def groupedBaskets(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps"))

  /** The a<b half pair-support relation off a grouped-basket relation. */
  private def halfPairs(b: DataFrame): DataFrame = b
    .select(explode(expr(
      """flatten(transform(ps, (x, i) ->
        |  transform(slice(ps, i + 2, size(ps)), y ->
        |    struct(x AS src, y AS dst))))""".stripMargin)).as("e"))
    .select(col("e.src").as("src"), col("e.dst").as("dst"))
    .groupBy(col("src"), col("dst"))
    .agg(count(lit(1)).as("w"))

  private def edgesFromBaskets(b: DataFrame): DataFrame = {
    val half = halfPairs(b).filter(col("w") >= MinSupport)
    // symmetrize via a per-row generator, NOT a self-union — a union
    // would evaluate the half relation (and its aggregation) twice
    half
      .select(explode(array(
        struct(col("src"), col("dst"), col("w")),
        struct(col("dst").as("src"), col("src").as("dst"), col("w"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
  }

  /** Shared oracle prelude: [[EdgeSql]] + three label-propagation
    * sweeps, ending in `r3(node, lbl)` — factored so q157 (the
    * communities) and q217 (their modularity) grade the identical
    * assignment.
    */
  private def LabelPropCte: String =
    s"""$EdgeSql,
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       |r1 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT e.dst, l.lbl,
       |      ROW_NUMBER() OVER (PARTITION BY e.dst
       |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rk
       |    FROM edges e JOIN l0 l ON e.src = l.node
       |    GROUP BY e.dst, l.lbl) WHERE rk = 1),
       |r2 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT e.dst, l.lbl,
       |      ROW_NUMBER() OVER (PARTITION BY e.dst
       |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rk
       |    FROM edges e JOIN r1 l ON e.src = l.node
       |    GROUP BY e.dst, l.lbl) WHERE rk = 1),
       |r3 AS (
       |  SELECT dst AS node, lbl FROM (
       |    SELECT e.dst, l.lbl,
       |      ROW_NUMBER() OVER (PARTITION BY e.dst
       |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rk
       |    FROM edges e JOIN r2 l ON e.src = l.node
       |    GROUP BY e.dst, l.lbl) WHERE rk = 1)""".stripMargin

  /** Shared oracle prelude: baskets → supported symmetric edges. */
  private val EdgeSql =
    s"""li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (
       |  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
       |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
       |  GROUP BY 1, 2),
       |edges AS (SELECT src, dst, w FROM pairs WHERE w >= $MinSupport)""".stripMargin

  /** ONE label-propagation assignment per (session, corpus dir) — q157
    * publishes the communities, q217 grades them, and both deploy the
    * SAME frozen relation (the `llm.Similarity.annShared` posture).
    * Before this, q217 re-ran the three sweeps q157 had just run,
    * making it the slowest bench query two rounds straight; the sweeps
    * end in an eager local checkpoint, so the memoized handle is
    * already materialized and lineage-free. [[lpaBuilds]] is the spec
    * pin that per-consumer retraining never creeps back in.
    */
  private val sharedLabels = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  private val lpaBuildCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** How many three-sweep LPA builds have run in this JVM (spec hook). */
  def lpaBuilds: Long = lpaBuildCount.get()

  /** Drop the shared assignment for one (session, dir) — test hygiene;
    * harmless if absent. The backing checkpoint storage is released.
    */
  def lpaEvict(s: SparkSession, d: String): Unit = {
    val rel = sharedLabels.remove((s, d))
    if (rel != null)
      try Checkpoints.releaseShared(rel)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The frozen `(node, lbl)` relation after three LPA sweeps — built on
    * first use per (session, dir), then reused by every consumer.
    */
  private def labelPropAssignment(s: SparkSession, d: String): DataFrame = {
    // lazy dead-session sweep (same rationale as annShared): stopped
    // sessions must not pin map entries in a long-lived JVM
    val it = sharedLabels.keySet().iterator()
    while (it.hasNext) { if (it.next()._1.sparkContext.isStopped) it.remove() }
    // built under its own owner, never the consumer query's: q157's
    // release must not tear the assignment down under q217; lpaEvict
    // owns the real free
    sharedLabels.computeIfAbsent((s, d), _ => Checkpoints.shared {
      import org.apache.spark.sql.expressions.Window
      lpaBuildCount.incrementAndGet()
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      var labels = e.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val argmaxW = Window.partitionBy(col("dst"))
        .orderBy(col("n").desc, col("lbl").asc)
      // free each sweep's snapshot once the next sweep has materialized
      // off it — but ONLY the checkpoints this loop made: the seed
      // projection before sweep 1 is a plain plan over `e`, and
      // releasing it would transitively free the edges checkpoint the
      // remaining sweeps still read
      var prevCk: DataFrame = null
      for (_ <- 1 to 3) {
        labels = Checkpoints.checkpoint(
          e.join(labels, e("src") === labels("node"))
            .groupBy(col("dst"), col("lbl"))
            .agg(count(lit(1)).as("n"))
            .withColumn("rk", row_number().over(argmaxW))
            .filter(col("rk") === 1)
            .select(col("dst").as("node"), col("lbl")))
        if (prevCk != null) Checkpoints.release(prevCk)
        prevCk = labels
      }
      Checkpoints.release(e)
      labels
    })
  }

  val queries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // q279: COMMON-NEIGHBOR LINK PREDICTION — "customers who bought X
    // and Y also bought…" as graph completion: the top-20 NON-edges
    // ranked by shared-neighbor count, with the neighborhood-Jaccard
    // tie-breaker (cn / (deg_a + deg_b − cn) — exact ints, ONE
    // division). Wedges expand per CENTER over its sorted neighbor list
    // (the q152/edges in-buffer posture — one keyed shuffle, a < b by
    // construction), with centers capped at degree ≤ 64: a super-hub
    // center certifies almost nothing about its neighbor pairs (it
    // makes everyone 'similar') while costing deg² wedge rows — the
    // same principled hub cut as the q136/q146 prefix family. Degrees
    // for the Jaccard still count ALL edges. Existing edges leave via
    // one anti join; top-20 is a distributed partial top-k
    // (TakeOrderedAndProject), never a global sort.
    QueryDef.sql("q279_link_prediction") { (s, d) =>
      // round 17 (guide §2.4): freeze the edge relation — it feeds THREE
      // consumers below (the wedge expansion, the existing-edge anti
      // join, and the degree relation joined twice), each of which
      // otherwise re-derives the full basket → half-pair → symmetrize
      // pipeline from the scan
      val e = Checkpoints.checkpointLazy(edges(s, d))
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val cand = e
        .groupBy(col("src").as("c"))
        .agg(sort_array(collect_list(col("dst"))).as("ns"))
        .filter(size(col("ns")) <= 64)
        .select(explode(expr(
          """flatten(transform(ns, (x, i) ->
            |  transform(slice(ns, i + 2, size(ns)), y ->
            |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
        .join(e.select(col("src").as("a"), col("dst").as("b")),
          Seq("a", "b"), "left_anti")
      cand
        .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          expr("CAST(cn AS DOUBLE) / CAST(deg_a + deg_b - cn AS DOUBLE)")
            .as("jaccard"))
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(20)
    } {
      s"""WITH $EdgeSql,
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |cand AS (
         |  SELECT w1.dst AS a, w2.dst AS b, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM edges w1
         |  JOIN edges w2 ON w1.src = w2.src AND w1.dst < w2.dst
         |  JOIN deg dc ON dc.node = w1.src AND dc.deg <= 64
         |  GROUP BY w1.dst, w2.dst),
         |ne AS (
         |  SELECT c.* FROM cand c
         |  LEFT JOIN edges x ON x.src = c.a AND x.dst = c.b
         |  WHERE x.src IS NULL)
         |SELECT ne.a, ne.b, ne.cn, da.deg AS deg_a, db.deg AS deg_b,
         |  CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE)
         |    AS jaccard
         |FROM ne
         |JOIN deg da ON da.node = ne.a
         |JOIN deg db ON db.node = ne.b
         |ORDER BY cn DESC, a, b
         |LIMIT 20""".stripMargin
    },

    // ------------------------------------------------------------------
    // q144: CO-PURCHASE PAGERANK — authority ranking over the item
    // co-occurrence graph (crawl-prioritization / popularity-debiasing
    // input: which items are central to purchase behavior, not merely
    // frequent). Power iteration with damping 0.75, Iters sweeps, over
    // the support-thresholded symmetric edge set; the rank universe is
    // the nodes WITH edges, so the graph has no dangling mass. Per
    // iteration: ONE shuffle of the edge relation keyed by dst; ranks
    // and degrees stay node-sized; the basket pair expansion is bounded
    // by order size. The oracle replays the identical three unrolled
    // sweeps (same integer-grid contribution sums), so the final doubles
    // hash-match bit-for-bit.
    QueryDef.sql("q144_copurchase_pagerank") { (s, d) =>
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = deg.select(col("src").as("node"), col("deg"))
      val nRel = broadcast(nodes.agg(count(lit(1)).as("n")))
      var ranks = nodes.crossJoin(nRel)
        .select(col("node"), col("deg"), col("n"),
          (lit(1.0) / col("n").cast("double")).as("pr"))
      // round 17 (guide §1.2 — job economics): LAZY sweep freezes. The
      // eager per-sweep checkpoint bought one dedicated materialization
      // job per sweep solely so the predecessor could be released
      // mid-loop; with lazy freezes nothing materializes until the
      // consumer's single job computes the whole 3-sweep chain stage by
      // stage. The earlier sweeps hide behind the later snapshots, not in
      // the returned plan; the query owns them all, so the caller's
      // end-of-query release frees them. Storage high-water: Iters
      // node-sized rank snapshots held to query end (previously one).
      for (_ <- 1 to Iters) {
        val frozen = Checkpoints.checkpointLazy(ranks)
        val contrib = e.join(frozen, e("src") === frozen("node"))
          .groupBy(col("dst"))
          .agg(sum(round(col("pr") / col("deg").cast("double") * Grid)
            .cast("long")).as("sgrid"))
        // every node has indegree ≥ 1 (symmetric edges), so the inner
        // join loses nothing and no coalesce is needed
        ranks = nodes.crossJoin(nRel)
          .join(contrib, col("node") === col("dst"))
          .select(col("node"), col("deg"), col("n"),
            (lit(0.25) / col("n").cast("double") +
              lit(0.75) * (col("sgrid").cast("double") / Grid)).as("pr"))
      }
      ranks.select(col("node"), col("deg"), col("pr")).orderBy("node")
    } {
      s"""WITH $EdgeSql,
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS node, deg FROM deg),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |pr0 AS (
         |  SELECT node, deg,
         |    CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS pr
         |  FROM nodes CROSS JOIN nn),
         |c1 AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(CAST(ROUND(p.pr / CAST(p.deg AS DOUBLE) * 1e12)
         |      AS BIGINT)) AS BIGINT) AS sgrid
         |  FROM edges e JOIN pr0 p ON e.src = p.node GROUP BY 1),
         |pr1 AS (
         |  SELECT nodes.node, nodes.deg,
         |    CAST(0.25 AS DOUBLE) / CAST(n AS DOUBLE)
         |      + CAST(0.75 AS DOUBLE)
         |        * (CAST(c1.sgrid AS DOUBLE) / 1e12) AS pr
         |  FROM nodes CROSS JOIN nn JOIN c1 ON nodes.node = c1.node),
         |c2 AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(CAST(ROUND(p.pr / CAST(p.deg AS DOUBLE) * 1e12)
         |      AS BIGINT)) AS BIGINT) AS sgrid
         |  FROM edges e JOIN pr1 p ON e.src = p.node GROUP BY 1),
         |pr2 AS (
         |  SELECT nodes.node, nodes.deg,
         |    CAST(0.25 AS DOUBLE) / CAST(n AS DOUBLE)
         |      + CAST(0.75 AS DOUBLE)
         |        * (CAST(c2.sgrid AS DOUBLE) / 1e12) AS pr
         |  FROM nodes CROSS JOIN nn JOIN c2 ON nodes.node = c2.node),
         |c3 AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(CAST(ROUND(p.pr / CAST(p.deg AS DOUBLE) * 1e12)
         |      AS BIGINT)) AS BIGINT) AS sgrid
         |  FROM edges e JOIN pr2 p ON e.src = p.node GROUP BY 1),
         |pr3 AS (
         |  SELECT nodes.node, nodes.deg,
         |    CAST(0.25 AS DOUBLE) / CAST(n AS DOUBLE)
         |      + CAST(0.75 AS DOUBLE)
         |        * (CAST(c3.sgrid AS DOUBLE) / 1e12) AS pr
         |  FROM nodes CROSS JOIN nn JOIN c3 ON nodes.node = c3.node)
         |SELECT node, deg, pr FROM pr3 ORDER BY node""".stripMargin
    },

    // ------------------------------------------------------------------
    // q145: ASSOCIATION-RULE MINING (a-priori pruned) — support,
    // confidence and lift for every supported co-purchase pair:
    //   lift(i→j) = N · n_ij / (n_i · n_j)
    // over distinct-order baskets. This is the basket-analysis twin of
    // q144's graph: counts only, no iteration. Both products are taken
    // EXACTLY in 128-bit (decimal(38,0) / HUGEINT) before ONE cast to
    // double each and ONE division — int64 products could overflow at
    // warehouse row counts (N·n_ij with N ≈ 1.5e11), the wide integers
    // cannot, and the final doubles are correctly rounded from identical
    // exact integers on both engines.
    QueryDef.sql("q145_association_rules") { (s, d) =>
      // ONE order-keyed shuffle feeds everything (round 16, guide §2.4):
      // the frozen grouped-basket relation serves the order count (row
      // count), the per-part distinct-order counts (in-buffer explode),
      // and the edge derivation — the previous shape paid a distinct
      // (o, p) exchange plus an order-keyed exchange per consumer.
      // count(*) over the grouped relation IS countDistinct(o), and the
      // exploded ps is exactly the distinct (o, p) relation.
      val b = graft.Checkpoints.checkpointLazy(groupedBaskets(s, d))
      val nOrders = broadcast(b.agg(count(lit(1)).as("n_orders")))
      val perPart = b.select(explode(col("ps")).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("n_part"))
      val wide = DecimalType(38, 0)
      edgesFromBaskets(b)
        .join(perPart.select(col("p").as("src"), col("n_part").as("n_src")), "src")
        .join(perPart.select(col("p").as("dst"), col("n_part").as("n_dst")), "dst")
        .crossJoin(nOrders)
        .select(col("src"), col("dst"), col("w").as("support"),
          col("n_src"), col("n_dst"),
          (col("w").cast("double") / col("n_src").cast("double"))
            .as("confidence"),
          ((col("n_orders").cast(wide) * col("w").cast(wide)).cast("double") /
            (col("n_src").cast(wide) * col("n_dst").cast(wide)).cast("double"))
            .as("lift"))
        .orderBy("src", "dst")
    } {
      s"""WITH $EdgeSql,
         |per_part AS (SELECT p, COUNT(*) AS n_part FROM li GROUP BY 1),
         |nn AS (SELECT COUNT(DISTINCT o) AS n_orders FROM li)
         |SELECT e.src, e.dst, e.w AS support,
         |  ps.n_part AS n_src, pd.n_part AS n_dst,
         |  CAST(e.w AS DOUBLE) / CAST(ps.n_part AS DOUBLE) AS confidence,
         |  CAST(CAST(nn.n_orders AS HUGEINT) * CAST(e.w AS HUGEINT)
         |      AS DOUBLE)
         |    / CAST(CAST(ps.n_part AS HUGEINT) * CAST(pd.n_part AS HUGEINT)
         |      AS DOUBLE) AS lift
         |FROM edges e
         |JOIN per_part ps ON e.src = ps.p
         |JOIN per_part pd ON e.dst = pd.p
         |CROSS JOIN nn
         |ORDER BY e.src, e.dst""".stripMargin
    },

    // ------------------------------------------------------------------
    // q152: TRIANGLE COUNT + LOCAL CLUSTERING COEFFICIENT — the cohesion
    // view of the co-purchase graph (community tightness, link-spam /
    // anomaly signals: a high-degree node with near-zero clustering is a
    // hub that bridges unrelated baskets). Enumeration is
    // compact-forward over a DEGREE-ordered orientation: every edge
    // points from its lower-(deg, id) endpoint, so each wedge join fans
    // out by ORIENTED out-degree — bounded by √|E| on any graph (the
    // standard skew bound; an id-ordered orientation would let one hub
    // own O(deg²) wedges). Each triangle is counted exactly once at its
    // minimum-key vertex; counts are orientation-invariant, so the
    // oracle replays the enumeration under the simpler id order and the
    // per-node results must still agree exactly. The coefficient is one
    // division of exact int64 (2·T vs deg·(deg−1)).
    QueryDef.sql("q152_triangle_clustering") { (s, d) =>
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // orient each edge from lower (deg, id) to higher
      val withDeg = e
        .join(deg.select(col("src").as("src_"), col("deg").as("dsrc")),
          col("src") === col("src_"))
        .join(deg.select(col("src").as("dst_"), col("deg").as("ddst")),
          col("dst") === col("dst_"))
        .select(col("src"), col("dst"), col("dsrc"), col("ddst"))
      val oe = Checkpoints.checkpointLazy(
        withDeg.filter(col("dsrc") < col("ddst") ||
            (col("dsrc") === col("ddst") && col("src") < col("dst")))
          .select(col("src").as("u"),
            col("dst").as("v"), col("ddst").as("dv")))
      val wedges = oe.select(col("u"), col("v"), col("dv"))
        .join(oe.select(col("u").as("u2"), col("v").as("w"), col("dv").as("dw")),
          col("u") === col("u2") &&
            (col("dv") < col("dw") ||
              (col("dv") === col("dw") && col("v") < col("w"))))
        .select(col("u"), col("v"), col("w"))
      val tri = wedges
        .join(oe.select(col("u").as("v2"), col("v").as("w2")),
          col("v") === col("v2") && col("w") === col("w2"))
        .select(col("u"), col("v"), col("w"))
      val perNode = tri.select(col("u").as("node"))
        .unionAll(tri.select(col("v").as("node")))
        .unionAll(tri.select(col("w").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      val out = deg.select(col("src").as("node"), col("deg"))
        .join(perNode, Seq("node"), "left_outer")
        .select(col("node"), col("deg"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("clustering",
          when(col("deg") >= 2,
            (col("n_triangles") * 2).cast("double") /
              (col("deg") * (col("deg") - 1)).cast("double"))
            .otherwise(lit(0.0)))
        .orderBy("node")
      out
    } {
      s"""WITH $EdgeSql,
         |und AS (SELECT src, dst FROM edges WHERE src < dst),
         |tri AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM und e1
         |  JOIN und e2 ON e2.src = e1.dst
         |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |roles AS (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri),
         |t AS (SELECT node, COUNT(*) AS n_tri FROM roles GROUP BY 1),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1)
         |SELECT deg.node, deg.deg,
         |  CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN deg.deg >= 2 THEN
         |    CAST(COALESCE(t.n_tri, 0) * 2 AS DOUBLE)
         |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
         |  ELSE CAST(0.0 AS DOUBLE) END AS clustering
         |FROM deg LEFT JOIN t ON deg.node = t.node
         |ORDER BY deg.node""".stripMargin
    },

    // ------------------------------------------------------------------
    // q156: K-CORE PEELING (k = 3, four fixed rounds) — the dense-
    // community extractor: repeatedly drop nodes with fewer than k
    // surviving neighbors; what remains after peeling is the spam-/
    // noise-resistant core (degree alone is gameable, coreness is not).
    // Like q144, the iteration count is a FIXED constant so the output
    // is a deterministic, oracle-replayable quantity ("the 4-round
    // peel"; a converged-only variant would hide a float-free but
    // data-dependent round count from the oracle). Per round: the edge
    // relation semi-joins the survivor set on both endpoints (keyed
    // joins), one degree aggregation, one anti-join — all node/edge-
    // sized, survivors checkpointed so the plan stays round-sized.
    // Output: every node with its initial degree and the round that
    // removed it (0 = still in the core after 4 rounds).
    QueryDef.sql("q156_kcore_peel") { (s, d) =>
      val K = 3
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      val deg0 = e.groupBy(col("src")).agg(count(lit(1)).as("deg0"))
      var alive = deg0.select(col("src").as("node"))
      var removed: DataFrame = null
      for (r <- 1 to 4) {
        val eAlive = e
          .join(alive.select(col("node").as("src")), "src")
          .join(alive.select(col("node").as("dst")), "dst")
        val survivors = eAlive.groupBy(col("src")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= K).select(col("src").as("node"))
        val gone = alive.join(survivors, Seq("node"), "left_anti")
          .select(col("node"), lit(r).as("removed_round"))
        removed = if (removed == null) gone else removed.unionAll(gone)
        alive = Checkpoints.checkpointLazy(survivors)
      }
      deg0.select(col("src").as("node"), col("deg0"))
        .join(removed, Seq("node"), "left_outer")
        .select(col("node"), col("deg0"),
          coalesce(col("removed_round"), lit(0)).as("removed_round"))
        .orderBy("node")
    } {
      s"""WITH $EdgeSql,
         |deg0 AS (SELECT src AS node, COUNT(*) AS deg0 FROM edges GROUP BY 1),
         |a0 AS (SELECT node FROM deg0),
         |s1 AS (
         |  SELECT e.src AS node FROM edges e
         |  JOIN a0 x ON e.src = x.node JOIN a0 y ON e.dst = y.node
         |  GROUP BY e.src HAVING COUNT(*) >= 3),
         |s2 AS (
         |  SELECT e.src AS node FROM edges e
         |  JOIN s1 x ON e.src = x.node JOIN s1 y ON e.dst = y.node
         |  GROUP BY e.src HAVING COUNT(*) >= 3),
         |s3 AS (
         |  SELECT e.src AS node FROM edges e
         |  JOIN s2 x ON e.src = x.node JOIN s2 y ON e.dst = y.node
         |  GROUP BY e.src HAVING COUNT(*) >= 3),
         |s4 AS (
         |  SELECT e.src AS node FROM edges e
         |  JOIN s3 x ON e.src = x.node JOIN s3 y ON e.dst = y.node
         |  GROUP BY e.src HAVING COUNT(*) >= 3)
         |SELECT deg0.node, deg0.deg0,
         |  CASE
         |    WHEN deg0.node NOT IN (SELECT node FROM s1) THEN 1
         |    WHEN deg0.node NOT IN (SELECT node FROM s2) THEN 2
         |    WHEN deg0.node NOT IN (SELECT node FROM s3) THEN 3
         |    WHEN deg0.node NOT IN (SELECT node FROM s4) THEN 4
         |    ELSE 0 END AS removed_round
         |FROM deg0
         |ORDER BY deg0.node""".stripMargin
    },

    // ------------------------------------------------------------------
    // q157: LABEL-PROPAGATION COMMUNITIES — three synchronized LPA
    // rounds over the co-purchase graph: every node starts as its own
    // label and each round adopts the MODAL label among its neighbors
    // (ties broken by the smallest label — the determinism LPA's
    // textbook random tie-break destroys, and the reason this variant
    // is oracle-replayable at all). Communities, unlike q66's connected
    // components, split dense regions along weak cuts even inside one
    // component. Per round: one edge-keyed join against the
    // node-sized label relation, a (node, label) count, and a per-node
    // argmax window over the node's distinct neighbor labels (bounded
    // by degree); labels are checkpointed per round so the plan stays
    // round-sized — the q144 posture throughout.
    QueryDef.sql("q157_label_propagation") { (s, d) =>
      val labels = labelPropAssignment(s, d)
      val sizes = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("community_size"))
      labels.join(broadcast(sizes), "lbl")
        .select(col("node"), col("lbl").as("community"),
          col("community_size"))
        .orderBy("node")
    } {
      s"""WITH $LabelPropCte,
         |sizes AS (SELECT lbl, COUNT(*) AS community_size FROM r3 GROUP BY 1)
         |SELECT r3.node, r3.lbl AS community, sizes.community_size
         |FROM r3 JOIN sizes ON r3.lbl = sizes.lbl
         |ORDER BY r3.node""".stripMargin
    },

    // ------------------------------------------------------------------
    // q217: MODULARITY SCORE — the quality metric for the q157
    // communities (Newman & Girvan): per community, intra-edge mass vs
    // the degree-product null model. The assignment relation is the
    // SHARED frozen labelPropAssignment on the Spark side (built once
    // per session+corpus, the same handle q157 publishes) and the SAME
    // factored CTE on the oracle side (q128→q131's cross-reference
    // posture), so the score can never drift from the communities it
    // grades — and grading no longer re-runs the three sweeps.
    // ARITHMETIC: with M2 = the directed edge count (= 2m on this
    // symmetric graph), Q = Σ_c (E_c·M2 − d_c²) / M2². E_c, d_c, M2
    // are exact int64; each product is taken in DOUBLE over exact
    // ≤2^53 operands (E_c·M2 overflows int64 at warehouse scale — the
    // double product is correctly rounded from exact inputs on both
    // engines, which is the determinism contract). SCALE SHAPE: two
    // label-keyed joins of the edge relation (the same shape as one
    // propagation sweep), keyed shrinks, one broadcast scalar.
    QueryDef.sql("q217_modularity_score") { (s, d) =>
      val labels = labelPropAssignment(s, d)
        .select(col("node"), col("lbl").as("community"))
      val e = edges(s, d).select(col("src"), col("dst"))
      val m2 = e.agg(count(lit(1)).as("m2"))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val dsum = labels
        .join(deg, labels("node") === deg("src"))
        .groupBy(col("community")).agg(sum(col("deg")).as("d_c"))
      val intra = e
        .join(labels.select(col("node").as("src"), col("community").as("cs")),
          "src")
        .join(labels.select(col("node").as("dst"), col("community").as("cd")),
          "dst")
        .filter(col("cs") === col("cd"))
        .groupBy(col("cs").as("community"))
        .agg(count(lit(1)).as("e_intra"))
      dsum.join(intra, Seq("community"), "left_outer")
        .crossJoin(broadcast(m2))
        .select(col("community"),
          coalesce(col("e_intra"), lit(0L)).as("e_intra"),
          col("d_c"),
          ((coalesce(col("e_intra"), lit(0L)).cast("double") *
            col("m2").cast("double") -
            col("d_c").cast("double") * col("d_c").cast("double")) /
            (col("m2").cast("double") * col("m2").cast("double")))
            .as("contribution"))
        .orderBy("community")
    } {
      s"""WITH $LabelPropCte,
         |labels AS (SELECT node, lbl AS community FROM r3),
         |m2 AS (SELECT COUNT(*) AS m2 FROM edges),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |dsum AS (
         |  SELECT l.community, CAST(SUM(d.deg) AS BIGINT) AS d_c
         |  FROM labels l JOIN deg d ON l.node = d.src
         |  GROUP BY l.community),
         |intra AS (
         |  SELECT ls.community, COUNT(*) AS e_intra
         |  FROM edges e
         |  JOIN labels ls ON e.src = ls.node
         |  JOIN labels ld ON e.dst = ld.node
         |  WHERE ls.community = ld.community
         |  GROUP BY ls.community)
         |SELECT d.community,
         |  COALESCE(i.e_intra, 0) AS e_intra, d.d_c,
         |  (CAST(COALESCE(i.e_intra, 0) AS DOUBLE) * CAST(m2.m2 AS DOUBLE)
         |    - CAST(d.d_c AS DOUBLE) * CAST(d.d_c AS DOUBLE))
         |    / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE))
         |    AS contribution
         |FROM dsum d LEFT JOIN intra i ON d.community = i.community
         |CROSS JOIN m2
         |ORDER BY d.community""".stripMargin
    },

    // ------------------------------------------------------------------
    // q160: PERSONALIZED PAGERANK RECOMMENDATIONS — "customers also
    // bought": two random-walk-with-restart steps (α = 0.25, dyadic)
    // from each seed part over the co-purchase graph, top-10 non-seed
    // parts per seed by walk mass. The sparse twin of q144: walk mass
    // lives in a (seed, node) relation that only ever holds the seeds'
    // 2-hop neighborhoods (never the full |seeds|×|nodes| product),
    // each step is one edge-keyed join + a (seed, node) aggregation on
    // the q144 integer grid, and the per-seed top-10 is a bounded
    // window. Seeds are fixed literals (the q123 QuerySet posture) so
    // both engines rank the identical deterministic scores.
    QueryDef.sql("q160_ppr_recommendations") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val seedIds = Seq(0L, 1L, 2L, 3L, 4L)
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val seeds = {
        import s.implicits._
        seedIds.toDF("seed")
      }
      // restrict to seeds that exist in the graph (deg join), walk mass 1
      var ppr = seeds.join(deg, col("seed") === col("src"))
        .select(col("seed"), col("src").as("node"), lit(1.0).as("p"))
      for (_ <- 1 to 2) {
        val spread = e.join(ppr, e("src") === ppr("node"))
          .join(deg, Seq("src"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(round(col("p") / col("deg").cast("double") * Grid)
            .cast("long")).as("sgrid"))
          .select(col("seed"), col("dst").as("node"),
            (lit(0.75) * (col("sgrid").cast("double") / Grid)).as("p"))
        val restart = seeds.join(deg, col("seed") === col("src"))
          .select(col("seed"), col("src").as("node"), lit(0.25).as("p"))
        ppr = Checkpoints.checkpointLazy(
          spread.unionAll(restart)
            .groupBy(col("seed"), col("node"))
            .agg(graft.Det.dsum(col("p")).as("p")))
      }
      val w = Window.partitionBy(col("seed"))
        .orderBy(col("p").desc, col("node").asc)
      ppr.filter(col("seed") =!= col("node"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("seed"), col("rank"), col("node"), col("p").as("score"))
        .orderBy("seed", "rank")
    } {
      s"""WITH $EdgeSql,
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT UNNEST([0, 1, 2, 3, 4]) AS seed),
         |p0 AS (
         |  SELECT seed, seed AS node, CAST(1.0 AS DOUBLE) AS p
         |  FROM seeds WHERE seed IN (SELECT src FROM deg)),
         |s1 AS (
         |  SELECT p0.seed, e.dst AS node,
         |    CAST(0.75 AS DOUBLE) *
         |      (CAST(CAST(SUM(CAST(ROUND(p0.p / CAST(deg.deg AS DOUBLE)
         |        * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS p
         |  FROM edges e
         |  JOIN p0 ON e.src = p0.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY p0.seed, e.dst),
         |p1 AS (
         |  SELECT seed, node, ${graft.Det.dsumSql("p")} AS p FROM (
         |    SELECT seed, node, p FROM s1
         |    UNION ALL
         |    SELECT seed, node, CAST(0.25 AS DOUBLE) AS p FROM p0)
         |  GROUP BY seed, node),
         |s2 AS (
         |  SELECT p1.seed, e.dst AS node,
         |    CAST(0.75 AS DOUBLE) *
         |      (CAST(CAST(SUM(CAST(ROUND(p1.p / CAST(deg.deg AS DOUBLE)
         |        * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS p
         |  FROM edges e
         |  JOIN p1 ON e.src = p1.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY p1.seed, e.dst),
         |p2 AS (
         |  SELECT seed, node, ${graft.Det.dsumSql("p")} AS p FROM (
         |    SELECT seed, node, p FROM s2
         |    UNION ALL
         |    SELECT seed, seed AS node, CAST(0.25 AS DOUBLE) AS p
         |    FROM seeds WHERE seed IN (SELECT src FROM deg))
         |  GROUP BY seed, node),
         |ranked AS (
         |  SELECT seed, node, p,
         |    ROW_NUMBER() OVER (PARTITION BY seed
         |      ORDER BY p DESC, node ASC) AS rank
         |  FROM p2 WHERE seed <> node)
         |SELECT CAST(seed AS BIGINT) AS seed, CAST(rank AS INT) AS rank,
         |  CAST(node AS BIGINT) AS node, p AS score
         |FROM ranked WHERE rank <= 10
         |ORDER BY seed, rank""".stripMargin
    },

    // ------------------------------------------------------------------
    // q162: RECURSIVE-CTE REACHABILITY — breadth-first expansion from a
    // seed part over the co-purchase graph; the RECURSIVE member is ONE
    // dialect-shared string on both engines (the q119 posture, for
    // Spark 4's recursive CTE support: the recursion IS the operator
    // under test). The recursive member joins the frontier against the
    // edge relation with an explicit depth bound (dist < 3) — on Spark
    // each recursion step is one more keyed join stage, planned like
    // any other, so the 100 TB posture is the same as q144's loop with
    // the driver loop moved into the engine. The edge relation itself
    // is frozen OUTSIDE the loop since round 16 (see [[reachability]]):
    // UnionLoop re-evaluates its plan per step, so a loop-invariant
    // edge CTE inside the recursion re-derived the graph every hop.
    // Output: every node within 3 hops with its BFS distance and the
    // number of distinct ≤3-hop walks reaching it (an exact integer the
    // UNION ALL recursion yields for free).
    QueryDef.sql("q162_recursive_reachability") { (s, d) =>
      reachability(s, d, depth = 3)
    } { ReachabilityOracleSql(3) },

    // ------------------------------------------------------------------
    // q190: HITS HUBS & AUTHORITIES (Kleinberg, JACM'99) — on the
    // DIRECTED supplier→customer shipment graph (an edge per pair with
    // ≥ 2 shipped orders): hub suppliers are those shipping to
    // well-supplied customers, authority customers those supplied by
    // broad hubs — the key-vendor / key-account detector PageRank's
    // single score conflates (q144's graph is symmetric, where the two
    // collapse). Two full mutual-reinforcement sweeps with L1
    // normalization, all deterministic: a₁ is the exact in-degree over
    // its exact total; every later sweep sums Grid-quantized
    // contributions as int64 (q144's posture) and normalizes by the
    // exact int64 grid total — each score is ONE division of exact
    // integers, bit-equal across engines. One edge-keyed shuffle per
    // half-sweep; the bipartite node sets never materialize beyond
    // their keyed aggregates.
    QueryDef.sql("q190_hits_bipartite") { (s, d) =>
      val e = Checkpoints.checkpointLazy(
        Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_suppkey").as("s"), col("o_custkey").as("c"))
          .agg(countDistinct(col("o_orderkey")).as("n_ord"))
          .filter(col("n_ord") >= 2)
          .select(col("s"), col("c")))
      // a1: authority = in-degree / total edges (h0 = 1 uniformly)
      val tot = broadcast(e.agg(count(lit(1)).as("m")))
      val a1 = e.groupBy(col("c")).agg(count(lit(1)).as("indeg"))
        .crossJoin(tot)
        .select(col("c"), col("indeg"),
          (col("indeg").cast("double") / col("m").cast("double")).as("a"))
      // Round 17 (guide §3.3 — very large plans; VERDICT #5): each
      // normalization step references its grouped relation TWICE (the
      // broadcast total AND the per-node division), so unfrozen, every
      // sweep re-embedded its whole upstream tree twice over — a
      // 2,091-line plan with 40 SortMergeJoins by h2. LAZY freezes on the
      // three grouped sweep relations (h1g/a2g/h2g — each node-sized)
      // truncate the re-embedding: the broadcast-total job materializes
      // each freeze as it streams through, and every later reference
      // reads the snapshot. Identical relational content, plan ~5x
      // smaller; the query owns the snapshots, so the caller's release
      // of the returned frame frees them all.
      // h1: hub = sum of its customers' authorities, L1-normalized on
      // the exact grid total
      val h1g = Checkpoints.checkpointLazy(e.join(a1, "c")
        .groupBy(col("s"))
        .agg(sum(round(col("a") * Grid).cast("long")).as("hg")))
      val h1t = broadcast(h1g.agg(sum(col("hg")).as("ht")))
      val h1 = h1g.crossJoin(h1t)
        .select(col("s"), col("hg"),
          (col("hg").cast("double") / col("ht").cast("double")).as("h"))
      // a2: authority = sum of its suppliers' hub scores, normalized
      val a2g = Checkpoints.checkpointLazy(e.join(h1, "s")
        .groupBy(col("c"))
        .agg(count(lit(1)).as("indeg"),
          sum(round(col("h") * Grid).cast("long")).as("ag")))
      val a2t = broadcast(a2g.agg(sum(col("ag")).as("atot")))
      val a2 = a2g.crossJoin(a2t)
        .select(col("c"), col("indeg"),
          (col("ag").cast("double") / col("atot").cast("double")).as("a"))
      // h2: final hub sweep against the refreshed authorities
      val h2g = Checkpoints.checkpointLazy(e.join(a2.select(col("c"), col("a")), "c")
        .groupBy(col("s"))
        .agg(count(lit(1)).as("outdeg"),
          sum(round(col("a") * Grid).cast("long")).as("hg")))
      val h2t = broadcast(h2g.agg(sum(col("hg")).as("ht")))
      val h2 = h2g.crossJoin(h2t)
        .select(col("s"), col("outdeg"),
          (col("hg").cast("double") / col("ht").cast("double")).as("h"))
      // e and h1g are reachable only through FROZEN lineages (truncated
      // at materialization), so they are not leaves of the returned plan;
      // the query owns them, and the caller's release frees them too
      h2.select(lit("hub").as("role"), col("s").as("id"),
          col("outdeg").as("degree"), col("h").as("score"))
        .unionAll(a2.select(lit("authority").as("role"), col("c").as("id"),
          col("indeg").as("degree"), col("a").as("score")))
        .orderBy("role", "id")
    } {
      """WITH e AS (
        |  SELECT l.l_suppkey AS s, o.o_custkey AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2
        |  HAVING COUNT(DISTINCT o.o_orderkey) >= 2),
        |tot AS (SELECT COUNT(*) AS m FROM e),
        |a1 AS (
        |  SELECT c, COUNT(*) AS indeg,
        |    CAST(COUNT(*) AS DOUBLE) / CAST(m AS DOUBLE) AS a
        |  FROM e CROSS JOIN tot GROUP BY c, m),
        |h1g AS (
        |  SELECT e.s,
        |    CAST(SUM(CAST(ROUND(a1.a * 1e12) AS BIGINT)) AS BIGINT) AS hg
        |  FROM e JOIN a1 ON e.c = a1.c GROUP BY e.s),
        |h1t AS (SELECT CAST(SUM(hg) AS BIGINT) AS ht FROM h1g),
        |h1 AS (
        |  SELECT s, CAST(hg AS DOUBLE) / CAST(ht AS DOUBLE) AS h
        |  FROM h1g CROSS JOIN h1t),
        |a2g AS (
        |  SELECT e.c, COUNT(*) AS indeg,
        |    CAST(SUM(CAST(ROUND(h1.h * 1e12) AS BIGINT)) AS BIGINT) AS ag
        |  FROM e JOIN h1 ON e.s = h1.s GROUP BY e.c),
        |a2t AS (SELECT CAST(SUM(ag) AS BIGINT) AS atot FROM a2g),
        |a2 AS (
        |  SELECT c, indeg, CAST(ag AS DOUBLE) / CAST(atot AS DOUBLE) AS a
        |  FROM a2g CROSS JOIN a2t),
        |h2g AS (
        |  SELECT e.s, COUNT(*) AS outdeg,
        |    CAST(SUM(CAST(ROUND(a2.a * 1e12) AS BIGINT)) AS BIGINT) AS hg
        |  FROM e JOIN a2 ON e.c = a2.c GROUP BY e.s),
        |h2t AS (SELECT CAST(SUM(hg) AS BIGINT) AS ht FROM h2g),
        |h2 AS (
        |  SELECT s, outdeg, CAST(hg AS DOUBLE) / CAST(ht AS DOUBLE) AS h
        |  FROM h2g CROSS JOIN h2t)
        |SELECT 'hub' AS role, s AS id, outdeg AS degree, h AS score FROM h2
        |UNION ALL
        |SELECT 'authority' AS role, c AS id, indeg AS degree, a AS score
        |FROM a2
        |ORDER BY role, id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q196: WEIGHTED SHORTEST PATH (bounded Bellman–Ford) — min-cost
    // distance from the seed item over the co-purchase graph where
    // strong ties are SHORT (edge cost = max(1, 1000 div support)):
    // the "affinity distance" that q162's hop-count BFS flattens (two
    // hops over strong ties can be closer than one weak hop). Three
    // relaxation sweeps, each ONE edge-keyed join of the frozen
    // frontier + a node-keyed min — Bellman–Ford's relational form,
    // with the same lazy per-sweep freezes as q144 so lineage stays
    // sweep-sized. All-integer costs end-to-end; the oracle replays the
    // identical three unrolled relaxations.
    QueryDef.sql("q196_weighted_shortest_path") { (s, d) =>
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst"),
          greatest(lit(1L), expr("CAST(1000 DIV w AS BIGINT)")).as("ecost")))
      var dist = s.range(1)
        .select(lit(0L).as("node"), lit(0L).as("cost"))
      // round 17: lazy sweep freezes (the q144 posture — one consumer
      // job materializes the whole relaxation chain; the query owns the
      // predecessors, so they die with the final frame's release)
      for (_ <- 1 to 3) {
        val frozen = Checkpoints.checkpointLazy(dist)
        val relaxed = e.join(frozen, e("src") === frozen("node"))
          .select(col("dst").as("node"),
            (col("ecost") + frozen("cost")).as("cost"))
        dist = frozen.select(col("node"), col("cost"))
          .unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"))
      }
      dist.orderBy("node")
    } {
      s"""WITH $EdgeSql,
         |ec AS (
         |  SELECT src, dst, GREATEST(1, 1000 // w) AS ecost FROM edges),
         |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),
         |d1 AS (
         |  SELECT node, MIN(cost) AS cost FROM (
         |    SELECT node, cost FROM d0
         |    UNION ALL
         |    SELECT e.dst AS node, d.cost + e.ecost AS cost
         |    FROM d0 d JOIN ec e ON e.src = d.node) t GROUP BY node),
         |d2 AS (
         |  SELECT node, MIN(cost) AS cost FROM (
         |    SELECT node, cost FROM d1
         |    UNION ALL
         |    SELECT e.dst AS node, d.cost + e.ecost AS cost
         |    FROM d1 d JOIN ec e ON e.src = d.node) t GROUP BY node),
         |d3 AS (
         |  SELECT node, MIN(cost) AS cost FROM (
         |    SELECT node, cost FROM d2
         |    UNION ALL
         |    SELECT e.dst AS node, d.cost + e.ecost AS cost
         |    FROM d2 d JOIN ec e ON e.src = d.node) t GROUP BY node)
         |SELECT node, cost FROM d3 ORDER BY node""".stripMargin
    },

    // ------------------------------------------------------------------
    // q204: FREQUENT TRIPLE MINING — the size-3 extension of q145's
    // pair rules (Apriori level 3): every ordered part triple
    // (a < b < c) co-purchased in ≥ MinSupport orders, with its support
    // and the tightest pair-confidence floor (support(abc) relative to
    // the WEAKEST contained pair — the classic "does the third item add
    // signal" ratio; Agrawal & Srikant, VLDB'94). SCALE SHAPE: the
    // expansion is BASKET-LOCAL like q145's pairs — one shuffle groups
    // each order to its sorted part list, C(L,3) triples expand
    // in-buffer (basket size L is domain-bounded: a TPC-H order holds
    // ≤ 7 parts, so ≤ 35 triples/order — no candidate-generation join
    // needed when L is bounded; at unbounded L the Apriori prefix-join
    // prune applies first), then one keyed count. The pair supports are
    // the q145 half relation joined back three ways — each a keyed
    // shuffle join on the compact supported-pair relation. Exact int64
    // counts; one terminal division per row.
    QueryDef.sql("q204_frequent_triples") { (s, d) =>
      // Round 16 (guide §2.4): ONE frozen grouped-basket relation feeds
      // both the triple expansion and the pair supports (was two
      // independent distinct+group chains = four exchanges of the
      // basket relation), and the pair-support relation is itself
      // frozen — it is joined back THREE times below on three different
      // key pairs, so unfrozen it would be re-aggregated per join
      // (different exchange keys defeat ReuseExchange).
      val b = graft.Checkpoints.checkpointLazy(groupedBaskets(s, d))
      val tri = b
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  flatten(transform(slice(ps, i + 2, size(ps)), (y, j) ->
            |    transform(slice(ps, i + j + 3, size(ps)), z ->
            |      struct(x AS a, y AS b, z AS c))))))""".stripMargin)).as("t"))
        .select(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= MinSupport)
      val half = graft.Checkpoints.checkpointLazy(halfPairs(b))
      tri
        .join(half.select(col("src").as("a"), col("dst").as("b"),
          col("w").as("w_ab")), Seq("a", "b"))
        .join(half.select(col("src").as("a"), col("dst").as("c"),
          col("w").as("w_ac")), Seq("a", "c"))
        .join(half.select(col("src").as("b"), col("dst").as("c"),
          col("w").as("w_bc")), Seq("b", "c"))
        .select(col("a"), col("b"), col("c"), col("support"),
          least(col("w_ab"), col("w_ac"), col("w_bc")).as("min_pair"),
          (col("support").cast("double") /
            least(col("w_ab"), col("w_ac"), col("w_bc")).cast("double"))
            .as("floor_confidence"))
        .orderBy("a", "b", "c")
    } {
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |tri AS (
         |  SELECT x.p AS a, y.p AS b, z.p AS c, COUNT(*) AS support
         |  FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  JOIN li z ON y.o = z.o AND y.p < z.p
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(*) >= $MinSupport),
         |half AS (
         |  SELECT x.p AS src, y.p AS dst, COUNT(*) AS w
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2)
         |SELECT t.a, t.b, t.c, t.support,
         |  LEAST(ab.w, ac.w, bc.w) AS min_pair,
         |  CAST(t.support AS DOUBLE) / CAST(LEAST(ab.w, ac.w, bc.w)
         |    AS DOUBLE) AS floor_confidence
         |FROM tri t
         |JOIN half ab ON ab.src = t.a AND ab.dst = t.b
         |JOIN half ac ON ac.src = t.a AND ac.dst = t.c
         |JOIN half bc ON bc.src = t.b AND bc.dst = t.c
         |ORDER BY t.a, t.b, t.c""".stripMargin
    },

    // ------------------------------------------------------------------
    // q235: DEGREE ASSORTATIVITY — Newman's r: the Pearson correlation
    // of endpoint degrees over the edge relation. Positive = hubs link
    // hubs (social-network shape), negative = hubs link leaves
    // (hub-and-spoke catalogs) — it decides whether hub-targeted
    // strategies (q156's k-core, the q146 skew bucketing) will
    // concentrate or spread load. ARITHMETIC: degree sums over edges
    // are exact int64; the five moment products are taken in DOUBLE
    // over exact operands (the q217 contract — m·Σxy overflows int64
    // at warehouse edge counts); sqrt is IEEE-exact. One degree join
    // per endpoint (the same shape as one propagation sweep), one
    // 1-row shrink.
    QueryDef.sql("q235_degree_assortativity") { (s, d) =>
      // round 17 (guide §2.4): freeze — the edge relation feeds the edge
      // stream AND both endpoint-degree joins (three otherwise-repeated
      // derivations of the basket pipeline)
      val e = Checkpoints.checkpointLazy(
        edges(s, d).select(col("src"), col("dst")))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val de = e
        .join(deg.select(col("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      val m = de.agg(
        count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      val md = col("m2").cast("double")
      val cov = md * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val vx = md * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = md * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      m.select(col("m2"),
        (col("sx").cast("double") / md).as("mean_deg"),
        when(vx * vy <= 0.0, lit(null).cast("double"))
          .otherwise(cov / sqrt(vx * vy)).as("assortativity"))
    } {
      s"""WITH $EdgeSql,
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |de AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM edges e
         |  JOIN deg dx ON e.src = dx.src
         |  JOIN deg dy ON e.dst = dy.src),
         |mm AS (
         |  SELECT COUNT(*) AS m2,
         |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         |    CAST(SUM(dy * dy) AS BIGINT) AS syy
         |  FROM de)
         |SELECT m2,
         |  CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE) AS mean_deg,
         |  CASE WHEN (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0.0
         |    THEN NULL
         |    ELSE (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / SQRT((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    END AS assortativity
         |FROM mm""".stripMargin
    }
  )

  /** Parameterized recursive-CTE BFS from the seed part: every node
    * within `depth` hops with its BFS distance and ≤depth-hop walk
    * count. q162 registers depth 3; the depth generalizes freely — each
    * extra level plans as ONE more keyed frontier join (plan-pinned in
    * NewQueryPlanSpec: no nested-loop, no frontier re-scan per step).
    */
  def reachability(s: SparkSession, d: String, depth: Int): DataFrame = {
    require(depth >= 1, "BFS depth must be at least 1")
    // Round 16 (guide §2.4/§1.2 — don't recompute inside a loop): with
    // the edge CTE textually inside WITH RECURSIVE, Spark's UnionLoop
    // re-evaluated the WHOLE edge derivation (two lineitem scans,
    // distinct, self-join, support aggregation — plan-verified,
    // plans/r16/q162_before.txt) on EVERY recursion step. The edges are
    // loop-invariant, so they are now frozen ONCE (the same
    // basket-local derivation every other graph consumer uses) and the
    // recursion — still the dialect-shared verbatim text below — reads
    // the frozen relation through a registered view. DuckDB's oracle
    // keeps the full inlined text; the edge relation is identical
    // either way, so the BFS answer cannot differ.
    val e = graft.Checkpoints.checkpointLazy(
      edges(s, d).select(col("src"), col("dst")))
    // per-call unique view name, dropped once analysis has resolved it
    // (round-16 ADVICE): a fixed session-global name could race between
    // concurrent callers on one session, and a leftover view would
    // dangle on an unpersisted RDD after Checkpoints.release. Dataset
    // creation analyzes eagerly, so the catalog entry is not needed
    // after s.sql returns.
    val view = s"graft_q162_edges_${reachabilityViewSeq.incrementAndGet()}"
    e.createOrReplaceTempView(view)
    try s.sql(ReachabilitySql(depth, view))
    finally s.catalog.dropTempView(view)
  }

  private val reachabilityViewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** q162's dialect-shared text: the recursive BFS parses and evaluates
    * identically on Spark SQL and DuckDB; `edgeRel` names the edge
    * relation (a frozen view on Spark, the inlined [[EdgeSql]] CTE on
    * the oracle side).
    */
  private def ReachabilitySql(depth: Int, edgeRel: String): String =
    s"""WITH RECURSIVE
       |bfs AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
       |  UNION ALL
       |  SELECT e.dst AS node, b.dist + 1 AS dist
       |  FROM bfs b JOIN $edgeRel e ON e.src = b.node
       |  WHERE b.dist < $depth)
       |SELECT node, MIN(dist) AS dist,
       |  CAST(COUNT(*) AS BIGINT) AS n_walks
       |FROM bfs
       |GROUP BY node
       |ORDER BY node""".stripMargin

  /** The oracle-side q162 text: [[EdgeSql]] inlined as plain CTEs ahead
    * of the same recursive member.
    */
  private def ReachabilityOracleSql(depth: Int): String =
    s"""WITH RECURSIVE
       |$EdgeSql,
       |bfs AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
       |  UNION ALL
       |  SELECT e.dst AS node, b.dist + 1 AS dist
       |  FROM bfs b JOIN edges e ON e.src = b.node
       |  WHERE b.dist < $depth)
       |SELECT node, MIN(dist) AS dist,
       |  CAST(COUNT(*) AS BIGINT) AS n_walks
       |FROM bfs
       |GROUP BY node
       |ORDER BY node""".stripMargin
}
