package graft.llm

import graft.QueryDef
import graft.Det.{dsum, dsumSql}
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One tile of Similarity's blocked all-pairs kernel: vectors sorted by
  * id, ids/norms as parallel arrays and the vectors FLATTENED into one
  * primitive double array — the Dataset encoder deserializes these with
  * bulk `toDoubleArray` copies, never boxing an element. Top-level (not
  * nested private) so the generated encoder projections can access it.
  */
private[llm] case class VecBlock(
    bid: Int, ids: Array[Long], norms: Array[Double], vs: Array[Double])

/** Similarity search over the embedding column.
  *
  * Exact cross-engine comparability trick: embeddings are quantized to
  * integers (floor(x·1e6) as int64) before any arithmetic. Dot products and
  * squared norms are then exact integer sums (every partial sum < 2^53, so
  * even double-typed accumulation is exact and order-free), and the final
  * cosine is one identical double division on both engines — bit-equal, no
  * rounding epsilon needed.
  */
object Similarity {

  /** embedding (float array) → quantized integer-valued double array.
    * (Spark's floor returns BIGINT; cast back to double to match DuckDB.)
    */
  private val quant =
    "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0) AS double))"
  private val quantSql =
    "list_transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000000.0))"

  /** Exact dot product via the codegen'd native expression
    * (graft.functions.DotProduct) — sequential fold, bit-identical to
    * DuckDB's list_dot_product on these integer-valued arrays.
    */
  private def dot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  /** q72's int8 code formula — ONE definition interpolated into every
    * Spark lambda and oracle LIST_TRANSFORM (the text is valid in both
    * dialects), so the code/error audits and the oracle can never audit
    * two different quantizers. Tie-free by construction: floor(x + 0.5)
    * rounds identically on both engines, where built-in round() splits
    * (Spark half-up, DuckDB half-even).
    */
  private val QuantCode = "floor(x * 127 / scale + 0.5)"

  /** Cosine threshold above which two embeddings count as near-dups.
    * (Defined before `queries`, whose oracle strings interpolate it at
    * object-initialization time.)
    */
  final val NearDupThreshold = 0.45

  /** Sample size for the REGISTERED q49 truth: full exact at every
    * fixture SF (they stop at 10k vectors), a fixed-size slice beyond —
    * ~2e8 exact pairs worst case, seconds of work at any corpus size.
    * (Also defined before `queries` — q49's oracle interpolates it.)
    */
  final val ExactTruthSampleTarget: Long = 20000

  /** Fixed probe-set size for the q331 kNN leave-one-out eval — large
    * enough for stable per-class accuracy, small enough that the
    * broadcast probe scan stays linear in the corpus forever.
    */
  final val KnnEvalQueryTarget: Long = 64

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q307: EMBEDDING COVERAGE AUDIT — every embedding job drops rows
    // (codec failures, length caps, OOM retries), and every downstream
    // similarity query silently inherits the holes. Per source: docs
    // without an embedding, embeddings without a doc (the orphan
    // direction — a stale index serving deleted rows), and coverage
    // share. One full-outer keyed join of the two id sets, then
    // source-bounded count arithmetic (orphans carry no source — they
    // report under 'ORPHANED'). The cross-modality twin of q137's
    // referential-integrity audit.
    QueryDef.sql("q307_embedding_coverage") { (s, d) =>
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("source"))
      val vecs = Tables(s, d, "embeddings").select(col("vec_id"))
      docs.join(vecs, col("doc_id") === col("vec_id"), "full_outer")
        .select(
          coalesce(col("source"), lit("ORPHANED")).as("source"),
          col("doc_id").isNotNull.cast("long").as("has_doc"),
          col("vec_id").isNotNull.cast("long").as("has_vec"))
        .groupBy(col("source"))
        .agg(sum(col("has_doc")).as("n_docs"),
          sum(col("has_doc") * col("has_vec")).as("n_embedded"),
          sum(col("has_doc") * (lit(1L) - col("has_vec")))
            .as("n_missing_embedding"),
          sum((lit(1L) - col("has_doc")) * col("has_vec"))
            .as("n_orphan_embeddings"))
        .withColumn("coverage",
          when(col("n_docs") === 0L, lit(null).cast("double"))
            .otherwise(expr(
              "CAST(n_embedded AS DOUBLE) / CAST(n_docs AS DOUBLE)")))
        .orderBy("source")
    } {
      """WITH j AS (
        |  SELECT COALESCE(d.source, 'ORPHANED') AS source,
        |    CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS has_doc,
        |    CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS has_vec
        |  FROM documents d FULL OUTER JOIN embeddings e
        |    ON d.doc_id = e.vec_id)
        |SELECT source, CAST(SUM(has_doc) AS BIGINT) AS n_docs,
        |  CAST(SUM(has_doc * has_vec) AS BIGINT) AS n_embedded,
        |  CAST(SUM(has_doc * (1 - has_vec)) AS BIGINT)
        |    AS n_missing_embedding,
        |  CAST(SUM((1 - has_doc) * has_vec) AS BIGINT)
        |    AS n_orphan_embeddings,
        |  CASE WHEN SUM(has_doc) = 0 THEN NULL
        |    ELSE CAST(SUM(has_doc * has_vec) AS DOUBLE)
        |      / CAST(SUM(has_doc) AS DOUBLE) END AS coverage
        |FROM j GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q303: FISHER SEPARABILITY per dimension — which embedding
    // coordinates actually separate the labels? The classic
    // feature-selection ratio SSB/SSW (between-class over within-class
    // variance) per dimension, the number that justifies q220's
    // truncation order and picks projection dims for a linear probe.
    // Moments are exact int64 on the 1e3 grid per (dim, label); the
    // only order-sensitive term (Σ_l sx_l²/n_l) rides an ordered label
    // fold (the q269 posture — labels are a bounded set), so both
    // engines add the same ~10 doubles in the same sequence. One
    // posexplode pass, a (dim × label)-keyed agg, then dim-bounded
    // arithmetic.
    QueryDef.sql("q303_fisher_separability") { (s, d) =>
      val e = Tables(s, d, "embeddings")
        .select(col("label"), posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000.0) AS long))"))
          .as(Seq("dim", "x")))
      val byLab = e.groupBy(col("dim"), col("label"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("contrib", expr(
          "(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"))
      byLab.groupBy(col("dim"))
        .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx_all"),
          sum(col("sxx")).as("sxx_all"),
          count(lit(1)).as("n_labels"),
          expr("aggregate(transform(sort_array(collect_list(" +
            "struct(label, contrib))), x -> x.contrib), 0.0D, " +
            "(acc, v) -> acc + v)").as("f"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          col("n_labels"),
          expr(FisherExpr).as("fisher_ratio"))
        .orderBy("dim")
    } {
      s"""WITH e AS (
         |  SELECT label, UNNEST(v) AS x, generate_subscripts(v, 1) - 1
         |      AS dim
         |  FROM (SELECT label, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
         |    FROM embeddings) t),
         |bl AS (
         |  SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM e GROUP BY dim, label),
         |cb AS (
         |  SELECT dim, label, n, sx, sxx,
         |    (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |      AS contrib
         |  FROM bl),
         |g AS (
         |  SELECT CAST(dim AS BIGINT) AS dim,
         |    CAST(SUM(n) AS BIGINT) AS n,
         |    CAST(SUM(sx) AS BIGINT) AS sx_all,
         |    CAST(SUM(sxx) AS BIGINT) AS sxx_all,
         |    CAST(COUNT(*) AS BIGINT) AS n_labels,
         |    LIST_REDUCE(LIST(contrib ORDER BY label),
         |      (acc, v) -> acc + v) AS f
         |  FROM cb GROUP BY dim)
         |SELECT dim, n, n_labels, $FisherExpr AS fisher_ratio
         |FROM g
         |ORDER BY dim""".stripMargin
    },

    // ------------------------------------------------------------------
    // q286: EMBEDDING DIMENSION-MOMENT AUDIT — per-coordinate mean and
    // variance over the corpus, plus the max/min variance ratio: the
    // whitening/centering pre-check every similarity stack should run
    // (a dominating dimension silently owns the cosine; a near-constant
    // one wastes index bits — this is the number that justifies q220's
    // truncation or a PCA). Coordinates ride the 1e3 integer grid so
    // Σx and Σx² are EXACT int64 to ~1e9 vectors; mean and variance are
    // single shared IEEE chains with products in double. Shape: one
    // posexplode + a 64-group keyed agg (partials collapse map-side to
    // 64×partitions rows); the ratio is a broadcast of the two-value
    // rollup over the 64-row relation.
    QueryDef.sql("q286_embedding_moments") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
        .select(posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000.0) AS long))"))
          .as(Seq("dim", "x")))
      val moments = emb.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("mean"),
          expr(DimVarExpr).as("variance"))
      val bounds = moments.agg(max(col("variance")).as("max_var"),
        min(col("variance")).as("min_var"))
      moments.crossJoin(broadcast(bounds))
        .select(col("dim"), col("n"), col("mean"), col("variance"),
          expr("CASE WHEN min_var <= 0.0 THEN NULL " +
            "ELSE max_var / min_var END").as("variance_ratio"))
        .orderBy("dim")
    } {
      s"""WITH e AS (
         |  SELECT UNNEST(v) AS x, generate_subscripts(v, 1) - 1 AS dim
         |  FROM (SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS v
         |    FROM embeddings) t),
         |m AS (
         |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM e GROUP BY dim),
         |mm AS (
         |  SELECT CAST(dim AS BIGINT) AS dim, n,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |    $DimVarExpr AS variance
         |  FROM m),
         |b AS (SELECT MAX(variance) AS max_var, MIN(variance) AS min_var
         |      FROM mm)
         |SELECT dim, n, mean, variance,
         |  CASE WHEN min_var <= 0.0 THEN NULL
         |    ELSE max_var / min_var END AS variance_ratio
         |FROM mm CROSS JOIN b
         |ORDER BY dim""".stripMargin
    },

    // ------------------------------------------------------------------
    // q154: DOMINANT PRINCIPAL COMPONENT via distributed POWER ITERATION
    // — the embedding-drift / whitening / anisotropy primitive ("is the
    // space collapsing onto one axis?") as pure relational linear
    // algebra. Three fixed sweeps of v ← (Σⱼ xⱼxⱼᵀ)·v from the all-ones
    // start, entirely in EXACT integer arithmetic: embeddings quantize
    // to the 256-grid, per-vector projections d = x·v and the
    // re-expansion Σ d·x are keyed aggregations in decimal(38,0) /
    // HUGEINT, and both engines replay the identical sweeps — the oracle
    // unrolls them as CTEs. Only the FINAL normalization casts the two
    // exact integers to double (one correctly-rounded cast each, one
    // division). Shape at scale: the (vec, dim, value) relation
    // shuffles once per sweep (join on vec_id, then a 64-key map-side
    // partial agg — the all-reduce shape); v itself is 64 rows,
    // broadcast back. Magnitude contract (ANSI aborts, never wraps):
    // |v₃| ≤ (N·dims·X²)³ must stay under 10³⁸ — at X = 256, dims = 64
    // the unshifted path (registered here, shiftBits = 0 — the oracle
    // replays it exactly) admits N up to ~10⁶ vectors; a production run
    // at larger N passes shiftBits > 0 to powerIterationPca, which
    // floor-divides v by 2^shiftBits after each non-final sweep —
    // admitting N up to ~2^shiftBits·10⁶ (shiftBits = 30 covers 10⁹+)
    // at a ≲2^shiftBits/|v| relative perturbation of the loadings
    // (spec-pinned ≈-equal to the unshifted path at fixture scale).
    // Oracle detail: DuckDB's direct HUGEINT→DOUBLE cast is NOT
    // correctly rounded for >64-bit magnitudes (measured 1-ulp drift vs
    // Spark's BigInteger cast, which is), so the oracle routes the
    // final cast through VARCHAR — strtod rounds correctly — making
    // both engines' only inexact step the same correctly-rounded cast +
    // one division.
    QueryDef.sql("q154_power_iteration_pca") { (s, d) =>
      powerIterationPca(s, d)
    } {
      """WITH ex AS (
        |  SELECT vec_id, c - 1 AS c,
        |    CAST(FLOOR(CAST(xv AS DOUBLE) * 256.0) AS BIGINT) AS xc
        |  FROM (
        |    SELECT vec_id, UNNEST(embedding) AS xv,
        |      generate_subscripts(embedding, 1) AS c
        |    FROM embeddings)),
        |d0 AS (
        |  SELECT vec_id, CAST(SUM(xc) AS HUGEINT) AS dv
        |  FROM ex GROUP BY vec_id),
        |v1 AS (
        |  SELECT c, CAST(SUM(d0.dv * ex.xc) AS HUGEINT) AS v
        |  FROM ex JOIN d0 USING (vec_id) GROUP BY c),
        |d1 AS (
        |  SELECT vec_id, CAST(SUM(v1.v * ex.xc) AS HUGEINT) AS dv
        |  FROM ex JOIN v1 USING (c) GROUP BY vec_id),
        |v2 AS (
        |  SELECT c, CAST(SUM(d1.dv * ex.xc) AS HUGEINT) AS v
        |  FROM ex JOIN d1 USING (vec_id) GROUP BY c),
        |d2 AS (
        |  SELECT vec_id, CAST(SUM(v2.v * ex.xc) AS HUGEINT) AS dv
        |  FROM ex JOIN v2 USING (c) GROUP BY vec_id),
        |v3 AS (
        |  SELECT c, CAST(SUM(d2.dv * ex.xc) AS HUGEINT) AS v
        |  FROM ex JOIN d2 USING (vec_id) GROUP BY c),
        |m AS (SELECT MAX(ABS(v)) AS m FROM v3)
        |SELECT c AS component,
        |  CAST(CAST(v AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(m AS VARCHAR) AS DOUBLE) AS loading
        |FROM v3 CROSS JOIN m
        |ORDER BY component""".stripMargin
    },

    // ------------------------------------------------------------------
    // q159: LABEL-CENTROID STABILITY AUDIT — per label, the cosine
    // between the centroids of the two deterministic vec_id halves: a
    // clean label's halves point the same way (cos → 1); a noisy or
    // mixed label drifts apart. This is q80's machinery pointed at
    // LABEL QUALITY instead of label similarity, and the embedding twin
    // of q91's mixture-drift monitor. Same exactness trick: quantized
    // int sums, count denominators cancel inside the cosine, so only
    // the terminal sqrt/division are floating — identical operands both
    // engines. One posexplode → shrinking (label, half, dim) partial
    // agg; centroid relation is labels×2 rows.
    QueryDef.sql("q159_label_centroid_drift") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val q3 = "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
      val emb = Tables(s, d, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("half"), expr(q3).as("v"))
      val sums = emb
        .select(col("label"), col("half"), posexplode(col("v")).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("half"), col("pos"))
        .agg(sum(col("qv").cast("long")).as("s"))
      val cent = sums.groupBy(col("label"), col("half"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, s))), x -> cast(x.s AS double))")
          .as("cv"))
      val cnt = emb.groupBy(col("label"), col("half"))
        .agg(count(lit(1)).as("n"))
      val withN = cent.join(cnt, Seq("label", "half"))
      val e0 = withN.filter(col("half") === 0)
        .select(col("label"), col("cv").as("cv_a"), col("n").as("n_even"))
      val e1 = withN.filter(col("half") === 1)
        .select(col("label").as("label_b"), col("cv").as("cv_b"), col("n").as("n_odd"))
      e0.join(e1, col("label") === col("label_b"))
        .select(col("label"), col("n_even"), col("n_odd"),
          (dot("cv_a", "cv_b") /
            (sqrt(dot("cv_a", "cv_a")) * sqrt(dot("cv_b", "cv_b"))))
            .as("cos_drift"))
        .orderBy("label")
    } {
      """WITH q AS (
        |  SELECT label, vec_id % 2 AS half,
        |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT label, half, UNNEST(v) AS qv,
        |    generate_subscripts(v, 1) AS pos
        |  FROM q),
        |s AS (
        |  SELECT label, half, pos, CAST(SUM(qv) AS DOUBLE) AS sv
        |  FROM e GROUP BY label, half, pos),
        |cent AS (
        |  SELECT label, half, LIST(sv ORDER BY pos) AS cv
        |  FROM s GROUP BY label, half),
        |c AS (SELECT label, half, COUNT(*) AS n FROM q GROUP BY label, half)
        |SELECT a.label,
        |  ca.n AS n_even, cb.n AS n_odd,
        |  list_dot_product(a.cv, b.cv) /
        |    (SQRT(list_dot_product(a.cv, a.cv))
        |      * SQRT(list_dot_product(b.cv, b.cv))) AS cos_drift
        |FROM cent a JOIN cent b ON a.label = b.label
        |  AND a.half = 0 AND b.half = 1
        |JOIN c ca ON ca.label = a.label AND ca.half = 0
        |JOIN c cb ON cb.label = b.label AND cb.half = 1
        |ORDER BY a.label""".stripMargin
    },

    // ------------------------------------------------------------------
    // q27: brute-force cosine top-k (the correctness baseline): the first
    // 5 vectors are the query set; each scans all candidates. The
    // candidate side stays partitioned; queries are a broadcast (tiny).
    QueryDef.sql("q27_cosine_topk") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), expr(quant).as("v"))
        .withColumn("norm2", dot("v", "v"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
      val pairs = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", dot("qv", "v") / (sqrt(col("qn2")) * sqrt(col("norm2"))))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos_sim"))
        .orderBy("q_id", "rnk")
    } {
      s"""WITH e AS (
         |  SELECT vec_id, $quantSql AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, list_dot_product(v, v) AS norm2 FROM e),
         |pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) / (SQRT(q.norm2) * SQRT(c.norm2)) AS cos_sim
         |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |SELECT q_id, rnk, neighbor_id, cos_sim FROM (
         |  SELECT q_id, neighbor_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |                       ORDER BY cos_sim DESC, neighbor_id) AS rnk
         |  FROM pairs)
         |WHERE rnk <= 10
         |ORDER BY q_id, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q28: LSH-bucketed approximate nearest neighbors (the scale path):
    // p deterministic pseudo-random hyperplanes → p-bit bucket signature;
    // candidates join within the query's bucket plus its p Hamming-1
    // neighbors (multi-probe). The bucket key is the shuffle key; p grows
    // with the candidate count (buckets ≈ N / 256), so per-bucket work
    // stays constant as N scales. Hash-specific — recall vs the q27 brute
    // force is asserted in LlmSpec.
    QueryDef.noOracle("q28_ann_lsh_topk")((s, d) => annLsh(s, d)),

    // ------------------------------------------------------------------
    // q49: embedding-cosine near-dup pairs — exact all-pairs ground
    // truth over a BOUNDED deterministic sample. ROLE AT SCALE:
    // validation operator; all-pairs is quadratic by definition, so the
    // registered query is [[embeddingNearDupSampled]] at
    // [[ExactTruthSampleTarget]] vectors — the FULL exact answer at
    // every fixture SF (n ≤ target there), and a fixed-size md5-bucket
    // slice beyond, so the validator's cost is FLAT in corpus size
    // (uncapped, the full all-pairs was 80 s and exponent 1.86 on the
    // 10× derived corpus, and past MaxExactNearDupVectors it would
    // refuse outright — a validator that detonates or refuses at scale
    // validates nothing). The sample predicate is the library-wide md5
    // id-hash recipe, replicated verbatim in the oracle SQL (the
    // keep-threshold derives from COUNT(*) identically on both
    // engines). The production path is q50's multi-table LSH bucketing,
    // gated against this truth in q111/LlmSpec. Quantized-integer dot
    // products keep the oracle bit-exact.
    QueryDef.sql("q49_embedding_near_dup") { (s, d) =>
      embeddingNearDupSampled(s, d, ExactTruthSampleTarget)
    } {
      s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
         |kept AS (
         |  SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE ${sampleKeepSql("vec_id", ExactTruthSampleTarget)}),
         |e AS (
         |  SELECT vec_id, $quantSql AS v FROM kept),
         |n AS (
         |  SELECT vec_id, v, list_dot_product(v, v) AS norm2 FROM e)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  list_dot_product(a.v, b.v) / (SQRT(a.norm2) * SQRT(b.norm2)) AS cos_sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) / (SQRT(a.norm2) * SQRT(b.norm2)) >= $NearDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q50: the scale path for q49 — L hyperplane tables of p bits each;
    // a pair is a candidate iff it shares a bucket in ANY table (shuffle
    // key = (table, bucket)), then exact cosine verification. Precision
    // is exactly 1 vs q49 (same quantized cosine); recall is asserted in
    // LlmSpec. Hash-specific, so no SQL oracle.
    QueryDef.noOracle("q50_embedding_near_dup_lsh")((s, d) => embeddingNearDupLsh(s, d)),

    // ------------------------------------------------------------------
    // q75: IVF approximate nearest neighbors — the other classic ANN
    // index family next to q28's LSH: a k-means coarse quantizer routes
    // each query to its nprobe best clusters, so the scan touches
    // ~nprobe/k of the corpus. The registered query runs build + query
    // end-to-end; in production the centroid training is an index BUILD
    // amortized over many query batches — ivfBuild/ivfQuery expose that
    // split, and LlmSpec exercises it (one build, many prebuilt-model
    // queries) and asserts recall@10 vs the q27 brute force at sf0.01.
    // Centroid internals are engine-specific — no SQL oracle.
    QueryDef.noOracle("q75_ann_ivf_topk")((s, d) => annIvf(s, d)),

    // ------------------------------------------------------------------
    // q277: PQ-ADC TOP-K SEARCH — the query half of q211's
    // product-quantization codebook, completing the compressed-domain
    // ANN path (LSH probes buckets, IVF probes clusters; PQ scans
    // EVERYTHING but in 4 bytes/vector): vectors are unit-sphere
    // quantized (cosine ranking ≡ L2 ranking), encoded per 8-dim block
    // (8 blocks × 32 codes over the 64 dims) against an exact-integer-
    // trained codebook (q211's seed+refit machinery — deterministic
    // centroids, no FP mean drift), and each query scores candidates by
    // Asymmetric Distance Computation — 8 table lookups per vector
    // (one 32-entry table per block), never a 64-dim dot. The distance
    // table is queries×blocks×codes rows (broadcast-sized); the only
    // corpus-scale shuffle is the (query, vector) partial-aggregated
    // block sum; the ADC ranking prunes to a 100-row shortlist per
    // query that an exact re-rank finishes (the standard PQ deployment
    // shape). Recall vs the exact q27 ranking is gated in q278.
    // Deploys via the SHARED per-(session, corpus) trained model
    // (annShared, same codebook parameters) — the PQ family trains once
    // alongside q320/q321/q328; adcTopk ≡ pqAdcTopk is spec-pinned.
    QueryDef.noOracle("q277_pq_adc_topk")((s, d) =>
      annShared(s, d).adcTopk()),

    // ------------------------------------------------------------------
    // q320: IVF → PQ-ADC → EXACT RE-RANK — the composed production
    // retrieval stack (see ivfPqRerank's Scaladoc): q75's coarse router
    // prunes to nprobe/coarseK of the corpus, q277's ADC scores only
    // those candidates from compressed codes, the exact re-rank
    // finishes the shortlist. Both stages share the unit-sphere integer
    // geometry; recall vs the exact q27 top-k is gated in q321;
    // broadcast-only-joins + no-cartesian plan-pinned. Deploys via the
    // SHARED per-(session, corpus) trained model (annShared) — q320,
    // q321 and q328 ride ONE build (spec-pinned via annBuilds), the
    // amortized build-once/query-many path the AnnIndex API advertises;
    // query() is spec-pinned row-for-row equal to the un-cached
    // ivfPqRerank at the same parameters.
    QueryDef.noOracle("q320_ann_ivf_pq_rerank")((s, d) =>
      annShared(s, d).query()),

    // ------------------------------------------------------------------
    // q72: INT8 QUANTIZATION AUDIT — the storage side of similarity at
    // scale: per-vector symmetric int8 quantization (scale = max |x|,
    // code = floor(x·127/scale + 0.5)) shrinks an embedding store 4×,
    // and this audit bounds what that costs: the max reconstruction
    // error, and the code range (must stay within ±127). All arithmetic
    // is a deterministic IEEE chain over the integer-quantized embedding
    // domain (same floor-based rounding formula on both engines —
    // built-in round() differs on ties: Spark half-up, DuckDB
    // half-even), so the audit carries a DuckDB oracle. Per-row lambda
    // work only; one keyed aggregation.
    QueryDef.sql("q72_int8_quant_audit") { (s, d) =>
      val emb = Tables(s, d, "embeddings").select(col("label"), expr(quant).as("v"))
      emb
        // zero vectors: greatest(scale, 1) keeps the division defined
        // (codes and errors all 0) — Spark would yield NaN, DuckDB NULL
        .withColumn("scale",
          greatest(array_max(expr("transform(v, x -> abs(x))")), lit(1.0)))
        .withColumn("q", expr(s"transform(v, x -> $QuantCode)"))
        .withColumn("row_err", expr(
          s"array_max(transform(v, x -> abs(x - $QuantCode * scale / 127)))"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vectors"),
          max(col("row_err")).as("max_abs_err"),
          max(array_max(col("q"))).cast("long").as("max_q"),
          min(array_min(col("q"))).cast("long").as("min_q"))
        .orderBy("label")
    } {
      s"""WITH e AS (
         |  SELECT label, $quantSql AS v FROM embeddings),
         |sc AS (
         |  SELECT label, v,
         |    GREATEST(LIST_AGGREGATE(LIST_TRANSFORM(v, x -> ABS(x)), 'max'), 1.0) AS scale
         |  FROM e),
         |m AS (
         |  SELECT label,
         |    LIST_AGGREGATE(LIST_TRANSFORM(v,
         |      x -> ABS(x - $QuantCode * scale / 127)), 'max') AS row_err,
         |    LIST_AGGREGATE(LIST_TRANSFORM(v,
         |      x -> $QuantCode), 'max') AS row_qmax,
         |    LIST_AGGREGATE(LIST_TRANSFORM(v,
         |      x -> $QuantCode), 'min') AS row_qmin
         |  FROM sc)
         |SELECT label, COUNT(*) AS n_vectors,
         |  MAX(row_err) AS max_abs_err,
         |  CAST(MAX(row_qmax) AS BIGINT) AS max_q,
         |  CAST(MIN(row_qmin) AS BIGINT) AS min_q
         |FROM m
         |GROUP BY label
         |ORDER BY label""".stripMargin
    },

    // ------------------------------------------------------------------
    // q103: EMBEDDING HYGIENE gate — the validation every embedding
    // ingest runs before similarity work: per label, how many vectors
    // are all-zero (cosine-undefined: they silently score 0 against
    // everything), carry NaN elements (which poison any distance), or
    // deviate from the expected dimensionality. All counters are exact
    // integers (no float accumulation), so the gate hash-matches the
    // oracle; one scan, one keyed aggregation.
    QueryDef.sql("q103_embedding_hygiene") { (s, d) =>
      Tables(s, d, "embeddings")
        .withColumn("n_zero", expr("size(filter(embedding, x -> x = 0F))"))
        .withColumn("has_nan", expr("exists(embedding, x -> isnan(x))"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("n_zero") === size(col("embedding")), 1L)
            .otherwise(0L)).as("n_zero_vecs"),
          sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan_vecs"),
          sum(col("n_zero").cast("long")).as("n_zero_elems"),
          min(size(col("embedding"))).as("min_dim"),
          max(size(col("embedding"))).as("max_dim"))
        .orderBy("label")
    } {
      """SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN LEN(LIST_FILTER(embedding, x -> x = 0))
        |    = LEN(embedding) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
        |  CAST(SUM(CASE WHEN LEN(LIST_FILTER(embedding, x -> ISNAN(x))) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_vecs,
        |  CAST(SUM(LEN(LIST_FILTER(embedding, x -> x = 0))) AS BIGINT)
        |    AS n_zero_elems,
        |  CAST(MIN(LEN(embedding)) AS INT) AS min_dim,
        |  CAST(MAX(LEN(embedding)) AS INT) AS max_dim
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin
    },

    // ------------------------------------------------------------------
    // q29: embedding column statistics per label: count + exact-integer
    // L2 norm extremes (deterministic), plus mean norm via exact decimal
    // summation.
    QueryDef.sql("q29_label_embedding_stats") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val emb = Tables(s, d, "embeddings")
        .select(col("label"), expr(quant).as("v"))
        .withColumn("norm", sqrt(dot("v", "v")) / 1000000.0)
      emb.groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vectors"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"),
          graft.Det.davg(col("norm")).as("avg_norm"))
        .orderBy("label")
    } {
      s"""WITH e AS (
         |  SELECT label,
         |    SQRT(list_dot_product($quantSql, $quantSql)) / 1000000.0 AS norm
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vectors,
         |  MIN(norm) AS min_norm, MAX(norm) AS max_norm,
         |  ${graft.Det.davgSql("norm")} AS avg_norm
         |FROM e
         |GROUP BY label
         |ORDER BY label""".stripMargin
    },

    // ------------------------------------------------------------------
    // q80: LABEL-CENTROID SIMILARITY — the embedding-space audit that
    // flags label confusion/noise before training: pairwise cosine
    // between per-label centroids. The count denominators cancel out of
    // cosine, so centroids stay EXACT per-dimension int64 sums of
    // 1e3-quantized components (coarser than q27's 1e6 on purpose: with
    // scale s and per-label count c, dot-product partials reach
    // (c·s)²·dims, which must stay under 2^53 for the double fold to be
    // exact and order-free — s=1e3 gives c ≈ 9e6·√(1/dims) headroom,
    // ~1.2e6 vectors/label at 64 dims; beyond that, rescale the sums
    // before the dot). Shape: one posexplode → shrinking (label, dim)
    // partial agg → labels×dims rows → per-label arrays → a labels²
    // broadcast pair join. Nothing large ever shuffles twice.
    QueryDef.sql("q80_label_centroid_sim") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val q3 = "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
      val emb = Tables(s, d, "embeddings").select(col("label"), expr(q3).as("v"))
      val sums = emb
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("qv").cast("long")).as("s"))
      val cent = sums.groupBy(col("label"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, s))), x -> cast(x.s AS double))")
          .as("cv"))
      val cnt = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val withN = cent.join(cnt, "label")
      val a = withN.select(col("label").as("label_a"), col("cv").as("cv_a"),
        col("n").as("n_a"))
      val b = withN.select(col("label").as("label_b"), col("cv").as("cv_b"),
        col("n").as("n_b"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          (dot("cv_a", "cv_b") /
            (sqrt(dot("cv_a", "cv_a")) * sqrt(dot("cv_b", "cv_b"))))
            .as("cos_sim"),
          col("n_a"), col("n_b"))
        .orderBy("label_a", "label_b")
    } {
      """WITH q AS (
        |  SELECT label,
        |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT label, UNNEST(v) AS qv, generate_subscripts(v, 1) AS pos FROM q),
        |s AS (
        |  SELECT label, pos, CAST(SUM(qv) AS DOUBLE) AS sv FROM e GROUP BY label, pos),
        |cent AS (
        |  SELECT label, LIST(sv ORDER BY pos) AS cv FROM s GROUP BY label),
        |c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  list_dot_product(a.cv, b.cv) /
        |    (SQRT(list_dot_product(a.cv, a.cv)) * SQRT(list_dot_product(b.cv, b.cv)))
        |    AS cos_sim,
        |  ca.n AS n_a, cb.n AS n_b
        |FROM cent a JOIN cent b ON a.label < b.label
        |JOIN c ca ON ca.label = a.label JOIN c cb ON cb.label = b.label
        |ORDER BY label_a, label_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q116: NEAREST-CENTROID CLASSIFICATION — the domain-tagging /
    // label-audit curation op: fit per-label centroids on a
    // deterministic half of the corpus (even vec_ids), assign every
    // held-out vector to its nearest centroid by cosine, report the
    // confusion matrix. Exactness follows q80's scheme: 1e3-quantized
    // components, centroids as exact per-dimension int64 sums (the
    // count denominator cancels out of cosine), so dot products are
    // exact integer-valued doubles and the only IEEE ops are one sqrt
    // and one divide — bit-identical on both engines. Shape at scale:
    // one posexplode → shrinking (label, dim) partial agg for the
    // centroids (tiny: labels × dims), the centroid set collected into
    // ONE broadcast row, then a map-side argmax fold per held-out
    // vector — no per-vector shuffle anywhere; the only exchange after
    // the centroid build is the labels²-key confusion agg. The argmax
    // fold is order-independent (strictly-greater or tie-and-smaller-
    // label wins), so collect_list's nondeterministic order is
    // immaterial.
    QueryDef.sql("q116_centroid_classifier") { (s, d) =>
      centroidConfusion(s, d).orderBy("label_actual", "label_pred")
    } {
      s"""WITH $CentroidConfusionCte
        |SELECT label_actual, label_pred, n_vecs
        |FROM confusion
        |ORDER BY label_actual, label_pred""".stripMargin
    },

    // ------------------------------------------------------------------
    // q124: CONTRASTIVE PAIR MINING — the embedding-training curation
    // op: for each anchor, the k hardest NEGATIVES (most-similar vectors
    // with a DIFFERENT label — the pairs a contrastive loss learns most
    // from) and the k hardest POSITIVES (least-similar vectors sharing
    // the anchor's label). Registered form scans the candidate side
    // exactly against a small broadcast anchor set — the validation
    // semantics, same posture as q27; production mining over an
    // every-doc anchor set routes candidate generation through the
    // ANN paths (q75 IVF / q28 LSH) and re-scores exactly, gated
    // against this truth. The low-cardinality per-anchor window is
    // safe because the rank≤k filter plans a PARTIAL WindowGroupLimit
    // ahead of the exchange (pinned in NewQueryPlanSpec): each map
    // task forwards at most k candidates per anchor, so the per-anchor
    // sort sees ≤ k·map_tasks rows, never the corpus.
    QueryDef.sql("q124_contrastive_mining") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val k = 5
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"), expr(quant).as("v"))
        .withColumn("norm2", dot("v", "v"))
      val anchors = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("v").as("av"), col("norm2").as("an2"))
      val pairs = emb.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
        .withColumn("cos_sim",
          dot("av", "v") / (sqrt(col("an2")) * sqrt(col("norm2"))))
        .select(col("a_id"), col("a_label"), col("label"),
          col("vec_id").as("cand_id"), col("cos_sim"))
      def topK(df: DataFrame, kind: String, asc: Boolean): DataFrame = {
        val ord =
          if (asc) Seq(col("cos_sim").asc, col("cand_id").asc)
          else Seq(col("cos_sim").desc, col("cand_id").asc)
        val w = Window.partitionBy(col("a_id")).orderBy(ord: _*)
        df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
          .select(col("a_id"), lit(kind).as("kind"), col("rnk"),
            col("cand_id"), col("cos_sim"))
      }
      topK(pairs.filter(col("label") =!= col("a_label")), "hard_negative", asc = false)
        .unionByName(
          topK(pairs.filter(col("label") === col("a_label")), "hard_positive", asc = true))
        .orderBy("a_id", "kind", "rnk")
    } {
      s"""WITH e AS (
         |  SELECT vec_id, label, $quantSql AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, label, v, list_dot_product(v, v) AS norm2 FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, a.label AS a_label,
         |    c.label AS label, c.vec_id AS cand_id,
         |    list_dot_product(a.v, c.v) / (SQRT(a.norm2) * SQRT(c.norm2)) AS cos_sim
         |  FROM n a JOIN n c ON a.vec_id < 8 AND c.vec_id <> a.vec_id),
         |negs AS (
         |  SELECT a_id, 'hard_negative' AS kind, cand_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY a_id
         |                       ORDER BY cos_sim DESC, cand_id) AS rnk
         |  FROM pairs WHERE label <> a_label),
         |poss AS (
         |  SELECT a_id, 'hard_positive' AS kind, cand_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY a_id
         |                       ORDER BY cos_sim ASC, cand_id) AS rnk
         |  FROM pairs WHERE label = a_label)
         |SELECT a_id, kind, rnk, cand_id, cos_sim FROM (
         |  SELECT * FROM negs WHERE rnk <= 5
         |  UNION ALL SELECT * FROM poss WHERE rnk <= 5)
         |ORDER BY a_id, kind, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q127: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023) — the
    // embedding-space dedup that catches paraphrase-level redundancy
    // MinHash cannot see: route every vector to a coarse cluster, then
    // drop within-cluster vectors whose cosine to a LOWER-id cluster
    // mate exceeds the threshold. Determinism makes the whole operator
    // oracle-hashable where k-means would not be: seeds are the ~sqrt(N)
    // vectors under the library-wide md5 id-hash keep-predicate (hash <
    // 2^32/sqrt(N) — content-independent, no global sort), assignment is
    // argmax cosine over the seed set with ties to the smaller seed id,
    // and the drop rule is a fixed total order (keep-lowest-id), so both
    // engines compute the identical partition and the identical drops.
    // Shape at scale: the seed set collects into ONE broadcast row
    // (sqrt(N) x dims; ~16 MB at 1e9 vectors) and assignment is a
    // map-side fold — zero per-vector shuffles; the only exchange is the
    // within-cluster pair join keyed on cluster_id, whose cost is
    // (N/k)^2 * k = N^2/k = N^1.5 at k = sqrt(N) — SemDeDup's published
    // tradeoff. For corpora past that budget, raise k (k = N /
    // target_cluster_size, still one broadcast row) or route assignment
    // through the q75 IVF handle; an oversized natural cluster is an
    // AQE-skew-split case (README "Skew"). Same 1e3 quantization as
    // q80/q116, so every score is one IEEE division over exact integer
    // sums — bit-equal across engines.
    QueryDef.sql("q127_semantic_dedup") { (s, d) => semDedup(s, d) } {
      s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
         |  FROM embeddings),
         |nn AS (SELECT vec_id, v, list_dot_product(v, v) AS norm2 FROM e),
         |seeds AS (
         |  SELECT vec_id AS s_id, v AS sv, SQRT(norm2) AS sn FROM nn, cnt
         |  WHERE ${graft.Ids.hashSql("vec_id")} <
         |    GREATEST(1, CAST(FLOOR(4294967296.0 / SQRT(n)) AS BIGINT))),
         |scored AS (
         |  SELECT t.vec_id, s.s_id,
         |    list_dot_product(t.v, s.sv) / (SQRT(t.norm2) * s.sn) AS sc
         |  FROM nn t CROSS JOIN seeds s),
         |asg AS (
         |  SELECT vec_id, s_id AS cluster_id FROM (
         |    SELECT vec_id, s_id,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, s_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |pairs AS (
         |  SELECT a.cluster_id, b.vec_id AS vec_b
         |  FROM asg a JOIN asg b
         |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  JOIN nn na ON na.vec_id = a.vec_id
         |  JOIN nn nb ON nb.vec_id = b.vec_id
         |  WHERE list_dot_product(na.v, nb.v) / (SQRT(na.norm2) * SQRT(nb.norm2))
         |    >= $SemDedupThreshold),
         |dropped AS (
         |  SELECT cluster_id, COUNT(DISTINCT vec_b) AS n_dropped
         |  FROM pairs GROUP BY cluster_id),
         |sizes AS (
         |  SELECT cluster_id, COUNT(*) AS n_members FROM asg GROUP BY cluster_id)
         |SELECT s.cluster_id, s.n_members,
         |  COALESCE(d.n_dropped, 0) AS n_dropped,
         |  s.n_members - COALESCE(d.n_dropped, 0) AS n_kept
         |FROM sizes s LEFT JOIN dropped d ON s.cluster_id = d.cluster_id
         |ORDER BY s.cluster_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q181: GRAM MATRIX (XᵀX) — the 64×64 second-moment matrix of the
    // embedding corpus as a relation: the input every whitening / PCA /
    // covariance-shrinkage / linear-probe step consumes, and the
    // relational form of the distributed all-reduce matrix multiply
    // (q154's power iteration computes XᵀXv one v at a time; this
    // materializes the operator itself). Shape at scale: the upper
    // triangle of per-vector outer products is generated MAP-SIDE by a
    // nested array transform (d(d+1)/2 = 2080 structs per vector — pure
    // compute, no self-join shuffling 64N rows by vec_id), and the only
    // exchange is the shrinking aggregation onto 2080 (i, j) keys with
    // map-side partial sums. Exactness: the q27 1e6 quantizer makes
    // each product an exact integer (< 2^40); per-cell sums accumulate
    // in int64 — exact to ~8e5 × N < 2^63, i.e. ~1e13 vectors; past
    // that, swap the sum to decimal(38) (documented contract, not a
    // different plan).
    QueryDef.sql("q181_gram_matrix") { (s, d) =>
      Tables(s, d, "embeddings")
        .select(expr(quant).as("q"))
        .select(explode(expr(
          """flatten(transform(q, (vi, i) ->
            |  transform(slice(q, i + 1, size(q) - i), (vj, jj) ->
            |    struct(i + 1 AS i, i + jj + 1 AS j,
            |      CAST(vi * vj AS BIGINT) AS p))))""".stripMargin)).as("c"))
        .select(col("c.i").cast("long").as("i"),
          col("c.j").cast("long").as("j"), col("c.p").as("p"))
        .groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("p")).as("s"))
        .orderBy("i", "j")
    } {
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS v
        |  FROM embeddings),
        |flat AS (
        |  SELECT vec_id, i, v[i] AS val
        |  FROM q, (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i)),
        |prod AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(a.val * b.val AS BIGINT) AS p
        |  FROM flat a JOIN flat b
        |    ON a.vec_id = b.vec_id AND b.i >= a.i)
        |SELECT i, j, COUNT(*) AS n_vecs,
        |  CAST(SUM(p) AS BIGINT) AS s
        |FROM prod GROUP BY i, j
        |ORDER BY i, j""".stripMargin
    },

    // ------------------------------------------------------------------
    // q192: LLOYD k-MEANS, TWO DETERMINISTIC SWEEPS — the coarse
    // quantizer trainer itself (q75's IVF and q116's classifier consume
    // centroids; this PRODUCES them), with per-cluster size and exact
    // inertia after two full assign→refit rounds. Every source of
    // k-means nondeterminism is pinned: seeds are the k=8 smallest
    // (md5-hash, vec_id) vectors (a distributed partial top-k, not a
    // random init), assignment is argmin squared distance with ties to
    // the smaller centroid index, and refitted centroids are REQUANTIZED
    // to the integer grid (floor of the exact-sum mean — one correctly-
    // rounded IEEE division per (cluster, dim), identical on both
    // engines), so distances stay exact integer arithmetic through both
    // sweeps and the final inertia hash-matches. Shape at scale: each
    // sweep is one map-side argmin fold over ONE broadcast k×dims row
    // (zero per-vector shuffles — q127's posture) plus a shrinking
    // (cluster, dim) refit agg; the corpus is never pair-joined. The
    // 1e3 grid bounds per-vector squared distance at ~7e7, so corpus
    // inertia stays int64-exact to ~1e11 vectors (decimal(38) past it).
    QueryDef.sql("q192_kmeans_lloyd") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      import org.apache.spark.sql.expressions.Window
      val q3 =
        "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), expr(q3).as("v"))
        .withColumn("n2", expr("vec_dot(v, v)"))
      val k = 8
      // the row_number window runs over exactly k rows (post-limit)
      val seeds = emb.withColumn("hsh", graft.Ids.hash("vec_id"))
        .orderBy(col("hsh"), col("vec_id")).limit(k)
        .withColumn("cid", row_number()
          .over(Window.orderBy(col("hsh"), col("vec_id"))).cast("long"))
        .select(col("cid"), col("v").as("cv"), col("n2").as("cn2"))
      def centRow(c: org.apache.spark.sql.DataFrame) = broadcast(c.agg(
        collect_list(expr("named_struct('cid', cid, 'cv', cv, 'cn2', cn2)"))
          .as("cents")))
      // map-side argmin fold: total order on (dist, cid) — the oracle's
      // ROW_NUMBER(ORDER BY dist, cid) — over exact integer-valued doubles
      def assign(cents: org.apache.spark.sql.DataFrame) =
        emb.crossJoin(cents)
          .withColumn("best", expr(
            """aggregate(cents,
              |  named_struct('d', cast(1e308 AS double), 'cid', cast(-1 AS bigint)),
              |  (acc, c) -> CASE
              |    WHEN n2 - 2 * vec_dot(v, c.cv) + c.cn2 < acc.d
              |      OR (n2 - 2 * vec_dot(v, c.cv) + c.cn2 = acc.d
              |          AND c.cid < acc.cid)
              |    THEN named_struct('d', n2 - 2 * vec_dot(v, c.cv) + c.cn2,
              |                      'cid', c.cid)
              |    ELSE acc END)""".stripMargin))
          .select(col("vec_id"), col("v"),
            col("best.cid").as("cid"), col("best.d").as("dist"))
      def refit(assigned: org.apache.spark.sql.DataFrame) =
        assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "val")))
          .groupBy(col("cid"), col("pos"))
          .agg(floor(sum(col("val").cast("long")).cast("double") /
            count(lit(1))).cast("double").as("cval"))
          .groupBy(col("cid"))
          .agg(expr(
            "transform(sort_array(collect_list(struct(pos, cval))), x -> x.cval)")
            .as("cv"))
          .withColumn("cn2", expr("vec_dot(cv, cv)"))
          .select(col("cid"), col("cv"), col("cn2"))
      val a1 = graft.Checkpoints.checkpointLazy(assign(centRow(seeds)))
      val a2 = assign(centRow(refit(a1)))
      a2.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("dist").cast("long")).as("inertia"))
        .select(col("cid"), col("n_members"), col("inertia"),
          (col("inertia").cast("double") / col("n_members").cast("double"))
            .as("mean_inertia"))
        .orderBy("cid")
    } {
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
         |  FROM embeddings),
         |en AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |c0 AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY hsh, vec_id) AS cid,
         |    v AS cv, list_dot_product(v, v) AS cn2
         |  FROM (SELECT vec_id, ${graft.Ids.hashSql("vec_id")} AS hsh, v
         |        FROM e ORDER BY hsh, vec_id LIMIT 8)),
         |a1 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT en.vec_id, en.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
         |        ORDER BY en.n2 - 2 * list_dot_product(en.v, c.cv) + c.cn2,
         |          c.cid) AS rn
         |    FROM en CROSS JOIN c0 c) WHERE rn = 1),
         |f1 AS (
         |  SELECT cid, i, v[i] AS val
         |  FROM a1, (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i)),
         |g1 AS (
         |  SELECT cid, i,
         |    FLOOR(CAST(CAST(SUM(CAST(val AS BIGINT)) AS BIGINT) AS DOUBLE)
         |      / COUNT(*)) AS cval
         |  FROM f1 GROUP BY cid, i),
         |c1 AS (
         |  SELECT cid, LIST(cval ORDER BY i) AS cv FROM g1 GROUP BY cid),
         |c1n AS (SELECT cid, cv, list_dot_product(cv, cv) AS cn2 FROM c1),
         |a2 AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT en.vec_id, c.cid,
         |      en.n2 - 2 * list_dot_product(en.v, c.cv) + c.cn2 AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
         |        ORDER BY en.n2 - 2 * list_dot_product(en.v, c.cv) + c.cn2,
         |          c.cid) AS rn
         |    FROM en CROSS JOIN c1n c) WHERE rn = 1)
         |SELECT cid, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(dist AS BIGINT)) AS BIGINT) AS inertia,
         |  CAST(CAST(SUM(CAST(dist AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / COUNT(*) AS mean_inertia
         |FROM a2 GROUP BY cid
         |ORDER BY cid""".stripMargin
    },

    // ------------------------------------------------------------------
    // q211: PRODUCT-QUANTIZATION CODEBOOK — the third classic ANN
    // compression next to the registered LSH (q28/q50) and IVF (q75)
    // paths (Jégou et al., PAMI'11): the 64-dim vector splits into m=4
    // contiguous 16-dim sub-blocks, each sub-block gets its own k=8
    // codebook (md5-seeded + ONE Lloyd refit — q192's deterministic
    // trainer, per block), and every vector encodes as 4 small codes
    // (64 floats → 4×3 bits here; 16× fewer centroid dims than one
    // joint k=8⁴ codebook would need — the entire PQ point). Reported
    // per block: members, codes actually used, and the exact
    // quantization inertia — the quality dashboard a vector store
    // watches for codebook staleness. DETERMINISM: q192's exact
    // integer-distance machinery verbatim (quantized integer-valued
    // doubles, total-order argmin on (dist, cid), floor'd refit means).
    // SCALE SHAPE: blocks explode the corpus ×4 but each row carries
    // only its 16-dim slice (same bytes moved); both sweeps are
    // map-side folds over ONE broadcast 4×8 centroid row; refit is a
    // (block, cid, pos)-keyed shrinking agg. No KNN joins anywhere.
    QueryDef.sql("q211_pq_codebook") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      import org.apache.spark.sql.expressions.Window
      val q3 =
        "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
      val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(q3).as("v"))
      val blocks = emb
        .select(col("vec_id"), explode(expr(
          """transform(sequence(0, 3), b ->
            |  named_struct('block', CAST(b AS BIGINT),
            |               'bv', slice(v, b * 16 + 1, 16)))""".stripMargin))
          .as("s"))
        .select(col("vec_id"), col("s.block").as("block"), col("s.bv").as("bv"))
        .withColumn("n2", expr("vec_dot(bv, bv)"))
      val seeds = emb.withColumn("hsh", graft.Ids.hash("vec_id"))
        .orderBy(col("hsh"), col("vec_id")).limit(8)
        .withColumn("cid", row_number()
          .over(Window.orderBy(col("hsh"), col("vec_id"))).cast("long"))
        .select(col("cid"), explode(expr(
          """transform(sequence(0, 3), b ->
            |  named_struct('block', CAST(b AS BIGINT),
            |               'cv', slice(v, b * 16 + 1, 16)))""".stripMargin))
          .as("s"))
        .select(col("s.block").as("block"), col("cid"),
          col("s.cv").as("cv"), expr("vec_dot(s.cv, s.cv)").as("cn2"))
      def centRows(c: DataFrame) = broadcast(c.groupBy(col("block")).agg(
        collect_list(expr("named_struct('cid', cid, 'cv', cv, 'cn2', cn2)"))
          .as("cents")))
      def assign(cents: DataFrame) =
        blocks.join(centRows(cents), "block")
          .withColumn("best", expr(
            """aggregate(cents,
              |  named_struct('d', cast(1e308 AS double), 'cid', cast(-1 AS bigint)),
              |  (acc, c) -> CASE
              |    WHEN n2 - 2 * vec_dot(bv, c.cv) + c.cn2 < acc.d
              |      OR (n2 - 2 * vec_dot(bv, c.cv) + c.cn2 = acc.d
              |          AND c.cid < acc.cid)
              |    THEN named_struct('d', n2 - 2 * vec_dot(bv, c.cv) + c.cn2,
              |                      'cid', c.cid)
              |    ELSE acc END)""".stripMargin))
          .select(col("vec_id"), col("block"), col("bv"),
            col("best.cid").as("cid"), col("best.d").as("dist"))
      val a1 = graft.Checkpoints.checkpointLazy(assign(seeds))
      val refit = a1
        .select(col("block"), col("cid"), posexplode(col("bv")).as(Seq("pos", "val")))
        .groupBy(col("block"), col("cid"), col("pos"))
        .agg(floor(sum(col("val").cast("long")).cast("double") /
          count(lit(1))).cast("double").as("cval"))
        .groupBy(col("block"), col("cid"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, cval))), x -> x.cval)")
          .as("cv"))
        .withColumn("cn2", expr("vec_dot(cv, cv)"))
        .select(col("block"), col("cid"), col("cv"), col("cn2"))
      assign(refit)
        .groupBy(col("block"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("cid")).as("n_codes_used"),
          sum(col("dist").cast("long")).as("inertia"))
        .select(col("block"), col("n_vecs"), col("n_codes_used"),
          col("inertia"),
          (col("inertia").cast("double") / col("n_vecs").cast("double"))
            .as("mean_dist"))
        .orderBy("block")
    } {
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
         |  FROM embeddings),
         |bl AS (
         |  SELECT vec_id, b.block, list_slice(v, b.block * 16 + 1,
         |    b.block * 16 + 16) AS bv
         |  FROM e, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS block) b),
         |bn AS (
         |  SELECT vec_id, block, bv, list_dot_product(bv, bv) AS n2 FROM bl),
         |sd AS (
         |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY hsh, vec_id) AS cid
         |  FROM (SELECT vec_id, ${graft.Ids.hashSql("vec_id")} AS hsh, v
         |        FROM e ORDER BY hsh, vec_id LIMIT 8)),
         |c0 AS (
         |  SELECT b.block, sd.cid, list_slice(sd.v, b.block * 16 + 1,
         |      b.block * 16 + 16) AS cv
         |  FROM sd, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS block) b),
         |c0n AS (
         |  SELECT block, cid, cv, list_dot_product(cv, cv) AS cn2 FROM c0),
         |a1 AS (
         |  SELECT vec_id, block, bv, cid FROM (
         |    SELECT bn.vec_id, bn.block, bn.bv, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY bn.vec_id, bn.block
         |        ORDER BY bn.n2 - 2 * list_dot_product(bn.bv, c.cv) + c.cn2,
         |          c.cid) AS rn
         |    FROM bn JOIN c0n c ON bn.block = c.block) WHERE rn = 1),
         |f1 AS (
         |  SELECT block, cid, i, bv[i] AS val
         |  FROM a1, (SELECT UNNEST(GENERATE_SERIES(1, 16)) AS i)),
         |g1 AS (
         |  SELECT block, cid, i,
         |    FLOOR(CAST(CAST(SUM(CAST(val AS BIGINT)) AS BIGINT) AS DOUBLE)
         |      / COUNT(*)) AS cval
         |  FROM f1 GROUP BY block, cid, i),
         |c1 AS (
         |  SELECT block, cid, LIST(cval ORDER BY i) AS cv
         |  FROM g1 GROUP BY block, cid),
         |c1n AS (
         |  SELECT block, cid, cv, list_dot_product(cv, cv) AS cn2 FROM c1),
         |a2 AS (
         |  SELECT vec_id, block, cid, dist FROM (
         |    SELECT bn.vec_id, bn.block, c.cid,
         |      bn.n2 - 2 * list_dot_product(bn.bv, c.cv) + c.cn2 AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY bn.vec_id, bn.block
         |        ORDER BY bn.n2 - 2 * list_dot_product(bn.bv, c.cv) + c.cn2,
         |          c.cid) AS rn
         |    FROM bn JOIN c1n c ON bn.block = c.block) WHERE rn = 1)
         |SELECT block, COUNT(*) AS n_vecs,
         |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_codes_used,
         |  CAST(SUM(CAST(dist AS BIGINT)) AS BIGINT) AS inertia,
         |  CAST(CAST(SUM(CAST(dist AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / COUNT(*) AS mean_dist
         |FROM a2 GROUP BY block
         |ORDER BY block""".stripMargin
    },

    // ------------------------------------------------------------------
    // q216: CLASSIFIER EVALUATION METRICS — per-label precision / recall
    // / F1 over the q116 confusion matrix (one shared derivation on each
    // engine side, so the eval can never diverge from the classifier it
    // scores — the q128→q131 cross-reference posture). F1 is computed as
    // the single division 2·tp / (n_actual + n_pred), algebraically
    // identical to the harmonic mean but one correctly-rounded IEEE op
    // instead of three. The matrix relation is labels²-sized; every
    // step below it is driver-free arithmetic on that tiny relation.
    QueryDef.sql("q216_confusion_metrics") { (s, d) =>
      val m = centroidConfusion(s, d)
      val act = m.groupBy(col("label_actual").as("label"))
        .agg(sum(col("n_vecs")).as("n_actual"))
      val prd = m.groupBy(col("label_pred").as("label"))
        .agg(sum(col("n_vecs")).as("n_pred"))
      val tp = m.filter(col("label_actual") === col("label_pred"))
        .select(col("label_actual").as("label"), col("n_vecs").as("tp"))
      act.join(prd, Seq("label"), "full_outer")
        .join(tp, Seq("label"), "left_outer")
        .select(col("label"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision",
          when(col("n_pred") === 0L, 0.0)
            .otherwise(col("tp").cast("double") / col("n_pred").cast("double")))
        .withColumn("recall",
          when(col("n_actual") === 0L, 0.0)
            .otherwise(col("tp").cast("double") / col("n_actual").cast("double")))
        .withColumn("f1",
          when(col("n_actual") + col("n_pred") === 0L, 0.0)
            .otherwise((col("tp") * 2L).cast("double") /
              (col("n_actual") + col("n_pred")).cast("double")))
        .orderBy("label")
    } {
      s"""WITH $CentroidConfusionCte,
        |act AS (
        |  SELECT label_actual AS label, CAST(SUM(n_vecs) AS BIGINT)
        |    AS n_actual
        |  FROM confusion GROUP BY 1),
        |prd AS (
        |  SELECT label_pred AS label, CAST(SUM(n_vecs) AS BIGINT) AS n_pred
        |  FROM confusion GROUP BY 1),
        |tp AS (
        |  SELECT label_actual AS label, n_vecs AS tp FROM confusion
        |  WHERE label_actual = label_pred),
        |j AS (
        |  SELECT COALESCE(act.label, prd.label) AS label,
        |    COALESCE(n_actual, 0) AS n_actual, COALESCE(n_pred, 0) AS n_pred,
        |    COALESCE(tp.tp, 0) AS tp
        |  FROM act FULL OUTER JOIN prd ON act.label = prd.label
        |  LEFT JOIN tp ON COALESCE(act.label, prd.label) = tp.label)
        |SELECT label, n_actual, n_pred, tp,
        |  CASE WHEN n_pred = 0 THEN 0.0
        |    ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS precision,
        |  CASE WHEN n_actual = 0 THEN 0.0
        |    ELSE CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) END AS recall,
        |  CASE WHEN n_actual + n_pred = 0 THEN 0.0
        |    ELSE CAST(tp * 2 AS DOUBLE) / CAST(n_actual + n_pred AS DOUBLE)
        |    END AS f1
        |FROM j
        |ORDER BY label""".stripMargin
    },

    // ------------------------------------------------------------------
    // q220: MATRYOSHKA TRUNCATION AUDIT — before serving truncated
    // embeddings (the MRL deployment trick: store 64 dims, query with
    // the first 16 at 4× less compute), measure what ranking quality
    // the truncation costs: per anchor, recall@10 of the 16-dim cosine
    // top-k against the full-64-dim exact top-k. The same decision
    // dashboard as the q109/q110 ANN recall gates, but for DIMENSION
    // truncation rather than index approximation. Exact quantized
    // arithmetic both sides (q27's machinery verbatim; ties to smaller
    // id), one IEEE division per recall. Scale: both rankings are one
    // candidate scan against a broadcast anchor row; the per-anchor
    // top-k limits map-side (partial WindowGroupLimit) and the overlap
    // join is k-sized per anchor.
    QueryDef.sql("q220_matryoshka_truncation") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val k = 10
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), expr(quant).as("v"))
        .withColumn("vt", expr("slice(v, 1, 16)"))
        .withColumn("n2", dot("v", "v"))
        .withColumn("nt2", dot("vt", "vt"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("a_id"), col("v").as("qv"),
          col("vt").as("qvt"), col("n2").as("qn2"), col("nt2").as("qnt2"))
      val pairs = emb.join(broadcast(q), col("vec_id") =!= col("a_id"))
        .withColumn("cos_full",
          dot("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
        .withColumn("cos_trunc",
          dot("qvt", "vt") / (sqrt(col("qnt2")) * sqrt(col("nt2"))))
      val wF = Window.partitionBy(col("a_id"))
        .orderBy(col("cos_full").desc, col("vec_id"))
      val wT = Window.partitionBy(col("a_id"))
        .orderBy(col("cos_trunc").desc, col("vec_id"))
      val topF = pairs.withColumn("r", row_number().over(wF))
        .filter(col("r") <= k).select(col("a_id"), col("vec_id"))
      val topT = pairs.withColumn("r", row_number().over(wT))
        .filter(col("r") <= k).select(col("a_id"), col("vec_id"))
      topF.join(topT, Seq("a_id", "vec_id"), "left_semi")
        .groupBy(col("a_id")).agg(count(lit(1)).as("n_overlap"))
        .select(col("a_id"), col("n_overlap"),
          (col("n_overlap").cast("double") / k).as("recall_at_10"))
        .orderBy("a_id")
    } {
      s"""WITH e AS (
         |  SELECT vec_id, $quantSql AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, list_slice(v, 1, 16) AS vt,
         |    list_dot_product(v, v) AS n2,
         |    list_dot_product(list_slice(v, 1, 16), list_slice(v, 1, 16))
         |      AS nt2
         |  FROM e),
         |pairs AS (
         |  SELECT q.vec_id AS a_id, c.vec_id,
         |    list_dot_product(q.v, c.v) / (SQRT(q.n2) * SQRT(c.n2))
         |      AS cos_full,
         |    list_dot_product(q.vt, c.vt) / (SQRT(q.nt2) * SQRT(c.nt2))
         |      AS cos_trunc
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |tf AS (
         |  SELECT a_id, vec_id FROM (
         |    SELECT a_id, vec_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos_full DESC, vec_id) AS r FROM pairs)
         |  WHERE r <= 10),
         |tt AS (
         |  SELECT a_id, vec_id FROM (
         |    SELECT a_id, vec_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos_trunc DESC, vec_id) AS r FROM pairs)
         |  WHERE r <= 10)
         |SELECT tf.a_id, COUNT(*) AS n_overlap,
         |  CAST(COUNT(*) AS DOUBLE) / 10 AS recall_at_10
         |FROM tf JOIN tt ON tf.a_id = tt.a_id AND tf.vec_id = tt.vec_id
         |GROUP BY tf.a_id
         |ORDER BY tf.a_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q331: kNN LEAVE-ONE-OUT LABEL ACCURACY — the standard "is this
    // embedding space any good for this labeling" eval: hold each probe
    // vector out, find its 10 nearest neighbors by cosine among everyone
    // else, majority-vote their labels, and score the vote against the
    // probe's own label, per class. Complements q116/q216 (centroid
    // classifier): kNN measures LOCAL structure where centroids measure
    // global separation — a space can pass one and fail the other.
    //
    // VALIDATOR POSTURE (q49's contract): the probe set is a FIXED-SIZE
    // md5-bucket sample ([[KnnEvalQueryTarget]] vectors — the full set
    // whenever the corpus is smaller), so cost stays linear in the corpus
    // no matter how big it grows; content-independent membership keeps
    // the accuracy estimate unbiased. Probes broadcast; the corpus scans
    // ONCE; the top-k rank filter compiles to WindowGroupLimit (partial
    // per-partition top-10 per probe BEFORE the shuffle), so the probe
    // windows never sort corpus-sized partitions. Ties: cosine ties break
    // on vec_id, vote ties on (count desc, label asc) — deterministic on
    // both engines; quantized-integer dots keep every cosine bit-equal.
    QueryDef.sql("q331_knn_loo_accuracy") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val k = 10
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"), expr(quant).as("v"))
        .withColumn("norm2", dot("v", "v"))
      val n = Tables(s, d, "embeddings").count()
      val q = emb.filter(sampleKeep(n, KnnEvalQueryTarget))
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("norm2").as("qn2"))
      val pairs = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim",
          dot("qv", "v") / (sqrt(col("qn2")) * sqrt(col("norm2"))))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val votes = pairs.withColumn("r", row_number().over(wTop))
        .filter(col("r") <= k)
        .groupBy(col("q_id"), col("q_label"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val wVote = Window.partitionBy(col("q_id"))
        .orderBy(col("cnt").desc, col("label"))
      votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
        .groupBy(col("q_label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          col("n_correct").cast("double") / col("n_queries").cast("double"))
        .withColumnRenamed("q_label", "label")
        .orderBy("label")
    } {
      s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
         |e AS (SELECT vec_id, label, $quantSql AS v FROM embeddings),
         |nn AS (
         |  SELECT vec_id, label, v, list_dot_product(v, v) AS norm2 FROM e),
         |q AS (
         |  SELECT vec_id AS q_id, label AS q_label, v AS qv, norm2 AS qn2
         |  FROM nn, cnt WHERE ${sampleKeepSql("vec_id", KnnEvalQueryTarget)}),
         |top AS (
         |  SELECT q_id, q_label, label FROM (
         |    SELECT q.q_id, q.q_label, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY list_dot_product(q.qv, c.v)
         |                   / (SQRT(q.qn2) * SQRT(c.norm2)) DESC,
         |                 c.vec_id) AS r
         |    FROM q JOIN nn c ON c.vec_id <> q.q_id)
         |  WHERE r <= 10),
         |votes AS (
         |  SELECT q_id, q_label, label, COUNT(*) AS cnt2
         |  FROM top GROUP BY q_id, q_label, label),
         |pred AS (
         |  SELECT q_id, q_label, label FROM (
         |    SELECT q_id, q_label, label,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cnt2 DESC, label) AS vr
         |    FROM votes)
         |  WHERE vr = 1)
         |SELECT q_label AS label, COUNT(*) AS n_queries,
         |  CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM pred GROUP BY q_label ORDER BY label""".stripMargin
    }
  )

  /** The q116 train/test centroid confusion matrix — one derivation
    * shared by the classifier query (q116) and its metric report
    * (q216): even-id vectors fit per-label centroids (exact integer
    * coordinate sums), odd-id vectors classify by cosine against the
    * ONE broadcast centroid row via the map-side argmax fold.
    */
  def centroidConfusion(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val q3 = "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"), expr(q3).as("v"))
    val sums = emb.filter(col("vec_id") % 2 === 0)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv").cast("long")).as("s"))
    val cent = sums.groupBy(col("label"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(pos, s))), x -> cast(x.s AS double))")
        .as("cv"))
      .withColumn("nrm", sqrt(expr("vec_dot(cv, cv)")))
    val cents = cent.agg(collect_list(
      expr("named_struct('l', label, 'cv', cv, 'nrm', nrm)")).as("cents"))
    emb.filter(col("vec_id") % 2 === 1)
      .crossJoin(broadcast(cents))
      .withColumn("best", expr(
        """aggregate(cents,
          |  named_struct('s', cast(-1e308 AS double), 'l', cast(-1 AS int)),
          |  (acc, c) -> CASE
          |    WHEN vec_dot(v, c.cv) / c.nrm > acc.s
          |      OR (vec_dot(v, c.cv) / c.nrm = acc.s AND c.l < acc.l)
          |    THEN named_struct('s', vec_dot(v, c.cv) / c.nrm, 'l', c.l)
          |    ELSE acc END)""".stripMargin))
      .groupBy(col("label").as("label_actual"), col("best.l").as("label_pred"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** DuckDB twin of [[centroidConfusion]] as a CTE prelude ending in a
    * `confusion(label_actual, label_pred, n_vecs)` relation.
    */
  private def CentroidConfusionCte: String =
    """q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000.0)) AS v
      |  FROM embeddings),
      |e AS (
      |  SELECT label, UNNEST(v) AS qv, generate_subscripts(v, 1) AS pos
      |  FROM q WHERE vec_id % 2 = 0),
      |s AS (
      |  SELECT label, pos, CAST(SUM(qv) AS DOUBLE) AS sv FROM e GROUP BY label, pos),
      |cent AS (SELECT label, LIST(sv ORDER BY pos) AS cv FROM s GROUP BY label),
      |cn AS (SELECT label, cv, SQRT(list_dot_product(cv, cv)) AS nrm FROM cent),
      |scored AS (
      |  SELECT t.vec_id, t.label AS label_actual, c.label AS label_pred,
      |    list_dot_product(t.v, c.cv) / c.nrm AS score
      |  FROM q t CROSS JOIN cn c WHERE t.vec_id % 2 = 1),
      |best AS (
      |  SELECT vec_id, label_actual, label_pred,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY score DESC, label_pred) AS rn
      |  FROM scored),
      |confusion AS (
      |  SELECT label_actual, label_pred, COUNT(*) AS n_vecs
      |  FROM best WHERE rn = 1
      |  GROUP BY label_actual, label_pred)""".stripMargin

  /** q127's cosine cut: a pair is semantically redundant above this.
    * (0.4 on the synthetic fixtures plays the role SemDeDup's ~0.95
    * plays on real embeddings — the fixture vectors are near-orthogonal
    * random draws, so redundancy lives lower on the cosine scale.)
    */
  final val SemDedupThreshold = 0.4

  /** SemDeDup body (q127) — see the registered query's comment for the
    * full scale posture. Returns one row per cluster: (cluster_id,
    * n_members, n_dropped, n_kept), all integers, ordered by cluster.
    */
  def semDedup(s: SparkSession, d: String,
      theta: Double = SemDedupThreshold): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val q3 =
      "transform(embedding, x -> cast(floor(cast(x AS double) * 1000.0) AS double))"
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), expr(q3).as("v"))
      .withColumn("norm2", expr("vec_dot(v, v)"))
    // plan-time scalar: the seed keep-threshold derives from the corpus
    // count exactly as the oracle's cnt relation does (one column-pruned
    // count, the q49 posture)
    val n = emb.select(col("vec_id")).count()
    require(n > 0, "semDedup: embeddings table is empty")
    val keepBuckets = math.max(1L, (4294967296.0 / math.sqrt(n.toDouble)).toLong)
    val seeds = emb.filter(graft.Ids.hash("vec_id") < lit(keepBuckets))
      .agg(collect_list(expr(
        "named_struct('sid', vec_id, 'sv', v, 'sn', SQRT(norm2))")).as("seeds"))
    // map-side argmax fold (q116's shape): order-independent because the
    // strictly-greater-or-tie-and-smaller-sid rule is a total order on
    // (score, -sid); the score formula is character-identical to the
    // oracle's `sc` so ranking can never diverge
    val assigned = emb.crossJoin(broadcast(seeds))
      .withColumn("best", expr(
        """aggregate(seeds,
          |  named_struct('s', cast(-1e308 AS double), 'sid', cast(-1 AS bigint)),
          |  (acc, c) -> CASE
          |    WHEN vec_dot(v, c.sv) / (SQRT(norm2) * c.sn) > acc.s
          |      OR (vec_dot(v, c.sv) / (SQRT(norm2) * c.sn) = acc.s
          |          AND c.sid < acc.sid)
          |    THEN named_struct('s', vec_dot(v, c.sv) / (SQRT(norm2) * c.sn),
          |                      'sid', c.sid)
          |    ELSE acc END)""".stripMargin))
      .select(col("vec_id"), col("v"), col("norm2"),
        col("best.sid").as("cluster_id"))
    // freeze: the assignment feeds three consumers (both pair-join legs
    // and the size agg) — without the checkpoint each would re-scan the
    // corpus and re-run the argmax fold (the caller's Checkpoints.release
    // of the result frees it once consumed)
    val frozen = graft.Checkpoints.checkpointLazy(assigned)
    val a = frozen.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("norm2").as("na"))
    val b = frozen.select(col("cluster_id").as("cluster_b"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("norm2").as("nb"))
    val dropped = a
      .join(b, col("cluster_id") === col("cluster_b") && col("vec_a") < col("vec_b"))
      .filter(expr("vec_dot(va, vb)") / (sqrt(col("na")) * sqrt(col("nb")))
        >= lit(theta))
      .select(col("cluster_id"), col("vec_b")).distinct()
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_dropped"))
    frozen.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cluster_id"), "left_outer")
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
      .withColumn("n_kept", col("n_members") - col("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Input cap for [[embeddingNearDupExact]]: its all-pairs join scores
    * n(n−1)/2 64-dim dot products, so the cap bounds the validator at
    * ~5e9 pairs — minutes of cluster work, the most a ground-truth check
    * should ever cost. Unlike q24's token-Jaccard twin there is NO
    * answer-preserving blocking key to lean on: cosine is norm-invariant
    * (norm bands don't bound it) and any hyperplane side can split a
    * θ≈0 pair (plane blocking loses true pairs), so the contract is
    * enforced as a refusal + a deterministic sample, not a prune.
    */
  final val MaxExactNearDupVectors: Long = 100L * 1000

  /** Exact all-pairs cosine near-dup (q49's body — the ground truth).
    * ROLE AT SCALE: validation only, and the contract is enforced —
    * inputs beyond `maxVectors` are refused (use [[embeddingNearDupLsh]]
    * for production or [[embeddingNearDupSampled]] to ground-truth a
    * deterministic slice of an arbitrarily large corpus).
    */
  def embeddingNearDupExact(
      s: SparkSession, d: String,
      maxVectors: Long = MaxExactNearDupVectors): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val emb = Tables(s, d, "embeddings")
    val n = emb.select(col("vec_id")).count() // column-pruned plan-time count
    // pair estimate in BigInt: n*(n-1)/2 overflows Long past n ≈ 4.3e9 —
    // exactly the corpus sizes this message is written for
    require(n <= maxVectors,
      s"embeddingNearDupExact is a validation operator: $n vectors exceed " +
        s"the $maxVectors cap (~${BigInt(n) * (n - 1) / 2} exact pairs). " +
        "Use embeddingNearDupLsh (q50) in production, or " +
        "embeddingNearDupSampled for a bounded ground-truth slice.")
    exactPairs(emb)
  }

  /** Bounded ground truth for corpora beyond the exact cap: keeps a
    * deterministic md5-bucket sample of ~`targetVectors` vec_ids (the
    * same content-independent hash family as the q53 split) and runs the
    * exact all-pairs scoring WITHIN the sample. Every returned pair is
    * exact; LSH recall measured on the slice is an unbiased estimate
    * because bucket membership is independent of vector content.
    */
  /** The deterministic keep-predicate behind [[embeddingNearDupSampled]]
    * — graft.Ids.sampleKeep over vec_id (the library-wide fixed-size
    * sample recipe shared with the q24 jaccard truth). Callers pass the
    * corpus count `n`; the gate (q111) reuses the same predicate to
    * restrict the found side to the sampled universe.
    */
  def sampleKeep(n: Long, target: Long, idCol: String = "vec_id"): Column =
    graft.Ids.sampleKeep(idCol, n, target)

  /** DuckDB fragment equivalent to [[sampleKeep]] (see
    * graft.Ids.sampleKeepSql — expects a `cnt(n)` relation in scope).
    */
  def sampleKeepSql(idCol: String, target: Long): String =
    graft.Ids.sampleKeepSql(idCol, target)

  def embeddingNearDupSampled(
      s: SparkSession, d: String,
      targetVectors: Long = MaxExactNearDupVectors): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val emb = Tables(s, d, "embeddings")
    val n = emb.select(col("vec_id")).count()
    if (n <= targetVectors) return exactPairs(emb)
    val sample = emb.filter(sampleKeep(n, targetVectors))
    val kept = sample.select(col("vec_id")).count()
    // binomial concentration: P(kept > 2·target) is astronomically small
    // for any real target, so tripping this means the hash sliced badly
    // (or the caller passed a degenerate target) — refuse, don't detonate
    require(kept <= 2 * targetVectors,
      s"embeddingNearDupSampled kept $kept vectors for target " +
        s"$targetVectors — refusing the quadratic pass on an oversized sample")
    exactPairs(sample)
  }

  /** The shared all-pairs kernel: quantize, score every a<b pair, keep
    * cosine ≥ [[NearDupThreshold]]. Quadratic by definition — callers
    * bound the input (guard or sample) before reaching it.
    *
    * SHAPE: dense blocked matrix product (GEMM tiling), not a join. The
    * relational forms of this operator leave Spark evaluating the pair
    * predicate one row at a time — BroadcastNestedLoopJoin runs its
    * condition without whole-stage codegen, so every candidate pair pays
    * interpreted-eval and boxing overhead (measured ≈ 3.7 core-µs/pair;
    * 2e8 pairs took 25–42 s however the join was hinted, and an
    * unhinted filtered input degraded to CartesianProduct at 116 s).
    * Here vectors are tiled into ~[[ExactBlockTarget]]-row blocks, block
    * pairs meet via a broadcast self-join (the only join left — B² tiny
    * rows), and a typed flatMap runs the triple loop over primitive
    * arrays: 64 fused multiply-adds per pair at JIT speed, ~100× the
    * per-pair cost of the interpreted join (measured 2e8 pairs ≈ 1 s).
    * This is the one operator class where imperative per-partition code
    * is the right Spark idiom — a dense numeric kernel Catalyst has no
    * operator for (SURVEY §7.3's "mapPartitions as a last resort").
    * Summation order per pair matches `vec_dot`'s sequential fold, so
    * results stay bit-identical to the DuckDB oracle.
    */
  private val ExactBlockTarget = 2048

  private def exactPairs(raw: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    val emb = raw
      .select(col("vec_id"), expr(quant).as("v"))
      .withColumn("norm2", dot("v", "v"))
    val n = emb.count()
    if (n == 0) return s.emptyDataset[(Long, Long, Double)]
      .toDF("vec_a", "vec_b", "cos_sim")
    val nBlocks = (((n + ExactBlockTarget - 1) / ExactBlockTarget) min 4096).toInt
    val blocks = emb
      .groupBy(pmod(graft.Ids.hash("vec_id"), lit(nBlocks)).cast("int").as("bid"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("norm2"), col("v")))).as("arr"))
      .select(col("bid"),
        expr("transform(arr, x -> x.vec_id)").as("ids"),
        expr("transform(arr, x -> x.norm2)").as("norms"),
        expr("flatten(transform(arr, x -> x.v))").as("vs"))
      .as[VecBlock]
    val tiles = blocks.alias("L")
      .joinWith(broadcast(blocks.alias("R")), col("L.bid") <= col("R.bid"), "inner")
    val thr = NearDupThreshold
    tiles.flatMap { case (x, y) =>
      val same = x.bid == y.bid
      val dim = if (x.ids.length == 0) 1 else x.vs.length / x.ids.length
      val sx = x.norms.map(math.sqrt)
      val sy = y.norms.map(math.sqrt)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < x.ids.length) {
        var j = if (same) i + 1 else 0
        val xo = i * dim
        while (j < y.ids.length) {
          var dot = 0.0
          val yo = j * dim
          var k = 0
          while (k < dim) { dot += x.vs(xo + k) * y.vs(yo + k); k += 1 }
          val cos = dot / (sx(i) * sy(j))
          if (cos >= thr) {
            val (a, b) = if (x.ids(i) < y.ids(j)) (x.ids(i), y.ids(j))
              else (y.ids(j), x.ids(i))
            out += ((a, b, cos))
          }
          j += 1
        }
        i += 1
      }
      out
    }.toDF("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** LSH-bucketed near-dup (q50's body — the scale path): `tables`
    * hyperplane tables of `planesPerTable` bits; candidate pairs share a
    * bucket in at least one table, then exact cosine verification. More
    * tables → higher recall; more planes per table → smaller buckets
    * (pair work per bucket ~ (N/2^p)² per table at uniform spread).
    * Plane dots run through the codegen'd `vec_dot` against
    * driver-computed literal weight arrays (data-independent), not
    * interpreted higher-order lambdas.
    *
    * BOTH knobs adapt by default (explicit values skip the planning
    * count): `planesPerTable = 0` sizes the per-table bucket space to
    * ~[[NearDupBucketTarget]] vectors per bucket, bounding within-bucket
    * pair work as the corpus grows; `tables = 0` then sizes the table
    * count so the WORST-CASE pair at the [[NearDupThreshold]] angle
    * still collides with ≥ 90% probability ([[tablesFor]]). Per-table
    * collision decays geometrically with the plane count, so a FIXED
    * table count silently loses recall as the corpus scales (measured
    * 0.94 at sf0.1 → 0.56 at sf1.0 with 8 tables); the adaptive count
    * keeps recall flat for a table-count cost that grows only
    * logarithmically-in-N per vector.
    */
  def embeddingNearDupLsh(
      s: SparkSession, d: String,
      tables: Int = 0, planesPerTable: Int = 0): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(quant).as("v"))
    val planesPT =
      if (planesPerTable > 0) planesPerTable
      else planesFor(emb.count(), NearDupBucketTarget, cap = 24)
    val nTables = if (tables > 0) tables else tablesFor(planesPT)
    val withNorm = emb.withColumn("norm2", dot("v", "v"))
      // plan barrier / exchange reuse before the table fan-out: the
      // repartition adds an Exchange that stops projection collapse from
      // re-expanding v/norm2 per table; recomputation avoidance across
      // the join sides relies on ReuseExchange matching the identical
      // subplans (an Exchange does NOT cache like persist())
      .repartition(col("vec_id"))
    val tableBuckets = (0 until nTables).map { t =>
      val bucket = (0 until planesPT).map { j =>
        when(planeDot(t * planesPT + j) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    val buckets = withPlaneWeights(withNorm, nTables * planesPT)
      .select(col("vec_id"), col("v"), col("norm2"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("norm2"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // MULTI-PROBE + INLINE VERIFICATION in one join. Coverage: a pair is
    // a candidate iff some table puts it in the same bucket (home–home)
    // or one Hamming-1 flip apart — the same Hamming-1 probing annLsh
    // uses for its query side, applied to the symmetric pair join. At
    // the near-dup threshold's wide angles (cos 0.45 → ~63°, per-plane
    // agreement ~0.66) single-bucket collision is r^p ≈ 8% per table and
    // no table count fixes it; Hamming-1 probing lifts it to
    // r^p + p·r^(p-1)(1-r) ≈ 31% per table (measured recall 0.42 → 0.95
    // at sf0.1, 8×6-plane tables).
    //
    // Two shape decisions carry the 10×-corpus measurement (this op was
    // 75 s at the derived sf1.0 — within 6% of brute force — in the
    // materialize-candidates form: a ~5e8-row candidate relation,
    // distinct over it, then two vec_id-keyed joins to re-fetch vectors):
    //   1. UPWARD-ONLY probes: a probe flips only bucket bits that are 0,
    //      so of a pair differing in exactly bit j, exactly ONE side (the
    //      one with 0 at j) probes the other's home bucket — every
    //      Hamming-1 pair meets exactly once per table with HALF the
    //      probe fan-out of flip-everything (1 + p/2 rows per vector
    //      expected vs p + 1), and with no a<b self-pairing predicate
    //      needed on the flip meets at all.
    //   2. The probe rows CARRY (v, norm2), and the exact cosine runs as
    //      the join's post-condition — candidate pairs live and die
    //      inside the sort-merge join's codegen loop, never materialized,
    //      never distinct'd, never re-joined. Only verified pairs (≈ the
    //      true near-dup count) leave the join; the cross-table distinct
    //      that remains runs over that small verified set. The extra
    //      array payload on the probe side (~(1 + p/2)× the vector
    //      table per table) is far cheaper than shuffling the candidate
    //      pair stream it replaces.
    val probes = buckets.select(col("vec_id"), col("v"), col("norm2"), col("tbl"),
      explode(expr(
        s"""concat(array(named_struct('bucket', bucket, 'home', true)),
           |  filter(transform(sequence(0, ${planesPT - 1}),
           |    i -> named_struct('bucket', bucket ^ shiftleft(cast(1 AS bigint), i),
           |                      'home', false)),
           |    pb -> pb.bucket > bucket))""".stripMargin)).as("pb"))
      .select(col("vec_id"), col("v"), col("norm2"), col("tbl"),
        col("pb.bucket").as("bucket"), col("pb.home").as("home"))
    val cos = expr("vec_dot(hv, pv) / (sqrt(hn) * sqrt(pn))")
    // SHUFFLE_HASH on the home side: both relations carry the 64-dim
    // array, and the default sort-merge join would SORT millions of
    // ~540-byte rows on (tbl, bucket) per side — the sort of fat rows,
    // not the probe arithmetic, dominated the whole operator (measured
    // 28.5 s → 6.4 s at the 10× corpus with the hash join). The home
    // side is the smaller relation (no probe fan-out) and its
    // per-partition hash map is tens of MB at 32 shuffle partitions;
    // at cluster scale the map stays bounded by raising shuffle
    // partitions with the corpus, the standard hash-join sizing rule.
    buckets.select(col("vec_id").as("h_id"), col("v").as("hv"),
        col("norm2").as("hn"), col("tbl"), col("bucket"))
      .hint("SHUFFLE_HASH")
      .join(probes.select(col("vec_id").as("p_id"), col("v").as("pv"),
          col("norm2").as("pn"), col("tbl"), col("bucket"), col("home")),
        Seq("tbl", "bucket"))
      // home–home meets dedup via h<p; flip meets are already unique per
      // table (only the 0-bit side probes up) and never self-pair
      .filter((!col("home") || col("h_id") < col("p_id")) && col("h_id") =!= col("p_id"))
      .withColumn("cos_sim", cos)
      .filter(col("cos_sim") >= NearDupThreshold)
      .select(least(col("h_id"), col("p_id")).as("vec_a"),
        greatest(col("h_id"), col("p_id")).as("vec_b"), col("cos_sim"))
      // cross-table dedup only — cos_sim is bit-deterministic per pair
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** Deterministic hyperplane weights for plane `p`: the splitmix64
    * FINALIZER (xor-shift-multiply) of (plane, dim), centered on 0.
    * The earlier single-multiply congruential form was linear in
    * `p*64 + i`, which correlates nearby planes — multi-table LSH
    * recall collapsed as the adaptive plane count grew; the full
    * avalanche mix restores plane independence (same cost: weights are
    * driver-side literals either way), after which measured multi-table
    * collision composes exactly as (1 − (1−p)^tables) predicts.
    */
  private def planeWeights(p: Int): Seq[Double] =
    (0 until 64).map { i =>
      var z = (p * 64L + i) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (java.lang.Math.floorMod(z, 2001L) - 1000L).toDouble
    }

  /** `vec_dot(v, <weights of plane p>)` column. All planes' weights ride
    * in ONE array literal (`_pw`, attached by [[withPlaneWeights]]) and
    * each plane takes its 64-slice — one Literal node total instead of
    * 64 per plane, which keeps analysis/codegen time flat in the plane
    * count (32 inline-literal arrays measured ~3s of cold plan+compile).
    */
  private def planeDot(p: Int): Column =
    expr(s"vec_dot(v, slice(_pw, ${p * 64 + 1}, 64))")

  /** Attach the flat plane-weight literal for planes [0, n). */
  private def withPlaneWeights(df: DataFrame, n: Int): DataFrame =
    df.withColumn("_pw",
      typedLit((0 until n).flatMap(planeWeights): IndexedSeq[Double]))

  /** IVF ANN: k-centroid coarse quantizer + nprobe cluster probing,
    * composed from the two halves of a real IVF deployment:
    * [[ivfBuild]] (the index-training step, run once and amortized over
    * every query batch) and [[ivfQuery]] (the per-batch probe). q75
    * registers this composition; LlmSpec exercises the amortized shape —
    * one build, prebuilt centroids passed to the query step.
    */
  def annIvf(s: SparkSession, d: String, k: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 1): DataFrame =
    ivfQuery(s, d, ivfBuild(s, d, k, lloydIters), nprobe)

  /** IVF index BUILD (the training step, driver-coordinated like any
    * ANN index build): centroids start as k evenly-spaced fixture
    * vectors, then `lloydIters` assignment/mean rounds. Means are exact
    * (long sums of the integer-quantized coordinates), so centroids —
    * and therefore results — are bit-deterministic. The returned model
    * is k×64 doubles: a driver-side literal, like any broadcast model.
    * At 100 TB: train on a sample, k ~ sqrt(N), per-cluster candidate
    * lists stay ~N/k.
    */
  /** q154's distributed power iteration (see the registration comment),
    * parameterized by the per-sweep magnitude guard. `shiftBits = 0`
    * (the registered, oracle-replayed form) keeps every sweep exact in
    * decimal(38,0); its ANSI contract |v₃| ≤ (N·dims·X²)³ < 10³⁸ admits
    * N ≈ 10⁶ vectors at X = 256, dims = 64. `shiftBits > 0`
    * floor-divides v by 2^shiftBits after each NON-final sweep, cutting
    * each sweep's growth by the same factor — the bound becomes
    * (N·dims·X²/2^shiftBits)²·(N·dims·X²) < 10³⁸, so shiftBits = 30
    * admits N ≈ 10⁹ with room to spare. The loadings are scale-free
    * (final normalization divides by max |v|), so the shift's only
    * effect is the dropped low bits: a ≤ 2^shiftBits absolute
    * perturbation per element before the next sweep, i.e.
    * ~2^shiftBits/|v| relative — negligible whenever the shift is
    * actually needed (|v| ≥ 10³⁰ at the point the unshifted contract
    * binds). The floor-division rides Spark's decimal divide (result
    * rescaled to 6 fractional digits, HALF_UP, then floor) — a further
    * ≤ 1-grid-unit slack, deterministic within Spark; the shifted form
    * has no cross-engine oracle and is spec-pinned ≈-equal to the
    * unshifted path at fixture scale (LlmSpec).
    */
  def powerIterationPca(s: SparkSession, d: String,
      shiftBits: Int = 0): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ex = graft.Checkpoints.checkpointLazy(
      Tables(s, d, "embeddings")
        .select(col("vec_id"), posexplode(expr(
          "transform(embedding, x -> cast(floor(cast(x AS double) * 256.0) AS bigint))"))
          .as(Seq("c", "xc"))))
    var dv = ex.groupBy(col("vec_id"))
      .agg(sum(col("xc")).cast(dec).as("dv"))
    var v: DataFrame = null
    for (it <- 1 to 3) {
      var vNext = ex.join(dv, "vec_id")
        .groupBy(col("c"))
        .agg(sum(col("dv") * col("xc")).cast(dec).as("v"))
      if (shiftBits > 0 && it < 3)
        vNext = vNext.select(col("c"),
          floor(col("v") / lit(BigDecimal(2).pow(shiftBits))).cast(dec).as("v"))
      v = graft.Checkpoints.checkpointLazy(vNext)
      if (it < 3)
        dv = ex.join(broadcast(v), "c")
          .groupBy(col("vec_id"))
          .agg(sum(col("v") * col("xc")).cast(dec).as("dv"))
    }
    val m = broadcast(v.agg(max(abs(col("v"))).as("m")))
    v.crossJoin(m)
      .select(col("c").as("component"),
        (col("v").cast("double") / col("m").cast("double")).as("loading"))
      .orderBy("component")
  }

  def ivfBuild(s: SparkSession, d: String, k: Int = 16,
      lloydIters: Int = 1): Array[Seq[Double]] = {
    graft.GraftExtensions.registerAll(s)
    // cached across the training passes (standard iterative-ML shape;
    // ~n×64 doubles, tiny next to the corpus it indexes); released below
    // once training's jobs have run. A query via the un-cached ivfQuery
    // then re-reads and re-assigns the source TWICE (once per join side —
    // the probe-side filter blocks exchange reuse); batch streams amortize
    // that through ivfOpen's persisted-assignment handle instead.
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(quant).as("v"))
      .persist()
    val cs = coarseCentroidsFrom(emb, k, lloydIters)
    emb.unpersist()
    cs
  }

  /** The [[ivfBuild]] training loop over an arbitrary integer-grid
    * (vec_id, v) relation — shared by the raw-domain IVF (q75) and the
    * unit-sphere composed path (q320), whose coarse router must score
    * in the SAME geometry its ADC stage ranks in.
    */
  private def coarseCentroidsFrom(emb: DataFrame, k: Int,
      lloydIters: Int): Array[Seq[Double]] = {
    val n = emb.count()
    val stride = math.max(1L, n / k)
    // init: up to k deterministically-spread vectors (vec_id stride — no
    // global sort; any deterministic spread works as a k-means seed).
    // The EFFECTIVE centroid count is what came back: sparse vec_ids or
    // tiny tables may seed fewer than k.
    var centroids: Array[Seq[Double]] = emb
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(k)
      .select("v").collect().map(_.getSeq[Double](0))
    // sparse/non-contiguous ids can make the stride filter match NOTHING
    // on a non-empty table (e.g. all-odd ids with an even stride) — fall
    // back to the first k by id rather than failing
    if (centroids.isEmpty)
      centroids = emb.orderBy("vec_id").limit(k)
        .select("v").collect().map(_.getSeq[Double](0))
    require(centroids.nonEmpty, "ivfBuild: embeddings table is empty")
    (1 to lloydIters).foreach { _ =>
      // exact long-sum means per (cluster, dim): kEff×64 rows to the driver
      val rows = assign(emb, centroids)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(col("x").cast("long")).cast("double") / count(lit(1))).as("m"))
        .collect()
      val means = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
        val byPos = rs.map(r => r.getInt(1) -> r.getDouble(2)).toMap
        cid -> (0 until 64).map(byPos)
      }
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  // all centroid coordinates + half-norms ride in two flat literals
  // (one Literal node each — k×64 inline array literals measured ~4s of
  // extra plan/codegen time); vecCol's dot takes the 64-slice per cid
  private def withModel(df: DataFrame, cs: Array[Seq[Double]]): DataFrame =
    df.withColumn("_cw", typedLit(cs.flatten.toIndexedSeq))
      .withColumn("_cn", typedLit(cs.map(c => c.map(x => x * x).sum / 2.0).toIndexedSeq))

  // argmin ||v-c||² = argmax dot(v,c) − |c|²/2 over the centroid list
  private def scoreStructs(vecCol: String, kEff: Int): Seq[Column] =
    (0 until kEff).map { i =>
      struct((expr(s"vec_dot($vecCol, slice(_cw, ${i * 64 + 1}, 64))") -
        expr(s"element_at(_cn, ${i + 1})")).as("score"), lit(i).as("cid"))
    }

  private def bestCid(cols: Seq[Column]): Column =
    (if (cols.lengthIs > 1) greatest(cols: _*) else cols.head).getField("cid")

  /** Nearest-centroid assignment of `df`'s `v` column. */
  private def assign(df: DataFrame, cs: Array[Seq[Double]]): DataFrame =
    withModel(df, cs)
      .withColumn("cid", bestCid(scoreStructs("v", cs.length)))
      .drop("_cw", "_cn")

  /** IVF QUERY step against a prebuilt centroid model: score the kEff
    * centroids per query, take the `nprobe` best, scan only those
    * clusters (cluster id is the shuffle key). Per-batch work only —
    * callers issuing many batches reuse one [[ivfBuild]] model; callers
    * issuing MANY batches against one corpus snapshot should use
    * [[ivfOpen]], whose persisted assignment removes the two per-batch
    * corpus scans this un-cached path pays (one per join side — the
    * probe-side filter blocks exchange reuse).
    */
  def ivfQuery(s: SparkSession, d: String, centroids: Array[Seq[Double]],
      nprobe: Int = 4): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    require(centroids.nonEmpty, "ivfQuery: empty centroid model")
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(quant).as("v"))
    val assigned = assign(emb, centroids).withColumn("norm2", dot("v", "v"))
    ivfQueryFrom(assigned, centroids, nprobe)
  }

  /** Build + persist the corpus assignment as a first-class handle: the
    * amortized half of an IVF deployment. The assignment (vec_id, v, cid,
    * norm2 — the corpus re-expressed, tiny per row) is cached ONCE; every
    * [[IvfIndex.query]] batch reads it from cache, so the parquet source
    * is scanned exactly once per index lifetime, not twice per batch.
    * Release with [[IvfIndex.close]] when the batch stream ends — the
    * cache pin is explicit and bounded, never session-lifetime by accident.
    */
  def ivfOpen(s: SparkSession, d: String, k: Int = 16,
      lloydIters: Int = 1): IvfIndex = {
    val cs = ivfBuild(s, d, k, lloydIters)
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(quant).as("v"))
    val assigned = assign(emb, cs).withColumn("norm2", dot("v", "v")).persist()
    new IvfIndex(cs, assigned)
  }

  /** Handle returned by [[ivfOpen]]: centroid model + persisted corpus
    * assignment, with an explicit release.
    */
  final class IvfIndex private[Similarity] (
      val centroids: Array[Seq[Double]],
      private val assigned: DataFrame) extends AutoCloseable {
    /** One probe batch — same contract/output as [[ivfQuery]], zero
      * source scans once the cache is materialized.
      */
    def query(nprobe: Int = 4): DataFrame =
      ivfQueryFrom(assigned, centroids, nprobe)
    override def close(): Unit = { assigned.unpersist(); () }
  }

  /** The shared probe plan over an existing (vec_id, v, cid, norm2)
    * assignment relation.
    */
  private def ivfQueryFrom(assigned: DataFrame, centroids: Array[Seq[Double]],
      nprobe: Int): DataFrame = {
    require(centroids.nonEmpty, "ivfQuery: empty centroid model")
    val kEff = centroids.length
    // queries probe their nprobe best clusters
    val probes = withModel(
      assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm2").as("qn2")),
      centroids)
      .withColumn("scores", array(scoreStructs("qv", kEff): _*))
      .withColumn("probe", explode(expr(
        s"slice(transform(array_sort($reverseByScore), p -> p.cid), 1, ${math.min(nprobe, kEff)})")))
      .drop("scores", "_cw", "_cn")
    val pairs = assigned.join(probes, col("cid") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot("qv", "v") / (sqrt(col("qn2")) * sqrt(col("norm2"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // array_sort ascending by (−score, cid): highest-scoring centroids first
  private val reverseByScore =
    "transform(scores, p -> named_struct('negscore', -p.score, 'cid', p.cid))"

  /** Vectors per bucket the adaptive plane count aims for. */
  private val TargetBucketSize = 256L

  /** Per-table bucket-size target for the multi-table near-dup LSH
    * (smaller than [[TargetBucketSize]]: every bucket in every table
    * feeds a quadratic pair fan-out, so buckets must stay small).
    */
  private val NearDupBucketTarget = 32L

  /** Plane count for n candidates: buckets ≈ n / [[TargetBucketSize]],
    * i.e. p = max(4, ceil(log2(n/256))), capped at 30. Per-bucket work is
    * then ~constant as n grows (the fix for a fixed 2^4 bucket space,
    * where buckets — and the within-bucket scan — grow linearly with n).
    */
  def planesFor(n: Long): Int = planesFor(n, TargetBucketSize, cap = 30)

  /** Table count holding worst-case near-dup recall ≈ 0.9 as the plane
    * count grows with the corpus: the pair AT the [[NearDupThreshold]]
    * angle θ0 has per-plane sign agreement r = 1 − θ0/π; with Hamming-1
    * probing its per-table collision is p1 = r^p + p·r^(p−1)(1−r) —
    * decaying geometrically in p — and the chance of missing every one
    * of T independent tables must stay ≤ 10%: T = ln(0.1)/ln(1−p1),
    * clamped to [4, 32]. A FIXED table count loses recall silently at
    * scale (measured 0.94 → 0.56 going sf0.1 → sf1.0 with 8 tables);
    * this trades a log-growing table count for flat recall. The 32 cap
    * is the honesty bound: past it (≈ 10^8 vectors at the default
    * bucket target) hyperplane LSH at wide thresholds is the wrong
    * index — use the IVF path, whose recall held unchanged at sf1.
    */
  private def tablesFor(planes: Int): Int = {
    val r = 1.0 - math.acos(NearDupThreshold) / math.Pi
    val p1 = math.pow(r, planes) +
      planes * math.pow(r, planes - 1) * (1 - r)
    val t = math.ceil(math.log(0.1) / math.log1p(-p1)).toInt
    math.min(32, math.max(4, t))
  }

  /** Plane count targeting ~`target` members per bucket, in [4, `cap`]. */
  private def planesFor(n: Long, target: Long, cap: Int): Int = {
    val buckets = math.max(1L, n / target)
    math.min(cap, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** LSH-bucketed ANN top-10 for the first 5 vectors as queries:
    * `tables` independent hyperplane tables, each with query-side
    * Hamming-≤2 multi-probing.
    *
    * Top-k truth at these fixtures sits at wide angles (the 10th
    * neighbor is ~50–60° away), where per-table collision decays
    * geometrically with the adaptive plane count — a single table's
    * recall fell 0.82 → ~0.5 going sf0.1 → sf1.0. Independent tables
    * compose recall as 1 − (1−p)^T while costing only T× the bucket
    * relation; probing stays QUERY-side (1 + p + p(p−1)/2 bucket keys
    * per query per table — trivial for a query batch).
    *
    * @param numPlanes hyperplane count per table (bucket space =
    *   2^numPlanes). The default 0 means adaptive: one column-pruned
    *   count() at plan time sizes the bucket space to the candidate set
    *   (buckets ≈ N/256) — pass an explicit value to skip that planning
    *   action.
    */
  def annLsh(s: SparkSession, d: String, numPlanes: Int = 0,
      tables: Int = 4): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), expr(quant).as("v"))
    val planes = if (numPlanes > 0) numPlanes else planesFor(emb.count())
    // Deterministic hyperplanes ([[planeWeights]]): per-row work is one
    // codegen'd vec_dot per plane against a literal weight array. Plan
    // barrier before the table fan-out (see embeddingNearDupLsh).
    val withNorm = emb.withColumn("norm2", dot("v", "v"))
      .repartition(col("vec_id"))
    val tableBuckets = (0 until tables).map { t =>
      val bucket = (0 until planes).map { j =>
        when(planeDot(t * planes + j) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    val bucketed = withPlaneWeights(withNorm, tables * planes)
      .select(col("vec_id"), col("v"), col("norm2"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("norm2"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm2").as("qn2"), col("tbl"), col("bucket").as("qb"))
      .withColumn("bucket", explode(expr(
        s"""concat(
           |  array(qb),
           |  transform(sequence(0, ${planes - 1}),
           |    i -> qb ^ shiftleft(cast(1 AS bigint), i)),
           |  flatten(transform(sequence(0, ${planes - 2}),
           |    i -> transform(sequence(i + 1, ${planes - 1}),
           |      j -> qb ^ shiftleft(cast(1 AS bigint), i)
           |              ^ shiftleft(cast(1 AS bigint), j)))))""".stripMargin)))
      .drop("qb")
    // a candidate can meet a query in several tables — dedup the
    // (query, candidate) pair before scoring (the pair's vectors are
    // identical on every copy, so which row survives is immaterial)
    val pairs = bucketed.join(q, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos_sim", dot("qv", "v") / (sqrt(col("qn2")) * sqrt(col("norm2"))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** q303's SSB/SSW from (n, sx_all, sxx_all, f = Σ_l sx_l²/n_l):
    * SSB = f − sx²/n, SSW = sxx − f; NULL on zero within-class
    * variance. Products in double (the q286 overflow argument).
    */
  private def FisherExpr: String =
    "CASE WHEN CAST(sxx_all AS DOUBLE) - f <= 0.0 THEN NULL ELSE " +
      "(f - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE) / " +
      "CAST(n AS DOUBLE)) / (CAST(sxx_all AS DOUBLE) - f) END"

  /** q286's population variance (n·Σx² − (Σx)²)/n², products in double —
    * the int64 form overflows past ~2e6 vectors on the 1e3 grid.
    */
  private def DimVarExpr: String =
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"

  /** Unit-sphere integer quantization — floor(x/‖x‖·10⁴): the shared
    * domain of the compressed-similarity family (q277 ADC, q320
    * IVF→ADC→re-rank). L2 ranking equals cosine ranking up to the 1e-4
    * grid, and every downstream training mean / distance is exact
    * (integer-valued doubles; vec_dot products of ≤1e8-magnitude
    * operands are exact in double). Zero vectors leave (cosine-
    * undefined, q103's hygiene case).
    */
  private def unitQuant(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), expr(quant).as("v0"))
      .withColumn("n0", dot("v0", "v0"))
      .filter(col("n0") > 0.0)
      .select(col("vec_id"), expr(
        "transform(v0, x -> cast(floor(x / sqrt(n0) * 10000.0) AS double))")
        .as("v"))

  /** The `v` column split into nBlocks contiguous sub-vectors. */
  private def toBlocksExpr(nBlocks: Int): String = {
    val bDim = 64 / nBlocks
    s"""transform(sequence(0, ${nBlocks - 1}), b ->
      |  named_struct('block', CAST(b AS BIGINT),
      |               'bv', slice(v, b * $bDim + 1, $bDim)))""".stripMargin
  }

  /** q211's exact-integer PQ training over a unit-sphere corpus:
    * deterministic md5-spread seeds, `refits` Lloyd sweeps whose means
    * are (block, cid, pos)-keyed exact-integer aggregates over the
    * frozen previous assignment (checkpointed — no recursive re-plan),
    * argmin assignment with the cid tie-break (collect_list
    * order-proof). Returns (codes: vec_id × block → cid;
    * codebook: block × cid → cv, cn2). Shared by q277 and q320.
    */
  private def pqModel(emb0: DataFrame, nSeeds: Int, nBlocks: Int,
      refits: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toBlocks = toBlocksExpr(nBlocks)
    val blocks = emb0
      .select(col("vec_id"), explode(expr(toBlocks)).as("s"))
      .select(col("vec_id"), col("s.block").as("block"), col("s.bv").as("bv"))
      .withColumn("n2", expr("vec_dot(bv, bv)"))
    val seeds = emb0.withColumn("hsh", graft.Ids.hash("vec_id"))
      .orderBy(col("hsh"), col("vec_id")).limit(nSeeds)
      .withColumn("cid", row_number()
        .over(Window.orderBy(col("hsh"), col("vec_id"))).cast("long"))
      .select(col("cid"), explode(expr(toBlocks)).as("s"))
      .select(col("s.block").as("block"), col("cid"),
        col("s.bv").as("cv"), expr("vec_dot(s.bv, s.bv)").as("cn2"))
    def centRows(c: DataFrame) = broadcast(c.groupBy(col("block")).agg(
      collect_list(expr("named_struct('cid', cid, 'cv', cv, 'cn2', cn2)"))
        .as("cents")))
    // argmin fold with the q211 cid tie-break — collect_list order-proof
    def assignPq(cents: DataFrame) =
      blocks.join(centRows(cents), "block")
        .withColumn("best", expr(
          """aggregate(cents,
            |  named_struct('d', cast(1e308 AS double), 'cid', cast(-1 AS bigint)),
            |  (acc, c) -> CASE
            |    WHEN n2 - 2 * vec_dot(bv, c.cv) + c.cn2 < acc.d
            |      OR (n2 - 2 * vec_dot(bv, c.cv) + c.cn2 = acc.d
            |          AND c.cid < acc.cid)
            |    THEN named_struct('d', n2 - 2 * vec_dot(bv, c.cv) + c.cn2,
            |                      'cid', c.cid)
            |    ELSE acc END)""".stripMargin))
        .select(col("vec_id"), col("block"), col("bv"),
          col("best.cid").as("cid"))
    def refitFrom(a: DataFrame): DataFrame = a
      .select(col("block"), col("cid"), posexplode(col("bv")).as(Seq("pos", "val")))
      .groupBy(col("block"), col("cid"), col("pos"))
      .agg(floor(sum(col("val").cast("long")).cast("double") /
        count(lit(1))).cast("double").as("cval"))
      .groupBy(col("block"), col("cid"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(pos, cval))), x -> x.cval)")
        .as("cv"))
      .withColumn("cn2", expr("vec_dot(cv, cv)"))
      .select(col("block"), col("cid"), col("cv"), col("cn2"))
    // Lloyd sweeps: each refit is (block, cid, pos)-keyed exact-integer
    // means over the frozen previous assignment
    val refit = (1 to refits).foldLeft(seeds) { case (cb, _) =>
      refitFrom(graft.Checkpoints.checkpointLazy(assignPq(cb)))
    }
    val codes = assignPq(refit).select(col("vec_id"), col("block"), col("cid"))
    (codes, refit)
  }

  /** The queries × blocks ADC distance table against a PQ codebook — a
    * (n_queries × nBlocks × nSeeds)-row broadcast. Shared by q277/q320.
    * `queries` is a (vec_id, v) relation already pruned to the query
    * batch (model-sized).
    */
  private def adcTableFrom(queries: DataFrame, refit: DataFrame,
      nBlocks: Int): DataFrame = {
    val qb = queries
      .select(col("vec_id").as("q_id"), explode(expr(toBlocksExpr(nBlocks))).as("s"))
      .select(col("q_id"), col("s.block").as("block"), col("s.bv").as("qv"))
      .withColumn("qn2", expr("vec_dot(qv, qv)"))
    broadcast(qb.join(refit, "block")
      .select(col("q_id"), col("block"), col("cid"),
        (col("qn2") - lit(2.0) * expr("vec_dot(qv, cv)") + col("cn2"))
          .as("dd")))
  }

  private def adcTable(emb0: DataFrame, refit: DataFrame,
      nBlocks: Int): DataFrame =
    adcTableFrom(emb0.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("v")), refit, nBlocks)

  /** Exact cosine re-rank of a (q_id, vec_id) shortlist — the terminal
    * stage of every compressed-domain search: the shortlist join is
    * (queries × shortlist)-sized, never corpus-sized. Shared by
    * q277/q320.
    */
  private def exactRerank(s: SparkSession, d: String, short: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = Tables(s, d, "embeddings")
      .select(col("vec_id"), expr(quant).as("ev"))
      .withColumn("en2", dot("ev", "ev"))
    val qx = broadcast(exact.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("ev").as("qv"),
        col("en2").as("qn2")))
    val rer = short.join(exact, "vec_id").join(qx, "q_id")
      .withColumn("cos_sim",
        expr("vec_dot(qv, ev)") / (sqrt(col("qn2")) * sqrt(col("en2"))))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    rer.withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** q277's PQ-ADC search (see the registration comment). Unit-sphere
    * integer quantization via [[unitQuant]] keeps the q211 training
    * algebra exact (bit-deterministic codebook and distances); 32 codes
    * per 8-dim block with two exact Lloyd sweeps — the measured recall
    * floor is gated in q278. At 100 TB: codes are one narrow pass over
    * the corpus (broadcast codebook, no shuffle); ADC pays queries×N
    * partial-agg rows into one keyed shuffle — linear per query batch.
    */
  def pqAdcTopk(s: SparkSession, d: String, k: Int = 10,
      nSeeds: Int = 32, nBlocks: Int = 8, refits: Int = 2,
      shortlist: Int = 100): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    import org.apache.spark.sql.expressions.Window
    val emb0 = unitQuant(s, d)
    val (codes, refit) = pqModel(emb0, nSeeds, nBlocks, refits)
    val dtab = adcTable(emb0, refit, nBlocks)
    val scored = codes.join(dtab, Seq("block", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(count(lit(1)).as("nb"), sum(col("dd")).as("adist"))
      .filter(col("nb") === lit(nBlocks.toLong))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("vec_id"))
    // compressed-domain SHORTLIST, then exact re-rank (the standard PQ
    // deployment shape: ADC prunes N to `shortlist` rows per query, the
    // exact distance runs only on the survivors)
    val short = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    exactRerank(s, d, short, k)
  }

  /** q320: the PRODUCTION retrieval stack — IVF shortlist → PQ-ADC scan
    * → exact re-rank, composed. q75 proves the coarse router and q277
    * proves the compressed scorer; a real 100 TB deployment runs them
    * together: the router prunes the corpus to ~nprobe/coarseK of its
    * clusters, ADC scores ONLY those candidates from 4-byte-per-vector
    * codes (never touching full vectors), and the exact re-rank
    * finishes the ≤`shortlist`-per-query survivors. Both stages score
    * in the SAME unit-sphere integer geometry ([[unitQuant]]), so the
    * router's L2 cells are exactly the cosine cells ADC ranks in — a
    * raw-domain router over a normalized scorer would mis-route
    * magnitude outliers. Everything model-sized broadcasts (coarse
    * centroids as two flat literals, the ADC distance table, the query
    * block vectors); the per-batch corpus-scale work is ONE candidate
    * shuffle keyed on vec_id — plan-pinned broadcast-only-joins +
    * no-cartesian in NewQueryPlanSpec; recall vs the exact q27 ranking
    * gated in q321.
    *
    * This un-cached form re-trains the model per call — it exists as
    * the parameter-exploration path and the agreement pin for
    * [[AnnIndex.query]]; the REGISTERED q320/q321/q328 all deploy one
    * shared trained model via [[annShared]] (spec-pinned: one build
    * serves all three).
    */
  def ivfPqRerank(s: SparkSession, d: String, k: Int = 10,
      coarseK: Int = 16, nprobe: Int = 4, nSeeds: Int = 32,
      nBlocks: Int = 8, refits: Int = 2,
      shortlist: Int = 100): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    import org.apache.spark.sql.expressions.Window
    val emb0 = unitQuant(s, d)
    // coarse router trained in the unit-sphere domain (one exact Lloyd
    // sweep — the router only needs cells, not converged centroids)
    val cs = coarseCentroidsFrom(emb0, coarseK, 1)
    val kEff = cs.length
    val assigned = assign(emb0, cs)
    // PQ codebook + codes over the same domain
    val (codes, refit) = pqModel(emb0, nSeeds, nBlocks, refits)
    // each query probes its nprobe best cells (model is a broadcast
    // literal — same probe plan as ivfQueryFrom)
    val probes = withModel(
      emb0.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv")), cs)
      .withColumn("scores", array(scoreStructs("qv", kEff): _*))
      .withColumn("probe", explode(expr(
        s"slice(transform(array_sort($reverseByScore), p -> p.cid), 1, ${math.min(nprobe, kEff)})")))
      .select(col("q_id"), col("probe"))
    // candidates: the probed cells only — the IVF prune (broadcast the
    // queries×nprobe probe list onto the assignment)
    val cand = assigned.join(broadcast(probes), col("cid") === col("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    // ADC-score ONLY the candidates: per-candidate block codes meet the
    // broadcast distance table on (q_id, block, cid)
    val dtab = adcTable(emb0, refit, nBlocks)
    val scored = cand.join(codes, "vec_id")
      .join(dtab, Seq("q_id", "block", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(count(lit(1)).as("nb"), sum(col("dd")).as("adist"))
      .filter(col("nb") === lit(nBlocks.toLong))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("vec_id"))
    val short = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    exactRerank(s, d, short, k)
  }

  /** Build + persist the composed IVF/PQ index as a first-class handle —
    * the amortized half of the q320 deployment, mirroring [[ivfOpen]]:
    * the expensive build (coarse training, coarse assignment, PQ
    * training, corpus encoding) runs ONCE; every [[AnnIndex.query]]
    * batch then plans entirely over two persisted relations — the
    * code table (vec_id × block → PQ code, carrying the coarse cell:
    * ~nBlocks small ints per vector, the compressed corpus) and the
    * exact-vector relation for the re-rank — plus three model-sized
    * broadcasts (coarse centroids, codebook, query block table). The
    * parquet source is scanned exactly once per index lifetime, never
    * per batch (spec-pinned: a post-build batch's plan contains NO
    * source relation). Release with [[AnnIndex.close]].
    */
  def annOpen(s: SparkSession, d: String, coarseK: Int = 16,
      nSeeds: Int = 32, nBlocks: Int = 8, refits: Int = 2): AnnIndex = {
    graft.GraftExtensions.registerAll(s)
    val emb0 = unitQuant(s, d)
    val cs = coarseCentroidsFrom(emb0, coarseK, 1)
    val assigned = assign(emb0, cs)
      .select(col("vec_id"), col("v"), col("cid").as("ccid"))
      .persist()
    val (codes, refit) = pqModel(emb0, nSeeds, nBlocks, refits)
    val codesRel = assigned.select(col("vec_id"), col("ccid"))
      .join(codes, "vec_id").persist()
    // the query batch is model-sized; persisting it off `assigned`
    // keeps per-batch planning source-free
    val queryRel = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("v")).persist()
    val refitRel = refit.persist()
    val exactRel = Tables(s, d, "embeddings")
      .select(col("vec_id"), expr(quant).as("ev"))
      .withColumn("en2", dot("ev", "ev")).persist()
    // materialize the caches now: the build is the expensive step by
    // contract, and the first query batch should already be cheap
    Seq(codesRel, queryRel, refitRel, exactRel).foreach(_.count())
    assigned.unpersist()
    annBuildCount.incrementAndGet()
    new AnnIndex(cs, queryRel, codesRel, refitRel, exactRel, nBlocks)
  }

  /** How many composed-index builds ([[annOpen]]) have run in this JVM —
    * the spec hook that pins "q320 + q321 + q328 share ONE training
    * job" (LlmSpec): retraining an identical default-parameter codebook
    * per registry entry measured ~19 s/bench (~6.5% of the whole suite)
    * and misrepresented the amortized build-once path this API
    * advertises.
    */
  private val annBuildCount = new java.util.concurrent.atomic.AtomicLong(0L)
  def annBuilds: Long = annBuildCount.get()

  /** The per-(session, corpus-dir) DEFAULT-parameter composed index the
    * registered q320 / q321 / q328 deploy against — one [[annOpen]]
    * build per session per corpus, exactly the production shape (build
    * once, query many). The build runs under its own owner
    * (`Checkpoints.shared`), so no consumer query's release frees its
    * snapshots; [[annSharedEvict]] does. The cached relations are a
    * compressed re-expression of one embeddings table (~nBlocks small
    * ints + one int vector per row); parameterized callers own their
    * lifecycle via [[annOpen]]/[[AnnIndex.close]] instead.
    */
  private val sharedAnn = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), AnnIndex]()

  def annShared(s: SparkSession, d: String): AnnIndex = {
    // lazy dead-session sweep: a long-lived JVM that creates and stops
    // several sessions (test suites, notebook restarts) must not retain
    // handles keyed by stopped sessions forever. Their persisted blocks
    // died with the context, so dropping the map entry is the whole
    // cleanup (close() would try to touch the stopped context).
    val it = sharedAnn.keySet().iterator()
    while (it.hasNext) { if (it.next()._1.sparkContext.isStopped) it.remove() }
    // the index's snapshots (the PQ refit rides one) belong to the memo:
    // a consumer's release freeing them would leave later consumers one
    // cache eviction away from CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    sharedAnn.computeIfAbsent((s, d), _ => graft.Checkpoints.shared(annOpen(s, d)))
  }

  /** Drop (and release) the shared index for one (session, dir) — test
    * hygiene for the one-build-serves-three pin; harmless if absent.
    */
  def annSharedEvict(s: SparkSession, d: String): Unit = {
    val idx = sharedAnn.remove((s, d))
    if (idx != null) { graft.Checkpoints.releaseShared(idx); idx.close() }
  }

  /** Handle returned by [[annOpen]]: coarse model + persisted compressed
    * corpus + codebook + exact vectors, with an explicit release.
    */
  final class AnnIndex private[Similarity] (
      val centroids: Array[Seq[Double]],
      private val queryRel: DataFrame,
      private val codesRel: DataFrame,
      private val refitRel: DataFrame,
      private val exactRel: DataFrame,
      nBlocks: Int) extends AutoCloseable {

    /** One probe batch — the q320 plan over the persisted relations:
      * broadcast probe list prunes the code table to the routed cells,
      * ADC scores them against the broadcast distance table, exact
      * re-rank finishes the shortlist. Agrees row-for-row with the
      * un-cached [[ivfPqRerank]] at the same parameters (spec-pinned).
      */
    def query(nprobe: Int = 4, k: Int = 10,
        shortlist: Int = 100): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val kEff = centroids.length
      val probes = withModel(
        queryRel.select(col("vec_id").as("q_id"), col("v").as("qv")),
        centroids)
        .withColumn("scores", array(scoreStructs("qv", kEff): _*))
        .withColumn("probe", explode(expr(
          s"slice(transform(array_sort($reverseByScore), p -> p.cid), 1, ${math.min(nprobe, kEff)})")))
        .select(col("q_id"), col("probe"))
      val dtab = adcTableFrom(queryRel, refitRel, nBlocks)
      val scored = codesRel.join(broadcast(probes), col("ccid") === col("probe"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(dtab, Seq("q_id", "block", "cid"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(count(lit(1)).as("nb"), sum(col("dd")).as("adist"))
        .filter(col("nb") === lit(nBlocks.toLong))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adist").asc, col("vec_id"))
      val short = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= shortlist)
        .select(col("q_id"), col("vec_id"))
      val qx = broadcast(exactRel.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ev").as("qv"),
          col("en2").as("qn2")))
      val rer = short.join(exactRel, "vec_id").join(qx, "q_id")
        .withColumn("cos_sim",
          expr("vec_dot(qv, ev)") / (sqrt(col("qn2")) * sqrt(col("en2"))))
      val w2 = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      rer.withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("cos_sim"))
        .orderBy("q_id", "rnk")
    }

    /** q277's un-routed PQ-ADC search over the persisted code table —
      * the whole-corpus compressed scan (no IVF prune), sharing this
      * handle's one trained codebook: ADC scores EVERY code row against
      * the broadcast distance table, prunes to the shortlist, exact
      * re-rank finishes. Agrees row-for-row with the un-cached
      * [[pqAdcTopk]] at the same parameters (spec-pinned) — the
      * registered q277/q278 ride this so the PQ family trains once per
      * (session, corpus) alongside q320/q321/q328.
      */
    def adcTopk(k: Int = 10, shortlist: Int = 100): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val dtab = adcTableFrom(queryRel, refitRel, nBlocks)
      val scored = codesRel.drop("ccid").join(dtab, Seq("block", "cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(count(lit(1)).as("nb"), sum(col("dd")).as("adist"))
        .filter(col("nb") === lit(nBlocks.toLong))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adist").asc, col("vec_id"))
      val short = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= shortlist)
        .select(col("q_id"), col("vec_id"))
      val qx = broadcast(exactRel.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ev").as("qv"),
          col("en2").as("qn2")))
      val rer = short.join(exactRel, "vec_id").join(qx, "q_id")
        .withColumn("cos_sim",
          expr("vec_dot(qv, ev)") / (sqrt(col("qn2")) * sqrt(col("en2"))))
      val w2 = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      rer.withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor_id"),
          col("cos_sim"))
        .orderBy("q_id", "rnk")
    }

    /** q328: the nprobe TUNING CURVE of the composed stack — recall vs
      * candidate volume at nprobe ∈ {1, 2, 4, 8} measured in ONE pass
      * over the persisted code table (the q305/q267 "parameters are
      * measured, not folklore" posture): probes carry their RANK, every
      * candidate carries the rank of the probe that found it, and each
      * sweep level is a filter on that rank — so the expensive parts
      * (coarse assignment, PQ codes, ADC scoring) run once, and only
      * the shortlist windows and the (queries × shortlist) re-ranks
      * multiply by the 4 levels. The registered row per level reports
      * the oracle-checkable CONTRACT: truth size, the measured-floor
      * recall flag, and `cand_rank` — the level's rank when levels are
      * ordered by (candidate volume, nprobe), which the oracle pins to
      * 1..4: it equals the nprobe order IFF candidate volume is
      * non-decreasing in nprobe, so a routing regression that loses
      * candidates hash-mismatches (a non-constant oracle column, unlike
      * a boolean flag). The measured recall VALUES are pinned in
      * LlmSpec. Floors hold at sf0.001/0.01/0.1.
      */
    def sweep(k: Int = 10, shortlist: Int = 100,
        floors: Map[Long, Double] = Map(1L -> 0.08, 2L -> 0.2,
          4L -> 0.35, 8L -> 0.35)): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val kEff = centroids.length
      val maxP = math.min(8, kEff)
      val probes = withModel(
        queryRel.select(col("vec_id").as("q_id"), col("v").as("qv")),
        centroids)
        .withColumn("scores", array(scoreStructs("qv", kEff): _*))
        .withColumn("pp", explode(expr(
          s"transform(slice(transform(array_sort($reverseByScore), p -> p.cid), 1, $maxP), " +
            "(c, i) -> named_struct('probe', c, 'prank', CAST(i + 1 AS BIGINT)))")))
        .select(col("q_id"), col("pp.probe").as("probe"),
          col("pp.prank").as("prank"))
      val dtab = adcTableFrom(queryRel, refitRel, nBlocks)
      // a vector lives in exactly one cell, so each (q, vec) matches at
      // most one probe row — min(prank) is that single row's rank
      val scored = codesRel
        .join(broadcast(probes), col("ccid") === col("probe"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(dtab, Seq("q_id", "block", "cid"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(min(col("prank")).as("prank"), count(lit(1)).as("nb"),
          sum(col("dd")).as("adist"))
        .filter(col("nb") === lit(nBlocks.toLong))
      val leveled = scored
        .select(col("*"), explode(typedLit(Seq(1L, 2L, 4L, 8L))).as("nprobe"))
        .filter(col("prank") <= col("nprobe"))
      val w = Window.partitionBy(col("nprobe"), col("q_id"))
        .orderBy(col("adist").asc, col("vec_id"))
      val short = leveled.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= shortlist)
        .select(col("nprobe"), col("q_id"), col("vec_id"))
      val qx = broadcast(exactRel.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ev").as("qv2"),
          col("en2").as("qn2")))
      val w2 = Window.partitionBy(col("nprobe"), col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val found = short.join(exactRel, "vec_id").join(qx, "q_id")
        .withColumn("cos_sim",
          expr("vec_dot(qv2, ev)") / (sqrt(col("qn2")) * sqrt(col("en2"))))
        .withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= k)
        .select(col("nprobe"), col("q_id"), col("vec_id").as("neighbor_id"))
      // exact truth: the q27 brute force over the persisted exact
      // relation (queries broadcast)
      val truth = exactRel.join(broadcast(qx), col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim",
          expr("vec_dot(qv2, ev)") / (sqrt(col("qn2")) * sqrt(col("en2"))))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("vec_id").as("neighbor_id"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val hits = found.join(truth, Seq("q_id", "neighbor_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hit"))
      val cands = leveled.groupBy(col("nprobe")).agg(count(lit(1)).as("n_cand"))
      val floorExpr = "CASE nprobe " + floors.toSeq.sortBy(_._1).map {
        case (p, f) => s"WHEN $p THEN ${f}D" }.mkString(" ") + " END"
      val base = nt.select(
        explode(typedLit(Seq(1L, 2L, 4L, 8L))).as("nprobe"), col("n_truth"))
      // cand_rank's 4-row unkeyed window is the contract relation itself
      base.join(hits, Seq("nprobe"), "left_outer")
        .join(cands, Seq("nprobe"), "left_outer")
        .withColumn("nc", coalesce(col("n_cand"), lit(0L)))
        .select(col("nprobe"), col("n_truth"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") >=
            col("n_truth").cast("double") * expr(floorExpr)).as("recall_ok"),
          row_number().over(Window.orderBy(col("nc"), col("nprobe")))
            .cast("long").as("cand_rank"))
        .orderBy("nprobe")
    }

    override def close(): Unit = {
      Seq(queryRel, codesRel, refitRel, exactRel).foreach(_.unpersist())
      ()
    }
  }
}
