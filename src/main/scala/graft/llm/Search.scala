package graft.llm

import graft.{Det, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text relevance search over the document corpus — the retrieval
  * half of a training-data pipeline (eval-set mining, targeted corpus
  * slicing, "find documents about X" curation queries).
  *
  * The operator is classic inverted-index BM25, expressed relationally:
  * the (term → doc, tf) relation restricted to the query vocabulary IS
  * the inverted-index postings slice, and every step is a keyed
  * aggregation or broadcast join — no UDFs, no driver loops. At 100 TB
  * the same plan holds: postings partition by term (the explode+filter
  * keeps only query-vocabulary tokens, so the shuffled relation is the
  * retrieval slice, not the corpus), document-frequency and corpus
  * statistics are scalar-sized broadcasts, and the final per-query
  * top-k runs as a two-phase partial rank so no window ever partitions
  * by the handful of query ids alone. A standing search service would
  * additionally materialize the full postings relation once with
  * [[graft.ops.Scale.bucketedWrite]] bucketed by term and reuse it
  * across query batches; the registered query prices the from-scratch
  * scan.
  *
  * Cross-engine determinism (the oracle hash-matches): the usual BM25
  * `ln`-idf is not bit-reproducible across engines (neither engine's
  * transcendentals are correctly-rounded), so — q114's posture exactly —
  * the idf factor here is the Robertson ODDS itself, not its log:
  *   idf'(t) = (N − df + 1/2) / (df + 1/2)
  * monotone in the textbook idf, exact-rational inputs, one IEEE
  * division. The tf-saturation factor uses k1 = 1.25 and b = 0.75
  * (dyadic rationals, exactly representable), so every arithmetic step
  * is a correctly-rounded IEEE op over engine-identical operands, and
  * the per-(query, doc) sum over matched terms is order-free via
  * [[Det.csum]] (scale 6; per-group bound: |terms per query| ·
  * odds_max · 2.25 · 1e6 — revisit only if a single-posting term meets
  * a ~1e11-document corpus).
  */
object Search {

  /** The registered query workload: fixed literal (q_id, term) pairs —
    * one rare high-idf term (`dup`) among common ones so the ranking
    * exercises the idf contrast. One definition; the oracle VALUES
    * clause derives from the same list.
    */
  private val QuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "window", 1 -> "group",
    2 -> "hash", 2 -> "join", 2 -> "merge",
    3 -> "dup", 3 -> "scan",
    4 -> "customer", 4 -> "order", 4 -> "line")

  /** Per-matched-term BM25 contribution — ONE formula string, valid in
    * both dialects, interpolated into the Spark expression and the
    * oracle SQL so the two engines can never score differently.
    * Operand columns: tf, df, dl (ints), n_docs (int), avgdl (double).
    */
  private val TermScore =
    "((2.0 * CAST(n_docs - df AS DOUBLE) + 1.0) / (2.0 * CAST(df AS DOUBLE) + 1.0))" +
      " * ((CAST(tf AS DOUBLE) * 2.25)" +
      " / (CAST(tf AS DOUBLE) + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"

  private val TopK = 10

  /** Fusion depth for q128: each retriever contributes its top-F list. */
  private val FuseDepth = 20

  /** The BM25 (q_id, doc_id, score) relation — q123's scoring pipeline,
    * shared with q128's hybrid fusion so the two registered queries can
    * never rank with different machinery.
    */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val qt = {
      import s.implicits._
      QuerySet.toDF("q_id", "term")
    }
    val terms = QuerySet.map(_._2).distinct
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("tot_tokens"))
      .withColumn("avgdl",
        expr("CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
      .select("n_docs", "avgdl")
    val postings = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df_ = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(df_), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", expr(TermScore))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(Det.csum(col("term_score"), 6).as("score"))
  }

  /** Oracle CTE chain producing the same `scored(q_id, doc_id, score)`
    * relation — ONE text, interpolated into both the q123 and q128
    * oracles.
    */
  private def bm25ScoredSql: String = {
    val values = QuerySet.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""qt(q_id, term) AS (VALUES $values),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |      AS avgdl
       |  FROM documents),
       |postings AS (
       |  SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
       |  FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl,
       |          UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
       |  WHERE term IN (SELECT term FROM qt)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
       |scored AS (
       |  SELECT qt.q_id, p.doc_id,
       |    ${Det.csumSql(TermScore, 6)} AS score
       |  FROM postings p
       |  JOIN df ON p.term = df.term
       |  JOIN qt ON p.term = qt.term
       |  CROSS JOIN stats
       |  GROUP BY qt.q_id, p.doc_id)""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q123: BM25 top-k retrieval. Shape: one corpus scan (tokens carry
    // their doc length through the explode, so document length never
    // needs a join back), one slim scan for the two corpus scalars,
    // a (doc, term)-keyed tf aggregation over the query-vocabulary
    // slice, df/query-set/stats as broadcasts, then the per-query
    // top-k. The low-cardinality q_id window is safe because the
    // rank≤k filter plans a PARTIAL WindowGroupLimit before the
    // exchange (pinned in NewQueryPlanSpec): each map task forwards at
    // most k rows per query, so the per-query partition sorts
    // ≤ k·map_tasks rows, never the candidate relation.
    QueryDef.sql("q123_bm25_topk") { (s, d) =>
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      bm25Scored(s, d)
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= TopK)
        .select(col("q_id"), col("rnk"), col("doc_id"), col("score"))
        .orderBy("q_id", "rnk")
    } {
      s"""WITH $bm25ScoredSql
         |SELECT q_id, rnk, doc_id, score FROM (
         |  SELECT q_id, doc_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |                       ORDER BY score DESC, doc_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK
         |ORDER BY q_id, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q128: HYBRID RETRIEVAL — Borda-count rank fusion of the sparse
    // (BM25, q123) and dense (cosine, q27's scoring) retrievers, the
    // standard two-tower corpus-mining setup. Reciprocal-rank fusion's
    // 1/(60+r) weights are a float sum whose cross-engine order is not
    // reproducible; Borda weights (F+1−rank, absent→0) are the
    // integer-exact fusion with the same rank-only character, so the
    // fused scores themselves hash-match the oracle. Per-side lists are
    // top-F map-side-limited windows (the q123/q124 partial
    // WindowGroupLimit posture); the fusion joins two ≤F·|queries|-row
    // relations — broadcast-sized regardless of corpus scale. Doc ids
    // and vec ids share the fixture key space (embeddings are the
    // documents' vectors), which is what makes the two sides fusable.
    QueryDef.sql("q128_hybrid_retrieval") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val qIds = QuerySet.map(_._1).distinct.sorted // dense queries = same ids
      def sideRanks(scored: DataFrame, scoreCol: String): DataFrame = {
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col(scoreCol).desc, col("doc_id").asc)
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= FuseDepth)
          .select(col("q_id"), col("doc_id"), col("rnk"))
      }
      val sparse = sideRanks(bm25Scored(s, d), "score")
        .withColumnRenamed("rnk", "bm25_rank")
      val quant6 =
        "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000.0) AS double))"
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), expr(quant6).as("v"))
        .withColumn("norm2", expr("vec_dot(v, v)"))
      val qv = emb.filter(col("vec_id").isin(qIds.map(_.toLong): _*))
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm2").as("qn2"))
      val densePairs = emb.join(broadcast(qv), col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim",
          expr("vec_dot(qv, v)") / (sqrt(col("qn2")) * sqrt(col("norm2"))))
        .select(col("q_id"), col("vec_id").as("doc_id"), col("cos_sim"))
      val dense = sideRanks(densePairs, "cos_sim")
        .withColumnRenamed("rnk", "dense_rank")
      val fused = sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("borda",
          coalesce(lit(FuseDepth + 1) - col("bm25_rank"), lit(0)) +
            coalesce(lit(FuseDepth + 1) - col("dense_rank"), lit(0)))
        .withColumn("bm25_rank", coalesce(col("bm25_rank"), lit(0)))
        .withColumn("dense_rank", coalesce(col("dense_rank"), lit(0)))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("borda").desc, col("doc_id").asc)
      fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= TopK)
        .select(col("q_id"), col("rnk"), col("doc_id"), col("borda"),
          col("bm25_rank"), col("dense_rank"))
        .orderBy("q_id", "rnk")
    } {
      val qIds = QuerySet.map(_._1).distinct.sorted.mkString(", ")
      s"""WITH $bm25ScoredSql,
         |sparse AS (
         |  SELECT q_id, doc_id, rnk AS bm25_rank FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY score DESC, doc_id) AS rnk
         |    FROM scored) WHERE rnk <= $FuseDepth),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS v
         |  FROM embeddings),
         |nn AS (SELECT vec_id, v, list_dot_product(v, v) AS norm2 FROM e),
         |dpairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         |    list_dot_product(q.v, c.v) / (SQRT(q.norm2) * SQRT(c.norm2)) AS cos_sim
         |  FROM nn q JOIN nn c ON q.vec_id IN ($qIds) AND c.vec_id <> q.vec_id),
         |dense AS (
         |  SELECT q_id, doc_id, rnk AS dense_rank FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY cos_sim DESC, doc_id) AS rnk
         |    FROM dpairs) WHERE rnk <= $FuseDepth),
         |fused AS (
         |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
         |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
         |    COALESCE(${FuseDepth + 1} - s.bm25_rank, 0)
         |      + COALESCE(${FuseDepth + 1} - d.dense_rank, 0) AS borda,
         |    COALESCE(s.bm25_rank, 0) AS bm25_rank,
         |    COALESCE(d.dense_rank, 0) AS dense_rank
         |  FROM sparse s FULL OUTER JOIN dense d
         |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id)
         |SELECT q_id, rnk, doc_id, borda, bm25_rank, dense_rank FROM (
         |  SELECT q_id, doc_id, borda, bm25_rank, dense_rank,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |                       ORDER BY borda DESC, doc_id) AS rnk
         |  FROM fused)
         |WHERE rnk <= $TopK
         |ORDER BY q_id, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q131: RETRIEVAL EVALUATION HARNESS — first-relevant rank and
    // relevant-in-top-k counts for the sparse (q123) and hybrid (q128)
    // retrievers against a relationally-derived relevance truth: a doc
    // is relevant to a query iff it contains the query's RAREST matched
    // term (min df, ties to the lexicographically smaller term) — the
    // standard pseudo-relevance proxy when no judgment set exists, and
    // exactly the contrast BM25's idf is supposed to capture. Outputs
    // are pure integers (rank positions and counts), so the eval
    // hash-matches the oracle — no MRR float averaging (the per-query
    // first_rel_rank IS the reciprocal rank's numerator-free form).
    // Shape at scale: both retriever lists are top-k relations (≤
    // k·|queries| rows); the truth relation is the rarest-term slice of
    // the postings (≤ df_max rows per query); every join is
    // broadcast-sized.
    QueryDef.sql("q131_retrieval_eval") { (s, d) =>
      val topBm = {
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("doc_id").asc)
        bm25Scored(s, d)
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= TopK)
          .select(col("q_id"), col("rnk"), col("doc_id"))
      }
      val topHy = SparkEntryRefs.hybrid(s, d)
        .select(col("q_id"), col("rnk"), col("doc_id"))
      // rarest matched term per query, from the same postings relation
      // the scorer uses (one tokenize; df over the query-vocab slice)
      val docs = Tables(s, d, "documents")
      val qt = {
        import s.implicits._
        QuerySet.toDF("q_id", "term")
      }
      val terms = QuerySet.map(_._2).distinct
      val postings = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val wRare = Window.partitionBy(col("q_id"))
        .orderBy(col("df").asc, col("term").asc)
      val rare = qt.join(broadcast(df_), Seq("term"))
        .withColumn("rn", row_number().over(wRare)).filter(col("rn") === 1)
        .select(col("q_id"), col("term"))
      val rel = rare.join(postings, Seq("term"))
        .select(col("q_id"), col("doc_id"))
      def evalSide(top: DataFrame, method: String): DataFrame = {
        val hits = top.join(rel, Seq("q_id", "doc_id"), "left_semi")
        val qids = top.select(col("q_id")).distinct()
        qids.join(
          hits.groupBy(col("q_id")).agg(
            min(col("rnk")).as("first_rel_rank"),
            count(lit(1)).as("n_rel_topk")),
          Seq("q_id"), "left_outer")
          .select(col("q_id"), lit(method).as("method"),
            coalesce(col("first_rel_rank"), lit(0)).as("first_rel_rank"),
            coalesce(col("n_rel_topk"), lit(0L)).as("n_rel_topk"))
      }
      evalSide(topBm, "bm25").unionByName(evalSide(topHy, "hybrid"))
        .orderBy("q_id", "method")
    } {
      s"""WITH $bm25ScoredSql,
         |bmtop AS (
         |  SELECT q_id, doc_id, rnk FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY score DESC, doc_id) AS rnk
         |    FROM scored) WHERE rnk <= $TopK),
         |sparse AS (
         |  SELECT q_id, doc_id, rnk AS bm25_rank FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY score DESC, doc_id) AS rnk
         |    FROM scored) WHERE rnk <= $FuseDepth),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS v
         |  FROM embeddings),
         |nn AS (SELECT vec_id, v, list_dot_product(v, v) AS norm2 FROM e),
         |dpairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         |    list_dot_product(q.v, c.v) / (SQRT(q.norm2) * SQRT(c.norm2)) AS cos_sim
         |  FROM nn q JOIN nn c
         |    ON q.vec_id IN (${QuerySet.map(_._1).distinct.sorted.mkString(", ")})
         |    AND c.vec_id <> q.vec_id),
         |dense AS (
         |  SELECT q_id, doc_id, rnk AS dense_rank FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY cos_sim DESC, doc_id) AS rnk
         |    FROM dpairs) WHERE rnk <= $FuseDepth),
         |fused AS (
         |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
         |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
         |    COALESCE(${FuseDepth + 1} - s.bm25_rank, 0)
         |      + COALESCE(${FuseDepth + 1} - d.dense_rank, 0) AS borda
         |  FROM sparse s FULL OUTER JOIN dense d
         |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id),
         |hytop AS (
         |  SELECT q_id, doc_id, rnk FROM (
         |    SELECT q_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |                         ORDER BY borda DESC, doc_id) AS rnk
         |    FROM fused) WHERE rnk <= $TopK),
         |rare AS (
         |  SELECT q_id, term FROM (
         |    SELECT qt.q_id, qt.term,
         |      ROW_NUMBER() OVER (PARTITION BY qt.q_id
         |                         ORDER BY df.df ASC, qt.term ASC) AS rn
         |    FROM qt JOIN df ON qt.term = df.term) WHERE rn = 1),
         |rel AS (
         |  SELECT r.q_id, p.doc_id FROM rare r JOIN postings p ON p.term = r.term),
         |qids AS (SELECT DISTINCT q_id FROM qt),
         |ev AS (
         |  SELECT q.q_id, 'bm25' AS method,
         |    COALESCE(MIN(t.rnk), 0) AS first_rel_rank,
         |    COUNT(t.rnk) AS n_rel_topk
         |  FROM qids q LEFT JOIN (
         |    SELECT b.q_id, b.rnk FROM bmtop b
         |    JOIN rel ON rel.q_id = b.q_id AND rel.doc_id = b.doc_id) t
         |    ON t.q_id = q.q_id
         |  GROUP BY q.q_id
         |  UNION ALL
         |  SELECT q.q_id, 'hybrid' AS method,
         |    COALESCE(MIN(t.rnk), 0) AS first_rel_rank,
         |    COUNT(t.rnk) AS n_rel_topk
         |  FROM qids q LEFT JOIN (
         |    SELECT h.q_id, h.rnk FROM hytop h
         |    JOIN rel ON rel.q_id = h.q_id AND rel.doc_id = h.doc_id) t
         |    ON t.q_id = q.q_id
         |  GROUP BY q.q_id)
         |SELECT q_id, method, first_rel_rank, n_rel_topk FROM ev
         |ORDER BY q_id, method""".stripMargin
    },

    // ------------------------------------------------------------------
    // q207: POSITIONAL PHRASE SEARCH — the exact-phrase half of a search
    // engine (BM25 ranks bags of words; "\"foo bar\"" needs POSITIONS).
    // The positional postings relation (doc, token, pos) self-joins on
    // (doc, pos+1) — the textbook positional-index adjacency join. The
    // phrase itself is data-derived (the corpus's most frequent bigram,
    // ties by token order) so the query is self-contained and the
    // oracle re-derives it independently. OVERLAPS COUNT: 'a a a'
    // matches 'a a' twice — the positional definition, which a
    // non-overlapping regex scan would get wrong. SCALE SHAPE: the
    // adjacency join keys on doc_id (collocated after one shuffle of
    // the postings); the census reuses that same relation; the phrase
    // probe is a 1-row broadcast slicing the postings BEFORE the
    // occurrence count — at scale the sliced relation is the two query
    // tokens' postings, not the corpus.
    QueryDef.sql("q207_phrase_search") { (s, d) =>
      val postings = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .repartition(col("doc_id"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
      val adj = postings.as("p1")
        .join(postings.as("p2"),
          col("p1.doc_id") === col("p2.doc_id") &&
            col("p2.pos") === col("p1.pos") + 1L)
        .select(col("p1.doc_id").as("doc_id"), col("p1.pos").as("pos"),
          col("p1.tok").as("w1"), col("p2.tok").as("w2"))
      val top = adj.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        .select(col("w1").as("q1"), col("w2").as("q2"))
      adj.join(broadcast(top),
          col("w1") === col("q1") && col("w2") === col("q2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"),
          min(col("pos")).as("first_pos"))
        .orderBy("doc_id")
    } {
      """WITH s AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |p AS (
        |  SELECT doc_id, UNNEST(ts) AS tok,
        |    UNNEST(GENERATE_SERIES(1, LEN(ts))) AS pos
        |  FROM s),
        |adj AS (
        |  SELECT p1.doc_id, p1.pos, p1.tok AS w1, p2.tok AS w2
        |  FROM p p1 JOIN p p2
        |    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1),
        |top AS (
        |  SELECT w1 AS q1, w2 AS q2 FROM adj GROUP BY w1, w2
        |  ORDER BY COUNT(*) DESC, w1, w2 LIMIT 1)
        |SELECT adj.doc_id, COUNT(*) AS n_occurrences,
        |  CAST(MIN(adj.pos) AS BIGINT) AS first_pos
        |FROM adj JOIN top ON adj.w1 = top.q1 AND adj.w2 = top.q2
        |GROUP BY adj.doc_id
        |ORDER BY adj.doc_id""".stripMargin
    }
  )

  /** Cross-references into the registered surface (q128's fused list is
    * q131's input — shared so the eval can never diverge from what the
    * retriever actually returns).
    */
  private object SparkEntryRefs {
    def hybrid(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
      queries.find(_.name == "q128_hybrid_retrieval").get.run(s, d)
  }
}
