package graft.llm

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared LSH building blocks, used by the batch dedup operators here
  * and the decontamination join (`Pipeline` q62).
  */
private[graft] object Lsh {

  /** SQL for the distinct 64-bit 3-gram shingle hashes of a `tokens`
    * (array<string>) column: one seeded xxhash64 over the three token
    * strings of each window — boundary-aware, no shingle STRING is ever
    * built. `sorted` additionally sorts ascending (the sorted-merge
    * kernel's input contract); leave it false where order is irrelevant
    * (e.g. the array is exploded immediately).
    */
  def shingleHashesSql(sorted: Boolean): String = {
    val distinct =
      """array_distinct(transform(sequence(1, size(tokens) - 2),
        |  i -> xxhash64(element_at(tokens, i), element_at(tokens, i + 1), element_at(tokens, i + 2))))""".stripMargin
    if (sorted) s"sort_array($distinct)" else distinct
  }

  /** Candidate pairs via POSTINGS LISTS, not a bucket self-join: one
    * shuffle groups each bucket key to its member list, pairs expand
    * bucket-locally over the sorted list (so `aName < bName` by
    * construction, no post-filter), and only the cross-bucket `distinct`
    * downstream touches the pair stream. The self-join formulation scans
    * and shuffles the bucket relation twice.
    */
  def bucketPairs(buckets: DataFrame, keys: Seq[String], idCol: String,
      aName: String, bName: String): DataFrame =
    buckets.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(expr(
        s"""flatten(transform(members, (a, i) ->
           |  transform(slice(members, i + 2, size(members)), b ->
           |    struct(a AS $aName, b AS $bName))))""".stripMargin)).as("p"))
      .select(col(s"p.$aName"), col(s"p.$bName"))
}

/** Document deduplication operators for training-data pipelines: exact
  * (canonicalized hash-groupBy), n-gram Jaccard near-dup, MinHash+LSH and
  * SimHash near-dup. Everything is keyed/partitioned — no driver-side
  * state — so the same plans run at 100 TB: the only shuffles are the
  * groupBys on doc/bucket keys and the bucket-local self-joins.
  */
object Dedup {

  /** Distinct word tokens of the document text. */
  private def tokenSet = expr("array_distinct(split(text, ' '))")

  /** DuckDB twin of [[jaccardPairs]] (interpolated into the q24 and q66
    * oracles — defined above `queries`, which reads it eagerly).
    */
  /** Sample size for the q24 ground-truth chain: full exact at every
    * fixture SF (they stop at 5000 documents), a fixed-size md5 slice
    * beyond — same recipe and rationale as Similarity's q49 truth
    * (graft.Ids.sampleKeep): blocked all-pairs is quadratic in block
    * size, so the uncapped validator went super-linear on the 10×
    * derived corpus (exponent 1.57, and its q66/q68 consumers inherited
    * 1.44–1.55) — largely because replica text defeats the lang block
    * (rotated alphabets land in one 'other'-language block). The
    * production path is q25/q112; this chain is the bounded validator.
    */
  final val JaccardTruthSampleTarget: Long = 5000

  private val JaccardPairsSql =
    s"""WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
      |t AS (
      |  SELECT doc_id, lang, n_chars // 50 AS len_bucket,
      |         LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks,
      |         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_toks
      |  FROM documents, cnt
      |  WHERE ${graft.Ids.sampleKeepSql("doc_id", JaccardTruthSampleTarget)}),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    LEN(LIST_INTERSECT(a.toks, b.toks)) AS i,
      |    a.n_toks AS na, b.n_toks AS nb
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket
      |   AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
      |FROM p
      |WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.6""".stripMargin

  /** DuckDB twin of [[connectedComponents]] over the q24 pair graph: the
    * recursive transitive closure labeling each node with its
    * component's minimum id. Interpolated into the q66 AND q68 oracles
    * after a `WITH RECURSIVE pr AS (...)` head — one definition, so the
    * two oracles can never disagree about what a cluster is. Yields
    * `lab(id, cluster_id)`.
    */
  private val ClosureLabelsSql =
    """e AS (SELECT doc_a AS u, doc_b AS v FROM pr
      |      UNION SELECT doc_b, doc_a FROM pr),
      |reach(u, v) AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      |lab AS (
      |  SELECT u AS id, LEAST(u, MIN(v)) AS cluster_id
      |  FROM reach GROUP BY u)""".stripMargin

  /** Blocked exact Jaccard ≥ 0.6 near-dup pairs (q24's body, reused by
    * q66's cluster builder): |A∪B| = |A|+|B|−|A∩B| for the distinct
    * token sets; only the intersection SIZE is computed per pair, via
    * the native merge kernel over per-doc pre-sorted arrays (sort once
    * per document, amortized over every pair in its block; no per-pair
    * hash set or intersection array like array_intersect builds). The
    * merge runs over sorted xxhash64 TOKEN HASHES, not the token
    * strings: one long compare per step instead of a byte-wise string
    * compare, and the per-doc sort is a long sort. |∩| and |set| are
    * unchanged unless two distinct tokens of a compared pair collide in
    * 64 bits (P < 1e-12 per pair at these set sizes).
    */
  def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.registerAll(s)
    // bounded validator: fixed-size deterministic sample beyond the
    // fixture sizes (see JaccardTruthSampleTarget) — the count is a
    // column-pruned plan-time action, the predicate mirrors the oracle's
    val all = Tables(s, d, "documents")
    val n = all.select(col("doc_id")).count()
    val docs = all
      .filter(graft.Ids.sampleKeep("doc_id", n, JaccardTruthSampleTarget))
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 50).cast("long").as("len_bucket"),
        sort_array(expr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t))"))
          .as("toks"))
      .withColumn("n_toks", size(col("toks")))
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"), col("len_bucket"),
      col("toks").as("toks_a"), col("n_toks").as("na"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang"), col("len_bucket"),
      col("toks").as("toks_b"), col("n_toks").as("nb"))
    // length-ratio prune implied by J >= 0.6: min >= 0.6*max (integer
    // form 5*min >= 3*max) — provably answer-preserving. One combined
    // filter, ordered cheap-to-expensive: Catalyst keeps this conjunct
    // order in the join condition, so doc_a < doc_b and the ratio check
    // cut pairs BEFORE the pushed-down intersect kernel evaluates (a
    // split .filter chain reorders to intersect-first: measured 1.6×
    // slower at sf0.1).
    a.join(b, Seq("lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3)
      // threshold form: J >= 0.6 ⟺ i >= 3(na+nb)/8, so the kernel may
      // early-exit with -1 (filtered below) once the bound is unreachable
      .withColumn("i",
        expr("sorted_intersect_count_min(toks_a, toks_b, cast((3 * (na + nb) + 7) div 8 AS int))"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
  }

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q23: exact dedup by canonicalized content (sorted distinct token
    // set). One shuffle on the canonical key; groups >1 are duplicates.
    QueryDef.sql("q23_exact_dedup_groups") { (s, d) =>
      // member_ids is emitted as a comma-joined string (numeric sort first)
      // so the driver's pandas/DuckDB compare can hash the cell; the
      // array-typed grouping itself is covered by exactDedupGroups +
      // DedupSpec.
      exactDedupGroups(s, d)
        .withColumn("member_ids",
          array_join(transform(col("member_ids"), _.cast("string")), ","))
        .select("canonical_id", "n_copies", "member_ids")
        .orderBy("canonical_id")
    } {
      """SELECT MIN(doc_id) AS canonical_id,
        |       COUNT(*) AS n_copies,
        |       STRING_AGG(doc_id, ',' ORDER BY doc_id) AS member_ids
        |FROM documents
        |GROUP BY MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |HAVING COUNT(*) > 1
        |ORDER BY canonical_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q308: DUPLICATE-CLUSTER SIZE HISTOGRAM — the shape of the
    // duplication, not just its volume: how many q23 digest groups have
    // 2, 3, …, 10+ copies, each band's document mass, and the largest
    // cluster's share of all duplicated docs. A boilerplate/empty-doc
    // pathology shows up as ONE giant cluster (fix the extractor); true
    // mirroring shows up as many pairs (run the dedup) — this histogram
    // is how you tell. Digest-keyed single shuffle (the q23 shape),
    // then a ≤10-band census; exact ints, one division.
    QueryDef.sql("q308_dup_cluster_histogram") { (s, d) =>
      val groups = Tables(s, d, "documents")
        .withColumn("canon_key", md5(array_join(sort_array(tokenSet), " ")))
        .groupBy(col("canon_key")).agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1L)
      val tot = groups.agg(sum(col("n_copies")).as("dup_docs"),
        max(col("n_copies")).as("max_cluster"))
      groups
        .withColumn("band", least(col("n_copies"), lit(10L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("n_copies")).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_clusters"), col("n_docs"),
          expr("CAST(n_docs AS DOUBLE) / CAST(dup_docs AS DOUBLE)")
            .as("doc_share"),
          expr("CAST(max_cluster AS DOUBLE) / CAST(dup_docs AS DOUBLE)")
            .as("largest_cluster_share"))
        .orderBy("band")
    } {
      """WITH g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_copies
        |  FROM documents
        |  GROUP BY MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
        |    STRING_SPLIT(text, ' '))), ' '))
        |  HAVING COUNT(*) > 1),
        |tot AS (
        |  SELECT CAST(SUM(n_copies) AS BIGINT) AS dup_docs,
        |    CAST(MAX(n_copies) AS BIGINT) AS max_cluster
        |  FROM g)
        |SELECT LEAST(n_copies, 10) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_copies) AS DOUBLE) / CAST(dup_docs AS DOUBLE)
        |    AS doc_share,
        |  CAST(max_cluster AS DOUBLE) / CAST(dup_docs AS DOUBLE)
        |    AS largest_cluster_share
        |FROM g CROSS JOIN tot
        |GROUP BY LEAST(n_copies, 10), dup_docs, max_cluster
        |ORDER BY band""".stripMargin
    },

    // ------------------------------------------------------------------
    // q305: SHINGLE-SIZE ADVISOR — the parameter table behind q24/q25/
    // q136's fixed shingle width: for k ∈ {2,3,5}, the corpus shingle
    // instance count, distinct count, duplicated-instance share and
    // mean document frequency. Small k → hot shingles (prefix filters
    // lose selectivity, LSH buckets overflow); large k → near-dup
    // recall collapses; this measures the elbow on YOUR corpus instead
    // of guessing (the q267 posture, but data-driven). ONE scan: the
    // (k, position) fan-out happens in-buffer per document (bounded by
    // 3× token count), shingles travel as md5 digests, and everything
    // downstream is a (k, digest)-keyed shrinking agg.
    QueryDef.sql("q305_shingle_size_advisor") { (s, d) =>
      // round 16 (guide §2.3 — shuffle fewer bytes): the grouping key is
      // unhex(md5(...)) — the 16-byte binary digest instead of its
      // 32-char hex rendering. unhex is injective on hex strings, so
      // every distinct count below is IDENTICAL to grouping on the hex
      // text (the oracle's MD5 string), at half the shuffle-key bytes.
      val sh = Tables(s, d, "documents")
        .select(expr("split(text, ' ')").as("toks"))
        .select(explode(expr(
          """flatten(transform(array(2, 3, 5), k ->
            |  transform(sequence(0, greatest(size(toks) - k, 0)),
            |    i -> named_struct('k', CAST(k AS BIGINT),
            |      'sh', unhex(md5(array_join(slice(toks, i + 1, k), ' ')))))))"""
            .stripMargin)).as("x"))
        .select(col("x.k").as("k"), col("x.sh").as("sh"))
      sh.groupBy(col("k"), col("sh")).agg(count(lit(1)).as("c"))
        .groupBy(col("k"))
        .agg(sum(col("c")).as("n_shingles"),
          count(lit(1)).as("n_distinct"))
        .select(col("k"), col("n_shingles"), col("n_distinct"),
          expr("CAST(n_shingles - n_distinct AS DOUBLE) / " +
            "CAST(n_shingles AS DOUBLE)").as("dup_share"),
          expr("CAST(n_shingles AS DOUBLE) / CAST(n_distinct AS DOUBLE)")
            .as("mean_df"))
        .orderBy("k")
    } {
      """WITH t AS (
        |  SELECT STRING_SPLIT(text, ' ') AS toks,
        |    LEN(STRING_SPLIT(text, ' ')) AS n FROM documents),
        |ks AS (SELECT UNNEST([2, 3, 5]) AS k),
        |pos AS (
        |  SELECT k, toks,
        |    UNNEST(generate_series(0, GREATEST(n - k, 0))) AS i
        |  FROM t CROSS JOIN ks),
        |sh AS (
        |  SELECT CAST(k AS BIGINT) AS k,
        |    MD5(ARRAY_TO_STRING(list_slice(toks, i + 1, i + k), ' '))
        |      AS sh
        |  FROM pos),
        |cnt AS (
        |  SELECT k, sh, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM sh GROUP BY k, sh)
        |SELECT k, CAST(SUM(c) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS dup_share,
        |  CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_df
        |FROM cnt GROUP BY k
        |ORDER BY k""".stripMargin
    },

    // ------------------------------------------------------------------
    // q282: DEDUP ROI ESTIMATE — the storage/compute case for running
    // the q23 pass at all, priced per source: documents that would DROP
    // under the canonical keep-min rule (q68's policy over q23's
    // digest), the exact bytes they carry (n_chars — the metadata column
    // q232 audits for trust), and the per-source saving share. This is
    // the number that decides whether dedup runs before or after the
    // expensive enrichment stages at 100 TB. Same digest-keyed single
    // shuffle as q23 (32-byte key per doc, never the body); the
    // canonical relation joins back digest-keyed; all ratios are single
    // divisions of exact int64.
    QueryDef.sql("q282_dedup_roi") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .withColumn("canon_key", md5(array_join(sort_array(tokenSet), " ")))
        .select(col("doc_id"), col("source"), col("n_chars"), col("canon_key"))
      val canon = docs.groupBy(col("canon_key"))
        .agg(min(col("doc_id")).as("canonical_id"))
      docs.join(canon, "canon_key")
        .withColumn("dropped",
          (col("doc_id") =!= col("canonical_id")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("bytes_total"),
          sum(col("dropped")).as("n_dropped"),
          sum(col("dropped") * col("n_chars")).as("bytes_saved"))
        .select(col("source"), col("n_docs"), col("bytes_total"),
          col("n_dropped"), col("bytes_saved"),
          expr("CAST(bytes_saved AS DOUBLE) / CAST(bytes_total AS DOUBLE)")
            .as("saving_share"))
        .orderBy("source")
    } {
      """WITH dg AS (
        |  SELECT doc_id, source, n_chars,
        |    MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
        |      STRING_SPLIT(text, ' '))), ' ')) AS canon_key
        |  FROM documents),
        |canon AS (
        |  SELECT canon_key, MIN(doc_id) AS canonical_id
        |  FROM dg GROUP BY canon_key),
        |f AS (
        |  SELECT source, n_chars,
        |    CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END AS dropped
        |  FROM dg JOIN canon USING (canon_key))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
        |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
        |  CAST(SUM(dropped * n_chars) AS BIGINT) AS bytes_saved,
        |  CAST(SUM(dropped * n_chars) AS DOUBLE)
        |    / CAST(SUM(n_chars) AS DOUBLE) AS saving_share
        |FROM f GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q132: CROSS-SOURCE DUPLICATION MATRIX — which sources mirror which:
    // exact-duplicate PAIR counts between every source pair (and within
    // each source), from q23's canonical digest. The provenance triage
    // behind dedup policy: a hot (src_a, src_b) cell means one feed
    // syndicates the other, and the keep/drop rule should prefer the
    // canonical feed corpus-wide rather than per-document. NO pair
    // expansion anywhere — a hub digest (boilerplate, empty docs) with
    // g copies would cost O(g²) in a naive self-join; instead the digest
    // groups aggregate to per-(digest, source) COUNTS and the matrix is
    // count arithmetic: cross cells c_a·c_b via a digest-keyed join whose
    // per-digest fan-out is bounded by the SOURCE count (not the copy
    // count), intra cells C(c,2) with no join at all. Two keyed aggs +
    // one bounded join — scale-safe against any duplication skew.
    QueryDef.sql("q132_cross_source_dup_matrix") { (s, d) =>
      val cnt = Tables(s, d, "documents")
        .withColumn("canon_key", md5(array_join(sort_array(tokenSet), " ")))
        .groupBy(col("canon_key"), col("source"))
        .agg(count(lit(1)).as("c"))
      val a = cnt.select(col("canon_key"), col("source").as("src_a"), col("c").as("ca"))
      val b = cnt.select(col("canon_key").as("ck_b"), col("source").as("src_b"),
        col("c").as("cb"))
      val cross = a.join(b,
        col("canon_key") === col("ck_b") && col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), (col("ca") * col("cb")).as("n"))
      val intra = cnt.filter(col("c") > 1)
        .select(col("source").as("src_a"), col("source").as("src_b"),
          expr("(c * (c - 1)) DIV 2").as("n")) // integer division — `/` would widen to double
      cross.unionByName(intra)
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("n")).as("n_dup_pairs"))
        .orderBy("src_a", "src_b")
    } {
      """WITH cnt AS (
        |  SELECT MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |      AS canon_key,
        |    source, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cells AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.c * b.c AS n
        |  FROM cnt a JOIN cnt b
        |    ON a.canon_key = b.canon_key AND a.source < b.source
        |  UNION ALL
        |  SELECT source, source, c * (c - 1) // 2 FROM cnt WHERE c > 1)
        |SELECT src_a, src_b, CAST(SUM(n) AS BIGINT) AS n_dup_pairs
        |FROM cells GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q24: exact n-gram (word-set) Jaccard near-dup pairs, blocked by
    // (lang, length bucket) so the pair space stays bucket-local — the
    // quadratic blow-up is bounded per block, and the join shuffles on
    // the block key only. ROLE AT SCALE: this is the ground-truth /
    // sample-validation operator (within-block all-pairs is quadratic in
    // block size); the production near-dup path at corpus scale is q25
    // (MinHash+LSH, bucketed candidates), validated against this one.
    QueryDef.sql("q24_jaccard_near_dup_pairs") { (s, d) =>
      jaccardPairs(s, d).orderBy("doc_a", "doc_b")
    } {
      s"""$JaccardPairsSql
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q136: PREFIX-FILTER EXACT SET-SIMILARITY SELF-JOIN (SSJoin /
    // PPJoin, Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) — the EXACT
    // production answer to near-dup on q25's own measure (3-gram shingle
    // Jaccard ≥ 0.6), complementing the approximate LSH path: every true
    // pair, no bands, no sampling, no recall loss. The answer-preserving
    // prune: under one global shingle order (df ascending, rarest
    // first), any pair with J ≥ t must share its smallest-ordered common
    // shingle inside BOTH docs' prefixes of length n − ceil(t·n) + 1 —
    // so the candidate join touches only prefix shingles (~(1−t)·n per
    // doc), each by construction among its doc's RAREST, capping the
    // per-key fan-out a hot-shingle join would suffer (residual skew is
    // an AQE-skew-split case). Candidates verify with the early-exit
    // sorted-intersect kernel; the length-ratio prune (5·min ≥ 3·max) is
    // implied by J ≥ 0.6. Shape at scale: one shingle shuffle for df +
    // prefix rank, one prefix-shingle shuffle for candidates, doc-keyed
    // verify legs — every stage keyed, nothing quadratic in the corpus.
    // Oracle builds STRING shingles (Jaccard over xxhash64'd shingles
    // equals Jaccard over the strings absent an in-pair 64-bit
    // collision — the q25 precedent).
    QueryDef.sql("q136_prefix_filter_simjoin") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      // freeze: the shingle relation feeds four consumers (df agg,
      // prefix rank, both verify legs) — without the checkpoint each
      // would re-tokenize and re-hash the corpus
      val docs = graft.Checkpoints.checkpointLazy(
        Tables(s, d, "documents")
          .withColumn("tokens", split(col("text"), " "))
          .select(col("doc_id"),
            expr(Lsh.shingleHashesSql(sorted = true)).as("toks"))
          .withColumn("n_toks", size(col("toks"))))
      val toksRel = docs.select(col("doc_id"), col("n_toks"),
        explode(col("toks")).as("tok"))
      val dfRel = toksRel.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // per-doc df-rank; prefix length n − ceil(0.6n) + 1 (ceil(3n/5) =
      // (3n+4) DIV 5). The window partitions by the high-cardinality
      // doc_id and sorts each doc's own tokens — bounded by doc length.
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)
      val prefix = toksRel.join(dfRel, "tok")
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <= col("n_toks") - expr("(3 * n_toks + 4) DIV 5") + 1)
        .select(col("doc_id"), col("n_toks"), col("tok"))
      val pa = prefix.select(col("tok"), col("doc_id").as("doc_a"), col("n_toks").as("na"))
      val pb = prefix.select(col("tok").as("tok_b"), col("doc_id").as("doc_b"),
        col("n_toks").as("nb"))
      val cand = pa.join(pb, col("tok") === col("tok_b") &&
        col("doc_a") < col("doc_b") &&
        col("na") * 5 >= col("nb") * 3 && col("nb") * 5 >= col("na") * 3)
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .distinct()
      val la = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val lb = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      cand.join(la, "doc_a").join(lb, "doc_b")
        .withColumn("i", expr(
          "sorted_intersect_count_min(toks_a, toks_b, cast((3 * (na + nb) + 7) div 8 AS int))"))
        .withColumn("jaccard",
          col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
        .filter(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    } {
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |docs AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
        |  FROM toks),
        |sized AS (SELECT doc_id, sh, LEN(sh) AS n FROM docs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    LEN(LIST_INTERSECT(a.sh, b.sh)) AS i, a.n AS na, b.n AS nb
        |  FROM sized a JOIN sized b
        |    ON a.doc_id < b.doc_id
        |    AND a.n * 5 >= b.n * 3 AND b.n * 5 >= a.n * 3)
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
        |FROM pairs
        |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q146: DIRECTIONAL CONTAINMENT-SIMILARITY JOIN — C(A→B) =
    // |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 over the q25/q136 3-gram shingle
    // measure. Jaccard misses asymmetric duplication (a short document
    // quoted whole inside a much longer one drives J → |A|/|B| → 0 while
    // C(A→B) = 1); this is the quote/boilerplate-inclusion detector, the
    // set-containment join of the JOSIE/PPJoin literature. EXACT, via
    // the one-sided prefix filter: if C(A→B) ≥ t then at most
    // na − ceil(t·na) of A's shingles miss B, so A must share one of its
    // (na − ceil(t·na) + 1) RAREST shingles (global df-ascending order)
    // with B — the probe side joins only those, the indexed side keeps
    // ALL postings (containment constrains nothing about B's extras, so
    // B's prefix cannot be pruned — the asymmetry vs q136). Rare probe
    // tokens meet short posting lists, capping fan-out; the verify leg
    // is the early-exit sorted-intersect kernel with minRequired =
    // ceil(t·na), and the integer form 5·i ≥ 4·na decides the threshold
    // with no float compare. Oracle: exact postings-join intersection
    // counts over string shingles (the q136 hash-vs-string precedent).
    QueryDef.sql("q146_containment_join") { (s, d) =>
      graft.GraftExtensions.registerAll(s)
      val docs = graft.Checkpoints.checkpointLazy(
        Tables(s, d, "documents")
          .withColumn("tokens", split(col("text"), " "))
          .select(col("doc_id"),
            expr(Lsh.shingleHashesSql(sorted = true)).as("toks"))
          .withColumn("n_toks", size(col("toks")))
          .filter(col("n_toks") > 0))
      val toksRel = docs.select(col("doc_id"), col("n_toks"),
        explode(col("toks")).as("tok"))
      val dfRel = toksRel.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // probe prefix: rarest na − ceil(4·na/5) + 1 shingles per doc
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df").asc, col("tok").asc)
      val prefix = toksRel.join(dfRel, "tok")
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <= col("n_toks") - expr("(4 * n_toks + 4) DIV 5") + 1)
        .select(col("tok"), col("doc_id").as("doc_a"), col("n_toks").as("na"))
      val postings = toksRel.select(col("tok").as("tok_b"),
        col("doc_id").as("doc_b"), col("n_toks").as("nb"))
      val cand = prefix.join(postings, col("tok") === col("tok_b") &&
        col("doc_a") =!= col("doc_b") &&
        // i ≤ nb, so nb must reach ceil(4·na/5)
        col("nb") * 5 >= col("na") * 4)
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .distinct()
      val la = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
      val lb = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
      cand.join(la, "doc_a").join(lb, "doc_b")
        .withColumn("i", expr(
          "sorted_intersect_count_min(toks_a, toks_b, cast((4 * na + 4) div 5 AS int))"))
        .filter(col("i") * 5 >= col("na") * 4)
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
          (col("i").cast("double") / col("na").cast("double"))
            .as("containment"))
        .orderBy("doc_a", "doc_b")
    } {
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |docs AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
        |  FROM toks),
        |sized AS (
        |  SELECT doc_id, sh, LEN(sh) AS n FROM docs WHERE LEN(sh) > 0),
        |post AS (SELECT doc_id, n, UNNEST(sh) AS s FROM sized),
        |ov AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.n AS na, b.n AS nb, COUNT(*) AS i
        |  FROM post a JOIN post b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, na, nb,
        |  CAST(i AS DOUBLE) / CAST(na AS DOUBLE) AS containment
        |FROM ov WHERE i * 5 >= na * 4
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q25: MinHash + LSH near-dup (the 100 TB scale path): 3-word
    // shingles → 32 min-hash signatures → 8 bands of 4 → bucket-join for
    // candidates → exact Jaccard verification. Hash-specific, so no SQL
    // oracle; DedupSpec asserts candidates ⊇ verified pairs and recall
    // against q24's exhaustive answer.
    QueryDef.noOracle("q25_minhash_lsh_dedup")(minhashDedup),

    // ------------------------------------------------------------------
    // q26: SimHash near-dup: 64-bit token-hash sign aggregate →
    // fingerprint; 4×16-bit bands bucket candidates (pigeonhole: hamming
    // ≤ 3 ⇒ at least one band identical); pairs kept at hamming ≤ 3.
    QueryDef.noOracle("q26_simhash_dedup")(simhashDedup),

    // ------------------------------------------------------------------
    // q66: near-dup pairs → DEDUP CLUSTERS via connected components
    // (min-label propagation). Pairwise similarity is not transitive —
    // A~B and B~C does not give A~C — so the keep-one-per-group decision
    // needs the transitive closure of the pair graph, which every real
    // dedup pipeline computes and plain SQL group-by cannot express.
    // cluster_id = the component's minimum doc id (its canonical doc).
    // Oracle: recursive CTE over the same pair SQL.
    QueryDef.sql("q66_dedup_clusters") { (s, d) =>
      val cc = connectedComponents(jaccardPairs(s, d), "doc_a", "doc_b")
      cc.groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))), _.cast("string")), ",")
            .as("member_ids"))
        .orderBy("cluster_id")
    } {
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |$ClosureLabelsSql
         |SELECT cluster_id, COUNT(*) AS n_members,
         |  STRING_AGG(id, ',' ORDER BY id) AS member_ids
         |FROM lab
         |GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q68: CANONICAL DOC SELECTION — the decision q66's clusters exist
    // for: within each near-dup cluster keep ONE representative (longest
    // document, doc_id as the tie-break) and name what gets dropped.
    // This closes the dedup pipeline end-to-end: pairs (q24) → clusters
    // (q66) → per-cluster keep/drop (here). The keep rule is a window
    // row_number over the cluster — cluster partitions are near-dup
    // groups (a handful of docs), so the single-task-per-partition
    // window shape that q48 documents as a scale hazard is safe here by
    // construction. Oracle: the q66 recursive CTE joined back to
    // documents with the same window.
    QueryDef.sql("q68_canonical_docs") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cc = connectedComponents(jaccardPairs(s, d), "doc_a", "doc_b")
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("id"))
      cc.join(docs, cc("id") === docs("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(
          max(when(col("rn") === 1, col("id"))).as("keep_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
          (count(lit(1)) - 1).as("n_dropped"),
          array_join(transform(sort_array(collect_list(when(col("rn") > 1, col("id")))),
            _.cast("string")), ",").as("dropped_ids"))
        .orderBy("cluster_id")
    } {
      s"""WITH RECURSIVE pr AS ($JaccardPairsSql),
         |$ClosureLabelsSql,
         |rk AS (
         |  SELECT l.cluster_id, l.id, doc.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY doc.n_chars DESC, l.id) AS rn
         |  FROM lab l JOIN documents doc ON l.id = doc.doc_id)
         |SELECT cluster_id,
         |  MAX(CASE WHEN rn = 1 THEN id END) AS keep_id,
         |  MAX(CASE WHEN rn = 1 THEN n_chars END) AS keep_chars,
         |  COUNT(*) - 1 AS n_dropped,
         |  STRING_AGG(CASE WHEN rn > 1 THEN id END, ',' ORDER BY id) AS dropped_ids
         |FROM rk
         |GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q112: the PRODUCTION dedup pipeline end-to-end — the scale twin of
    // the q24→q66→q68 chain, which is bound to the quadratic jaccard
    // ground truth by its oracle (measured exponent 1.44–1.57 on the 10×
    // corpus — inherited from the validator input, by design). This one
    // runs the path a 100 TB corpus actually takes: banded MinHash+LSH
    // candidates → exact shingle-Jaccard verification (q25) → distributed
    // connected components → per-cluster canonical keep/drop. Every stage
    // is bucketed/banded — nothing quadratic anywhere — so the whole
    // pipeline scales like its pair count (linear in corpus for a fixed
    // dup rate). Pairs are hash-family-specific → no SQL oracle; the
    // q113 gate anchors its cluster integrity to an oracle-computable
    // exact-duplicate truth, and DedupSpec checks it against the q68
    // shape on the shared-measure subset.
    QueryDef.noOracle("q112_dedup_pipeline_scalable") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cc = scalableClusterLabels(s, d)
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("id"))
      cc.join(docs, cc("id") === docs("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(
          max(when(col("rn") === 1, col("id"))).as("keep_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
          (count(lit(1)) - 1).as("n_dropped"),
          array_join(transform(sort_array(collect_list(when(col("rn") > 1, col("id")))),
            _.cast("string")), ",").as("dropped_ids"))
        .orderBy("cluster_id")
    },

    // ------------------------------------------------------------------
    // q70: CROSS-SOURCE DUPLICATE LEAKAGE — for every pair of corpus
    // sources, how many document pairs share identical canonical content
    // (q23's digest). This is the governance view of exact dedup: a
    // benchmark or scraped page appearing under several sources inflates
    // the mixture weights q63 computes and leaks eval data across
    // supposedly independent slices. Shape: one scan computes the
    // 32-byte digest, an explicit repartition on the digest makes the
    // keyed relation ONE exchange that the self-join's both sides reuse
    // (without it each side re-scans documents and re-computes the md5),
    // and the join is co-partitioned — no further shuffle. Dup groups
    // are tiny, so join fan-out stays ~linear; never a doc×doc product.
    QueryDef.sql("q70_cross_source_leakage") { (s, d) =>
      val keyed = Tables(s, d, "documents")
        .select(col("source"),
          md5(array_join(sort_array(tokenSet), " ")).as("canon_key"))
        .repartition(col("canon_key"))
      val a = keyed.select(col("canon_key"), col("source").as("source_a"))
      val b = keyed.select(col("canon_key"), col("source").as("source_b"))
      a.join(b, Seq("canon_key"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    } {
      """WITH k AS (
        |  SELECT doc_id, source,
        |    MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |      AS canon_key
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS n_dup_pairs
        |FROM k a JOIN k b ON a.canon_key = b.canon_key AND a.source < b.source
        |GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q96: INCREMENTAL DEDUP AUDIT — the daily-ingest form of exact
    // dedup: treat the md5-hash half 0 of the corpus as the existing
    // snapshot and half 1 as today's increment, and report per language
    // how much of the increment is already in the base (same q23
    // canonical digest) vs genuinely new distinct content. All joins
    // move the 32-byte digest, never document bodies; in production the
    // increment side is small relative to base, and both the semi and
    // anti join share one exchange pair on the digest key.
    QueryDef.sql("q96_incremental_dedup_audit") { (s, d) =>
      val half = graft.Ids.hash("doc_id") % 2
      val dd = Tables(s, d, "documents")
        .select(col("lang"),
          md5(array_join(sort_array(tokenSet), " ")).as("canon_key"),
          half.as("half"))
      val base = dd.filter(col("half") === 0).select("canon_key").distinct()
      val inc = dd.filter(col("half") === 1).select("lang", "canon_key")
      val nInc = inc.groupBy(col("lang")).agg(count(lit(1)).as("n_inc"))
      val hit = inc.join(base, Seq("canon_key"), "left_semi")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_dup_vs_base"))
      val fresh = inc.join(base, Seq("canon_key"), "left_anti")
        .groupBy(col("lang"))
        .agg(countDistinct(col("canon_key")).as("n_new_distinct"))
      nInc
        .join(hit, Seq("lang"), "left_outer")
        .join(fresh, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_inc"),
          coalesce(col("n_dup_vs_base"), lit(0L)).as("n_dup_vs_base"),
          coalesce(col("n_new_distinct"), lit(0L)).as("n_new_distinct"))
        .orderBy("lang")
    } {
      s"""WITH dd AS (
        |  SELECT lang,
        |    MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |      AS canon_key,
        |    ${graft.Ids.hashSql("doc_id")} % 2 AS half
        |  FROM documents),
        |b AS (SELECT DISTINCT canon_key FROM dd WHERE half = 0),
        |i AS (SELECT lang, canon_key FROM dd WHERE half = 1),
        |n AS (SELECT lang, COUNT(*) AS n_inc FROM i GROUP BY lang),
        |h AS (
        |  SELECT lang, COUNT(*) AS n_dup_vs_base FROM i
        |  WHERE canon_key IN (SELECT canon_key FROM b) GROUP BY lang),
        |f AS (
        |  SELECT lang, COUNT(DISTINCT canon_key) AS n_new_distinct FROM i
        |  WHERE canon_key NOT IN (SELECT canon_key FROM b) GROUP BY lang)
        |SELECT n.lang, n.n_inc,
        |  CAST(COALESCE(h.n_dup_vs_base, 0) AS BIGINT) AS n_dup_vs_base,
        |  CAST(COALESCE(f.n_new_distinct, 0) AS BIGINT) AS n_new_distinct
        |FROM n LEFT JOIN h ON n.lang = h.lang LEFT JOIN f ON n.lang = f.lang
        |ORDER BY n.lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q150: CDC MERGE-APPLY AUDIT — the MERGE INTO / changelog-apply
    // shape relationally, with its own proof of correctness. A base
    // snapshot (the deterministic even md5-half) receives a changelog:
    // deletes (h % 200 = 0), updates (h % 200 = 2, modeled as a +3
    // content-length change), inserts (the odd half). The APPLY path is
    // what an incremental 100 TB pipeline runs nightly: one anti-join of
    // the base against the touched-key set, union the updated versions
    // and the inserts — never a full rebuild. The EXPECTED relation is
    // built independently by a single CASE over the full table (the
    // from-scratch rebuild), and the audit compares per-source row
    // counts and an order-free BIT_XOR content digest of (doc_id, final
    // length) — if apply and rebuild diverge on ANY row, a digest flips.
    // Both engines compute both paths; `matches` must read true on
    // every source row.
    QueryDef.sql("q150_cdc_merge_audit") { (s, d) =>
      val h = graft.Ids.hash("doc_id")
      val dd = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), h.as("h"))
      val base = dd.filter(col("h") % 2 === 0)
      val deletes = base.filter(col("h") % 200 === 0).select(col("doc_id"))
      val updates = base.filter(col("h") % 200 === 2)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 3).as("n_chars"))
      val inserts = dd.filter(col("h") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val touched = deletes.unionAll(updates.select(col("doc_id")))
      val applied = base.select(col("doc_id"), col("source"), col("n_chars"))
        .join(touched, Seq("doc_id"), "left_anti")
        .unionAll(updates)
        .unionAll(inserts)
      val rebuilt = dd.filter(!(col("h") % 2 === 0 && col("h") % 200 === 0))
        .select(col("doc_id"), col("source"),
          when(col("h") % 2 === 0 && col("h") % 200 === 2,
            col("n_chars") + 3).otherwise(col("n_chars")).as("n_chars"))
      def audit(df: DataFrame, nc: String, dc: String) =
        df.withColumn("chk", graft.Ids.hash(
            "(CAST(doc_id AS STRING) || ':' || CAST(n_chars AS STRING))"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as(nc), expr("bit_xor(chk)").as(dc))
      audit(applied, "n_applied", "digest_applied")
        .join(audit(rebuilt, "n_rebuilt", "digest_rebuilt"), "source")
        .select(col("source"), col("n_applied"), col("n_rebuilt"),
          col("digest_applied"), col("digest_rebuilt"),
          (col("n_applied") === col("n_rebuilt") &&
            col("digest_applied") === col("digest_rebuilt")).as("matches"))
        .orderBy("source")
    } {
      s"""WITH dd AS (
         |  SELECT doc_id, source, n_chars,
         |    ${graft.Ids.hashSql("doc_id")} AS h
         |  FROM documents),
         |base AS (SELECT * FROM dd WHERE h % 2 = 0),
         |applied AS (
         |  SELECT doc_id, source, n_chars FROM base
         |  WHERE h % 200 <> 0 AND h % 200 <> 2
         |  UNION ALL
         |  SELECT doc_id, source, n_chars + 3 FROM base WHERE h % 200 = 2
         |  UNION ALL
         |  SELECT doc_id, source, n_chars FROM dd WHERE h % 2 = 1),
         |rebuilt AS (
         |  SELECT doc_id, source,
         |    CASE WHEN h % 2 = 0 AND h % 200 = 2 THEN n_chars + 3
         |         ELSE n_chars END AS n_chars
         |  FROM dd WHERE NOT (h % 2 = 0 AND h % 200 = 0)),
         |a AS (
         |  SELECT source, COUNT(*) AS n_applied,
         |    BIT_XOR(${graft.Ids.hashSql(
              "(CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR))")})
         |      AS digest_applied
         |  FROM applied GROUP BY source),
         |r AS (
         |  SELECT source, COUNT(*) AS n_rebuilt,
         |    BIT_XOR(${graft.Ids.hashSql(
              "(CAST(doc_id AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR))")})
         |      AS digest_rebuilt
         |  FROM rebuilt GROUP BY source)
         |SELECT a.source, a.n_applied, r.n_rebuilt,
         |  a.digest_applied, r.digest_rebuilt,
         |  (a.n_applied = r.n_rebuilt
         |    AND a.digest_applied = r.digest_rebuilt) AS matches
         |FROM a JOIN r ON a.source = r.source
         |ORDER BY a.source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q126: CROSS-DOC REPEATED-SPAN FINDER — the ExactSubstr operator of
    // Lee et al., "Deduplicating Training Data Makes Language Models
    // Better" (ACL'22): find maximal runs of ≥ MinSpanTokens consecutive
    // shared tokens between document pairs (the memorization-prone spans
    // their suffix-array pipeline removes). Re-expressed relationally
    // instead of via a suffix array: 5-token rolling shingles (md5-hashed
    // to 60-bit ints on BOTH engines — q107's trick), a frequent-shingle
    // guard (df ≤ 16 docs, q62's posture: boilerplate shingles are
    // governance findings, not pair evidence), postings-list pair
    // expansion (simhashDedup's shape — one shuffle on the shingle key,
    // no self-join), then the classic gaps-and-islands run detection on
    // each (doc_a, doc_b, diagonal): consecutive positions on one
    // diagonal ARE a shared token run (pos − row_number() is
    // run-constant). Output: per pair, the span count, longest span, and
    // total span token mass.
    //
    // Shape at 100 TB: shingling is linear in tokens; the only
    // corpus-scale shuffle keys on the 60-bit shingle hash; per-key
    // postings are bounded by the df guard, so pair fan-out is bounded
    // by true repeated structure; the diagonal windows partition on
    // (doc_a, doc_b, diag) — unbounded-cardinality keys. All-integer
    // arithmetic end-to-end → oracle hash-matches.
    QueryDef.sql("q126_repeated_spans") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sh = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        // barrier: materialize toks once before the 5-reference transform
        // (q114's posture)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 4),
            |  i -> named_struct('pos', i,
            |    'g', cast(conv(substring(md5(
            |           concat_ws(' ', slice(toks, i, 5))), 1, 15), 16, 10) AS bigint)))"""
            .stripMargin)).as("sh"))
        .select(col("doc_id"), col("sh.pos").as("pos"), col("sh.g").as("g"))
      val rare = sh.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") <= 16).select("g")
      val pairs = sh.join(rare, Seq("g"))
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("m"))
        .filter(size(col("m")) > 1)
        .select(explode(expr(
          """filter(
            |  flatten(transform(m, (a, i) ->
            |    transform(slice(m, i + 2, size(m)), b ->
            |      named_struct('da', a.doc_id, 'pa', a.pos,
            |                   'db', b.doc_id, 'pb', b.pos)))),
            |  x -> x.da < x.db)""".stripMargin)).as("p"))
        .select(col("p.da").as("da"), col("p.db").as("db"),
          (col("p.pa") - col("p.pb")).as("diag"), col("p.pa").as("pa"))
        // round 17 (guide §2.4 — share one exchange): partitioning by
        // (da, db) satisfies EVERY downstream clustered distribution by
        // the partition-keys-⊆-required-keys rule — the distinct's
        // (da,db,diag,pa), the diagonal window's (da,db,diag), the span
        // aggregation's (da,db,diag,grp) and the final per-pair rollup's
        // (da,db) — so ONE exchange replaces the three the planner
        // otherwise inserts (distinct + window + final agg). The distinct
        // itself stays: it is the oracle-shared dedup of multi-occurrence
        // shingle matches. Map-side partial dedup is lost, but a
        // (da,db,diag,pa) row is unique per (occurrence-a, occurrence-b)
        // pair by construction, so the partial pass was shrinking
        // nothing.
        .repartition(col("da"), col("db"))
        .distinct()
      val w = Window.partitionBy(col("da"), col("db"), col("diag")).orderBy(col("pa"))
      pairs
        .withColumn("grp", col("pa") - row_number().over(w))
        .groupBy(col("da"), col("db"), col("diag"), col("grp"))
        .agg((count(lit(1)) + lit(4)).as("span_tokens"))
        .filter(col("span_tokens") >= 12)
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("n_spans"), max(col("span_tokens")).as("max_span"),
          sum(col("span_tokens")).as("span_mass"))
        .orderBy("da", "db")
    } {
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 5),
        |sh AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || SUBSTRING(MD5(
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |      toks[i+3] || ' ' || toks[i+4]), 1, 15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, toks,
        |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS i FROM t)),
        |rare AS (SELECT g FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) <= 16),
        |shg AS (SELECT sh.* FROM sh JOIN rare USING (g)),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        |    a.pos - b.pos AS diag, a.pos AS pa
        |  FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, diag,
        |    pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        |  FROM p),
        |spans AS (
        |  SELECT da, db, diag, grp, COUNT(*) + 4 AS span_tokens
        |  FROM runs GROUP BY da, db, diag, grp
        |  HAVING COUNT(*) + 4 >= 12)
        |SELECT da, db,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(MAX(span_tokens) AS BIGINT) AS max_span,
        |  CAST(SUM(span_tokens) AS BIGINT) AS span_mass
        |FROM spans GROUP BY da, db
        |ORDER BY da, db""".stripMargin
    },

    // ------------------------------------------------------------------
    // q231: NORMALIZATION-UPLIFT DEDUP AUDIT — how many duplicate
    // groups does text normalization (lowercase, whitespace collapse,
    // punctuation strip) surface that raw exact-digest dedup (q23's
    // contract) misses? The decision this prices: whether the exact
    // pass should run on normalized digests (catching case/format
    // echoes) at the cost of treating deliberate casing variants as
    // dups. One scan computes BOTH digests; two digest-keyed counts;
    // exact integers. The normalized group count can only be ≤ the raw
    // one (normalization is a function — spec-asserted).
    QueryDef.sql("q231_normalization_uplift") { (s, d) =>
      val norm = "regexp_replace(lower(regexp_replace(text, '[.,!?;:]', '')), ' +', ' ')"
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("raw_digest"),
          md5(expr(norm)).as("norm_digest"))
      def groups(c: String, tag: String) = docs.groupBy(col(c))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(when(col("sz") > 1, col("sz")).otherwise(0L))
            .as("n_docs_in_dups"))
        .select(lit(tag).as("digest"), col("n_groups"),
          col("n_dup_groups"), col("n_docs_in_dups"))
      groups("raw_digest", "raw").unionAll(groups("norm_digest", "normalized"))
        .orderBy("digest")
    } {
      """WITH docs AS (
        |  SELECT doc_id, MD5(text) AS raw_digest,
        |    MD5(REGEXP_REPLACE(LOWER(
        |      REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')), ' +', ' ', 'g'))
        |      AS norm_digest
        |  FROM documents),
        |r AS (
        |  SELECT 'raw' AS digest, COUNT(*) AS n_groups,
        |    CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_groups,
        |    CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
        |      AS n_docs_in_dups
        |  FROM (SELECT COUNT(*) AS sz FROM docs GROUP BY raw_digest)),
        |n AS (
        |  SELECT 'normalized', COUNT(*),
        |    CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS sz FROM docs GROUP BY norm_digest))
        |SELECT * FROM r UNION ALL SELECT * FROM n
        |ORDER BY digest""".stripMargin
    },

    // ------------------------------------------------------------------
    // q329: SPAN-REMOVAL PLAN — the removal half of Lee et al.'s
    // ExactSubstr dedup (q126 finds the pair evidence; this prices the
    // CUT): every token position covered by a 5-gram that occurs ≥ 2
    // times ANYWHERE in the corpus (cross-doc or within-doc — the paper
    // removes both) is "duplicated"; overlapping/adjacent duplicated
    // grams merge into maximal spans (gaps-and-islands per doc), and the
    // plan reports, per source, how many docs are affected and what
    // fraction of their token mass span-removal would cut. This is the
    // go/no-go relation a curation team reads before running destructive
    // span dedup.
    //
    // Shape at 100 TB: shingling is linear in tokens; gram multiplicity
    // is a WINDOW count over the gram key (q76's one-scan posture — an
    // agg+join-back would plan the explode subtree twice; a corpus-hot
    // gram costs one skewed window key, never a pair fan-out — and
    // UNLIKE q126 this never expands postings into pairs at all); the
    // island windows partition on doc_id (doc-length bounded); the
    // totals scan is column-pruned (source, text). All-integer span
    // arithmetic; the one double is a final ratio of exact int64s.
    QueryDef.sql("q329_span_removal_plan") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sh = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        // barrier: materialize toks once before the 5-reference transform
        // (q114's posture)
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(toks) - 4),
            |  i -> named_struct('pos', i,
            |    'g', cast(conv(substring(md5(
            |           concat_ws(' ', slice(toks, i, 5))), 1, 15), 16, 10) AS bigint)))"""
            .stripMargin)).as("sh"))
        .select(col("doc_id"), col("source"),
          col("sh.pos").as("pos"), col("sh.g").as("g"))
      val dup = sh
        .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("occ") >= 2)
        .withColumn("end", col("pos") + lit(4))
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = dup
        .withColumn("prev_end", max(col("end")).over(wPrev))
        .withColumn("brk",
          when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("brk")).over(wCum))
        .groupBy(col("doc_id"), col("source"), col("isl"))
        .agg((max(col("end")) - min(col("pos")) + 1).as("span_tokens"))
      val perDoc = spans.groupBy(col("doc_id"), col("source"))
        .agg(sum(col("span_tokens")).as("dup_tokens"),
          max(col("span_tokens")).as("doc_max_span"))
      val totals = Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("total_tokens"))
      totals.join(perDoc, Seq("source"), "left")
        .groupBy(col("source"), col("n_docs"), col("total_tokens"))
        .agg(count(col("doc_id")).as("affected_docs"),
          coalesce(sum(col("dup_tokens")), lit(0L)).as("dup_span_tokens"),
          coalesce(max(col("doc_max_span")), lit(0L)).as("max_span"))
        .withColumn("removal_share",
          col("dup_span_tokens").cast("double") / col("total_tokens").cast("double"))
        .select("source", "n_docs", "total_tokens", "affected_docs",
          "dup_span_tokens", "max_span", "removal_share")
        .orderBy("source")
    } {
      """WITH t AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS toks FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 5),
        |sh AS (
        |  SELECT doc_id, source, i AS pos, i + 4 AS pend,
        |    CAST(('0x' || SUBSTRING(MD5(
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |      toks[i+3] || ' ' || toks[i+4]), 1, 15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, source, toks,
        |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS i FROM t)),
        |occ AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
        |dup AS (SELECT sh.* FROM sh JOIN occ USING (g)),
        |isl AS (
        |  SELECT doc_id, source, pos, pend,
        |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM (SELECT *, MAX(pend) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |        FROM dup)),
        |spans AS (
        |  SELECT doc_id, source, isl, MAX(pend) - MIN(pos) + 1 AS span_tokens
        |  FROM isl GROUP BY doc_id, source, isl),
        |perdoc AS (
        |  SELECT doc_id, source, SUM(span_tokens) AS dup_tokens,
        |    MAX(span_tokens) AS doc_max_span
        |  FROM spans GROUP BY doc_id, source),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source)
        |SELECT t.source, t.n_docs, t.total_tokens,
        |  CAST(COUNT(p.doc_id) AS BIGINT) AS affected_docs,
        |  CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_span_tokens,
        |  CAST(COALESCE(MAX(p.doc_max_span), 0) AS BIGINT) AS max_span,
        |  CAST(COALESCE(SUM(p.dup_tokens), 0) AS DOUBLE)
        |    / CAST(t.total_tokens AS DOUBLE) AS removal_share
        |FROM tot t LEFT JOIN perdoc p ON t.source = p.source
        |GROUP BY t.source, t.n_docs, t.total_tokens
        |ORDER BY t.source""".stripMargin
    }
  )

  /** Connected components of an undirected edge list by iterative
    * MIN-LABEL PROPAGATION: every node starts labeled with its own id;
    * each round, a node takes the minimum label among itself and its
    * neighbors; at convergence the label is the component's minimum id.
    * Returns (id, cluster_id) for every node incident to an edge.
    *
    * Scale shape: each round is two joins + one keyed aggregation
    * (shuffles on node id) — the neighbor step plus a POINTER-JUMPING
    * step (label := label of label), so convergence takes
    * O(log diameter) rounds, not O(diameter). Every round ends in an
    * EAGER localCheckpoint: without the lineage cut the labels plan
    * nests itself (labels feeds both join sides), the logical tree
    * doubles per round, and analysis OOMs around round ~15 even though
    * the data is tiny — caching shortcuts execution, not plan size.
    * The labels-sum convergence test is exact: labels only ever
    * decrease, so an unchanged sum means an unchanged labeling.
    */
  /** Edge-count threshold below which [[connectedComponents]] collapses
    * to a single-pass driver union-find: a near-dup pair graph is tiny
    * relative to its corpus (pairs ≈ duplicates only) — milliseconds of
    * union-find versus several distributed rounds of joins. Sized for
    * JVM OBJECT overhead, not raw longs: the driver holds the parent
    * LongMap plus boxed (id, root) tuples for the result rows, ~100+
    * bytes per node — 2M edges ≈ up to ~3M nodes ≈ a few hundred MB,
    * comfortably inside the driver heap (a 10M-edge cut, 160 MB as raw
    * longs, measured multi-GB boxed). Graphs above the threshold take
    * the distributed min-label loop.
    */
  val SmallGraphEdges: Long = 2L * 1000 * 1000

  /** Storage contract (distributed branch only): the returned frame
    * rides on the final round's localCheckpoint, which stays valid until
    * the caller frees it with `graft.Checkpoints.release` — on the
    * returned frame or any frame built on it (the labels snapshot is a
    * leaf of both), or on a registered query's result, which owns every
    * snapshot its build made. A severed checkpoint fails loudly, never
    * silently recomputes. Intermediate rounds are released inside the
    * loop; the small-graph union-find branch holds no checkpoint.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 64,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    // materialize the edge list once BEFORE mirroring it: the union
    // references e twice, and without the cut the upstream pair
    // computation (expensive for near-dup graphs) would run per branch
    val e = graft.Checkpoints.checkpointLazy(
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v")))
    if (e.count() <= smallGraphEdges) {
      val r = unionFind(e)
      graft.Checkpoints.release(e)
      return r
    }
    val und = e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct()
      .persist()
    try {
      // round 17: LAZY label checkpoints throughout this loop — the
      // convergence probe (labelSum, an action) runs on every checkpoint
      // right after it is taken, so the snapshot materializes inside the
      // probe's job instead of a dedicated eager pass (one job saved per
      // round), and the existing materialize-then-release ordering is
      // preserved by the probe itself.
      var labels = graft.Checkpoints.checkpointLazy(
        und.select(col("u").as("id")).distinct()
          .withColumn("label", col("id")))
      def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
        Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0))
      var prevSum = labelSum(labels)
      // the probe above materialized labels (and cached und), so the raw
      // edge checkpoint is no longer referenced — free it now rather than
      // pinning it for the whole loop. (Must stay AFTER the first probe:
      // und's lineage reads e, and a lazy labels snapshot would otherwise
      // be computed from a severed checkpoint.)
      graft.Checkpoints.release(e)
      var converged = prevSum.isEmpty // no edges → no nodes → nothing to do
      var i = 0
      while (!converged) {
        // Convergence, not the iteration cap, ends the loop: returning an
        // unconverged labeling would be silently wrong dedup clusters.
        // Pointer jumping doubles propagation reach each round, so 64
        // rounds cover any diameter up to 2^64 — hitting the cap means a
        // logic bug (e.g. labels stopped decreasing without the sum
        // stabilizing), and that must be an error, not a result.
        if (i >= maxIters)
          throw new IllegalStateException(
            s"connectedComponents did not converge after $maxIters rounds")
        val neigh = und.join(labels, und("u") === labels("id"))
          .groupBy(col("v").as("nid")).agg(min(col("label")).as("nl"))
        val stepped = labels.join(neigh, labels("id") === neigh("nid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        // pointer jumping: follow my label's label — halves path lengths
        val byId = stepped.select(col("id").as("pid"), col("label").as("plabel"))
        val next = graft.Checkpoints.checkpointLazy(
          stepped.join(byId, stepped("label") === byId("pid"), "left")
            .select(stepped("id"),
              least(stepped("label"), coalesce(col("plabel"), stepped("label"))).as("label")))
        val nextSum = labelSum(next)
        // the convergence probe materialized the new (lazy) checkpoint;
        // the previous round's copy is dead — release it so the loop
        // holds one labels copy, not O(rounds)
        graft.Checkpoints.release(labels)
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        i += 1
      }
      labels.select(col("id"), col("label").as("cluster_id"))
    } finally und.unpersist()
  }

  /** Cluster labels for the PRODUCTION dedup path (q112): connected
    * components over the MinHash+LSH verified pairs. Same label contract
    * as the validator chain (cluster_id = the component's minimum doc
    * id), different pair source: banded candidates instead of blocked
    * all-pairs, so the input edge list — and with it the whole pipeline —
    * scales with the true duplicate count, not the corpus square.
    */
  def scalableClusterLabels(s: SparkSession, d: String): DataFrame =
    connectedComponents(minhashDedup(s, d), "doc_a", "doc_b")

  /** Driver union-find with path compression + union-by-min over a
    * collected edge list (the small-graph branch of
    * [[connectedComponents]]): one pass, exact, the component root is
    * its minimum id — identical labeling to the distributed loop.
    */
  private def unionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val nodes = scala.collection.mutable.LongMap.empty[Boolean]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    e.as[(Long, Long)].toLocalIterator().forEachRemaining { case (u, v) =>
      nodes(u) = true
      nodes(v) = true
      val ru = find(u)
      val rv = find(v)
      // union by min: the smaller root stays the root
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    nodes.keysIterator.map(x => (x, find(x))).toSeq.toDF("id", "cluster_id")
  }

  /** Array-typed exact-dedup groups (canonicalized sorted-distinct token
    * set → one shuffle on the canonical key). Kept array-typed for library
    * users; q23 stringifies `member_ids` for the oracle harness.
    */
  def exactDedupGroups(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      // group by the 128-bit digest of the canonical form, not the full
      // canonicalized text: the shuffle then moves a 32-byte key per doc
      // instead of the document body (at corpus scale the dominant cost).
      // Both engines compute the same md5, so the oracle is unaffected.
      .withColumn("canon_key", md5(array_join(sort_array(tokenSet), " ")))
      .groupBy(col("canon_key"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col("doc_id"))).as("member_ids"))
      .filter(col("n_copies") > 1)
      .select("canonical_id", "n_copies", "member_ids")

  private val NumBands = 8 // 4 rows of the 32 signatures per band

  def minhashDedup(s: SparkSession, d: String): DataFrame = {
    // A shingle is identified by its 64-bit hash, computed by one seeded
    // xxhash64 over the three token strings of its window (boundary-aware
    // — no shingle STRING is ever built; the concat_ws alloc per position
    // was the old hot spot), and the per-doc distinct+sort runs over
    // longs. Jaccard over hashed shingles equals Jaccard over string
    // shingles absent a 64-bit collision inside a compared pair
    // (P < 1e-12 at these sizes). Single expression on purpose: a
    // separate token-hash column would be inlined back into every
    // reference by CollapseProject and recomputed per window.
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .withColumn("shingles", expr(Lsh.shingleHashesSql(sorted = true)))
      .select("doc_id", "shingles")
    // All 32 signatures in one pass via the native codegen'd kernel
    // (graft.functions.MinHashSigs) over the shingle hashes.
    graft.GraftExtensions.registerAll(s)
    val sigs = docs
      .select(col("doc_id"), expr("minhash_sigs(shingles)").as("sigs"))
      // plan barrier: materialize signatures once before the 8-band fan-out.
      // Round 16 TESTED removing this (the q41 precedent): here the
      // optimizer DID re-expand the kernel (minhash_sigs x3 in the
      // barrier-free plan) because the band struct extracts two fields
      // of the generator output — the barrier is load-bearing; kept.
      .repartition(col("doc_id"))
    val bands = sigs
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${NumBands - 1}), b -> named_struct(
           |  'band', b,
           |  'bkey', xxhash64(element_at(sigs, b*4+1), element_at(sigs, b*4+2),
           |                   element_at(sigs, b*4+3), element_at(sigs, b*4+4), b)))""".stripMargin))
        .as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
    // candidate pairs via postings lists (Lsh.bucketPairs — one shuffle
    // on the band key, bucket-local pair expansion); the cross-band
    // distinct is the only pair-stream shuffle
    val cand = Lsh.bucketPairs(bands, Seq("band", "bkey"), "doc_id", "doc_a", "doc_b")
      .distinct()
    // exact verification on the shingle-hash sets (|A∪B| = |A|+|B|−|A∩B|),
    // via the sorted-merge kernel (`shingles` is already sorted): sort
    // once per doc, count per pair. LEG SHAPE on purpose: each candidate
    // pair fans out to its two doc legs, the shingle table is joined ONCE
    // (one scan + one shuffle keyed on doc_id), and the pair regroups via
    // groupBy(doc_a, doc_b). The naive two-sided join costs two scans of
    // the set table and (under AQE at small sizes) two broadcasts of the
    // full array column — measured 3.8s → 0.7s at sf0.1.
    graft.GraftExtensions.registerAll(s)
    val sets = docs.withColumn("n_sh", size(col("shingles")))
    val legs = cand.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    legs.join(sets, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        max(when(col("doc_id") === col("doc_a"), col("shingles"))).as("sh_a"),
        max(when(col("doc_id") === col("doc_b"), col("shingles"))).as("sh_b"),
        max(when(col("doc_id") === col("doc_a"), col("n_sh"))).as("na"),
        max(when(col("doc_id") === col("doc_b"), col("n_sh"))).as("nb"))
      // J >= 0.5 ⟺ i >= (na+nb)/3: early-exit threshold form
      .withColumn("i",
        expr("sorted_intersect_count_min(sh_a, sh_b, cast((na + nb + 2) div 3 AS int))"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  def simhashDedup(s: SparkSession, d: String): DataFrame = {
    // Fingerprint via the native codegen'd kernel (graft.functions.
    // SimHash64) over per-row token hashes — no explode, no shuffle until
    // the band self-join.
    graft.GraftExtensions.registerAll(s)
    val fp = Tables(s, d, "documents")
      .select(col("doc_id"), expr(
        "simhash64(transform(array_distinct(split(text, ' ')), t -> xxhash64(t)))")
        .as("simhash"))
    // round 16: no barrier before the band fan-out (see minhashDedup —
    // the kernel output is referenced as an attribute, computed once)
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), expr(s"(simhash >> ${16 * b}) & 65535").as("bkey"))
      }: _*)).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
    // postings-list pair expansion (see minhashDedup): members sorted by
    // (doc_id, simhash) struct order, so doc_a < doc_b by construction
    bands.groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(expr(
        """flatten(transform(members, (a, i) ->
          |  transform(slice(members, i + 2, size(members)), b ->
          |    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |           a.simhash AS fp_a, b.simhash AS fp_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.fp_a"), col("p.fp_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }
}
