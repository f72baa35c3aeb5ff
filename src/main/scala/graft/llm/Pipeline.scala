package graft.llm

import graft.{Ids, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators above the analysis layer: stable
  * hash-based dataset splits and context-window sequence packing. Both are
  * pure per-row expressions + keyed window/agg — fully distributed, and
  * deterministic across engines (md5-derived buckets, exact integer token
  * arithmetic), so both carry DuckDB oracles.
  */
object Pipeline {

  /** Tokens per packed context window (q54). */
  final val ContextTokens = 512

  /** Shard-band count for the production packing path (q74). 8 on the
    * test fixtures; at corpus scale size it so each (lang, shard) band's
    * token mass fits one task's sort budget (shards ≈ corpus_tokens /
    * (langs × tokens_per_task)). (Defined before `queries`: oracle SQL
    * interpolates it at object init.)
    */
  final val PackShards = 8

  /** Stable non-negative 32-bit hash of doc_id — the shared
    * [[graft.Ids]] recipe every deterministic bucketing here derives
    * from.
    */
  private val idHash = graft.Ids.hash("doc_id")

  /** Stable 0–99 bucket from [[idHash]] — behind the q53 split and its
    * reusers (q59 stratified sampling, q62 decontamination).
    */
  private val idBucket = idHash % 100

  /** 80/10/10 train/val/test assignment from [[idBucket]]. */
  private val splitCol =
    when(idBucket < 80, "train").when(idBucket < 90, "val").otherwise("test")

  /** DuckDB fragment equivalent to [[idHash]]. */
  private val IdHashSql = graft.Ids.hashSql("doc_id")

  /** The q64/q79 quality-funnel stage list (cumulative, over documents
    * with a derived `n_tok`): shared between both queries and
    * FunnelSpec so the audited rules cannot drift between the count and
    * token-mass views.
    */
  private[llm] val QualityStages: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "lang_allowlist" -> col("lang").isin("en", "es", "de", "fr"),
    "length_window" -> col("n_chars").between(100, 500),
    "min_tokens" -> (col("n_tok") >= 20),
    "mean_word_length" ->
      (col("n_chars").cast("double") / col("n_tok")).between(3.0, 12.0))

  /** DuckDB fragment equivalent to [[idBucket]]. */
  private val IdBucketSql = s"$IdHashSql % 100"

  /** SHARDED context packing — the production-scale form of q54's
    * running-sum bucketing. q54 partitions its window by `lang` alone
    * (~5 values): correct, and REQUIRED when the contract is one global
    * doc_id order per language, but each language's running sum then
    * serializes into a single task — a scale-killer at corpus size. Here
    * documents are first banded into `shards` deterministic hash buckets
    * of doc_id ([[idHash]], so the banding is engine-reproducible and
    * stable across runs/cluster sizes), and the running sum partitions by
    * (lang, shard): per-partition work shrinks by the shard count, and no
    * language outgrows a task. Within each band the packing contract is
    * exactly q54's (docs in doc_id order, a doc belongs to the window its
    * first token lands in); pack identity is namespaced by the shard —
    * (lang, pack_shard, pack_id) is the pack key, so bands never collide.
    *
    * Returns one row per pack: (lang, pack_shard, pack_id, n_docs,
    * n_tokens, first_doc, last_doc). `shards = 1` degenerates to the
    * sequential q54 semantics (PackingSpec pins both that equality and
    * the banded plan's window partitioning).
    */
  def packedContexts(docs: DataFrame, shards: Int,
      contextTokens: Int = ContextTokens): DataFrame = {
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    val w = Window.partitionBy(col("lang"), col("pack_shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("pack_shard", (idHash % shards).cast("int"))
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tok")) / contextTokens).cast("long"))
      .groupBy(col("lang"), col("pack_shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Sliding token-window CHUNKING — each document becomes overlapping
    * fixed-size token windows (starts 0, stride, 2·stride, …; window i
    * covers tokens [i·stride, i·stride + chunkTokens)), the standard
    * retrieval/embedding preprocessing step. Chunk count is exact integer
    * arithmetic — 1 + ⌈max(0, n_tok − chunkTokens) / stride⌉ — so every
    * token is covered and only the last chunk may run short. Pure per-row
    * explode (fan-out ≈ n_tok/stride): no shuffle, no window, no state —
    * the shape survives any corpus size unchanged. `stride = chunkTokens`
    * degenerates to a disjoint partition of the token stream.
    */
  def chunked(docs: DataFrame, chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1 (got $chunkTokens)")
    require(stride >= 1 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens] (got $stride)")
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr(s"1L + (greatest(0L, n_tok - $chunkTokens) + ${stride - 1}) div $stride"))
      .withColumn("chunk_idx", explode(expr("sequence(0L, n_chunks - 1)")))
      .withColumn("chunk_toks",
        expr(s"slice(toks, chunk_idx * $stride + 1, $chunkTokens)"))
  }

  /** Deterministic EXACT-SIZE global sample: order by a stable md5-derived
    * hash of the id (ties broken by the id itself — a total order) and
    * take the first n. Unlike `df.sample` (fraction-based, size varies)
    * or `rand()` ranking (non-reproducible), this returns EXACTLY n rows,
    * the same n rows on every run, engine, and cluster size — what an
    * eval-set or human-review draw needs. Plans as TakeOrderedAndProject:
    * each partition keeps its own n-heap and the driver merges heaps —
    * no global sort, no single-task stage, safe at any corpus size
    * (n itself must stay driver-sized, which a sample is by definition).
    */
  def deterministicSample(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    df.withColumn("sample_rank", graft.Ids.hash(idCol))
      .orderBy(col("sample_rank"), col(idCol)).limit(n)
  }

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q53: deterministic train/val/test split (80/10/10) by a stable
    // content-independent hash of the document id — md5-derived bucket, so
    // the assignment is reproducible across runs, engines and cluster
    // sizes (never use rand(): resampling on retry poisons eval sets).
    // Output is the per-split/lang audit a pipeline gates on.
    QueryDef.sql("q53_hash_split") { (s, d) =>
      Tables(s, d, "documents")
        .withColumn("split", splitCol)
        .groupBy(col("split"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("split", "lang")
    } {
      s"""WITH b AS (
        |  SELECT *, $IdBucketSql AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM b
        |GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q54: context-window sequence packing — documents are concatenated
    // in (lang, doc_id) order and chunked into fixed token windows; a doc
    // belongs to the window its first token lands in (running-sum
    // bucketing, the streaming-concat packing used for LM pretraining).
    // One sort per lang partition — the GLOBAL-order form, kept for the
    // contract "one doc_id sequence per language"; the production-scale
    // path is q74's (lang, shard)-banded [[packedContexts]], where no
    // partition outgrows a task.
    QueryDef.sql("q54_context_packing") { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tok")) / ContextTokens).cast("long"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "pack_id")
    } {
      s"""WITH t AS (
         |  SELECT lang, doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT lang, CAST(FLOOR((cum - n_tok) / $ContextTokens) AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c
         |GROUP BY 1, 2
         |ORDER BY lang, pack_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q74: SHARDED context packing — q54's production-scale twin via
    // [[packedContexts]]: documents band into PackShards deterministic
    // md5 buckets of doc_id first, and the running-sum window partitions
    // by (lang, pack_shard) — per-band sequential packing, pack identity
    // namespaced by the band, no single-task-per-language sort at corpus
    // scale. The banding hash is engine-reproducible, so the full DuckDB
    // oracle applies (and PackingSpec additionally pins band-vs-
    // sequential equality and the window's partition keys in the plan).
    QueryDef.sql("q74_context_packing_sharded") { (s, d) =>
      packedContexts(Tables(s, d, "documents"), PackShards)
        .orderBy("lang", "pack_shard", "pack_id")
    } {
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    CAST($IdHashSql % $PackShards AS INT) AS pack_shard,
         |    CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT lang, pack_shard, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT lang, pack_shard,
         |  CAST(FLOOR((cum - n_tok) / $ContextTokens) AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c
         |GROUP BY 1, 2, 3
         |ORDER BY lang, pack_shard, pack_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q59: deterministic STRATIFIED sampling — per-stratum rates (10% of
    // English, 25% of everything else) from the same stable md5 bucket as
    // q53: reproducible across runs/engines/cluster sizes, no rand().
    // Output is the per-stratum sample audit. Pure per-row predicate +
    // one keyed aggregation — the filter runs scan-side at any scale.
    QueryDef.sql("q59_stratified_sample") { (s, d) =>
      val rate = when(col("lang") === "en", 10).otherwise(25)
      Tables(s, d, "documents")
        .filter(idBucket < rate)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    } {
      s"""WITH b AS (
        |  SELECT *, $IdBucketSql AS bucket
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 25 END)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q129: CLASS-BALANCED EXACT-SIZE SAMPLE — exactly min(m, |group|)
    // docs per language, the balanced-subset builder (eval sets,
    // per-language probes, capped head-class downsampling) that q59's
    // RATE-based strata cannot express: a rate keeps a fraction, this
    // keeps a count. Order inside each group is the library-wide md5
    // id-hash (content-independent, engine-reproducible), so the
    // selected ids are a deterministic function of the corpus alone.
    // Shape at scale: the rank ≤ m filter plans a PARTIAL
    // WindowGroupLimit ahead of the exchange (the q123/q124 posture,
    // pinned in NewQueryPlanSpec) — each map task forwards at most m
    // rows per language, so the per-lang sort sees ≤ m·map_tasks rows,
    // never the corpus.
    QueryDef.sql("q129_balanced_group_sample") { (s, d) =>
      val m = 40
      val w = Window.partitionBy(col("lang"))
        .orderBy(graft.Ids.hash("doc_id").asc, col("doc_id").asc)
      Tables(s, d, "documents")
        .select(col("lang"), col("doc_id"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= m)
        .orderBy("lang", "rnk")
        .select(col("lang"), col("rnk"), col("doc_id"))
    } {
      s"""SELECT lang, rnk, doc_id FROM (
         |  SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY ${graft.Ids.hashSql("doc_id")}, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= 40
         |ORDER BY lang, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q133: TOKEN-BUDGET WATER-FILLING — allocate a corpus token budget
    // (here: half the total) across sources under the classic
    // water-filling rule: one uniform integer cap, each source gets
    // min(tokens, cap), cap = the largest integer that fits the budget.
    // This is the principled "no source may dominate" mixture cap — the
    // budgeted complement of q63's temperature schedule (which reweights
    // but never caps) and of q115's quality prefix (which ranks docs,
    // not sources). The cap segment solves in closed form on the SORTED
    // per-source totals via prefix sums: the first source index i
    // (ascending) where below-prefix + tokens_i · remaining ≥ budget
    // pins cap = (budget − below-prefix) DIV remaining. Shape at scale:
    // ONE corpus scan aggregates to the O(|sources|) relation, frozen
    // via Checkpoints (two consumers); every window/sort after the
    // freeze runs on source-cardinality rows — the q122 posture. All
    // integer arithmetic end-to-end.
    QueryDef.sql("q133_token_budget_waterfill") { (s, d) =>
      val perSrc = graft.Checkpoints.checkpointLazy(
        Tables(s, d, "documents")
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens")))
      val tot = perSrc.agg(
        sum(col("tokens")).as("total"), count(lit(1)).as("n"))
      val ord = Window.orderBy(col("tokens").asc, col("source").asc)
      val ranked = perSrc.crossJoin(broadcast(tot))
        .withColumn("budget", expr("total DIV 2"))
        .withColumn("i", row_number().over(ord).cast("long"))
        .withColumn("p", coalesce(
          sum(col("tokens")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("r", col("n") - col("i") + 1)
      val seg = ranked
        .filter(col("p") + col("tokens") * col("r") >= col("budget"))
        .orderBy(col("i").asc).limit(1)
        .select(expr("(budget - p) DIV r").as("cap"))
      ranked.crossJoin(broadcast(seg))
        .select(col("source"), col("tokens"),
          least(col("tokens"), col("cap")).as("allocated"),
          when(col("tokens") > col("cap"), 1).otherwise(0).as("capped"),
          col("cap"))
        .orderBy("source")
    } {
      """WITH t AS (
        |  SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total, COUNT(*) AS n FROM t),
        |ranked AS (
        |  SELECT source, tokens, total // 2 AS budget,
        |    ROW_NUMBER() OVER (ORDER BY tokens, source) AS i,
        |    CAST(COALESCE(SUM(tokens) OVER (ORDER BY tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p,
        |    n
        |  FROM t, tot),
        |seg AS (
        |  SELECT CAST((budget - p) // (n - i + 1) AS BIGINT) AS cap FROM ranked
        |  WHERE p + tokens * (n - i + 1) >= budget
        |  ORDER BY i LIMIT 1)
        |SELECT source, tokens, LEAST(tokens, cap) AS allocated,
        |  CASE WHEN tokens > cap THEN 1 ELSE 0 END AS capped, cap
        |FROM ranked, seg
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q60: term salience (tf over relative document frequency): token
    // explode → (doc, term) counts → corpus df from the tf relation (one
    // pass, no second tokenize) → score = tf/df, top-3 terms per doc.
    // score is one exact IEEE division of two integers, so the doubles
    // are bit-equal across engines (a log-based idf would hit libm
    // rounding differences). df is corpus-wide on purpose — the per-doc
    // output filter must not prune the df aggregation.
    QueryDef.sql("q60_tfdf_top_terms") { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, Seq("term"))
        .withColumn("score", col("tf").cast("double") / col("df"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3 && col("doc_id") < 50)
        .select(col("doc_id"), col("rnk"), col("term"), col("score"))
        .orderBy("doc_id", "rnk")
    } {
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) / df.df AS score
        |  FROM tf JOIN df USING (term)),
        |r AS (
        |  SELECT doc_id, term, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, score FROM r
        |WHERE rnk <= 3 AND doc_id < 50
        |ORDER BY doc_id, rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q61: context-length capping — normalize whitespace, truncate to 120
    // characters at a word boundary (drop the trailing partial token).
    // Normalization collapses the explicit [ \t\n\r]+ class (same meaning
    // in Java and RE2 — see q71) so no newline survives into the
    // truncation step, where Java's $ matches BEFORE a final line
    // terminator but RE2's matches only end-of-text: with a surviving
    // trailing '\n' the word-boundary strip would differ per engine.
    QueryDef.sql("q61_truncate_normalize") { (s, d) =>
      val norm = regexp_replace(trim(col("text")), "[ \\t\\n\\r]+", " ")
      Tables(s, d, "documents")
        .withColumn("norm", norm)
        .withColumn("truncated",
          when(length(col("norm")) <= 120, col("norm"))
            .otherwise(regexp_replace(
              substring(col("norm"), 1, 120), " [^ ]*$", "")))
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          length(col("norm")).as("len_before"),
          length(col("truncated")).as("len_after"),
          col("truncated"))
        .orderBy("doc_id")
    } {
      """WITH n AS (
        |  SELECT doc_id, REGEXP_REPLACE(TRIM(text), '[ \t\n\r]+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id < 100),
        |t AS (
        |  SELECT doc_id, norm,
        |    CASE WHEN LENGTH(norm) <= 120 THEN norm
        |         ELSE REGEXP_REPLACE(SUBSTRING(norm, 1, 120), ' [^ ]*$', '')
        |    END AS truncated
        |  FROM n)
        |SELECT doc_id, LENGTH(norm) AS len_before,
        |  LENGTH(truncated) AS len_after, truncated
        |FROM t
        |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q62: train/test DECONTAMINATION — find test documents sharing ≥ 5
    // distinct 3-gram shingles with any train document (q53's hash
    // split), via an INVERTED SHINGLE INDEX join: explode per-doc
    // distinct shingles, join train legs to test legs on the shingle
    // (shuffle key = shingle), count common shingles per (train, test)
    // pair. This is the scalable decontamination shape — no doc×doc
    // cross join; pair work exists only where shingles actually collide.
    // Shingles with corpus df > 50 are dropped first (boilerplate
    // n-grams would fan out quadratically per hot key — the standard
    // frequent-shingle guard; at corpus scale the df cap is what bounds
    // the inverted index's worst key).
    QueryDef.sql("q62_decontamination") { (s, d) =>
      // one tokenize+explode pass, one shuffle on the shingle key (as a
      // 64-bit hash — the string itself never shuffles; a collision
      // merges two unrelated postings lists, P < 1e-9 corpus-wide), then
      // bucket-local pair expansion inside each posting list (the same
      // shape as the LSH band join) and one pair-keyed count. A join
      // formulation (legs ⋈ df ⋈ legs) recomputes the exploded legs four
      // times — measured 2.0s → 0.6s at sf0.1.
      val legs = Tables(s, d, "documents")
        .withColumn("split", splitCol)
        .filter(col("split").isin("train", "test"))
        .withColumn("tokens", split(col("text"), " "))
        .filter(size(col("tokens")) >= 3)
        .select(col("doc_id"), col("split"),
          explode(expr(Lsh.shingleHashesSql(sorted = false))).as("sh_key"))
      val postings = legs.groupBy(col("sh_key"))
        .agg(
          collect_list(when(col("split") === "train", col("doc_id"))).as("tr"),
          collect_list(when(col("split") === "test", col("doc_id"))).as("te"),
          count(lit(1)).as("df"))
        .filter(col("df") <= 50 && size(col("tr")) > 0 && size(col("te")) > 0)
      postings
        .select(explode(expr(
          "flatten(transform(tr, a -> transform(te, b -> struct(a AS train_doc, b AS test_doc))))"))
          .as("p"))
        .select(col("p.train_doc"), col("p.test_doc"))
        .groupBy(col("train_doc"), col("test_doc"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 5)
        .orderBy("train_doc", "test_doc")
    } {
      s"""WITH b AS (
        |  SELECT doc_id, text, $IdBucketSql AS bucket
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN bucket < 80 THEN 'train'
        |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |tok AS (
        |  SELECT doc_id, split, STRING_SPLIT(text, ' ') AS toks
        |  FROM sp
        |  WHERE split IN ('train', 'test')
        |    AND LEN(STRING_SPLIT(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, split,
        |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingle
        |  FROM tok),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        |rare AS (SELECT sh.doc_id, sh.split, sh.shingle
        |         FROM sh JOIN df USING (shingle) WHERE df.df <= 50),
        |p AS (
        |  SELECT a.doc_id AS train_doc, b.doc_id AS test_doc, COUNT(*) AS n_common
        |  FROM rare a JOIN rare b USING (shingle)
        |  WHERE a.split = 'train' AND b.split = 'test'
        |  GROUP BY 1, 2)
        |SELECT train_doc, test_doc, n_common FROM p
        |WHERE n_common >= 5
        |ORDER BY train_doc, test_doc""".stripMargin
    },

    // ------------------------------------------------------------------
    // q63: TEMPERATURE-BASED corpus mixture scheduling (multilingual LM
    // training mix): each language is sampled ∝ n^α (α = 0.5), i.e.
    // low-resource languages are upsampled relative to their share. The
    // schedule is built deterministically — doc k of a language runs at
    // virtual time k / sqrt(n_lang); the global order is the merge of all
    // languages' virtual times. Output audits the first 200 slots: how
    // many slots each language got and when it first/last ran. sqrt and
    // the division are single IEEE ops — bit-equal across engines.
    // SCALE SHAPE: the per-lang rank rides the two-pass
    // Scale.groupedRank (its countName emits n_lang for free — no
    // separate count/broadcast pass), so the corpus never sorts at
    // |langs|-task parallelism; within a lang vt is strictly increasing
    // in rank, so only ranks ≤ 200 can reach the global top-200 — the
    // rank filter prunes the top-k input to ≤ 200·|langs| rows
    // answer-identically, and the global top-k itself is a
    // TakeOrderedAndProject (per-partition heaps), never a global sort.
    QueryDef.sql("q63_mixture_schedule") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val ranked = graft.ops.Scale.groupedRank(
        // NULL-lang docs are excluded by CONTRACT (the oracle's
        // JOIN ... USING (lang) never matches NULL): the pre-migration
        // plan dropped them at its n_lang equi-join, and groupedRank's
        // null-safe join-back would otherwise keep NULL as a real
        // schedule group — filter explicitly to keep the semantics
        docs.select(col("doc_id"), col("lang"))
          .filter(col("lang").isNotNull),
        Seq("lang"), "rnk", Some("nl"), col("doc_id").asc)
      ranked
        .withColumn("vt", col("rnk").cast("double") / sqrt(col("nl").cast("double")))
        .filter(col("rnk") <= 200)
        .orderBy(col("vt"), col("lang"), col("doc_id"))
        .limit(200)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_slots"),
          (count(lit(1)).cast("double") / 200).as("share"),
          min(col("vt")).as("first_vt"),
          max(col("vt")).as("last_vt"))
        .orderBy("lang")
    } {
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS nl FROM documents GROUP BY lang),
        |r AS (
        |  SELECT d.doc_id, d.lang,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rnk,
        |    n.nl
        |  FROM documents d JOIN n USING (lang)),
        |v AS (
        |  SELECT doc_id, lang,
        |    CAST(rnk AS DOUBLE) / SQRT(CAST(nl AS DOUBLE)) AS vt
        |  FROM r),
        |s AS (
        |  SELECT * FROM v ORDER BY vt, lang, doc_id LIMIT 200)
        |SELECT lang, COUNT(*) AS n_slots,
        |  CAST(COUNT(*) AS DOUBLE) / 200 AS share,
        |  MIN(vt) AS first_vt, MAX(vt) AS last_vt
        |FROM s
        |GROUP BY lang
        |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q81: MIXTURE MATERIALIZATION — the step after q63's schedule: build
    // the actual mixed corpus. Per-language targets follow the same
    // temperature law (target_l ∝ √n_l, normalized to a 300-doc budget);
    // each language is then thinned by a DETERMINISTIC hash-rate
    // selection (keep iff md5-hash(doc_id) mod 1e6 < floor(rate·1e6)) —
    // the rate-based cap real pipelines use, because it is one scan-side
    // predicate: no per-language sort, no window, no straggler task for
    // the dominant language (the q54-class hazard this op is designed
    // around). Realized counts land within sampling noise of the target
    // (audited in the output); the normalizer Σ√n is decimal-rounded
    // (dsum) so both engines divide by the same exact total.
    QueryDef.sql("q81_mixture_materialize") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val nl = docs.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      val tot = nl.agg(graft.Det.dsum(sqrt(col("nl").cast("double"))).as("tot"))
      val r = nl.crossJoin(broadcast(tot))
        .withColumn("target",
          lit(300.0) * sqrt(col("nl").cast("double")) / col("tot"))
        .withColumn("thr",
          floor(least(lit(1.0), col("target") / col("nl")) * 1000000.0)
            .cast("long"))
      docs.join(broadcast(r), Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          first(col("nl")).as("n_docs"),
          first(col("target")).as("target"),
          first(col("thr")).as("thr"),
          count(when(idHash % 1000000 < col("thr"), 1)).as("n_kept"))
        .withColumn("realized_rate",
          col("n_kept").cast("double") / col("n_docs"))
        .orderBy("lang")
    } {
      s"""WITH n AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY lang),
         |s AS (
         |  SELECT ${graft.Det.dsumSql("SQRT(CAST(nl AS DOUBLE))")} AS tot FROM n),
         |r AS (
         |  SELECT n.lang, n.nl,
         |    300.0 * SQRT(CAST(n.nl AS DOUBLE)) / s.tot AS target,
         |    CAST(FLOOR(LEAST(1.0, (300.0 * SQRT(CAST(n.nl AS DOUBLE)) / s.tot)
         |      / n.nl) * 1000000.0) AS BIGINT) AS thr
         |  FROM n, s),
         |k AS (
         |  SELECT d.lang,
         |    COUNT(*) FILTER (WHERE ($IdHashSql % 1000000) < r.thr) AS n_kept
         |  FROM documents d JOIN r USING (lang) GROUP BY d.lang)
         |SELECT r.lang, CAST(r.nl AS BIGINT) AS n_docs, r.target, r.thr,
         |  CAST(k.n_kept AS BIGINT) AS n_kept,
         |  CAST(k.n_kept AS DOUBLE) / r.nl AS realized_rate
         |FROM r JOIN k USING (lang)
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q83: EXPORT SHARD MANIFEST — the last pipeline step before
    // training: assign every document a contiguous, balanced shard from
    // its global position (shard = ⌊(rank−1)·S / total⌋ over the
    // (lang, doc_id) total order) and publish the manifest a trainer
    // consumes: per-shard doc counts, token mass, and rank ranges.
    // Contiguity keeps each shard a sequential read of the sorted
    // layout; balance falls out of the rank arithmetic (counts differ by
    // ≤ 1). The global rank comes from Scale.globalRowNumber — the
    // two-pass frozen-range-shuffle primitive — NOT a single-task global
    // window, so the manifest itself is 100 TB-shaped. Integer division
    // keeps both engines exact.
    QueryDef.sql("q83_export_shard_manifest") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val total = docs.agg(count(lit(1)).as("total"))
      val ranked = graft.ops.Scale.globalRowNumber(
        docs, "rnk", col("lang").asc, col("doc_id").asc)
      ranked.crossJoin(broadcast(total))
        .withColumn("shard", expr("((rnk - 1) * 8) div total"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens"),
          min(col("rnk")).as("min_rank"),
          max(col("rnk")).as("max_rank"))
        .orderBy("shard")
    } {
      """WITH r AS (
        |  SELECT doc_id, lang, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(ROW_NUMBER() OVER (ORDER BY lang, doc_id) AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS total
        |  FROM documents)
        |SELECT ((rnk - 1) * 8) // total AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |  MIN(rnk) AS min_rank, MAX(rnk) AS max_rank
        |FROM r
        |GROUP BY 1
        |ORDER BY shard""".stripMargin
    },

    // ------------------------------------------------------------------
    // q89: DETERMINISTIC GLOBAL SAMPLE — exactly 200 documents drawn by
    // the [[deterministicSample]] hash order: reproducible across runs/
    // engines/cluster sizes (eval-set and human-review draws must never
    // resample on retry — same rationale as q53's hash split). The plan
    // is a distributed TakeOrderedAndProject, not a global sort.
    QueryDef.sql("q89_deterministic_sample") { (s, d) =>
      deterministicSample(Tables(s, d, "documents"), "doc_id", 200)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("sample_rank"))
    } {
      s"""SELECT doc_id, lang, source, n_chars, $IdHashSql AS sample_rank
         |FROM documents
         |ORDER BY sample_rank, doc_id
         |LIMIT 200""".stripMargin
    },

    // ------------------------------------------------------------------
    // q94: SPLIT N-GRAM NOVELTY — the generalization complement of q62's
    // decontamination: how much of the val split's distinct-trigram mass
    // is UNSEEN in train (per language)? Novel-share near 0 means val is
    // memorizable from train; near 1 means the split carries new
    // material. Both sides dedup to (lang, trigram) before one
    // co-partitioned anti join on the shingle key (the q62 shape — the
    // corpus itself is never pair-joined), and the val-side exchange is
    // shared between the unseen count and the denominator.
    QueryDef.sql("q94_split_ngram_novelty") { (s, d) =>
      val tri = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        // barrier: materialize the token array once (see q41/q76)
        .repartition(col("doc_id"))
        .withColumn("bucket", idBucket)
        .select(col("lang"), col("bucket"), explode(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> array_join(slice(toks, i, 3), ' '))""".stripMargin))
          .as("trigram"))
      val train = tri.filter(col("bucket") < 80)
        .select("lang", "trigram").distinct()
      val valSide = tri.filter(col("bucket").between(80, 89))
        .select("lang", "trigram").distinct()
      val nVal = valSide.groupBy(col("lang")).agg(count(lit(1)).as("n_val"))
      val unseen = valSide.join(train, Seq("lang", "trigram"), "left_anti")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_unseen"))
      nVal.join(unseen, Seq("lang"), "left_outer")
        .withColumn("n_unseen", coalesce(col("n_unseen"), lit(0L)))
        .withColumn("novel_share",
          col("n_unseen").cast("double") / col("n_val"))
        .orderBy("lang")
    } {
      s"""WITH w AS (
         |  SELECT lang, STRING_SPLIT(text, ' ') AS toks,
         |    $IdBucketSql AS bucket
         |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
         |tr AS (
         |  SELECT DISTINCT lang, trigram FROM (
         |    SELECT lang, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
         |      i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS trigram
         |    FROM w WHERE bucket < 80)),
         |vl AS (
         |  SELECT DISTINCT lang, trigram FROM (
         |    SELECT lang, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
         |      i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS trigram
         |    FROM w WHERE bucket BETWEEN 80 AND 89)),
         |n AS (SELECT lang, COUNT(*) AS n_val FROM vl GROUP BY lang),
         |u AS (
         |  SELECT vl.lang, COUNT(*) AS n_unseen
         |  FROM vl LEFT JOIN tr ON vl.lang = tr.lang AND vl.trigram = tr.trigram
         |  WHERE tr.trigram IS NULL
         |  GROUP BY vl.lang)
         |SELECT n.lang, n.n_val, CAST(COALESCE(u.n_unseen, 0) AS BIGINT) AS n_unseen,
         |  CAST(COALESCE(u.n_unseen, 0) AS DOUBLE) / n.n_val AS novel_share
         |FROM n LEFT JOIN u ON n.lang = u.lang
         |ORDER BY n.lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q93: CURRICULUM STAGING — order the corpus easy→hard by a
    // deterministic difficulty proxy (type-token ratio: exact-integer
    // n_distinct/n_tok, engine-identical) and cut it into 4 balanced
    // stages from the GLOBAL rank. The rank comes from
    // Scale.globalRowNumber (two-pass frozen range shuffle), never a
    // single-task global window, and the stage id is pure integer
    // arithmetic on (rank, total) — the same 100 TB-shaped rank→band
    // pattern as q83's shard manifest, keyed by a model-training
    // curriculum instead of a storage layout.
    QueryDef.sql("q93_curriculum_stages") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_distinct", size(array_distinct(split(col("text"), " "))))
        .withColumn("ttr",
          col("n_distinct").cast("double") / col("n_tok").cast("double"))
        .select("doc_id", "lang", "ttr")
      val total = docs.agg(count(lit(1)).as("total"))
      val ranked = graft.ops.Scale.globalRowNumber(
        docs, "rnk", col("ttr").asc, col("doc_id").asc)
      ranked.crossJoin(broadcast(total))
        .withColumn("stage", expr("((rnk - 1) * 4) div total"))
        .groupBy(col("stage"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("ttr")).as("min_ttr"),
          max(col("ttr")).as("max_ttr"),
          graft.Det.davg(col("ttr")).as("avg_ttr"))
        .orderBy("stage", "lang")
    } {
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) /
         |      CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS ttr
         |  FROM documents),
         |r AS (
         |  SELECT lang, ttr,
         |    CAST(ROW_NUMBER() OVER (ORDER BY ttr, doc_id) AS BIGINT) AS rnk,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS total
         |  FROM q)
         |SELECT ((rnk - 1) * 4) // total AS stage, lang, COUNT(*) AS n_docs,
         |  MIN(ttr) AS min_ttr, MAX(ttr) AS max_ttr,
         |  ${graft.Det.davgSql("ttr")} AS avg_ttr
         |FROM r
         |GROUP BY 1, 2
         |ORDER BY stage, lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q91: MIXTURE DRIFT MONITOR — the dataset-governance check that the
    // source mixture is stable across a deterministic split of the
    // corpus (here the two md5-hash halves; in production, yesterday's
    // build vs today's): per-source counts in each half, their shares,
    // and the per-source KL contribution p·ln(p/q). Everything derives
    // from exact integer counts through one shared IEEE formula, so the
    // doubles hash-match. One aggregation over (source), no joins — the
    // half split is a scan-side predicate pair.
    QueryDef.sql("q91_mixture_drift") { (s, d) =>
      val half = (idHash % 2).as("half")
      val bySource = Tables(s, d, "documents")
        .select(col("source"), half)
        .groupBy(col("source"))
        .agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      val totals = bySource.agg(
        sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
      bySource.crossJoin(broadcast(totals))
        .withColumn("p_a", col("n_a").cast("double") / col("tot_a"))
        .withColumn("p_b", col("n_b").cast("double") / col("tot_b"))
        .withColumn("kl_contrib",
          when(col("n_a") === 0 || col("n_b") === 0, lit(null))
            .otherwise(col("p_a") * log(col("p_a") / col("p_b"))))
        .select("source", "n_a", "n_b", "p_a", "p_b", "kl_contrib")
        .orderBy("source")
    } {
      s"""WITH h AS (
         |  SELECT source,
         |    CAST(SUM(CASE WHEN $IdHashSql % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN $IdHashSql % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM documents GROUP BY source),
         |t AS (
         |  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
         |    CAST(SUM(n_b) AS BIGINT) AS tot_b FROM h)
         |SELECT source, n_a, n_b,
         |  CAST(n_a AS DOUBLE) / tot_a AS p_a,
         |  CAST(n_b AS DOUBLE) / tot_b AS p_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE (CAST(n_a AS DOUBLE) / tot_a) *
         |      LN((CAST(n_a AS DOUBLE) / tot_a) / (CAST(n_b AS DOUBLE) / tot_b))
         |  END AS kl_contrib
         |FROM h, t
         |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q90: ORDERED SEQUENCE ASSEMBLY — build one training example per
    // user from their event history in strict (ts, event_id) order: the
    // dialog/SFT-example construction step (turns → one ordered text).
    // One shuffle on the group key; the ordered concat is
    // array_sort(collect_list(struct(...))) — sorting INSIDE each group's
    // aggregation buffer, never a global or per-partition sort, so the
    // shape holds wherever per-group history fits an example (which a
    // training example must anyway). The (ts, event_id) composite makes
    // the order total — equal timestamps cannot flip the output.
    QueryDef.sql("q90_event_sequence_assembly") { (s, d) =>
      Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          array_join(expr(
            """transform(
              |  array_sort(collect_list(struct(ts, event_id, event_type))),
              |  x -> x.event_type)""".stripMargin), " ").as("event_seq"))
        .orderBy("user_id")
    } {
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  STRING_AGG(event_type, ' ' ORDER BY ts, event_id) AS event_seq
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q88: EXACT-SUBSTRING CONTAMINATION — the strict complement of
    // q62's shingle decontamination: given a small probe set (a
    // deterministic ~256-document md5 sample, each contributing one
    // 40-char mid-document span), count which corpus documents contain
    // each probe verbatim. The fixed-size probe set is the semantics,
    // not a shortcut: an eval set is a FIXED artifact — thousands of
    // strings however large the corpus — so the probe side must not
    // scale with N (as a 1-in-97 corpus fraction the operator was
    // quadratic: measured exponent 1.65 on the 10× corpus; the md5
    // sample keeps the probe count flat at EVERY sf, where a plain
    // LIMIT cap binds only past the corpus size it was tuned at). The
    // probe relation BROADCASTS and the containment predicate runs
    // scan-side per (doc, probe) — cost n_docs × |eval set| substring
    // searches, linear in the corpus, with no shuffle of it. For probe
    // sets large enough that the product bites, build an Aho–Corasick
    // automaton per partition instead; at eval-set sizes the predicate
    // form wins by staying inside codegen.
    QueryDef.sql("q88_exact_substring_contamination") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val n = docs.select(col("doc_id")).count()
      val probes = docs
        .filter(graft.Ids.sampleKeep("doc_id", n, 1024))
        .select(col("doc_id").as("probe_doc_id"),
          expr("substring(text, 21, 40)").as("probe"))
        .filter(length(col("probe")) === 40)
        .orderBy("probe_doc_id").limit(256)
      docs.join(broadcast(probes), contains(col("text"), col("probe")))
        .groupBy(col("probe_doc_id"))
        .agg(
          count(lit(1)).as("n_hits"),
          sum(when(col("doc_id") =!= col("probe_doc_id"), 1L).otherwise(0L))
            .as("n_foreign_hits"))
        .orderBy("probe_doc_id")
    } {
      s"""WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        |p AS (
        |  SELECT doc_id AS probe_doc_id, SUBSTRING(text, 21, 40) AS probe
        |  FROM documents, cnt
        |  WHERE ${graft.Ids.sampleKeepSql("doc_id", 1024)}
        |    AND LENGTH(SUBSTRING(text, 21, 40)) = 40
        |  ORDER BY probe_doc_id LIMIT 256)
        |SELECT p.probe_doc_id, COUNT(*) AS n_hits,
        |  CAST(SUM(CASE WHEN d.doc_id <> p.probe_doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_foreign_hits
        |FROM documents d JOIN p ON CONTAINS(d.text, p.probe)
        |GROUP BY p.probe_doc_id
        |ORDER BY probe_doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q84: DOCUMENT CHUNKING — overlapping token windows (32 tokens,
    // stride 24) via the [[chunked]] library API: the preprocessing step
    // every retrieval/embedding pipeline runs before vectorizing. Output
    // is one row per chunk with its exact token count and an md5 content
    // digest (the chunk identity downstream stages key on). The plan is a
    // single scan + per-row generator — fan-out bounded by n_tok/stride,
    // no shuffle before the final presentation sort.
    QueryDef.sql("q84_doc_chunking") { (s, d) =>
      chunked(Tables(s, d, "documents"), chunkTokens = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk_toks")).cast("long").as("chunk_tokens"),
          md5(array_join(col("chunk_toks"), " ")).as("chunk_digest"))
        .orderBy("doc_id", "chunk_idx")
    } {
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
        |    LEN(STRING_SPLIT(text, ' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    1 + (GREATEST(0, n_tok - 32) + 23) // 24 AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(LEN(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS BIGINT)
        |    AS chunk_tokens,
        |  MD5(ARRAY_TO_STRING(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' '))
        |    AS chunk_digest
        |FROM e
        |ORDER BY doc_id, chunk_idx""".stripMargin
    },

    // ------------------------------------------------------------------
    // q281: RAG CHUNK DEDUP RATE — q84 cuts the retrieval chunks; this
    // prices how redundant the chunk STORE is before embedding them
    // (embedding cost is per chunk, so duplicate chunks are pure waste,
    // and retrieval quality degrades when the index serves the same
    // passage k times): per source, total vs distinct chunk digests,
    // the duplicate share, and the chunks whose digest also appears in
    // ANOTHER source (syndication at chunk granularity — invisible to
    // q132's whole-document matrix). Everything is digest-keyed count
    // arithmetic: per-(source, digest) counts collapse map-side, the
    // cross-source census is a digest-keyed join of those counts — no
    // chunk body ever crosses a shuffle twice, no pair expansion.
    QueryDef.sql("q281_chunk_dedup_rate") { (s, d) =>
      val chunks = chunked(Tables(s, d, "documents"),
          chunkTokens = 32, stride = 24)
        .select(col("source"),
          md5(array_join(col("chunk_toks"), " ")).as("dg"))
      val perSrcDg = chunks.groupBy(col("source"), col("dg"))
        .agg(count(lit(1)).as("c"))
      val multiSrc = perSrcDg.groupBy(col("dg"))
        .agg(count(lit(1)).as("nsrc"))
        .filter(col("nsrc") > 1L)
        .select(col("dg"))
      val shared = perSrcDg.join(multiSrc, "dg")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_cross_source_chunks"))
      perSrcDg.groupBy(col("source"))
        .agg(sum(col("c")).as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"))
        .join(shared, Seq("source"), "left_outer")
        .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
          expr("CAST(n_chunks - n_distinct_chunks AS DOUBLE) / " +
            "CAST(n_chunks AS DOUBLE)").as("dup_share"),
          coalesce(col("n_cross_source_chunks"), lit(0L))
            .as("n_cross_source_chunks"))
        .orderBy("source")
    } {
      """WITH t AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS toks,
        |    LEN(STRING_SPLIT(text, ' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, toks,
        |    1 + (GREATEST(0, n_tok - 32) + 23) // 24 AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, source, toks,
        |    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c),
        |ch AS (
        |  SELECT source,
        |    MD5(ARRAY_TO_STRING(
        |      list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' '))
        |      AS dg
        |  FROM e),
        |psd AS (
        |  SELECT source, dg, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ch GROUP BY source, dg),
        |ms AS (
        |  SELECT dg FROM psd GROUP BY dg HAVING COUNT(*) > 1),
        |sh AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_cross_source_chunks
        |  FROM psd JOIN ms USING (dg) GROUP BY source),
        |agg AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks
        |  FROM psd GROUP BY source)
        |SELECT agg.source, n_chunks, n_distinct_chunks,
        |  CAST(n_chunks - n_distinct_chunks AS DOUBLE)
        |    / CAST(n_chunks AS DOUBLE) AS dup_share,
        |  COALESCE(sh.n_cross_source_chunks, 0) AS n_cross_source_chunks
        |FROM agg LEFT JOIN sh ON agg.source = sh.source
        |ORDER BY agg.source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q64: quality-filter FUNNEL audit — the per-stage attrition report a
    // pipeline publishes with every dataset build, expressed through the
    // [[Funnel]] library API (ordered cumulative stages, ONE scan, one
    // single-row aggregate exchange). Stages: (1) language allowlist,
    // (2) length window, (3) digit/garbage cap via a structural proxy,
    // (4) mean-word-length sanity.
    QueryDef.sql("q64_quality_funnel") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")))
      Funnel.audit(docs, QualityStages)
    } {
      """WITH f AS (
        |  SELECT
        |    lang IN ('en', 'es', 'de', 'fr') AS s1,
        |    LEN(STRING_SPLIT(text, ' ')) AS n_tok,
        |    n_chars
        |  FROM documents),
        |g AS (
        |  SELECT s1,
        |    s1 AND n_chars BETWEEN 100 AND 500 AS s2,
        |    s1 AND n_chars BETWEEN 100 AND 500 AND n_tok >= 20 AS s3,
        |    s1 AND n_chars BETWEEN 100 AND 500 AND n_tok >= 20
        |       AND (CAST(n_chars AS DOUBLE) / n_tok) BETWEEN 3.0 AND 12.0 AS s4
        |  FROM f),
        |c AS (
        |  SELECT COUNT(*) AS n0,
        |    COUNT(*) FILTER (WHERE s1) AS n1,
        |    COUNT(*) FILTER (WHERE s2) AS n2,
        |    COUNT(*) FILTER (WHERE s3) AS n3,
        |    COUNT(*) FILTER (WHERE s4) AS n4
        |  FROM g)
        |SELECT stage, name, n_in, n_out,
        |  CASE WHEN n_in = 0 THEN NULL
        |       ELSE CAST(n_out AS DOUBLE) / n_in END AS retention
        |FROM (
        |  SELECT 1 AS stage, 'lang_allowlist' AS name, n0 AS n_in, n1 AS n_out FROM c
        |  UNION ALL SELECT 2, 'length_window', n1, n2 FROM c
        |  UNION ALL SELECT 3, 'min_tokens', n2, n3 FROM c
        |  UNION ALL SELECT 4, 'mean_word_length', n3, n4 FROM c)
        |ORDER BY stage""".stripMargin
    },

    // ------------------------------------------------------------------
    // q79: the same funnel audited in TOKEN MASS — what a dataset build
    // actually budgets by. Funnel.audit's massCol threads an exact int64
    // token sum through every stage alongside the doc counts; still one
    // scan, one single-row aggregate.
    QueryDef.sql("q79_funnel_token_mass") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")))
      Funnel.audit(docs, QualityStages, massCol = Some(col("n_tok")))
    } {
      """WITH f AS (
        |  SELECT
        |    lang IN ('en', 'es', 'de', 'fr') AS s1,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
        |    n_chars
        |  FROM documents),
        |g AS (
        |  SELECT s1, n_tok,
        |    s1 AND n_chars BETWEEN 100 AND 500 AS s2,
        |    s1 AND n_chars BETWEEN 100 AND 500 AND n_tok >= 20 AS s3,
        |    s1 AND n_chars BETWEEN 100 AND 500 AND n_tok >= 20
        |       AND (CAST(n_chars AS DOUBLE) / n_tok) BETWEEN 3.0 AND 12.0 AS s4
        |  FROM f),
        |c AS (
        |  SELECT COUNT(*) AS n0,
        |    COUNT(*) FILTER (WHERE s1) AS n1,
        |    COUNT(*) FILTER (WHERE s2) AS n2,
        |    COUNT(*) FILTER (WHERE s3) AS n3,
        |    COUNT(*) FILTER (WHERE s4) AS n4,
        |    CAST(SUM(n_tok) AS BIGINT) AS m0,
        |    CAST(COALESCE(SUM(n_tok) FILTER (WHERE s1), 0) AS BIGINT) AS m1,
        |    CAST(COALESCE(SUM(n_tok) FILTER (WHERE s2), 0) AS BIGINT) AS m2,
        |    CAST(COALESCE(SUM(n_tok) FILTER (WHERE s3), 0) AS BIGINT) AS m3,
        |    CAST(COALESCE(SUM(n_tok) FILTER (WHERE s4), 0) AS BIGINT) AS m4
        |  FROM g)
        |SELECT stage, name, n_in, n_out,
        |  CASE WHEN n_in = 0 THEN NULL
        |       ELSE CAST(n_out AS DOUBLE) / n_in END AS retention,
        |  m_in, m_out
        |FROM (
        |  SELECT 1 AS stage, 'lang_allowlist' AS name, n0 AS n_in, n1 AS n_out,
        |         m0 AS m_in, m1 AS m_out FROM c
        |  UNION ALL SELECT 2, 'length_window', n1, n2, m1, m2 FROM c
        |  UNION ALL SELECT 3, 'min_tokens', n2, n3, m2, m3 FROM c
        |  UNION ALL SELECT 4, 'mean_word_length', n3, n4, m3, m4 FROM c)
        |ORDER BY stage""".stripMargin
    },

    // ------------------------------------------------------------------
    // q71: the WHOLE training pipeline composed end-to-end and audited
    // in one query — normalize → repetition-quality gate (q69's integer
    // rule) → exact-dedup canonical selection (q23's digest, min-doc_id
    // among quality survivors) → train split (q53's bucket) → context
    // packing (q54's running-sum windows over the kept docs). Shape at
    // scale: ONE documents scan, one window over canon_key, one running
    // window per lang, one final aggregation — no per-stage re-scan (the
    // per-doc stage flags ride one row). The canonical-selection window
    // orders (pass_q DESC, doc_id) so rn=1 is the min-id QUALITY doc of
    // each digest group without filtering first; non-kept docs
    // contribute 0 to the packing running sum, so pack ids equal q54's
    // over exactly the kept subset. The packing stage here deliberately
    // keeps q54's SEQUENTIAL per-lang window rather than q74's banded
    // [[packedContexts]]: this query's contract is an equality audit
    // against q54's global-order pack ids (n_windows must count exactly
    // those packs), and banding would renumber them; a production run of
    // the same funnel swaps in packedContexts for the final stage.
    QueryDef.sql("q71_pipeline_funnel") { (s, d) =>
      val base = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          // explicit class, not \s+: Java's \s includes vertical tab,
          // RE2's (DuckDB) does not — the class means the same in both
          split(regexp_replace(trim(col("text")), "[ \\t\\n\\r]+", " "), " ").as("tokens"))
        .withColumn("n_tok", size(col("tokens")))
        .withColumn("n_distinct", size(array_distinct(col("tokens"))))
        .withColumn("pass_q", col("n_tok") >= 20 &&
          (col("n_tok") - col("n_distinct")) * 10 < col("n_tok") * 3)
        .withColumn("canon_key",
          md5(array_join(sort_array(array_distinct(col("tokens"))), " ")))
      val wCanon = Window.partitionBy(col("canon_key"))
        .orderBy(col("pass_q").desc, col("doc_id"))
      // the packing running sum rides the two-pass
      // Scale.groupedOrderedCumsum — a lang-keyed window would sum the
      // whole corpus at |langs|-task parallelism (the canon window above
      // stays keyed: canon_key is digest-valued, i.e. already parallel).
      // Columns are pruned BEFORE the freeze so the frozen snapshot
      // carries the per-doc stage flags, not the token arrays.
      val staged = base
        .withColumn("is_canon", col("pass_q") && row_number().over(wCanon) === 1)
        .withColumn("keep", col("is_canon") && idBucket < 80)
        .withColumn("kept_tok", when(col("keep"), col("n_tok")).otherwise(lit(0)))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("pass_q"),
          col("is_canon"), col("keep"), col("kept_tok"))
      graft.ops.Scale
        .groupedOrderedCumsum(staged, Seq("lang"), "kept_tok", "cum", None,
          col("doc_id").asc)
        // concat (not concat_ws): NULL lang must propagate to a NULL key
        // exactly like the oracle's `||`, or a null-lang kept doc counts
        // as a window on one engine only (the cumsum op itself keeps a
        // NULL lang as a real group — its null-safe join-back contract)
        .withColumn("pack_key", when(col("keep"), concat(col("lang"), lit("|"),
          floor((col("cum") - col("n_tok")) / ContextTokens).cast("long").cast("string"))))
        .agg(
          count(lit(1)).as("n_raw"),
          sum(col("n_tok")).cast("long").as("tok_raw"),
          sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("is_canon"), 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_train"),
          sum(col("kept_tok")).cast("long").as("tok_train"),
          countDistinct(col("pack_key")).as("n_windows"))
    } {
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS tokens
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    LEN(tokens) AS n_tok,
         |    LEN(LIST_DISTINCT(tokens)) AS n_distinct,
         |    MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(tokens)), ' ')) AS canon_key
         |  FROM b),
         |f AS (
         |  SELECT *, (n_tok >= 20 AND (n_tok - n_distinct) * 10 < n_tok * 3) AS pass_q
         |  FROM m),
         |cn AS (
         |  SELECT *, (pass_q AND ROW_NUMBER() OVER (
         |      PARTITION BY canon_key ORDER BY pass_q DESC, doc_id) = 1) AS is_canon
         |  FROM f),
         |kp AS (
         |  SELECT *, (is_canon AND $IdBucketSql < 80) AS keep FROM cn),
         |ck AS (
         |  SELECT *, CASE WHEN keep THEN n_tok ELSE 0 END AS kept_tok FROM kp),
         |cm AS (
         |  SELECT *, SUM(kept_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                                ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM ck)
         |SELECT COUNT(*) AS n_raw,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_raw,
         |  CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(SUM(kept_tok) AS BIGINT) AS tok_train,
         |  COUNT(DISTINCT CASE WHEN keep THEN lang || '|' ||
         |    CAST(CAST(FLOOR((cum - n_tok) / $ContextTokens) AS BIGINT) AS VARCHAR)
         |  END) AS n_windows
         |FROM cm""".stripMargin
    },

    // ------------------------------------------------------------------
    // q115: TOKEN-BUDGET DATA SELECTION — "take the highest-quality
    // documents until the token budget is spent", the quality-ranked
    // curation step between scoring (q32) and mixture materialization
    // (q81). Budget here: half the corpus's tokens (integer floor-div —
    // exact on both engines). The prefix over the global
    // (quality DESC, doc_id) order uses Scale.globalOrderedCumsum — the
    // two-pass frozen range shuffle — because the naive global window is
    // one task sorting the corpus; a doc whose tokens would cross the
    // budget line is excluded (strict prefix, cum <= budget on exact
    // int64 sums). The ranking score is TextAnalysis.qualityScore, the
    // SAME expression q32 audits, so selection cannot drift from the
    // scoring operator. Reported per language: docs/tokens admitted and
    // the admitted quality floor. (The cumsum op pins a corpus-sized
    // frozen snapshot per run; the query owns it, so Checkpoints.release
    // of the result frees it — q78's posture.)
    QueryDef.sql("q115_token_budget_selection") { (s, d) =>
      val scored = Tables(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("quality_score", TextAnalysis.qualityScore)
        .select("doc_id", "lang", "n_tokens", "quality_score")
      val total = scored.agg(sum(col("n_tokens")).as("total_tokens"))
      graft.ops.Scale.globalOrderedCumsum(
          scored, "n_tokens", "cum_tokens", "rnk",
          col("quality_score").desc, col("doc_id"))
        .crossJoin(broadcast(total))
        .filter(col("cum_tokens") <= expr("total_tokens DIV 2"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs_selected"),
          sum(col("n_tokens")).as("tokens_selected"),
          min(col("quality_score")).as("min_quality_selected"))
        .orderBy("lang")
    } {
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${graft.llm.TextAnalysis.qualityScoreSql} AS quality_score
         |  FROM documents),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM sc),
         |r AS (
         |  SELECT doc_id, lang, n_tokens, quality_score,
         |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sc)
         |SELECT lang,
         |  COUNT(*) AS n_docs_selected,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
         |  MIN(quality_score) AS min_quality_selected
         |FROM r, t
         |WHERE cum_tokens <= t.budget
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q169: QUALITY-SCORE CALIBRATION vs DUPLICATION — does the quality
    // score actually predict anything? Every doc lands in a quality
    // DECILE by exact global rank (ties broken by doc_id — no
    // interpolated quantile thresholds, whose float interpolation is
    // engine-divergent on non-integer scores), and each decile reports
    // its exact-duplicate rate from q23's canonical digest. A filter
    // score that is flat across deciles filters noise; a calibrated one
    // shows the dup rate falling as quality rises. The decile rank is
    // the two-pass Scale.globalRowNumber (never a single-task window);
    // the dup flag is one window over the canonical-digest key; both
    // the score and the digest recipe are the library-wide shared
    // definitions (q32 / q23), so calibration can never drift from the
    // operators it audits.
    QueryDef.sql("q169_quality_calibration") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("q", TextAnalysis.qualityScore)
        .withColumn("ck",
          md5(array_join(sort_array(expr("array_distinct(split(text, ' '))")), " ")))
        .drop("text")
      val flagged = docs.withColumn("is_dup",
        (count(lit(1)).over(Window.partitionBy(col("ck"))) > 1).cast("long"))
      val total = flagged.agg(count(lit(1)).as("total"))
      val ranked = graft.ops.Scale.globalRowNumber(
        flagged, "rnk", col("q").asc, col("doc_id").asc)
      ranked.crossJoin(broadcast(total))
        .withColumn("decile", expr("((rnk - 1) * 10) div total"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("n_dup_docs"))
        .select(col("decile"), col("n_docs"), col("n_dup_docs"),
          (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"))
        .orderBy("decile")
    } {
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.qualityScoreSql} AS q,
         |    MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
         |      AS ck
         |  FROM documents),
         |flagged AS (
         |  SELECT doc_id, q,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY ck) > 1
         |      THEN 1 ELSE 0 END AS is_dup
         |  FROM scored),
         |ranked AS (
         |  SELECT q, is_dup,
         |    CAST(ROW_NUMBER() OVER (ORDER BY q, doc_id) AS BIGINT) AS rnk,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS total
         |  FROM flagged)
         |SELECT ((rnk - 1) * 10) // total AS decile,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
         |FROM ranked
         |GROUP BY 1
         |ORDER BY decile""".stripMargin
    },

    // ------------------------------------------------------------------
    // q121: WEIGHTED PRIORITY SAMPLE — Duffield–Lund–Thorup priority
    // sampling (JACM '07): the standard one-pass weighted sample whose
    // per-item estimate max(w_i, tau) sums to an unbiased estimate of
    // the TOTAL corpus weight. Weights here are n_chars (token-mass
    // proxy); the uniform draw is the deterministic 32-bit id hash
    // ((h+1)/2^32, same [[graft.Ids]] recipe as q53/q89 — reproducible,
    // never rand()), so priority w/u collapses to w/(h+1) with the 2^32
    // scale restored only in tau. Engine-exact WITHOUT decimals: both
    // operands of the one division are integers below 2^53 (exactly
    // representable), so the IEEE quotient is bit-identical on both
    // engines; no floating SUM ever happens. Plan shape: the top-(k+1)
    // is a distributed TakeOrderedAndProject (per-partition heaps, no
    // global sort); the single-partition window and tau fold run on the
    // O(k) survivor relation, driver-sized by definition.
    QueryDef.sql("q121_priority_sample") { (s, d) =>
      val k = 100
      val pr = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("w"))
        .withColumn("prio",
          col("w").cast("double") /
            (graft.Ids.hash("doc_id") + lit(1L)).cast("double"))
      val top = pr.orderBy(col("prio").desc, col("doc_id")).limit(k + 1)
      val rw = Window.orderBy(col("prio").desc, col("doc_id"))
      val ranked = top.withColumn("rn", row_number().over(rw))
      // tau = the (k+1)th-largest priority, the DLT estimator threshold;
      // null (→ keep raw weights) when the corpus itself is <= k docs
      val tau = ranked.agg(min(when(col("rn") === k + 1, col("prio"))).as("tau"))
      ranked.filter(col("rn") <= k)
        .crossJoin(broadcast(tau))
        .select(col("doc_id"), col("w"), col("prio"),
          greatest(col("w").cast("double"),
            coalesce(col("tau") * lit(4294967296.0), lit(0.0))).as("w_est"))
        .orderBy("doc_id")
    } {
      s"""WITH pr AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |    CAST(n_chars AS DOUBLE) / CAST((${Ids.hashSql("doc_id")} + 1) AS DOUBLE)
         |      AS prio
         |  FROM documents),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rn
         |  FROM pr),
         |t AS (SELECT MIN(CASE WHEN rn = 101 THEN prio END) AS tau FROM r)
         |SELECT doc_id, w, prio,
         |  GREATEST(CAST(w AS DOUBLE), COALESCE(tau * 4294967296.0, 0.0)) AS w_est
         |FROM r, t
         |WHERE rn <= 100
         |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q200: CROSS-SOURCE QUANTILE NORMALIZATION — before a single global
    // quality threshold can be applied to a mixed corpus, each source's
    // score distribution must be mapped onto a common reference (batch-
    // effect correction: one crawler's "80" is another's "40"). Classic
    // rank-based quantile normalization: doc with within-source rank r of
    // n_s maps to the global score at position ⌈r·N/n_s⌉. ALL-INTEGER:
    // ranks and positions are exact int64 (deterministic (score, doc_id)
    // tiebreak), so the lookup is an equi-join, not interpolation.
    // SCALE SHAPE: the within-source rank rides the two-pass
    // Scale.groupedRank (a source-keyed window would sort the corpus at
    // |sources|-task parallelism); its countName emits n_s for free, so
    // the per-source count join disappears, and the totals + position
    // table are read off the SAME frozen snapshot — one source scan.
    // The global position table is built from the DISTINCT-score
    // relation (bounded cardinality — score vocab, not corpus size):
    // cumulative counts over distinct scores, then each score's occupied
    // position interval [cum−cnt+1, cum] exploded to individual
    // positions. The explode totals N rows but is generated
    // partition-parallel from the compact relation, and the lookup is a
    // plain shuffle equi-join on int position — no global sort of the
    // corpus, no single-partition window over N rows.
    QueryDef.sql("q200_quantile_normalization") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("score"))
      val ranked = graft.ops.Scale.groupedRank(
        docs, Seq("source"), "r", Some("n_s"),
        col("score").asc, col("doc_id").asc)
      val tot = ranked.agg(count(lit(1)).as("n_total"))
      // distinct-score cumulative occupancy -> one row per global position
      val wScore = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val positions = ranked.groupBy(col("score"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wScore))
        .select(col("score").as("norm_score"),
          explode(expr("sequence(cum - cnt + 1, cum)")).as("pos"))
      ranked
        // NULL-source docs participate in the GLOBAL position table and
        // totals (the oracle's occ/tot CTEs read ALL docs) but are
        // excluded from the per-source normalization output (the
        // oracle's per_src equi-join never matches NULL) — the
        // pre-migration plan dropped them at its per-source count join,
        // which countName replaced; keep that contract explicitly
        .filter(col("source").isNotNull)
        .crossJoin(broadcast(tot))
        // DIV, not `/`: Spark's Divide always yields double. OVERFLOW
        // CONTRACT: r·N < 2^63 holds while n_s·N < 9e18 — comfortable to
        // ~1e10 docs (a 100 TB doc corpus); past that compute pos in
        // DECIMAL(38,0) on both engines.
        .withColumn("pos",
          expr("CAST((r * n_total + n_s - 1) DIV n_s AS BIGINT)"))
        .join(positions, "pos")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("norm_score")).as("min_norm"),
          max(col("norm_score")).as("max_norm"),
          (sum(col("norm_score")).cast("double") /
            count(lit(1)).cast("double")).as("mean_norm"),
          (sum(col("score")).cast("double") /
            count(lit(1)).cast("double")).as("mean_raw"))
        .orderBy("source")
    } {
      """WITH docs AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY score, doc_id) AS BIGINT) AS r
        |  FROM docs),
        |per_src AS (
        |  SELECT source, COUNT(*) AS n_s FROM docs GROUP BY source),
        |tot AS (SELECT COUNT(*) AS n_total FROM docs),
        |occ AS (
        |  SELECT score, COUNT(*) AS cnt FROM docs GROUP BY score),
        |cumo AS (
        |  SELECT score, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM occ),
        |positions AS (
        |  SELECT score AS norm_score,
        |    UNNEST(GENERATE_SERIES(cum - cnt + 1, cum)) AS pos
        |  FROM cumo),
        |mapped AS (
        |  SELECT ranked.source, ranked.score, norm_score
        |  FROM ranked
        |  JOIN per_src ON ranked.source = per_src.source
        |  CROSS JOIN tot
        |  JOIN positions
        |    ON positions.pos = (ranked.r * n_total + n_s - 1) // n_s)
        |SELECT source, COUNT(*) AS n_docs,
        |  MIN(norm_score) AS min_norm, MAX(norm_score) AS max_norm,
        |  CAST(CAST(SUM(norm_score) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_norm,
        |  CAST(CAST(SUM(score) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_raw
        |FROM mapped GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q208: DECILE GAINS / LIFT TABLE — the standard model-evaluation
    // report for a targeting score (here: total engagement cents per
    // user, outcome = purchased): rank users by score, band into 10
    // deciles, and report each band's conversion lift over the global
    // rate plus the cumulative gains curve ("the top 20% of scores
    // captures X% of all converters"). Campaign-sizing reads straight
    // off this table. DETERMINISM: score is an exact cent sum; ranking
    // ties break by user_id; decile = ((rnk−1)·10) div n (exact
    // integers, q169's banding rule); lift/gains are terminal divisions
    // of exact counts. SCALE SHAPE: one user-keyed agg, the two-pass
    // [[graft.ops.Scale.globalRowNumber]] (never a single-task global
    // window), a 10-row decile agg, and a 10-row running sum.
    QueryDef.sql("q208_gains_table") { (s, d) =>
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val tot = perUser.agg(count(lit(1)).as("n"),
        sum(col("conv")).as("total_conv"))
      val ranked = graft.ops.Scale.globalRowNumber(
        perUser, "rnk", col("score").desc, col("user_id").asc)
      val deciles = ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rnk - 1) * 10) div n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"),
          max(col("n")).as("n"), max(col("total_conv")).as("total_conv"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      deciles
        .withColumn("cum_conv", sum(col("n_conv")).over(wCum))
        .select(col("decile"), col("n_users"), col("n_conv"),
          (col("n_conv").cast("double") / col("n_users").cast("double"))
            .as("conv_rate"),
          ((col("n_conv") * col("n")).cast("double") /
            (col("n_users") * col("total_conv")).cast("double")).as("lift"),
          (col("cum_conv").cast("double") / col("total_conv").cast("double"))
            .as("cum_gains"))
        .orderBy("decile")
    } {
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS score,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |ranked AS (
        |  SELECT score, conv,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, user_id)
        |      AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    CAST(SUM(conv) OVER () AS BIGINT) AS total_conv
        |  FROM pu),
        |dec AS (
        |  SELECT ((rnk - 1) * 10) // n AS decile,
        |    COUNT(*) AS n_users, CAST(SUM(conv) AS BIGINT) AS n_conv,
        |    MAX(n) AS n, MAX(total_conv) AS total_conv
        |  FROM ranked GROUP BY 1)
        |SELECT decile, n_users, n_conv,
        |  CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
        |  CAST(n_conv * n AS DOUBLE) / CAST(n_users * total_conv AS DOUBLE)
        |    AS lift,
        |  CAST(CAST(SUM(n_conv) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / CAST(total_conv AS DOUBLE) AS cum_gains
        |FROM dec
        |ORDER BY decile""".stripMargin
    },

    // ------------------------------------------------------------------
    // q210: NEYMAN-ALLOCATED STRATIFIED SAMPLE — q59 samples each
    // stratum at a FIXED rate; optimal (Neyman) allocation sizes each
    // stratum's share of a fixed budget by N_h·σ_h (high-variance
    // strata earn more draws — the minimum-variance design for a fixed
    // total, Neyman 1934). ENGINE-EXACT APPORTIONMENT: N_h·σ_h =
    // √(N_h·Σx² − (Σx)²) — an IEEE sqrt of an exact int64 — is
    // quantized to integer micro-units, and the largest-remainder
    // method then runs in PURE integer arithmetic: base = (S·wq) div W,
    // the S−Σbase leftovers go to the largest (S·wq) mod W (ties by
    // lang). No floating comparison decides an allocation. The draw
    // itself is the house md5 order (rank by id-hash within stratum),
    // so the sampled set is reproducible anywhere. OVERFLOW CONTRACT:
    // N_h·Σx² needs N_h·N_h·x̄² < 2^63 — holds to ~1e7 docs/stratum at
    // 1e3 chars; past that lift s1/s2 into DECIMAL(38,0) on both
    // engines. SCALE SHAPE: one stratum-keyed moment agg (rows =
    // strata), the apportionment entirely on that tiny relation, one
    // broadcast join back; the draw rank rides the two-pass
    // Scale.groupedRank (a stratum-keyed window would sort the corpus
    // at |strata|-task parallelism — `rn <= alloc` has no static bound,
    // so no WindowGroupLimit prune applies), and the strata moments are
    // read off the SAME frozen snapshot — the whole query scans the
    // source once, at the freeze.
    QueryDef.sql("q210_neyman_allocation") { (s, d) =>
      val S = 100L
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("x"))
      val drawn = graft.ops.Scale.groupedRank(
        docs, Seq("lang"), "rn", None,
        graft.Ids.hash("doc_id"), col("doc_id"))
      val strata = drawn.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"))
        .withColumn("wq", expr(
          "CAST(ROUND(SQRT(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)) * 1000000) AS BIGINT)"))
      val tot = strata.agg(sum(col("wq")).as("bigw"))
      val based = strata.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"CAST(($S * wq) DIV bigw AS BIGINT)"))
        .withColumn("rem", expr(s"CAST(($S * wq) % bigw AS BIGINT)"))
      val spare = based.agg((lit(S) - sum(col("base"))).as("r"))
      val wRem = Window.orderBy(col("rem").desc, col("lang"))
      val alloc = based.crossJoin(broadcast(spare))
        .withColumn("rr", row_number().over(wRem).cast("long"))
        .withColumn("alloc",
          col("base") + when(col("rr") <= col("r"), 1L).otherwise(0L))
        .select(col("lang"), col("n_docs"), col("wq"), col("alloc"))
      drawn
        .join(broadcast(alloc), "lang")
        .filter(col("rn") <= col("alloc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("x")).as("sampled_chars"),
          max(col("n_docs")).as("n_docs"), max(col("wq")).as("wq"),
          max(col("alloc")).as("alloc"))
        .select(col("lang"), col("n_docs"), col("wq"), col("alloc"),
          col("n_sampled"),
          (col("sampled_chars").cast("double") /
            col("n_sampled").cast("double")).as("sample_mean_chars"))
        .orderBy("lang")
    } {
      s"""WITH docs AS (
         |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x
         |  FROM documents),
         |strata AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
         |  FROM docs GROUP BY lang),
         |wq AS (
         |  SELECT *, CAST(ROUND(SQRT(CAST(n_docs * s2 - s1 * s1 AS DOUBLE))
         |    * 1000000) AS BIGINT) AS wq
         |  FROM strata),
         |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS bigw FROM wq),
         |based AS (
         |  SELECT w.*, (100 * wq) // bigw AS base, (100 * wq) % bigw AS rem
         |  FROM wq w CROSS JOIN tot),
         |spare AS (SELECT 100 - CAST(SUM(base) AS BIGINT) AS r FROM based),
         |alloc AS (
         |  SELECT lang, n_docs, wq,
         |    base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
         |      <= r THEN 1 ELSE 0 END AS alloc
         |  FROM based CROSS JOIN spare),
         |drawn AS (
         |  SELECT d.lang, d.x,
         |    ROW_NUMBER() OVER (PARTITION BY d.lang
         |      ORDER BY ${graft.Ids.hashSql("d.doc_id")}, d.doc_id) AS rn,
         |    a.n_docs, a.wq, a.alloc
         |  FROM docs d JOIN alloc a ON d.lang = a.lang)
         |SELECT lang, MAX(n_docs) AS n_docs, MAX(wq) AS wq,
         |  CAST(MAX(alloc) AS BIGINT) AS alloc,
         |  COUNT(*) AS n_sampled,
         |  CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS sample_mean_chars
         |FROM drawn WHERE rn <= alloc
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q219: PADDING-WASTE AUDIT — the batching-efficiency decision
    // every trainer makes: batches of 32 padded to their own max
    // length, under (a) hash-order batching (the arrival baseline) vs
    // (b) length-sorted batching (the standard bucketing trick). Waste
    // per batch = n·max − Σlen, all exact int64; the two strategies
    // differ ONLY in the rank order, so the comparison isolates the
    // batching policy. This is the measurement that justifies (or
    // kills) adding a sort stage to the data loader. SCALE SHAPE: two
    // [[graft.ops.Scale.globalRowNumber]] passes (never a single-task
    // sort), batch-keyed shrinking aggs, a 2-row final relation.
    QueryDef.sql("q219_padding_waste_audit") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " "))
          .cast("long").as("len"))
      def waste(ordered: DataFrame, tag: String): DataFrame =
        ordered
          .withColumn("batch", expr("(rnk - 1) DIV 32"))
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("n"), max(col("len")).as("mx"),
            sum(col("len")).as("tok"))
          .agg(
            count(lit(1)).as("n_batches"),
            sum(col("tok")).as("total_tokens"),
            sum(col("n") * col("mx") - col("tok")).as("padding_waste"))
          .select(lit(tag).as("strategy"), col("n_batches"),
            col("total_tokens"), col("padding_waste"),
            (col("padding_waste").cast("double") /
              (col("padding_waste") + col("total_tokens")).cast("double"))
              .as("waste_ratio"))
      val arrival = graft.ops.Scale.globalRowNumber(
        docs.withColumn("h", graft.Ids.hash("doc_id")), "rnk",
        col("h").asc, col("doc_id").asc)
      val sorted = graft.ops.Scale.globalRowNumber(
        docs, "rnk", col("len").desc, col("doc_id").asc)
      waste(arrival, "hash_order").unionAll(waste(sorted, "length_sorted"))
        .orderBy("strategy")
    } {
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)
         |    AS len,
         |    ${graft.Ids.hashSql("doc_id")} AS h
         |  FROM documents),
         |ra AS (
         |  SELECT len, (CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id)
         |    AS BIGINT) - 1) // 32 AS batch
         |  FROM docs),
         |rs AS (
         |  SELECT len, (CAST(ROW_NUMBER() OVER (ORDER BY len DESC, doc_id)
         |    AS BIGINT) - 1) // 32 AS batch
         |  FROM docs),
         |ba AS (
         |  SELECT batch, COUNT(*) AS n, MAX(len) AS mx,
         |    CAST(SUM(len) AS BIGINT) AS tok
         |  FROM ra GROUP BY batch),
         |bs AS (
         |  SELECT batch, COUNT(*) AS n, MAX(len) AS mx,
         |    CAST(SUM(len) AS BIGINT) AS tok
         |  FROM rs GROUP BY batch),
         |u AS (
         |  SELECT 'hash_order' AS strategy, COUNT(*) AS n_batches,
         |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
         |    CAST(SUM(n * mx - tok) AS BIGINT) AS padding_waste
         |  FROM ba
         |  UNION ALL
         |  SELECT 'length_sorted', COUNT(*),
         |    CAST(SUM(tok) AS BIGINT), CAST(SUM(n * mx - tok) AS BIGINT)
         |  FROM bs)
         |SELECT strategy, n_batches, total_tokens, padding_waste,
         |  CAST(padding_waste AS DOUBLE)
         |    / CAST(padding_waste + total_tokens AS DOUBLE) AS waste_ratio
         |FROM u
         |ORDER BY strategy""".stripMargin
    },

    // ------------------------------------------------------------------
    // q234: TEMPORAL-SPLIT ENTITY LEAKAGE — a time-based train/test
    // split (train strictly before the cutoff, test at/after) looks
    // leak-free, but the same USER on both sides leaks entity-level
    // signal into any per-user feature — the standard churn/LTV-model
    // evaluation bug. Reported: side sizes, users per side, users
    // straddling the cutoff, and the share of TEST events whose user
    // was seen in train — the number that decides between a temporal
    // split and a user-disjoint one (q53's hash split is the
    // user-disjoint fix; this query prices why you'd need it). One
    // user-keyed agg carrying per-side flags; exact integers.
    QueryDef.sql("q234_temporal_split_leakage") { (s, d) =>
      val cutoff = lit("2024-01-16").cast("timestamp")
      val perUser = Tables(s, d, "events")
        .select(col("user_id"),
          (col("ts").cast("timestamp") < cutoff).as("is_train"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train_ev"),
          sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test_ev"))
      perUser.agg(
        sum(col("n_train_ev")).as("n_train_events"),
        sum(col("n_test_ev")).as("n_test_events"),
        sum(when(col("n_train_ev") > 0L, 1L).otherwise(0L))
          .as("n_train_users"),
        sum(when(col("n_test_ev") > 0L, 1L).otherwise(0L))
          .as("n_test_users"),
        sum(when(col("n_train_ev") > 0L && col("n_test_ev") > 0L, 1L)
          .otherwise(0L)).as("n_straddling_users"),
        sum(when(col("n_train_ev") > 0L, col("n_test_ev")).otherwise(0L))
          .as("n_leaked_test_events"))
        .withColumn("leakage_rate",
          col("n_leaked_test_events").cast("double") /
            col("n_test_events").cast("double"))
    } {
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
        |      < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train_ev,
        |    CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
        |      >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test_ev
        |  FROM events GROUP BY user_id)
        |SELECT
        |  CAST(SUM(n_train_ev) AS BIGINT) AS n_train_events,
        |  CAST(SUM(n_test_ev) AS BIGINT) AS n_test_events,
        |  CAST(SUM(CASE WHEN n_train_ev > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train_users,
        |  CAST(SUM(CASE WHEN n_test_ev > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_test_users,
        |  CAST(SUM(CASE WHEN n_train_ev > 0 AND n_test_ev > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling_users,
        |  CAST(SUM(CASE WHEN n_train_ev > 0 THEN n_test_ev ELSE 0 END)
        |    AS BIGINT) AS n_leaked_test_events,
        |  CAST(SUM(CASE WHEN n_train_ev > 0 THEN n_test_ev ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(SUM(n_test_ev) AS DOUBLE) AS leakage_rate
        |FROM pu""".stripMargin
    },

    // ------------------------------------------------------------------
    // q330: DSIR IMPORTANCE WEIGHTS — Data Selection with Importance
    // Resampling (Xie et al., NeurIPS'23): score every pool document by
    // how target-like its hashed-n-gram feature distribution is, so the
    // pool can be resampled toward a target domain. Features are hashed
    // unigram buckets (the library-wide md5 recipe, mod 512 — collision
    // folding is PART of the estimator, exactly as in the paper); the
    // target model counts tokens from the target slice (lang = 'en'
    // here), the raw model from the whole pool, both Laplace-smoothed.
    // The canonical score is Σ log(p_target/p_raw); transcendentals are
    // not bit-reproducible across engines (q114's precedent), so the
    // score here is the MEAN LIKELIHOOD RATIO over the doc's tokens —
    // every step is exact int64 counts, IEEE multiply/divide of those
    // counts, and a csum — engine-exact and therefore oracle-hashable,
    // with the same >1 ⇔ "more target-like than the pool average at the
    // bucket level" read that thresholded selection needs.
    //
    // Shape at 100 TB: one tokenize+explode scan builds BOTH models via
    // conditional aggregation (512-row result); the probe pass re-scans
    // tokens and joins the BROADCAST model + totals — zero corpus-sized
    // shuffles before the per-doc keyed agg. csum bound: ratio ≤
    // ~(rtot+B)/(ttot+B) ≈ 1/target-share; per-doc Σratio·1e6 must stay
    // under 2^63 — holds for docs < ~1e6 tokens even at a 1e-6 target
    // share; revisit for longer docs with rarer targets.
    QueryDef.sql("q330_dsir_importance") { (s, d) =>
      val B = 512
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b",
          expr(s"cast(conv(substring(md5(tok), 1, 8), 16, 10) AS bigint) % $B"))
      val model = toks.groupBy(col("b"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr"))
      val totals = model.agg(sum(col("ct")).as("ttot"), sum(col("cr")).as("rtot"))
      val perDoc = toks
        .join(broadcast(model), Seq("b"))
        .crossJoin(broadcast(totals))
        .withColumn("ratio",
          ((col("ct").cast("double") + lit(1.0)) *
            (col("rtot").cast("double") + lit(B.toDouble))) /
            ((col("cr").cast("double") + lit(1.0)) *
              (col("ttot").cast("double") + lit(B.toDouble))))
        .groupBy(col("doc_id"), col("source"))
        .agg((graft.Det.csum(col("ratio"), 6) / count(lit(1))).as("w"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (graft.Det.csum(col("w"), 6) / count(lit(1))).as("mean_weight"),
          sum(when(col("w") > 1.0, 1L).otherwise(0L)).as("n_target_like"))
        .orderBy("source")
    } {
      s"""WITH tk AS (
         |  SELECT doc_id, source, lang,
         |    CAST(('0x' || SUBSTRING(MD5(tok), 1, 8)) AS BIGINT) % 512 AS b
         |  FROM (SELECT doc_id, source, lang,
         |          UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)),
         |model AS (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    COUNT(*) AS cr
         |  FROM tk GROUP BY b),
         |tot AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS ttot,
         |    CAST(SUM(cr) AS BIGINT) AS rtot FROM model),
         |perdoc AS (
         |  SELECT doc_id, source,
         |    (${graft.Det.csumSql(
             "((CAST(ct AS DOUBLE) + 1.0) * (CAST(rtot AS DOUBLE) + 512.0))" +
               " / ((CAST(cr AS DOUBLE) + 1.0) * (CAST(ttot AS DOUBLE) + 512.0))",
             6)} / COUNT(*)) AS w
         |  FROM tk JOIN model USING (b) CROSS JOIN tot
         |  GROUP BY doc_id, source)
         |SELECT source, COUNT(*) AS n_docs,
         |  (${graft.Det.csumSql("w", 6)} / COUNT(*)) AS mean_weight,
         |  CAST(SUM(CASE WHEN w > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_target_like
         |FROM perdoc GROUP BY source
         |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q334: SPLIT × DUP-CLUSTER LEAKAGE AUDIT — a hash split (q53) is
    // document-random, so an exact-duplicate cluster can straddle
    // train/val/test: the copy in train makes the copy in test trivially
    // predictable (the C4/Pile eval-contamination lesson; q70 audits
    // leakage across SOURCES, q234 across TIME — this closes the split
    // axis). Uses q53's EXACT split recipe (the shared [[splitCol]] —
    // the audit and the splitter cannot drift apart) and q23's exact
    // digest. Per split: docs, docs inside any duplicate cluster, docs
    // inside a STRADDLING cluster (the leak), and the leak rate.
    //
    // Shape at 100 TB: one scan → (digest, split) keyed counts (shrinks
    // to distinct digests immediately; raw text never leaves the first
    // projection); cluster size and split-spread come from windows over
    // the digest key (≤ 3 rows per digest — never a re-agg + join-back
    // that would re-derive the relation); per-split rollup. All-integer
    // flags; the one double is a final ratio of exact int64s.
    QueryDef.sql("q334_split_cluster_leakage") { (s, d) =>
      val perDgSplit = Tables(s, d, "documents")
        .select(md5(col("text")).as("dg"), splitCol.as("split"))
        .groupBy(col("dg"), col("split"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dg"))
      perDgSplit
        .withColumn("members", sum(col("c")).over(w))
        .withColumn("n_splits", count(lit(1)).over(w))
        .groupBy(col("split"))
        .agg(sum(col("c")).as("n_docs"),
          sum(when(col("members") >= 2, col("c")).otherwise(0L))
            .as("docs_in_dup_clusters"),
          sum(when(col("members") >= 2 && col("n_splits") >= 2, col("c"))
            .otherwise(0L)).as("docs_leaking"))
        .withColumn("leak_rate",
          col("docs_leaking").cast("double") / col("n_docs").cast("double"))
        .orderBy("split")
    } {
      s"""WITH b AS (
         |  SELECT MD5(text) AS dg,
         |    CASE WHEN $IdBucketSql < 80 THEN 'train'
         |         WHEN $IdBucketSql < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |ds AS (
         |  SELECT dg, split, COUNT(*) AS c FROM b GROUP BY dg, split),
         |e AS (
         |  SELECT split, c,
         |    SUM(c) OVER (PARTITION BY dg) AS members,
         |    COUNT(*) OVER (PARTITION BY dg) AS n_splits
         |  FROM ds)
         |SELECT split,
         |  CAST(SUM(c) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN members >= 2 THEN c ELSE 0 END) AS BIGINT)
         |    AS docs_in_dup_clusters,
         |  CAST(SUM(CASE WHEN members >= 2 AND n_splits >= 2 THEN c ELSE 0 END)
         |    AS BIGINT) AS docs_leaking,
         |  CAST(SUM(CASE WHEN members >= 2 AND n_splits >= 2 THEN c ELSE 0 END)
         |      AS DOUBLE)
         |    / CAST(SUM(c) AS DOUBLE) AS leak_rate
         |FROM e GROUP BY split
         |ORDER BY split""".stripMargin
    }
  )
}
