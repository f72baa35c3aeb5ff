package graft.llm

import graft.{Det, QueryDef, Tables}
import graft.Det.{dsum, dsumSql}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis operators: corpus language stats, stopword-based
  * language-ID heuristic, per-document quality scoring, token counting /
  * frequency, and deterministic document fingerprinting. All expressed as
  * per-row scalar expressions + keyed aggregation — fully distributed,
  * no UDFs, whole-stage-codegen friendly.
  */
object TextAnalysis {

  private val En = Seq("the", "a", "of", "and", "to", "in")
  private val Es = Seq("el", "la", "de", "y", "en", "los")
  private val De = Seq("der", "die", "das", "und", "ein", "zu")

  private def hitsExpr(words: Seq[String]) = {
    val list = words.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(split(text, ' '), t -> t IN ($list)))")
  }

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, optionally
    * space-prefixed letter/digit runs, punctuation runs. RE2-compatible
    * (alternation + classes only) so both engines split identically.
    */
  private val BpePattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  private def hitsSql(words: Seq[String]) = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ($list))) AS INT)"
  }

  /** The q32 composite quality score as one self-contained per-row
    * expression over `text` — shared with q115's budgeted selection so
    * the selection's ranking score cannot drift from the audited q32
    * definition. Identical IEEE operations in the same association as
    * q32's column-by-column form, so the two produce bit-equal doubles.
    */
  private[llm] def qualityScore: Column = {
    val nTok = size(split(col("text"), " ")).cast("double")
    val nDis = size(array_distinct(split(col("text"), " "))).cast("double")
    least(lit(1.0), nTok / 50.0) * 0.4 + (nDis / nTok) * 0.4 +
      (hitsExpr(En).cast("double") / nTok) * 0.2
  }

  /** DuckDB fragment equivalent to [[qualityScore]]. */
  private[llm] def qualityScoreSql: String =
    "(LEAST(1.0, CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 50.0) * 0.4 + " +
      "(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE) / " +
      "CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)) * 0.4 + " +
      s"(CAST(${hitsSql(En)} AS DOUBLE) / " +
      "CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)) * 0.2)"

  /** Ordered redaction: apply `(pattern, replacement)` rules
    * left-to-right. Patterns must stay RE2-compatible (no lookarounds,
    * no backreferences) so the same rule set runs identically on Spark
    * (Java regex), the DuckDB oracle, and any RE2-based scrubber a
    * serving stack uses. Pure per-row codegen'd expressions — the scrub
    * distributes with the scan, no shuffle.
    */
  def redact(c: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Standard PII scrub rules (RE2-safe), in application order: emails
    * first (their local parts can contain digits/dots that the later
    * rules would mangle), then IPv4 (dotted quads would half-match the
    * phone rule), then phone-shaped digit runs. Covered by
    * RedactionSpec; extend per deployment.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>")

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q295: FORMAT CENSUS — the instruction-tuning mix question: what
    // SHAPE of text does each source carry? Per source: the share of
    // docs containing a question mark (dialog/QA signal), containing
    // digits, "shouty" docs (>20% uppercase letters), and the mean word
    // length — the structural fingerprint that separates prose, code,
    // tables and templates before any model-based classifier runs. All
    // predicates are position/char-class checks shared across engines
    // (RE2-class patterns, the q82 contract); counts exact, shares
    // single divisions. One scan, one source-keyed agg.
    QueryDef.sql("q295_format_census") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("source"),
          (instr(col("text"), "?") > 0).cast("long").as("has_q"),
          col("text").rlike("[0-9]").cast("long").as("has_digit"),
          expr("length(regexp_replace(text, '[^A-Z]', ''))").as("n_upper"),
          expr("length(regexp_replace(text, '[^A-Za-z]', ''))").as("n_alpha"),
          expr("length(regexp_replace(text, ' ', ''))").as("n_nonspace"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("shouty",
          (col("n_upper") * 5L > col("n_alpha")).cast("long"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("has_q")).as("n_question"),
          sum(col("has_digit")).as("n_digit"),
          sum(col("shouty")).as("n_shouty"),
          sum(col("n_nonspace")).as("sum_chars"),
          sum(col("n_tok")).as("sum_tok"))
        .select(col("source"), col("n_docs"),
          expr("CAST(n_question AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("question_share"),
          expr("CAST(n_digit AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("digit_share"),
          expr("CAST(n_shouty AS DOUBLE) / CAST(n_docs AS DOUBLE)")
            .as("shouty_share"),
          expr("CAST(sum_chars AS DOUBLE) / CAST(sum_tok AS DOUBLE)")
            .as("mean_word_len"))
        .orderBy("source")
    } {
      """WITH f AS (
        |  SELECT source,
        |    CASE WHEN POSITION('?' IN text) > 0 THEN 1 ELSE 0 END AS has_q,
        |    CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END
        |      AS has_digit,
        |    LENGTH(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
        |    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        |    LENGTH(REPLACE(text, ' ', '')) AS n_nonspace,
        |    LEN(STRING_SPLIT(text, ' ')) AS n_tok
        |  FROM documents),
        |g AS (
        |  SELECT source, has_q, has_digit,
        |    CASE WHEN n_upper * 5 > n_alpha THEN 1 ELSE 0 END AS shouty,
        |    n_nonspace, n_tok
        |  FROM f)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(has_q) AS DOUBLE) / COUNT(*) AS question_share,
        |  CAST(SUM(has_digit) AS DOUBLE) / COUNT(*) AS digit_share,
        |  CAST(SUM(shouty) AS DOUBLE) / COUNT(*) AS shouty_share,
        |  CAST(CAST(SUM(n_nonspace) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) AS mean_word_len
        |FROM g GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q296: SOURCE-VOCABULARY DIVERGENCE (total variation) — how far
    // each source's unigram distribution sits from the corpus's: the
    // mixture diagnostic that catches a template/boilerplate feed
    // before it skews training (TV, not KL — no logarithms, so both
    // engines stay exact). Shares quantize to an integer 1e-12 grid
    // (ONE deterministic round per (source, token) — both engines round
    // half away from zero on positives), and the identity
    // TV = ½[Σ_{t∈s}(|g_s−g_g| − g_g) + Σ_all g_g] keeps the work on
    // each source's OWN vocabulary — the missing-token mass folds into
    // one corpus constant, so no source×vocab grid ever materializes.
    QueryDef.sql("q296_source_vocab_tv") { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val st = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val gt = toks.groupBy(col("tok")).agg(count(lit(1)).as("cg"))
      val gTot = gt.agg(sum(col("cg")).as("n_g"))
      val grid = st.join(srcTot, "source")
        .join(gt, "tok").crossJoin(broadcast(gTot))
        .withColumn("gs", expr(
          "CAST(ROUND((CAST(c AS DOUBLE) * 1e12) / CAST(n_s AS DOUBLE)) AS BIGINT)"))
        .withColumn("gg", expr(
          "CAST(ROUND((CAST(cg AS DOUBLE) * 1e12) / CAST(n_g AS DOUBLE)) AS BIGINT)"))
      // Σ_all g_g — the corpus grid mass (≈1e12 up to rounding)
      val gmass = gt.crossJoin(broadcast(gTot))
        .select(expr(
          "CAST(ROUND((CAST(cg AS DOUBLE) * 1e12) / CAST(n_g AS DOUBLE)) AS BIGINT)")
          .as("gg"))
        .agg(sum(col("gg")).as("gmass"))
      grid.groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"), max(col("n_s")).as("n_tokens"),
          sum(abs(col("gs") - col("gg")) - col("gg")).as("own_mass"))
        .crossJoin(broadcast(gmass))
        .select(col("source"), col("n_tokens"), col("vocab"),
          expr("CAST(own_mass + gmass AS DOUBLE) / 2e12").as("tv_vs_corpus"))
        .orderBy("source")
    } {
      """WITH toks AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |st AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY source, tok),
        |srct AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
        |  FROM st GROUP BY source),
        |gt AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cg FROM toks GROUP BY tok),
        |gtot AS (SELECT CAST(SUM(cg) AS BIGINT) AS n_g FROM gt),
        |grid AS (
        |  SELECT st.source,
        |    CAST(ROUND((CAST(c AS DOUBLE) * 1e12) / CAST(n_s AS DOUBLE))
        |      AS BIGINT) AS gs,
        |    CAST(ROUND((CAST(cg AS DOUBLE) * 1e12) / CAST(n_g AS DOUBLE))
        |      AS BIGINT) AS gg,
        |    n_s
        |  FROM st JOIN srct USING (source) JOIN gt USING (tok)
        |  CROSS JOIN gtot),
        |gmass AS (
        |  SELECT CAST(SUM(CAST(ROUND((CAST(cg AS DOUBLE) * 1e12)
        |    / CAST(n_g AS DOUBLE)) AS BIGINT)) AS BIGINT) AS gmass
        |  FROM gt CROSS JOIN gtot)
        |SELECT source, MAX(n_s) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(CAST(SUM(ABS(gs - gg) - gg) AS BIGINT) + MAX(gmass)
        |    AS DOUBLE) / 2e12 AS tv_vs_corpus
        |FROM grid CROSS JOIN gmass
        |GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q285: CONSTRAINED TOP-K SELECTION — "the best 20 documents, but at
    // most 3 per source": every curation run applies a diversity cap so
    // one prolific feed can't monopolize the budget, and the naive
    // global-sort-then-dedupe formulation breaks at corpus scale. Shape:
    // the per-source rank is a KEYED window (distributed, map-side
    // WindowGroupLimit prunes each source to 3 rows before any
    // exchange), and the global top-20 over the ≤ 3·|sources| survivors
    // is a distributed partial top-k (TakeOrderedAndProject) — no global
    // sort anywhere. The score is the SHARED q32 quality expression
    // (one definition per engine side, zero drift).
    QueryDef.sql("q285_constrained_topk") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val scored = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          qualityScore.as("quality_score"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("src_rank", row_number().over(w))
        .filter(col("src_rank") <= 3)
        .orderBy(col("quality_score").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("source"), col("src_rank"),
          col("quality_score"))
    } {
      s"""WITH scored AS (
         |  SELECT doc_id, source, $qualityScoreSql AS quality_score
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id, source, quality_score,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality_score DESC, doc_id) AS src_rank
         |  FROM scored)
         |SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
         |  quality_score
         |FROM ranked WHERE src_rank <= 3
         |ORDER BY quality_score DESC, doc_id
         |LIMIT 20""".stripMargin
    },
    // ------------------------------------------------------------------
    // q30: corpus statistics per language tag.
    QueryDef.sql("q30_language_stats") { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          Det.davg(col("n_chars").cast("double")).as("avg_chars"),
          Det.davg(size(split(col("text"), " ")).cast("double")).as("avg_tokens"))
        .orderBy("lang")
    } {
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT source) AS n_sources,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  ${Det.davgSql("CAST(n_chars AS DOUBLE)")} AS avg_chars,
         |  ${Det.davgSql("CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)")} AS avg_tokens
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q31: stopword-count language-ID heuristic (n-gram-style membership
    // scoring with a fixed precedence tie-break).
    QueryDef.sql("q31_langid_stopwords") { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs
        .withColumn("en_hits", hitsExpr(En).cast("int"))
        .withColumn("es_hits", hitsExpr(Es).cast("int"))
        .withColumn("de_hits", hitsExpr(De).cast("int"))
        .withColumn("predicted_lang",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits"), "en")
            .when(col("es_hits") >= col("de_hits"), "es")
            .otherwise("de"))
        .select("doc_id", "lang", "en_hits", "es_hits", "de_hits", "predicted_lang")
        .orderBy("doc_id")
    } {
      s"""SELECT doc_id, lang,
         |  ${hitsSql(En)} AS en_hits,
         |  ${hitsSql(Es)} AS es_hits,
         |  ${hitsSql(De)} AS de_hits,
         |  CASE WHEN ${hitsSql(En)} >= ${hitsSql(Es)}
         |        AND ${hitsSql(En)} >= ${hitsSql(De)} THEN 'en'
         |       WHEN ${hitsSql(Es)} >= ${hitsSql(De)} THEN 'es'
         |       ELSE 'de' END AS predicted_lang
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q32: per-document quality scoring: token counts, type-token ratio,
    // mean token length, stopword ratio, composite score. Pure per-row
    // double arithmetic from exact integers — engine-identical.
    QueryDef.sql("q32_doc_quality") { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("n_distinct", size(array_distinct(split(col("text"), " "))))
        .withColumn("avg_token_len",
          length(regexp_replace(col("text"), " ", "")).cast("double") /
            col("n_tokens").cast("double"))
        .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .withColumn("stopword_ratio",
          hitsExpr(En).cast("double") / col("n_tokens").cast("double"))
        .withColumn("quality_score",
          least(lit(1.0), col("n_tokens").cast("double") / 50.0) * 0.4 +
            col("ttr") * 0.4 + col("stopword_ratio") * 0.2)
        .select("doc_id", "lang", "n_tokens", "n_distinct", "avg_token_len", "ttr",
          "stopword_ratio", "quality_score")
        .orderBy("doc_id")
    } {
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
         |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT) AS n_distinct,
         |    CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) AS n_letter_chars,
         |    CAST(${hitsSql(En)} AS DOUBLE) AS en_hits
         |  FROM documents)
         |SELECT doc_id, lang, n_tokens, n_distinct,
         |  n_letter_chars / CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
         |  en_hits / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.4 +
         |    (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.4 +
         |    (en_hits / CAST(n_tokens AS DOUBLE)) * 0.2 AS quality_score
         |FROM t
         |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q33: global token frequency — explode + hash aggregate on the token
    // (map-side partial agg keeps the shuffle small), top 50.
    QueryDef.sql("q33_token_histogram") { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs.select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(50)
    } {
      """SELECT token, COUNT(*) AS n_occurrences
        |FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token
        |LIMIT 50""".stripMargin
    },

    // ------------------------------------------------------------------
    // q33b (q41): bigram frequency — word 2-grams built per-row with a
    // positional transform, then explode + hash aggregate, top 30.
    QueryDef.sql("q41_bigram_histogram") { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs
        .select(split(col("text"), " ").as("toks"))
        // single-token docs contribute zero bigrams, but in Spark
        // sequence(1, 0) is the DESCENDING [1, 0] (not empty like
        // DuckDB's GENERATE_SERIES) and element_at(toks, 2) then throws
        // under ANSI — filter them out before the transform
        .filter(size(col("toks")) >= 2)
        // round 16: no barrier — Spark 4's CollapseProject keeps a
        // non-cheap multiply-referenced alias in its own Project (the
        // split runs once per row; plan-verified), so the repartition
        // bought nothing but a full exchange of the token arrays
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
          .as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("bigram"))
        .limit(30)
    } {
      """SELECT bigram, COUNT(*) AS n_occurrences
        |FROM (
        |  SELECT UNNEST(LIST_TRANSFORM(
        |    GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 1),
        |    i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i + 1]))
        |    AS bigram
        |  FROM documents)
        |GROUP BY bigram
        |ORDER BY n_occurrences DESC, bigram
        |LIMIT 30""".stripMargin
    },

    // ------------------------------------------------------------------
    // q86: trigram HEAVY HITTERS via the two-pass sketch-then-recount
    // pattern ([[HeavyHitters]]): per-partition Misra–Gries candidates
    // (no shuffle of the n-gram universe — for trigrams a key space
    // comparable to the corpus), then an exact recount restricted to the
    // candidate superset. Output is EXACT — every trigram with frequency
    // strictly above N/20000 — so it oracle-hashes even though the
    // intermediate sketch is partitioning-dependent.
    QueryDef.sql("q86_trigram_heavy_hitters") { (s, d) =>
      val tris = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        // barrier: materialize the token array once (see q41/q76) — and
        // the shared exchange is what the recount pass reuses
        .repartition(col("doc_id"))
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> array_join(slice(toks, i, 3), ' '))""".stripMargin))
          .as("trigram"))
      HeavyHitters.exactOverThreshold(tris, "trigram", k = 20000)
        .orderBy(col("freq").desc, col("trigram"))
    } {
      """WITH w AS (
        |  SELECT STRING_SPLIT(text, ' ') AS toks FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        |tri AS (
        |  SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
        |    i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS trigram
        |  FROM w),
        |tot AS (SELECT COUNT(*) AS n_total FROM tri)
        |SELECT trigram, COUNT(*) AS freq, tot.n_total,
        |  CAST(COUNT(*) AS DOUBLE) / tot.n_total AS share
        |FROM tri, tot
        |GROUP BY trigram, tot.n_total
        |HAVING COUNT(*) * 20000 > tot.n_total
        |ORDER BY freq DESC, trigram""".stripMargin
    },

    // ------------------------------------------------------------------
    // q100: SOURCE CONCENTRATION — how much of the corpus the top-5
    // sources own, with cumulative share: the C4-style provenance audit
    // that catches a crawl dominated by a handful of domains before the
    // mixture weights (q63/q81) bake the skew in. Reuses Scale.skewProfile
    // (distributed partial top-k — never a global sort) on a second key;
    // the cumulative sum runs over the ≤ 5 selected rows only.
    QueryDef.sql("q100_source_concentration") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.ops.Scale.skewProfile(Tables(s, d, "documents"), "source", 5)
        .withColumn("cum_share",
          sum(col("share")).over(
            Window.orderBy(col("rnk"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("source", "cnt", "rnk", "share", "cum_share", "n_keys",
          "total_rows")
        .orderBy("rnk")
    } {
      """WITH c AS (
        |  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |t AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows, COUNT(*) AS n_keys
        |  FROM c),
        |r AS (
        |  SELECT source, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, source) AS rnk
        |  FROM c)
        |SELECT r.source, CAST(r.cnt AS BIGINT) AS cnt, CAST(r.rnk AS INT) AS rnk,
        |  CAST(r.cnt AS DOUBLE) / t.total_rows AS share,
        |  SUM(CAST(r.cnt AS DOUBLE) / t.total_rows)
        |    OVER (ORDER BY r.rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_share,
        |  t.n_keys, t.total_rows
        |FROM r, t
        |WHERE r.rnk <= 5
        |ORDER BY rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q52: BPE-style regex token counting — the GPT-2 pre-tokenizer
    // pattern family (contraction suffixes, space-prefixed letter runs,
    // digit runs, punctuation runs), RE2-safe (no lookarounds) so Spark
    // and DuckDB tokenize identically. Complements the whitespace
    // tokenization used by q30–q33.
    QueryDef.sql("q52_bpe_tokens") { (s, d) =>
      val pat = BpePattern
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          regexp_extract_all(col("text"), lit(pat), lit(0)).as("toks"),
          size(split(col("text"), " ")).as("n_ws_tokens"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_bpe"),
          col("n_ws_tokens"))
        .orderBy("doc_id")
    } {
      val pat = BpePattern.replace("'", "''")
      s"""SELECT doc_id, lang,
         |  CAST(LEN(regexp_extract_all(text, '$pat')) AS INT) AS n_bpe_tokens,
         |  CAST(LEN(LIST_DISTINCT(regexp_extract_all(text, '$pat'))) AS INT)
         |    AS n_distinct_bpe,
         |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_ws_tokens
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q138: TOKENIZER FERTILITY PER LANGUAGE — chars-per-BPE-token and
    // BPE-tokens-per-word by language, the multilingual tokenizer-equity
    // audit (a language whose fertility runs high pays more compute per
    // character and fits less context per document — the standard
    // argument for rebalancing a tokenizer's training mix). Reuses q52's
    // exact RE2-safe pre-tokenizer so the fertility numbers can never
    // drift from the token counts the pipeline actually uses. One scan,
    // one keyed agg of exact int64 sums; each ratio is a single IEEE
    // division of two integer-valued operands — bit-equal on both
    // engines.
    QueryDef.sql("q138_tokenizer_fertility") { (s, d) =>
      val pat = BpePattern
      Tables(s, d, "documents")
        .select(col("lang"),
          length(col("text")).cast("long").as("n_chars_t"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_bpe"),
          size(split(col("text"), " ")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars_t")).as("sum_chars"),
          sum(col("n_bpe")).as("sum_bpe"),
          sum(col("n_ws")).as("sum_words"))
        .withColumn("chars_per_token",
          col("sum_chars").cast("double") / col("sum_bpe").cast("double"))
        .withColumn("tokens_per_word",
          col("sum_bpe").cast("double") / col("sum_words").cast("double"))
        .orderBy("lang")
    } {
      val pat = BpePattern.replace("'", "''")
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(LEN(text)) AS BIGINT) AS sum_chars,
         |  CAST(SUM(LEN(regexp_extract_all(text, '$pat'))) AS BIGINT) AS sum_bpe,
         |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS sum_words,
         |  CAST(SUM(LEN(text)) AS DOUBLE)
         |    / CAST(SUM(LEN(regexp_extract_all(text, '$pat'))) AS DOUBLE)
         |    AS chars_per_token,
         |  CAST(SUM(LEN(regexp_extract_all(text, '$pat'))) AS DOUBLE)
         |    / CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE)
         |    AS tokens_per_word
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q34: deterministic rolling-hash document fingerprint: position-
    // weighted character sum (exact int64 arithmetic — order-free), plus
    // how many documents share each fingerprint.
    QueryDef.sql("q34_doc_fingerprint") { (s, d) =>
      // Native codegen kernel (graft.functions.Fingerprint64): one tight
      // per-row loop — no explode (row count stays = doc count, not
      // corpus characters), no per-character shuffle, no per-row array
      // allocation. The only shuffle left is the window on `fingerprint`.
      graft.GraftExtensions.registerAll(s)
      val docs = Tables(s, d, "documents")
      val fps = docs
        .select(col("doc_id"), expr("fingerprint64(text)").as("fingerprint"))
      fps
        .withColumn("n_sharing",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))))
        .select("doc_id", "fingerprint", "n_sharing")
        .orderBy("doc_id")
    } {
      """WITH fp AS (
        |  SELECT doc_id, SUM(CAST(ORD(SUBSTRING(text, i, 1)) AS BIGINT) *
        |                     ((CAST(i AS BIGINT) * 2654435761) % 1000003)) AS fingerprint
        |  FROM (SELECT doc_id, text,
        |          UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS i
        |        FROM documents)
        |  GROUP BY doc_id)
        |SELECT doc_id, CAST(fingerprint AS BIGINT) AS fingerprint,
        |  COUNT(*) OVER (PARTITION BY fingerprint) AS n_sharing
        |FROM fp
        |ORDER BY doc_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q69: REPETITION QUALITY METRICS (the Gopher-rule family): per-doc
    // word-repetition signals — total words, distinct words, the most
    // frequent word's count — rolled up per language with threshold
    // flags ("most frequent word ≥ 20% of the doc", "repeated words ≥
    // 30% of the doc"). All arithmetic stays in INTEGERS (flags compare
    // cross-multiplied counts, never fractions), so the oracle is exact
    // with no float epsilon. Shape: one tokenize+explode pass →
    // (doc, token) count → per-doc rollup → per-lang agg; each stage is
    // a keyed partial aggregation, the corpus is scanned once, and rows
    // shrink at every step — the same posture as q33's histogram.
    QueryDef.sql("q69_repetition_metrics") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val tok = docs
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val perDoc = tok.groupBy(col("doc_id"), col("lang"))
        .agg(
          sum(col("cnt")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
      perDoc.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("top_cnt") * 5 >= col("n_words"), 1L).otherwise(0L))
            .as("n_top_heavy"),
          sum(when((col("n_words") - col("n_distinct")) * 10 >= col("n_words") * 3, 1L)
            .otherwise(0L)).as("n_dup_heavy"),
          sum(col("n_words")).as("total_words"),
          max(col("top_cnt")).as("max_top_cnt"))
        .orderBy("lang")
    } {
      """WITH t AS (
        |  SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, tok, COUNT(*) AS cnt
        |  FROM t GROUP BY doc_id, lang, tok),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    COUNT(*) AS n_distinct,
        |    MAX(cnt) AS top_cnt
        |  FROM c GROUP BY doc_id, lang)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN top_cnt * 5 >= n_words THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_top_heavy,
        |  CAST(SUM(CASE WHEN (n_words - n_distinct) * 10 >= n_words * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_heavy,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  MAX(top_cnt) AS max_top_cnt
        |FROM m
        |GROUP BY lang
        |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q76: INTER-document duplicate n-gram coverage (the C4/RefinedWeb
    // boilerplate signal — complements q69, which is INTRA-doc only):
    // per doc, the fraction of its DISTINCT 5-gram shingles that also
    // appear in at least one other document; rolled up per language with
    // a "≥50% duplicated" flag (integer cross-multiplied, no float
    // epsilon). Shape: tokenize once → per-row distinct shingles →
    // explode → df per shingle as a WINDOW count over the shingle key
    // (not an agg + join-back: that shape plans the explode subtree
    // twice — two corpus scans — where the window shares one; partition
    // sizes equal each shingle's df, which is docs-sharing-bounded, and
    // never a pair join: a corpus-hot shingle costs one skewed window
    // key, not a quadratic fan-out) → per-doc, per-lang rollups. Every
    // stage after the explode shrinks; the corpus is scanned ONCE
    // (plan-asserted in NewQueryPlanSpec).
    QueryDef.sql("q76_dup_ngram_coverage") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val toks = docs
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        // round 16: no barrier (see q41 — CollapseProject keeps the
        // split in one Project; the repartition was a pure extra
        // exchange of the token arrays)
      val sh = toks.select(col("doc_id"), col("lang"),
        explode(array_distinct(expr(
          """transform(sequence(1, size(toks) - 4),
            |  i -> array_join(slice(toks, i, 5), ' '))""".stripMargin)))
          .as("sh"))
      val withDf = sh.withColumn("df",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      val perDoc = withDf
        .groupBy(col("doc_id"), col("lang"))
        .agg(
          count(lit(1)).as("n_sh"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_sh"))
      perDoc.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("total_shingles"),
          sum(col("n_dup_sh")).as("dup_shingles"),
          Det.davg(col("n_dup_sh").cast("double") / col("n_sh").cast("double"))
            .as("avg_dup_coverage"),
          sum(when(col("n_dup_sh") * 2 >= col("n_sh"), 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy("lang")
    } {
      s"""WITH w AS (
         |  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents
         |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 5),
         |shng AS (
         |  SELECT DISTINCT doc_id, lang,
         |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
         |      i -> ARRAY_TO_STRING(toks[i:i+4], ' '))) AS sh
         |  FROM w),
         |dfreq AS (SELECT sh, COUNT(*) AS df FROM shng GROUP BY sh),
         |perdoc AS (
         |  SELECT s.doc_id, s.lang, COUNT(*) AS n_sh,
         |    SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS n_dup_sh
         |  FROM shng s JOIN dfreq USING (sh) GROUP BY s.doc_id, s.lang)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
         |  CAST(SUM(n_dup_sh) AS BIGINT) AS dup_shingles,
         |  ${Det.davgSql("CAST(n_dup_sh AS DOUBLE) / CAST(n_sh AS DOUBLE)")}
         |    AS avg_dup_coverage,
         |  CAST(SUM(CASE WHEN n_dup_sh * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged
         |FROM perdoc
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q78: VOCABULARY COVERAGE CURVE — tokenizer-vocab induction's core
    // question: how much of the corpus does the top-k vocabulary cover?
    // Frequency-ranked tokens with global rank and cumulative share.
    // The running sum over the global frequency order uses
    // Scale.globalOrderedCumsum (two-pass frozen range shuffle) — at a
    // real corpus scale the vocab relation is 10^7–10^8 rows, where the
    // naive global window is one straggler task sorting the whole
    // vocabulary. cum_share is one IEEE division of exact int64 sums.
    // (The two-pass op pins a vocab-sized checkpoint per run; the query
    // owns it, and Checkpoints.release(result) frees it — Verify, Bench
    // and the benchmark release every query's result once written.)
    QueryDef.sql("q78_vocab_coverage") { (s, d) =>
      val counts = Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      val curve = graft.ops.Scale.globalOrderedCumsum(
        counts, "cnt", "cum_cnt", "rnk", col("cnt").desc, col("token"))
      curve.crossJoin(broadcast(total))
        .withColumn("cum_share", col("cum_cnt").cast("double") / col("total"))
        .select("token", "rnk", "cnt", "cum_cnt", "cum_share")
        .orderBy("rnk")
    } {
      """WITH c AS (
        |  SELECT token, COUNT(*) AS cnt
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        |r AS (
        |  SELECT token, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk,
        |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
        |  FROM c)
        |SELECT token, rnk, cnt, cum_cnt,
        |  CAST(cum_cnt AS DOUBLE) / t.total AS cum_share
        |FROM r, t
        |ORDER BY rnk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q82: REDACTION AUDIT — the [[redact]] scrub applied to the events
    // payload column (digit runs → a placeholder; the fixture carries no
    // synthetic emails/phones, so the audited rule is the numeric one —
    // [[PiiRules]] run under RedactionSpec), with the per-type report a
    // scrub job publishes: events touched, chars before/after. Per-row
    // codegen'd regex + one keyed agg; distributes with the scan.
    QueryDef.sql("q82_redaction_audit") { (s, d) =>
      val ev = Tables(s, d, "events")
        .withColumn("scrubbed", redact(col("props"), Seq("[0-9]+" -> "<NUM>")))
      ev.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("scrubbed") =!= col("props"), 1)).as("n_changed"),
          sum(length(col("props")).cast("long")).as("chars_before"),
          sum(length(col("scrubbed")).cast("long")).as("chars_after"))
        .orderBy("event_type")
    } {
      """WITH r AS (
        |  SELECT event_type, props,
        |    REGEXP_REPLACE(props, '[0-9]+', '<NUM>', 'g') AS scrubbed
        |  FROM events)
        |SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(COUNT(*) FILTER (WHERE scrubbed <> props) AS BIGINT) AS n_changed,
        |  CAST(SUM(LENGTH(props)) AS BIGINT) AS chars_before,
        |  CAST(SUM(LENGTH(scrubbed)) AS BIGINT) AS chars_after
        |FROM r
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q114: BIGRAM-LM SURPRISAL SCORE — the CCNet/Gopher-style "fit a
    // cheap n-gram LM on the corpus, filter documents the model finds
    // surprising" quality gate. The usual formulation averages
    // -log P(w2|w1); transcendentals are not bit-reproducible across
    // engines, so the score here is the mean INVERSE conditional
    // probability under add-1/2 smoothing — the same ordering for
    // filtering purposes, but every step (int + exact-half sums, one
    // IEEE division) is engine-exact and therefore oracle-hashable.
    //   inv_p(w1 w2) = (c(w1) + V/2) / (c(w1,w2) + 1/2)
    // Shape at scale: three linear scans (unigram counts, bigram counts,
    // probe), two keyed shuffle joins on token/bigram (the model
    // relations have unique keys; a hot stopword bigram on the probe
    // side is AQE-skew-join territory, not a plan change), the vocab
    // size as a broadcast scalar, then per-doc and per-lang keyed aggs.
    // No driver materialization, no all-pairs. Docs with < 2 tokens
    // contribute no bigrams and are excluded (both engines). Per-doc
    // decimal(18,6) sums bound |inv_p|·bigrams/doc < 1e12 — holds while
    // c(w1) + V/2 times tokens-per-doc stays under 1e12; revisit the
    // scale if a single w1 approaches 1e9 occurrences.
    QueryDef.sql("q114_bigram_lm_surprisal") { (s, d) =>
      val docs = Tables(s, d, "documents")
      val pairs = docs
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        // round 16: no barrier (see q41)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> named_struct('w1', element_at(toks, i),
            |                    'w2', element_at(toks, i + 1)))""".stripMargin))
          .as("bg"))
        .select(col("doc_id"), col("lang"), col("bg.w1"), col("bg.w2"))
      val uni = docs
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cu"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      val perDoc = pairs
        .join(big, Seq("w1", "w2"))
        .join(uni.withColumnRenamed("token", "w1"), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("inv_p",
          (col("cu").cast("double") + lit(0.5) * col("v").cast("double")) /
            (col("cb").cast("double") + lit(0.5)))
        // csum (scale-6 round + exact int64 sum), NOT dsum: the decimal
        // cast's rounding of an already-rounded double can double-round
        // differently across engines; round() of a bit-identical double
        // is one shared IEEE rounding. Overflow bound (per csum's
        // contract): per-doc Σ|inv_p|·1e6 ≲ bigrams/doc · (c_max+V/2)·1e6
        // — bounded by doc length, not corpus size; the lang-level mean
        // binds docs/lang · surprisal · 1e6 < 2^63, revisit past ~1e6
        // mean-surprisal · 1e9 docs per language.
        .groupBy(col("doc_id"), col("lang"))
        .agg((Det.csum(col("inv_p"), 6) / count(lit(1))).as("doc_surprisal"))
      // freeze the scored relation (1 row/doc): both consumers below —
      // the per-lang means and the flagging probe — read the frozen
      // partitions, so the expensive LM-scoring subtree (3 scans + 2
      // model joins) runs ONCE, not once per consumer. Library callers
      // release via Checkpoints.release (q78's posture). The alternative
      // single-pass shape (a lang-partitioned full-frame window) is the
      // 5-partition scale-killer this library bans.
      val perDocF = graft.Checkpoints.checkpointLazy(perDoc)
      val perLang = perDocF.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (Det.csum(col("doc_surprisal"), 6) / count(lit(1))).as("mean_surprisal"))
      perDocF.join(broadcast(perLang), Seq("lang"))
        .groupBy(col("lang"), col("n_docs"), col("mean_surprisal"))
        .agg(count(when(col("doc_surprisal") > col("mean_surprisal") * 1.5, 1))
          .as("n_flagged"))
        .select("lang", "n_docs", "mean_surprisal", "n_flagged")
        .orderBy("lang")
    } {
      s"""WITH tk AS (
         |  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents
         |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
         |pairs AS (
         |  SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, lang, toks,
         |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS i
         |        FROM tk)),
         |uni AS (
         |  SELECT token, COUNT(*) AS cu
         |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
         |  GROUP BY token),
         |v AS (SELECT COUNT(*) AS v FROM uni),
         |big AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2),
         |perdoc AS (
         |  SELECT p.doc_id, p.lang,
         |    (${Det.csumSql("(CAST(u.cu AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE)) / " +
           "(CAST(b.cb AS DOUBLE) + 0.5)", 6)} / COUNT(*)) AS doc_surprisal
         |  FROM pairs p
         |  JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
         |  JOIN uni u ON p.w1 = u.token
         |  CROSS JOIN v
         |  GROUP BY p.doc_id, p.lang),
         |perlang AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    (${Det.csumSql("doc_surprisal", 6)} / COUNT(*)) AS mean_surprisal
         |  FROM perdoc GROUP BY lang)
         |SELECT l.lang, l.n_docs, l.mean_surprisal,
         |  CAST(COUNT(*) FILTER (WHERE p.doc_surprisal > l.mean_surprisal * 1.5)
         |    AS BIGINT) AS n_flagged
         |FROM perdoc p JOIN perlang l ON p.lang = l.lang
         |GROUP BY l.lang, l.n_docs, l.mean_surprisal
         |ORDER BY l.lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q117: PER-SOURCE N-GRAM DIVERSITY — the corpus-diversity audit
    // (self-repetition / templated-content signal per source): token
    // type–token ratio and distinct-trigram share. A source whose
    // trigram diversity collapses relative to its unigram TTR is
    // boilerplate/templated (the C4/Gopher "repetitious source" smell at
    // source granularity — the per-doc twin is q69). Exactness: counts
    // are integers; the two ratios are one IEEE division each of exact
    // int64s. Shape at scale: each branch is explode → shrinking
    // (source, gram) partial agg → per-source totals (distinct counts
    // computed as the second level of the same agg — never a global
    // distinct), joined on the tiny source key.
    QueryDef.sql("q117_source_ngram_diversity") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      val uni = docs
        .select(col("source"), explode(col("toks")).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct_tokens"))
      val tri = docs
        .filter(size(col("toks")) >= 3)
        // barrier kept (round 16 TESTED removing it — unlike q41, the
        // two-branch shared `docs` projection re-split per element_at
        // here: split(text) x8 in the barrier-free plan)
        .repartition(col("doc_id"))
        .select(col("source"), explode(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
            |                 element_at(toks, i + 2)))""".stripMargin)).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_trigrams"),
          count(lit(1)).as("n_distinct_trigrams"))
      uni.join(tri, "source")
        .select(col("source"), col("n_tokens"), col("n_distinct_tokens"),
          (col("n_distinct_tokens").cast("double") /
            col("n_tokens").cast("double")).as("token_ttr"),
          col("n_trigrams"), col("n_distinct_trigrams"),
          (col("n_distinct_trigrams").cast("double") /
            col("n_trigrams").cast("double")).as("trigram_diversity"))
        .orderBy("source")
    } {
      """WITH tk AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT source, COUNT(*) AS n_tokens,
        |    COUNT(DISTINCT t) AS n_distinct_tokens
        |  FROM (SELECT source, UNNEST(toks) AS t FROM tk)
        |  GROUP BY source),
        |tri AS (
        |  SELECT source, COUNT(*) AS n_trigrams,
        |    COUNT(DISTINCT g) AS n_distinct_trigrams
        |  FROM (
        |    SELECT source, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
        |    FROM (SELECT source, toks,
        |            UNNEST(GENERATE_SERIES(1, LEN(toks) - 2)) AS i
        |          FROM tk WHERE LEN(toks) >= 3))
        |  GROUP BY source)
        |SELECT u.source, u.n_tokens, u.n_distinct_tokens,
        |  CAST(u.n_distinct_tokens AS DOUBLE) / CAST(u.n_tokens AS DOUBLE)
        |    AS token_ttr,
        |  t.n_trigrams, t.n_distinct_trigrams,
        |  CAST(t.n_distinct_trigrams AS DOUBLE) / CAST(t.n_trigrams AS DOUBLE)
        |    AS trigram_diversity
        |FROM uni u JOIN tri t ON u.source = t.source
        |ORDER BY u.source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q185: BPE MERGE CANDIDATES — the top-20 adjacent character pairs
    // inside words across the corpus: exactly the statistic byte-pair
    // encoding's first merge step maximizes (Sennrich et al., ACL'16),
    // and the corpus-side computation a tokenizer-training pipeline
    // runs once per merge round. Pairs are generated MAP-SIDE by an
    // index transform over each word (length−1 substrings — no join,
    // no per-character explode), aggregated with map-side partial
    // combine onto the small pair universe (≤ alphabet², and Zipf makes
    // the heavy keys combine hardest), and the top-20 is a distributed
    // TakeOrderedAndProject (each task keeps 20, the driver merges
    // heaps — never a global sort). Deterministic tie-break on the pair
    // string keeps the cut identical across engines.
    QueryDef.sql("q185_bpe_merge_candidates") { (s, d) =>
      Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    } {
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |pairs AS (
        |  SELECT unnest([substring(w, i, 2) for i in range(1, length(w))])
        |    AS pair
        |  FROM words WHERE length(w) >= 2)
        |SELECT pair, COUNT(*) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin
    },

    // ------------------------------------------------------------------
    // q209: PER-DOCUMENT KEYWORD EXTRACTION — top-3 tf·idf terms per
    // document, the doc-level complement of q60's corpus-level term
    // ranking (tagging, routing, dedup-explainability all read from
    // this). IDF surrogate: N/df, the raw inverse document frequency
    // itself rather than its log — q114/q123's posture: any monotone
    // idf ranks a FIXED tf identically, the multiplicative surrogate is
    // a defined (and published — "raw idf") weighting choice, and every
    // score is one IEEE division of exact integers (tf·N over df), so
    // the ranking and the hash agree cross-engine. Ties break by token.
    // SCALE SHAPE: one (doc, token) keyed tf agg; df as a token-keyed
    // shrink of that SAME relation; one token-keyed join back; a
    // doc-keyed top-3 window. No corpus-wide sort, no broadcast bigger
    // than the scalar N.
    QueryDef.sql("q209_doc_keywords") { (s, d) =>
      val tf = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = Tables(s, d, "documents").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n")).cast("double") / col("df").cast("double"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          col("df"), col("score"))
        .orderBy("doc_id", "rank")
    } {
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tfc AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM tf GROUP BY doc_id, token),
        |dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
        |    CAST(tfc.tf * n.n AS DOUBLE) / CAST(dfc.df AS DOUBLE) AS score
        |  FROM tfc JOIN dfc ON tfc.token = dfc.token CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tf, df, score
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin
    },

    // ------------------------------------------------------------------
    // q222: SPEARMAN RANK CORRELATION — "is the quality score just
    // length in disguise?": per source, Spearman's ρ between document
    // length and the audited q32 quality score. Pearson (q58) reads
    // linear association; rank correlation reads MONOTONE association,
    // which is the right question for a gating score. ENGINE-EXACT:
    // ranks are row_numbers with the (value, doc_id) tie-break, d² sums
    // are pure int64 (Σd² < n³ — exact to ~2M docs/source, then lift
    // to DECIMAL(38)), and ρ = 1 − 6Σd²/(n(n²−1)) is one fixed IEEE
    // chain with the denominator's products taken in double over exact
    // operands. SCALE SHAPE: Spearman needs BOTH per-source ranks, so
    // the scored scan is MELTED into a (measure, value) relation and
    // ONE two-pass Scale.groupedRank ranks both measures per source at
    // cluster-wide parallelism — the previous two source-keyed windows
    // capped each corpus sort at |sources| tasks. The per-doc regroup
    // that re-pairs (rl, rq) is an ordinary hash shuffle (full
    // parallelism), then one keyed shrink. Rank parity: within
    // (source, measure) the melted order (value, doc_id) is exactly the
    // keyed window's (len cast to double is exact below 2^53).
    QueryDef.sql("q222_spearman_quality_length") { (s, d) =>
      val scored = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          col("n_chars").cast("long").as("len"))
        .withColumn("q", qualityScore)
        .drop("text")
      val melted = scored.select(col("source"), col("doc_id"),
        explode(array(
          struct(lit("l").as("m"), col("len").cast("double").as("v")),
          struct(lit("q").as("m"), col("q").cast("double").as("v")))).as("e"))
        .select(col("source"), col("doc_id"),
          col("e.m").as("m"), col("e.v").as("v"))
      val ranked = graft.ops.Scale.groupedRank(
        melted, Seq("source", "m"), "r", None, col("v").asc, col("doc_id").asc)
      ranked.groupBy(col("source"), col("doc_id"))
        .agg(max(when(col("m") === "l", col("r"))).as("rl"),
          max(when(col("m") === "q", col("r"))).as("rq"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("rl") - col("rq")) * (col("rl") - col("rq")))
            .as("sum_d2"))
        .select(col("source"), col("n_docs"), col("sum_d2"),
          (lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n_docs").cast("double") *
              (col("n_docs").cast("double") * col("n_docs").cast("double") -
                lit(1.0)))).as("rho"))
        .orderBy("source")
    } {
      s"""WITH scored AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS len,
        |    $qualityScoreSql AS q
        |  FROM documents),
        |ranked AS (
        |  SELECT source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY len, doc_id) AS BIGINT) AS rl,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY q, doc_id) AS BIGINT) AS rq
        |  FROM scored)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM((rl - rq) * (rl - rq)) AS BIGINT) AS sum_d2,
        |  1.0 - 6.0 * CAST(CAST(SUM((rl - rq) * (rl - rq)) AS BIGINT)
        |      AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE)
        |      * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
        |        - 1.0)) AS rho
        |FROM ranked GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q232: METADATA-CONSISTENCY GATE — is the carried n_chars column
    // actually LENGTH(text)? Derived metadata drifts from its source in
    // real lakes (re-encodings, truncating ETL, unicode length vs byte
    // length confusions), and every query that trusts the column (q32,
    // q53, q134, q200, q210…) inherits the drift. Reported per source:
    // docs, mismatches, the worst absolute delta, and which length
    // CONVENTION the column matches (characters vs UTF-8 bytes —
    // distinguishable wherever the text is non-ASCII). Exact integers.
    QueryDef.sql("q232_metadata_consistency") { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("source"), col("n_chars").cast("long").as("meta"),
          length(col("text")).cast("long").as("chars"),
          expr("octet_length(encode(text, 'UTF-8'))").cast("long")
            .as("bytes"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("meta") =!= col("chars"), 1L).otherwise(0L))
            .as("n_char_mismatch"),
          sum(when(col("meta") =!= col("bytes"), 1L).otherwise(0L))
            .as("n_byte_mismatch"),
          max(abs(col("meta") - col("chars"))).as("max_char_delta"))
        .orderBy("source")
    } {
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN CAST(n_chars AS BIGINT) <> LENGTH(text)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_char_mismatch,
        |  CAST(SUM(CASE WHEN CAST(n_chars AS BIGINT)
        |      <> OCTET_LENGTH(ENCODE(text))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_mismatch,
        |  CAST(MAX(ABS(CAST(n_chars AS BIGINT) - LENGTH(text))) AS BIGINT)
        |    AS max_char_delta
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin
    },

    // ------------------------------------------------------------------
    // q233: LANGID-CONFUSION AUDIT — q31 predicts a language per doc;
    // this aggregates detector-vs-metadata agreement into the (meta,
    // predicted) confusion relation with per-metadata-language accuracy
    // — the "should we trust the lang column or re-detect" decision,
    // and the monitor that catches a crawler whose lang tags rot. The
    // detector expression is q31's verbatim (shared hitsExpr/hitsSql),
    // so the audit can never drift from the detector it audits. Exact
    // counts; one terminal division.
    QueryDef.sql("q233_langid_confusion") { (s, d) =>
      val pred =
        when(hitsExpr(En) >= hitsExpr(Es) && hitsExpr(En) >= hitsExpr(De),
          "en").when(hitsExpr(Es) >= hitsExpr(De), "es").otherwise("de")
      val m = Tables(s, d, "documents")
        .select(col("lang"), pred.as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = m.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
      m.join(tot, "lang")
        .select(col("lang"), col("predicted"), col("n_docs"),
          (col("n_docs").cast("double") / col("n_lang").cast("double"))
            .as("share"),
          (col("lang") === col("predicted")).cast("long").as("agree"))
        .orderBy("lang", "predicted")
    } {
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE WHEN ${hitsSql(En)} >= ${hitsSql(Es)}
         |          AND ${hitsSql(En)} >= ${hitsSql(De)} THEN 'en'
         |         WHEN ${hitsSql(Es)} >= ${hitsSql(De)} THEN 'es'
         |         ELSE 'de' END AS predicted
         |  FROM documents),
         |m AS (
         |  SELECT lang, predicted, COUNT(*) AS n_docs
         |  FROM p GROUP BY lang, predicted),
         |t AS (
         |  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
         |  FROM m GROUP BY lang)
         |SELECT m.lang, m.predicted, m.n_docs,
         |  CAST(m.n_docs AS DOUBLE) / CAST(t.n_lang AS DOUBLE) AS share,
         |  CAST(CASE WHEN m.lang = m.predicted THEN 1 ELSE 0 END AS BIGINT)
         |    AS agree
         |FROM m JOIN t ON m.lang = t.lang
         |ORDER BY m.lang, m.predicted""".stripMargin
    },

    // ------------------------------------------------------------------
    // q240: ZIPF RANK×FREQUENCY PROFILE — does the corpus's token
    // distribution obey Zipf's law (f_r ≈ f_1/r)? A natural corpus has
    // rank·frequency roughly constant; template/machine-generated text
    // is flat-headed and fails it. The textbook log-log OLS slope needs
    // ln() (libm-specific last ulp); rank·freq is the SAME diagnostic
    // from exact int64 products — rf/f_1 per rank (≈1 under Zipf,
    // →r·(share) when flat) plus the cumulative head share, each ONE
    // correctly-rounded division. Global top-20 via TakeOrdered
    // (distributed partial top-k, never a vocabulary sort); the window
    // ranks 20 broadcast-small rows; the token total is an exact-int
    // scalar from the same aggregated vocabulary relation.
    QueryDef.sql("q240_zipf_profile") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
      val total = counts.agg(sum(col("freq")).as("n_tokens"))
      val top = counts
        .orderBy(col("freq").desc, col("token")).limit(20)
      val w = Window.orderBy(col("freq").desc, col("token"))
      val f1 = top.agg(max(col("freq")).as("f1"))
      top
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_freq",
          sum(col("freq")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .crossJoin(broadcast(f1))
        .select(
          col("rank"), col("token"), col("freq"),
          (col("rank") * col("freq")).as("rank_x_freq"),
          expr("CAST(rank * freq AS DOUBLE) / CAST(f1 AS DOUBLE)")
            .as("zipf_ratio"),
          expr("CAST(cum_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE)")
            .as("cum_share"))
        .orderBy("rank")
    } {
      """WITH counts AS (
        |  SELECT token, COUNT(*) AS freq
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY token),
        |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens FROM counts),
        |top AS (
        |  SELECT token, freq FROM counts
        |  ORDER BY freq DESC, token LIMIT 20),
        |r AS (
        |  SELECT token, freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |      AS rank,
        |    CAST(SUM(freq) OVER (ORDER BY freq DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_freq,
        |    MAX(freq) OVER () AS f1
        |  FROM top)
        |SELECT rank, token, freq, rank * freq AS rank_x_freq,
        |  CAST(rank * freq AS DOUBLE) / CAST(f1 AS DOUBLE) AS zipf_ratio,
        |  CAST(cum_freq AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)
        |    AS cum_share
        |FROM r CROSS JOIN tot
        |ORDER BY rank""".stripMargin
    },

    // ------------------------------------------------------------------
    // q241: COHEN'S KAPPA between the stored `lang` label and the q31
    // heuristic labeler — q233's confusion matrix compressed to the one
    // number label-pipeline dashboards track: chance-corrected
    // agreement ((p_o − p_e)/(1 − p_e)). Raw agreement flatters any
    // labeler on a skewed corpus (predict the majority class and score
    // its share); kappa subtracts exactly that. Algebra stays in exact
    // int64 — kappa = (n·Σdiag − Σ_l row_l·col_l)/(n² − Σ_l row_l·col_l)
    // — with ONE terminal division, so it hash-matches across engines.
    // Overflow contract (ANSI aborts, never wraps): n² must fit int64 →
    // valid to n ≈ 3e9 docs; past that promote the two products to
    // decimal(38,0)/HUGEINT and accept the documented wide-cast rules.
    // The confusion grid is ≤ |langs|² rows; marginal joins are outer
    // (the heuristic only ever emits {en,es,de}, the corpus has more).
    // On this fixture the heuristic degenerates to majority-class (the
    // synthetic non-English text carries no stopwords either, so every
    // tie resolves 'en') and kappa lands at exactly 0 — raw agreement
    // reads 38.6% while the chance-corrected score correctly reports
    // zero labeler skill, which is precisely the failure mode kappa
    // exists to expose (spec-asserted).
    QueryDef.sql("q241_labeler_kappa") { (s, d) =>
      val p = Tables(s, d, "documents")
        .withColumn("en_hits", hitsExpr(En).cast("int"))
        .withColumn("es_hits", hitsExpr(Es).cast("int"))
        .withColumn("de_hits", hitsExpr(De).cast("int"))
        .withColumn("predicted",
          when(col("en_hits") >= col("es_hits") &&
            col("en_hits") >= col("de_hits"), "en")
            .when(col("es_hits") >= col("de_hits"), "es")
            .otherwise("de"))
        .select(col("lang"), col("predicted"))
      val grid = p.groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("c"))
      val rowM = grid.groupBy(col("lang")).agg(sum(col("c")).as("row_n"))
      val colM = grid.groupBy(col("predicted")).agg(sum(col("c")).as("col_n"))
      val pe = rowM
        .join(colM, col("lang") === col("predicted"), "full_outer")
        .agg(sum(coalesce(col("row_n"), lit(0L)) *
          coalesce(col("col_n"), lit(0L))).as("pe_num"))
      val agg = grid.agg(
        sum(col("c")).as("n_docs"),
        sum(when(col("lang") === col("predicted"), col("c"))
          .otherwise(lit(0L))).as("n_agree"))
      agg.crossJoin(broadcast(pe))
        .select(col("n_docs"), col("n_agree"), col("pe_num"),
          expr("CAST(n_docs * n_agree - pe_num AS DOUBLE) " +
            "/ CAST(n_docs * n_docs - pe_num AS DOUBLE)").as("kappa"))
    } {
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE WHEN ${hitsSql(En)} >= ${hitsSql(Es)}
         |          AND ${hitsSql(En)} >= ${hitsSql(De)} THEN 'en'
         |         WHEN ${hitsSql(Es)} >= ${hitsSql(De)} THEN 'es'
         |         ELSE 'de' END AS predicted
         |  FROM documents),
         |grid AS (
         |  SELECT lang, predicted, COUNT(*) AS c
         |  FROM p GROUP BY lang, predicted),
         |rm AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS row_n
         |       FROM grid GROUP BY lang),
         |cm AS (SELECT predicted, CAST(SUM(c) AS BIGINT) AS col_n
         |       FROM grid GROUP BY predicted),
         |pe AS (
         |  SELECT CAST(SUM(COALESCE(rm.row_n, 0) * COALESCE(cm.col_n, 0))
         |    AS BIGINT) AS pe_num
         |  FROM rm FULL OUTER JOIN cm ON rm.lang = cm.predicted),
         |a AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN lang = predicted THEN c ELSE 0 END)
         |      AS BIGINT) AS n_agree
         |  FROM grid)
         |SELECT a.n_docs, a.n_agree, pe.pe_num,
         |  CAST(a.n_docs * a.n_agree - pe.pe_num AS DOUBLE)
         |    / CAST(a.n_docs * a.n_docs - pe.pe_num AS DOUBLE) AS kappa
         |FROM a CROSS JOIN pe""".stripMargin
    },

    // ------------------------------------------------------------------
    // q246: McNEMAR'S PAIRED TEST — is the q31 stopword detector
    // actually better than predicting the majority class, ON THE SAME
    // DOCUMENTS? Unpaired accuracy comparisons (two independent
    // proportions, q199's shape) waste the pairing; McNemar's statistic
    // uses only the DISCORDANT pairs — b = detector right & baseline
    // wrong, c = the reverse — and (b−c)²/(b+c) ~ χ²(1) under "no skill
    // difference". This is the promote-the-new-labeler gate: q241's
    // kappa says the detector beats chance, this says it beats the
    // incumbent. The detector expression is q31's verbatim (shared
    // hitsExpr/hitsSql); the baseline class is the exact corpus mode
    // (count-desc, lexicographic tie-break — deterministic, 1-row
    // broadcast). Exact integer counts; the statistic is the ONE
    // terminal division, NULL when no discordant pairs exist on both
    // engines.
    QueryDef.sql("q246_mcnemar_paired") { (s, d) =>
      val pred =
        when(hitsExpr(En) >= hitsExpr(Es) && hitsExpr(En) >= hitsExpr(De),
          "en").when(hitsExpr(Es) >= hitsExpr(De), "es").otherwise("de")
      val docs = Tables(s, d, "documents")
      val mode = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang")).limit(1)
        .select(col("lang").as("mode_lang"))
      docs.select(col("lang"), pred.as("pa"))
        .crossJoin(broadcast(mode))
        .select((col("pa") === col("lang")).as("ca"),
          (col("mode_lang") === col("lang")).as("cb"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("ca") && col("cb"), 1L).otherwise(0L)).as("n_both"),
          sum(when(col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("n_only_detector"),
          sum(when(!col("ca") && col("cb"), 1L).otherwise(0L))
            .as("n_only_baseline"),
          sum(when(!col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("n_neither"))
        .withColumn("mcnemar_chi2",
          when(col("n_only_detector") + col("n_only_baseline") === 0L,
            lit(null).cast("double"))
            .otherwise(expr(
              "CAST((n_only_detector - n_only_baseline) " +
                "* (n_only_detector - n_only_baseline) AS DOUBLE) " +
                "/ CAST(n_only_detector + n_only_baseline AS DOUBLE)")))
    } {
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE WHEN ${hitsSql(En)} >= ${hitsSql(Es)}
         |          AND ${hitsSql(En)} >= ${hitsSql(De)} THEN 'en'
         |         WHEN ${hitsSql(Es)} >= ${hitsSql(De)} THEN 'es'
         |         ELSE 'de' END AS pa
         |  FROM documents),
         |md AS (
         |  SELECT lang AS mode_lang FROM documents
         |  GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1),
         |c AS (
         |  SELECT (p.pa = p.lang) AS ca, (md.mode_lang = p.lang) AS cb
         |  FROM p CROSS JOIN md),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_both,
         |    CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_only_detector,
         |    CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_only_baseline,
         |    CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_neither
         |  FROM c)
         |SELECT n_docs, n_both, n_only_detector, n_only_baseline, n_neither,
         |  CASE WHEN n_only_detector + n_only_baseline = 0 THEN NULL
         |    ELSE CAST((n_only_detector - n_only_baseline)
         |        * (n_only_detector - n_only_baseline) AS DOUBLE)
         |      / CAST(n_only_detector + n_only_baseline AS DOUBLE) END
         |    AS mcnemar_chi2
         |FROM a""".stripMargin
    },

    // ------------------------------------------------------------------
    // q252: TERM LIFT MATRIX — co-occurrence lift between the corpus's
    // top document-frequency terms: lift(a,b) = N·df_ab/(df_a·df_b),
    // the PMI diagnostic without its logarithm (>1 attract, <1 repel,
    // exact-int operands, ONE division per pair). This is the
    // boilerplate/topic-structure probe: templated corpora show whole
    // blocks of terms with lift ≈ 1/share (always together), organic
    // text shows a spread. Everything happens in the TOP-K universe:
    // per-doc distinct tokens are semi-joined against the broadcast
    // top-12 relation scan-side, so the pair join is ≤ C(12,2) groups
    // over docs×12 rows — corpus-scale safe by construction; df ranks
    // come from a distributed partial top-k, never a vocabulary sort.
    QueryDef.sql("q252_term_lift_matrix") { (s, d) =>
      val docTok = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("token"))
      val top = docTok.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(12)
      val tot = Tables(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val present = docTok.join(broadcast(top), "token")
      val a = present.select(col("doc_id"), col("token").as("tok_a"),
        col("df").as("df_a"))
      val b = present.select(col("doc_id").as("doc_b"),
        col("token").as("tok_b"), col("df").as("df_b"))
      a.join(b, col("doc_id") === col("doc_b") && col("tok_a") < col("tok_b"))
        .groupBy(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"))
        .agg(count(lit(1)).as("df_ab"))
        .crossJoin(broadcast(tot))
        .select(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"),
          col("df_ab"),
          expr("CAST(n_docs * df_ab AS DOUBLE) " +
            "/ CAST(df_a * df_b AS DOUBLE)").as("lift"))
        .orderBy("tok_a", "tok_b")
    } {
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |top AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dt GROUP BY token
        |  ORDER BY df DESC, token LIMIT 12),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |pres AS (
        |  SELECT dt.doc_id, dt.token, top.df
        |  FROM dt JOIN top ON dt.token = top.token),
        |pairs AS (
        |  SELECT a.token AS tok_a, b.token AS tok_b, a.df AS df_a,
        |    b.df AS df_b, CAST(COUNT(*) AS BIGINT) AS df_ab
        |  FROM pres a JOIN pres b
        |    ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY a.token, b.token, a.df, b.df)
        |SELECT tok_a, tok_b, df_a, df_b, df_ab,
        |  CAST(n_docs * df_ab AS DOUBLE) / CAST(df_a * df_b AS DOUBLE)
        |    AS lift
        |FROM pairs CROSS JOIN tot
        |ORDER BY tok_a, tok_b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q332: BOILERPLATE EDGE AUDIT — scraped corpora carry shared
    // headers and footers (nav bars, license blurbs, template lead-ins)
    // that general n-gram stats (q76) dilute across the whole doc body:
    // the operational signal is docs from one SOURCE sharing their first
    // or last 8 tokens verbatim. Per (source, edge∈{prefix,suffix}):
    // docs measured, distinct edge values, shared groups (≥ 2 docs),
    // docs inside shared groups, and the largest group — the relation a
    // curation team reads to decide which sources need template
    // stripping before dedup (a shared header inflates MinHash sims
    // corpus-wide).
    //
    // Shape at 100 TB: ONE corpus scan — both edge digests computed in
    // one projection, unpivoted via explode to (source, edge, dg) rows,
    // then two shrinking keyed aggs; no windows, no joins. All-integer.
    QueryDef.sql("q332_boilerplate_edge_audit") { (s, d) =>
      val edges = Tables(s, d, "documents")
        .select(col("source"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("source"), explode(array(
          struct(lit("prefix").as("edge"),
            md5(concat_ws(" ", slice(col("toks"), 1, 8))).as("dg")),
          struct(lit("suffix").as("edge"),
            md5(concat_ws(" ", slice(col("toks"), -8, 8))).as("dg"))))
          .as("e"))
        .select(col("source"), col("e.edge").as("edge"), col("e.dg").as("dg"))
      edges.groupBy(col("source"), col("edge"), col("dg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"), col("edge"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_distinct_edges"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_shared_groups"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("docs_in_shared"),
          max(col("c")).as("max_group"))
        .orderBy("source", "edge")
    } {
      """WITH w AS (
        |  SELECT source, STRING_SPLIT(text, ' ') AS toks FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 8),
        |e AS (
        |  SELECT source, 'prefix' AS edge,
        |    MD5(ARRAY_TO_STRING(toks[1:8], ' ')) AS dg FROM w
        |  UNION ALL
        |  SELECT source, 'suffix',
        |    MD5(ARRAY_TO_STRING(toks[LEN(toks)-7:LEN(toks)], ' ')) FROM w),
        |g AS (
        |  SELECT source, edge, dg, COUNT(*) AS c
        |  FROM e GROUP BY source, edge, dg)
        |SELECT source, edge,
        |  CAST(SUM(c) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_distinct_edges,
        |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared_groups,
        |  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
        |    AS docs_in_shared,
        |  MAX(c) AS max_group
        |FROM g GROUP BY source, edge
        |ORDER BY source, edge""".stripMargin
    },

    // ------------------------------------------------------------------
    // q333: TOP-N-GRAM CHARACTER FRACTION — the remaining Gopher
    // repetition rules (Rae et al., Gopher App. A1.1): per doc and per
    // n ∈ {2,3,4}, the fraction of the doc's characters contained in its
    // MOST FREQUENT n-gram (occurrences × n-gram characters / doc
    // characters, overlapping occurrences counted), rolled up per
    // language with the paper's thresholds (20% / 18% / 16%) as
    // integer cross-multiplied flags. q69 covers the single-word rule;
    // this closes the phrase-level family a template-spam source trips.
    //
    // Shape at 100 TB: ONE scan — the three gram streams come out of one
    // flatten-transform explode; per-(doc, n, gram) keyed counts shrink
    // immediately; the top-1 rank filter compiles to WindowGroupLimit
    // (map-side top-1 per (doc, n) before the shuffle); per-lang rollup.
    // Flags are exact integers; the reported mean fraction is one IEEE
    // division per doc under a csum-quantized average.
    QueryDef.sql("q333_top_ngram_fraction") { (s, d) =>
      val grams = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          split(col("text"), " ").as("toks"))
        // a doc participates in EVERY n it can form (a 2-token spam doc
        // has a valid, probably-flagged top bigram); the per-n guard
        // below empties the stream for n > size — a blanket size ≥ 4
        // filter would silently drop short docs from the n=2/3 stats
        .filter(size(col("toks")) >= 2)
        // barrier RESTORED (round 17): unlike q41's pure fan-out barrier,
        // this repartition is LOAD-BEARING — hashpartitioning(doc_id)
        // satisfies BOTH downstream clustered distributions (the
        // (doc,lang,n_chars,n,g) gram aggregation's and the (doc,n)
        // window's, by the partition-keys-⊆-required-keys rule), so with
        // it the plan has ONE post-scan exchange carrying compact doc
        // rows; without it EACH operator inserts its own gram-row
        // exchange (r16 measured 3→4 exchanges, +12-19% wall — the one
        // barrier removal of the four that made the plan worse).
        // Plan-pinned in NewQueryPlanSpec.
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), explode(expr(
          """flatten(transform(array(2, 3, 4), n ->
            |  if(size(toks) >= n,
            |    transform(sequence(1, size(toks) - n + 1),
            |      i -> named_struct('n', n,
            |        'g', concat_ws(' ', slice(toks, i, n)))),
            |    array())))""".stripMargin))
          .as("e"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("e.n").as("n"), col("e.g").as("g"))
      val counts = grams
        .groupBy(col("doc_id"), col("lang"), col("n_chars"), col("n"), col("g"))
        .agg(count(lit(1)).as("cnt"))
      // top-1 stays a row_number window ON PURPOSE (round 16 tested the
      // min(struct(-cnt, g)) aggregate form: struct-min plans as a
      // SortAggregate with NO map-side partials, while the window +
      // r <= 1 filter plans a WindowGroupLimit that prunes to one row
      // per (doc, n) group BEFORE the exchange — the window wins)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("n"))
        .orderBy(col("cnt").desc, col("g"))
      val thr = when(col("n") === 2, 20).when(col("n") === 3, 18).otherwise(16)
      counts.withColumn("r", row_number().over(w)).filter(col("r") <= 1)
        .withColumn("top_chars", col("cnt") * length(col("g")))
        .groupBy(col("lang"), col("n"))
        .agg(count(lit(1)).as("n_docs"),
          graft.Det.davg(
            col("top_chars").cast("double") / col("n_chars").cast("double"))
            .as("avg_top_fraction"),
          sum(when(col("top_chars") * 100 >= col("n_chars") * thr, 1L)
            .otherwise(0L)).as("n_flagged"))
        .orderBy("lang", "n")
    } {
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars, STRING_SPLIT(text, ' ') AS toks
         |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
         |g AS (
         |  SELECT doc_id, lang, n_chars, 2 AS n,
         |    ARRAY_TO_STRING(toks[i:i+1], ' ') AS g
         |  FROM (SELECT doc_id, lang, n_chars, toks,
         |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS i FROM t
         |        WHERE LEN(toks) >= 2)
         |  UNION ALL
         |  SELECT doc_id, lang, n_chars, 3,
         |    ARRAY_TO_STRING(toks[i:i+2], ' ')
         |  FROM (SELECT doc_id, lang, n_chars, toks,
         |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 2)) AS i FROM t
         |        WHERE LEN(toks) >= 3)
         |  UNION ALL
         |  SELECT doc_id, lang, n_chars, 4,
         |    ARRAY_TO_STRING(toks[i:i+3], ' ')
         |  FROM (SELECT doc_id, lang, n_chars, toks,
         |          UNNEST(GENERATE_SERIES(1, LEN(toks) - 3)) AS i FROM t
         |        WHERE LEN(toks) >= 4)),
         |c AS (
         |  SELECT doc_id, lang, n_chars, n, g, COUNT(*) AS cnt
         |  FROM g GROUP BY doc_id, lang, n_chars, n, g),
         |top AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
         |      ORDER BY cnt DESC, g) AS r FROM c)
         |  WHERE r <= 1)
         |SELECT lang, n, COUNT(*) AS n_docs,
         |  ${graft.Det.davgSql(
            "CAST(cnt * LENGTH(g) AS DOUBLE) / CAST(n_chars AS DOUBLE)")}
         |    AS avg_top_fraction,
         |  CAST(SUM(CASE WHEN cnt * LENGTH(g) * 100 >= n_chars *
         |    (CASE WHEN n = 2 THEN 20 WHEN n = 3 THEN 18 ELSE 16 END)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM top GROUP BY lang, n
         |ORDER BY lang, n""".stripMargin
    },

    // ------------------------------------------------------------------
    // q340: STUTTER-RUN AUDIT — maximal runs of identical CONSECUTIVE
    // tokens ("the the the"), the signature of degenerate-decoding /
    // template-stamping text that per-doc frequency rules (q69) cannot
    // see: a 3-token run in a 500-token doc never trips a count
    // threshold, yet marks exactly the repetition loops you exclude
    // from pretraining. Classic gaps-and-islands: a run boundary is a
    // token ≠ its predecessor; run_id = running boundary count; run
    // length = island size. Per lang: docs with a ≥3-run, token mass
    // inside ≥2-runs (the removable stutter), worst run.
    //
    // Shape at 100 TB: ONE tokenize scan → per-doc ordered windows
    // (partitions are doc-sized — bounded by max doc length, never
    // corpus-keyed) → (doc, run)-keyed count → per-doc agg → |lang|-row
    // rollup. Every stage after the explode shrinks; no joins at all.
    QueryDef.sql("q340_stutter_runs") { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val runs = toks
        // first token of a doc: lag is NULL → NULL === tok is NULL →
        // otherwise(1): a new run, as it must be
        .withColumn("chg",
          when(lag(col("tok"), 1).over(w) === col("tok"), 0L).otherwise(1L))
        .withColumn("run_id", sum(col("chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("lang"), col("run_id"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("len")).as("n_toks"),
          max(col("len")).as("max_run"),
          sum(when(col("len") >= 2L, col("len")).otherwise(0L))
            .as("stutter_toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("max_run") >= 3L, 1L).otherwise(0L))
            .as("n_stutter_docs"),
          max(col("max_run")).as("max_run"),
          sum(col("stutter_toks")).as("stutter_tokens"),
          sum(col("n_toks")).as("total_tokens"))
        .orderBy("lang")
    } {
      """WITH s AS (
        |  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS ts
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, UNNEST(ts) AS tok,
        |    UNNEST(GENERATE_SERIES(1, LEN(ts))) AS pos
        |  FROM s),
        |b AS (
        |  SELECT doc_id, lang, pos,
        |    CASE WHEN LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |      = tok THEN 0 ELSE 1 END AS chg
        |  FROM p),
        |r AS (
        |  SELECT doc_id, lang,
        |    SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM b),
        |rl AS (
        |  SELECT doc_id, lang, run_id, COUNT(*) AS len
        |  FROM r GROUP BY doc_id, lang, run_id),
        |pd AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(len) AS BIGINT) AS n_toks,
        |    MAX(len) AS max_run,
        |    CAST(SUM(CASE WHEN len >= 2 THEN len ELSE 0 END) AS BIGINT)
        |      AS stutter_toks
        |  FROM rl GROUP BY doc_id, lang)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stutter_docs,
        |  MAX(max_run) AS max_run,
        |  CAST(SUM(stutter_toks) AS BIGINT) AS stutter_tokens,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
        |FROM pd GROUP BY lang
        |ORDER BY lang""".stripMargin
    },

    // ------------------------------------------------------------------
    // q347: CONTEXT-LENGTH TRUNCATION-LOSS PLANNER — before fixing a
    // training context length, price what each candidate DISCARDS: per
    // source × L ∈ {64, 256, 1024} tokens, how many docs exceed L, how
    // many tokens truncation throws away, and the lost share of the
    // source's token mass. The complement of the packing ops (those
    // optimize WITHIN a chosen L; this chooses L) and of q115 (which
    // selects docs under a corpus budget; this cuts within docs).
    // All-integer until the one terminal share division.
    //
    // Shape at 100 TB: one scan computing ONLY size(split(text)) per doc
    // (tokens are never exploded), a 3-row broadcast lengths relation,
    // one keyed agg to |sources|×3 rows.
    QueryDef.sql("q347_truncation_loss") { (s, d) =>
      val perDoc = Tables(s, d, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n"))
      perDoc
        .crossJoin(broadcast(s.range(1)
          .select(explode(array(lit(64L), lit(256L), lit(1024L)))
            .as("ctx_len"))))
        .groupBy(col("source"), col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > col("ctx_len"), 1L).otherwise(0L))
            .as("docs_truncated"),
          sum(col("n")).as("tokens_total"),
          sum(greatest(col("n") - col("ctx_len"), lit(0L)))
            .as("tokens_lost"))
        .select(col("source"), col("ctx_len"), col("n_docs"),
          col("docs_truncated"), col("tokens_total"), col("tokens_lost"),
          (col("tokens_lost").cast("double") /
            col("tokens_total").cast("double")).as("loss_share"))
        .orderBy("source", "ctx_len")
    } {
      """WITH pd AS (
        |  SELECT source,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |ls AS (SELECT UNNEST([64, 256, 1024]) AS ctx_len)
        |SELECT source, CAST(ctx_len AS BIGINT) AS ctx_len,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_truncated,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  CAST(SUM(GREATEST(n - ctx_len, 0)) AS BIGINT) AS tokens_lost,
        |  CAST(SUM(GREATEST(n - ctx_len, 0)) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE) AS loss_share
        |FROM pd CROSS JOIN ls
        |GROUP BY source, ctx_len
        |ORDER BY source, ctx_len""".stripMargin
    },

    // ------------------------------------------------------------------
    // q352: PER-SOURCE LENGTH-QUANTILE PROFILE — the distribution
    // report q347's context-length planner and q32's quality gates read
    // against: exact R-7 quartiles (+ the 0.875 tail cut) of document
    // length per source. Document length is an UNBOUNDED domain — the
    // case Spark's exact `percentile` genuinely cannot hold at corpus
    // scale (its counts-map aggregation buffer grows with the distinct
    // values of a group; q57/q291's bounded domains never stress it) —
    // so the order statistics ride Scale.groupedQuantiles: one frozen
    // two-pass grouped rank at cluster-wide parallelism, the tiny
    // (source × fraction) endpoint relation broadcast back as a filter.
    // Exactness: n_chars is integer-valued and every fraction is a
    // binary rational k/2^m, so h = (n−1)p + 1 and the interpolation
    // are exact IEEE on both engines (q102's argument, per group).
    QueryDef.sql("q352_source_length_quantiles") { (s, d) =>
      graft.ops.Scale.groupedQuantiles(
        Tables(s, d, "documents").select(col("source"), col("n_chars")),
        Seq("source"), "n_chars", Seq(0.25, 0.5, 0.75, 0.875))
    } {
      """WITH q AS (
        |  SELECT source,
        |    QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.25) AS q1,
        |    QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.5) AS q2,
        |    QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.75) AS q3,
        |    QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.875) AS q4
        |  FROM documents GROUP BY source)
        |SELECT source, p, quantile FROM (
        |  SELECT source, CAST(0.25 AS DOUBLE) AS p, q1 AS quantile FROM q
        |  UNION ALL SELECT source, CAST(0.5 AS DOUBLE), q2 FROM q
        |  UNION ALL SELECT source, CAST(0.75 AS DOUBLE), q3 FROM q
        |  UNION ALL SELECT source, CAST(0.875 AS DOUBLE), q4 FROM q)
        |ORDER BY source, p""".stripMargin
    }
  )
}
