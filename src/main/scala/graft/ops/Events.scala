package graft.ops

import graft.{Det, QueryDef, Tables}
import graft.Det.{dsum, dsumSql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event/stream analytics over the `events` table — the batch twins of the
  * streaming operators (SURVEY.md §7.1.2). Each query is the DuckDB-
  * verifiable form; the same logic runs under Structured Streaming in
  * `graft.streaming` with watermarks (ScalaTest-covered there).
  *
  * The kinesumer record envelope (`/root/reference/kinesumer.go:97-102`:
  * stream / shard id / sequence number / arrival time / opaque payload) is
  * reproduced as a derived view; the 5-shard layout mirrors the reference's
  * integration fixture (`/root/reference/tests/init.sh:22-27`).
  */
object Events {

  /** Number of synthetic shards — the reference test fixture's shard count. */
  val NumShards = 5

  val queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q16: the kinesumer envelope + per-shard checkpoint summary. Derives
    // stream/shard_id/sequence_number and computes each shard's committed
    // range — the batch analog of ListCheckPoints/UpdateCheckPoints
    // (/root/reference/statestore.go:224-281).
    QueryDef.sql("q16_shard_checkpoints") { (s, d) =>
      val ev = Tables(s, d, "events")
      ev.select(
          lit("events").as("stream"),
          format_string("shardId-%012d", pmod(col("user_id"), lit(NumShards))).as("shard_id"),
          col("event_id").as("sequence_number"),
          col("ts"), col("value"))
        .groupBy(col("stream"), col("shard_id"))
        .agg(
          count(lit(1)).as("n_records"),
          min(col("sequence_number")).as("first_seq"),
          max(col("sequence_number")).as("checkpoint_seq"),
          max(col("ts")).as("last_arrival"),
          dsum(col("value")).as("sum_value"))
        .orderBy("shard_id")
    } {
      s"""SELECT 'events' AS stream,
         |  PRINTF('shardId-%012d', user_id % 5) AS shard_id,
         |  COUNT(*) AS n_records,
         |  MIN(event_id) AS first_seq,
         |  MAX(event_id) AS checkpoint_seq,
         |  MAX(ts) AS last_arrival,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY shard_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q17: tumbling 1-hour window aggregation by event type (streaming
    // twin: groupBy(window($"ts", "1 hour")) with a watermark).
    QueryDef.sql("q17_tumbling_hourly") { (s, d) =>
      val ev = Tables(s, d, "events")
      ev.groupBy(
          window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("window_start", "event_type")
    } {
      s"""SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
         |  COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY window_start, event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q18: sliding window (1 hour, sliding by 30 minutes) — every event
    // lands in two windows. Output keys are epoch seconds to keep the
    // comparison integer-exact.
    QueryDef.sql("q18_sliding_hourly") { (s, d) =>
      val ev = Tables(s, d, "events")
      ev.groupBy(
          unix_timestamp(window(col("ts"), "1 hour", "30 minutes").getField("start"))
            .as("window_start_s"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("window_start_s")
    } {
      s"""SELECT (epoch_us(ts) // 1800000000) * 1800 - off AS window_start_s,
         |  COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM events CROSS JOIN (VALUES (0), (1800)) AS offs(off)
         |GROUP BY 1
         |ORDER BY window_start_s""".stripMargin
    },

    // ------------------------------------------------------------------
    // q19: session windows per user with a 30-minute gap (streaming twin:
    // session_window + watermark). The oracle is the classic
    // gaps-and-islands rewrite; a new session starts when the gap to the
    // previous event is >= the session gap, matching Spark's merge rule
    // (sessions merge iff next.ts < prev.ts + gap).
    QueryDef.sql("q19_user_sessions") { (s, d) =>
      val ev = Tables(s, d, "events")
      ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    } {
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM flagged)
         |SELECT user_id,
         |  MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |  COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM sessions
         |GROUP BY user_id, session_id
         |ORDER BY user_id, session_start""".stripMargin
    },

    // ------------------------------------------------------------------
    // q20: keep-first deduplication by (user_id, event_type) — the batch
    // twin of streaming dropDuplicates: first event wins by (ts, event_id).
    QueryDef.sql("q20_first_event_dedup") { (s, d) =>
      val ev = Tables(s, d, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    } {
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q21: as-of join (COMPOSITE per SURVEY §7.3): each event picks the
    // latest order of the same customer at or before the event time,
    // tie-broken by highest order key. Scalable union+window form: tag
    // both sides, sort once per user (orders before events at equal
    // timestamps), and carry the last order forward with
    // last(ignoreNulls) — no events×orders pair materialization, so a
    // hot user costs one sort instead of a quadratic join.
    QueryDef.sql("q21_asof_latest_order") { (s, d) =>
      val ev = Tables(s, d, "events")
      val ord = Tables(s, d, "orders")
      val tagged = ord.select(
        col("o_custkey").as("u"), col("o_orderdate").as("t"), lit(0).as("kind"),
        col("o_orderkey"), col("o_totalprice"),
        lit(null).cast("bigint").as("event_id"))
        .unionByName(ev.select(
          col("user_id").as("u"), col("ts").as("t"), lit(1).as("kind"),
          lit(null).cast("bigint").as("o_orderkey"),
          lit(null).cast("double").as("o_totalprice"),
          col("event_id")))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("t"), col("kind"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("u").as("user_id"),
          col("asof_orderkey").as("o_orderkey"),
          col("asof_totalprice").as("o_totalprice"))
        .orderBy("event_id")
    } {
      """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC NULLS LAST,
        |                                o.o_orderkey DESC NULLS LAST) AS rn
        |  FROM events e
        |  LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q22: range (interval) self-join — conversion funnel: purchases
    // within one hour after a view by the same user. Equi-join on user_id
    // plus a range predicate; counts per user.
    QueryDef.sql("q22_view_purchase_funnel") { (s, d) =>
      val ev = Tables(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("value").as("b_value"))
      views.join(buys,
          col("v_user") === col("b_user") &&
            col("b_ts") > col("v_ts") &&
            col("b_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_conversions"), dsum(col("b_value")).as("conv_value"))
        .orderBy("user_id")
    } {
      s"""SELECT v.user_id AS user_id, COUNT(*) AS n_conversions,
         |  ${dsumSql("b.value")} AS conv_value
         |FROM (SELECT * FROM events WHERE event_type = 'view') v
         |JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
         |  ON v.user_id = b.user_id
         | AND b.ts > v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR
         |GROUP BY 1
         |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q65: COHORT RETENTION — users grouped by first-activity week, then
    // distinct active users per (cohort, week offset): the retention
    // matrix behind every product-analytics dashboard. The per-user
    // cohort comes from one user-partitioned window MIN — a single
    // events scan and one shuffle on user_id (the aggregate-then-join
    // form scans events twice: partial aggregation below the exchange
    // makes the two subplans differ, so ReuseExchange cannot merge
    // them); the distinct count per cell is the second keyed agg. Week
    // truncation is ISO-Monday on both engines; the offset is integer
    // day arithmetic.
    QueryDef.sql("q65_cohort_retention") { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
      Tables(s, d, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        // NULL users are dropped, matching the oracle's JOIN USING
        // (and the previous aggregate-then-join form): the window
        // partition would otherwise keep them and emit n_users=0 cells
        .filter(col("user_id").isNotNull)
        .withColumn("cohort_week", min(col("w")).over(byUser))
        .withColumn("week_offset",
          (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    } {
      """WITH e AS (
        |  SELECT user_id, DATE_TRUNC('week', ts) AS w FROM events),
        |c AS (
        |  SELECT user_id, MIN(w) AS cohort_week FROM e GROUP BY user_id)
        |SELECT cohort_week,
        |  CAST(DATE_DIFF('day', cohort_week, w) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin
    },

    // ------------------------------------------------------------------
    // q87: per-type Z-SCORE OUTLIER audit — the ingest-time anomaly gate
    // a pipeline runs on every numeric measure: exact per-type moments
    // (count / decimal-summed Σv, Σv² — order-free, engine-identical),
    // one shared double formula for mean/std, then a second pass flags
    // rows with |v − mean| > 3σ. Two scans, but the stats relation is
    // one row per event type and joins back by BROADCAST — the flagging
    // predicate runs scan-side, no row-level shuffle. Sample std (n−1)
    // keeps the formula the textbook one.
    QueryDef.sql("q87_zscore_outliers") { (s, d) =>
      val ev = Tables(s, d, "events")
      val stats = ev.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sv"),
          dsum(col("value") * col("value")).as("svv"))
        .withColumn("mean_value", col("sv") / col("n_events"))
        .withColumn("std_value",
          sqrt((col("svv") - col("sv") * col("sv") / col("n_events")) /
            (col("n_events") - 1)))
      ev.join(broadcast(stats), "event_type")
        .groupBy(col("event_type"))
        .agg(
          first(col("n_events")).as("n_events"),
          first(col("mean_value")).as("mean_value"),
          first(col("std_value")).as("std_value"),
          sum(when(abs(col("value") - col("mean_value")) >
            col("std_value") * 3.0, 1L).otherwise(0L)).as("n_outliers"))
        .withColumn("outlier_share",
          col("n_outliers").cast("double") / col("n_events"))
        .orderBy("event_type")
    } {
      s"""WITH st AS (
         |  SELECT event_type, COUNT(*) AS n_events,
         |    ${dsumSql("value")} AS sv,
         |    ${dsumSql("value * value")} AS svv
         |  FROM events GROUP BY event_type),
         |m AS (
         |  SELECT event_type, n_events, sv / n_events AS mean_value,
         |    SQRT((svv - sv * sv / n_events) / (n_events - 1)) AS std_value
         |  FROM st)
         |SELECT e.event_type, m.n_events, m.mean_value, m.std_value,
         |  CAST(SUM(CASE WHEN ABS(e.value - m.mean_value) >
         |    m.std_value * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  CAST(SUM(CASE WHEN ABS(e.value - m.mean_value) >
         |    m.std_value * 3.0 THEN 1 ELSE 0 END) AS DOUBLE) / m.n_events
         |    AS outlier_share
         |FROM events e JOIN m USING (event_type)
         |GROUP BY e.event_type, m.n_events, m.mean_value, m.std_value
         |ORDER BY e.event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q92: BURST DETECTION / rate-limit audit — flag (user, day) windows
    // whose event count exceeds 2× the corpus-wide average window, and
    // report the users that have at least one such window. The threshold
    // is the exact integer cross-multiplication c·n_windows > 2·n_events
    // (no float division), the global stats are ONE extra row broadcast
    // back, and the per-window aggregation is the only data-sized
    // shuffle — the shape an abuse/ingest-anomaly audit needs at any
    // event volume.
    QueryDef.sql("q92_burst_windows") { (s, d) =>
      val w = Tables(s, d, "events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val t = w.agg(
        count(lit(1)).as("n_windows"), sum(col("c")).as("n_events"))
      w.crossJoin(broadcast(t))
        .withColumn("is_burst",
          col("c") * col("n_windows") > col("n_events") * 2)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_days"),
          sum(col("c")).as("total_events"),
          max(col("c")).as("max_day_events"),
          sum(when(col("is_burst"), 1L).otherwise(0L)).as("n_burst_days"))
        .filter(col("n_burst_days") > 0)
        .orderBy("user_id")
    } {
      """WITH w AS (
        |  SELECT user_id, DATE_TRUNC('day', ts) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT COUNT(*) AS n_windows, CAST(SUM(c) AS BIGINT) AS n_events
        |  FROM w)
        |SELECT user_id, COUNT(*) AS n_days,
        |  CAST(SUM(c) AS BIGINT) AS total_events,
        |  CAST(MAX(c) AS BIGINT) AS max_day_events,
        |  CAST(SUM(CASE WHEN c * n_windows > 2 * n_events THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_burst_days
        |FROM w, t
        |GROUP BY user_id
        |HAVING n_burst_days > 0
        |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q95: CONVERSION LATENCY — for every purchase, the time since the
    // user's most recent preceding view in the (ts, event_id) TOTAL
    // ORDER (the as-of pattern of q21 expressed as one ignore-nulls
    // running window; the 1-PRECEDING frame cap excludes the purchase
    // row itself, and a view sharing the purchase's exact timestamp
    // with a lower event_id counts as prior with latency 0 — at-or-
    // before semantics, not strict temporal priority), then exact R-7
    // percentiles
    // of the latency distribution. The window partitions by user_id
    // (high-cardinality key — parallel at any event volume); latencies
    // are exact integer seconds so the percentile interpolation is
    // binary-exact on both engines (q57's argument).
    QueryDef.sql("q95_conversion_latency") { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lat = Tables(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .withColumn("prior_view_ts",
          last(when(col("event_type") === "view", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" &&
          col("prior_view_ts").isNotNull)
        .withColumn("latency_s",
          (unix_timestamp(col("ts")) - unix_timestamp(col("prior_view_ts")))
            .cast("long"))
      lat.agg(
        count(lit(1)).as("n_conversions"),
        min(col("latency_s")).as("min_s"),
        expr("percentile(latency_s, 0.25)").as("p25_s"),
        expr("percentile(latency_s, 0.5)").as("median_s"),
        expr("percentile(latency_s, 0.75)").as("p75_s"),
        max(col("latency_s")).as("max_s"))
    } {
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prior_view_ts
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |lat AS (
        |  SELECT CAST(DATE_DIFF('second', prior_view_ts, ts) AS BIGINT)
        |    AS latency_s
        |  FROM e
        |  WHERE event_type = 'purchase' AND prior_view_ts IS NOT NULL)
        |SELECT COUNT(*) AS n_conversions,
        |  MIN(latency_s) AS min_s,
        |  QUANTILE_CONT(latency_s, 0.25) AS p25_s,
        |  QUANTILE_CONT(latency_s, 0.5) AS median_s,
        |  QUANTILE_CONT(latency_s, 0.75) AS p75_s,
        |  MAX(latency_s) AS max_s
        |FROM lat""".stripMargin
    },

    // ------------------------------------------------------------------
    // q99: DAU / WAU STICKINESS — exact daily and weekly active users
    // (calendar weeks — both engines truncate to Monday) joined on the
    // day's week: the engagement ratio every analytics deployment
    // publishes. Two exact-distinct aggregations (each one shuffle on
    // its key) and a broadcast-sized join on ~weeks rows; stickiness is
    // one integer division. At corpus scale swap countDistinct for the
    // q39 HLL sketch if exactness isn't contractual.
    QueryDef.sql("q99_dau_wau_stickiness") { (s, d) =>
      val ev = Tables(s, d, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("week", date_trunc("week", col("ts")))
      val dau = ev.groupBy(col("day"), col("week"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = ev.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(broadcast(wau), Seq("week"))
        .withColumn("stickiness", col("dau").cast("double") / col("wau"))
        .select("day", "week", "dau", "wau", "stickiness")
        .orderBy("day")
    } {
      """WITH e AS (
        |  SELECT DATE_TRUNC('day', ts) AS day, DATE_TRUNC('week', ts) AS week,
        |    user_id
        |  FROM events),
        |d AS (
        |  SELECT day, week, COUNT(DISTINCT user_id) AS dau
        |  FROM e GROUP BY day, week),
        |w AS (SELECT week, COUNT(DISTINCT user_id) AS wau FROM e GROUP BY week)
        |SELECT d.day, d.week, d.dau, w.wau,
        |  CAST(d.dau AS DOUBLE) / w.wau AS stickiness
        |FROM d JOIN w ON d.week = w.week
        |ORDER BY d.day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q101: ARGMAX — the window-free per-group champion: the top-value
    // user per event type via max_by/arg_max, the single-pass aggregate
    // that replaces "rank()=1" when only the winner is needed (one
    // shuffle, no per-group sort, constant state per group). Ties are
    // broken DETERMINISTICALLY by folding the tie-break key into an
    // exact WIDE-integer ordinal: ord = total_cents·10¹⁹ + user_id in
    // decimal(38,0) / HUGEINT (max_by on a bare double total would pick
    // an arbitrary user on equal totals — the classic nondeterminism
    // leak). The 10¹⁹ multiplier exceeds any int64 user_id, so the id
    // can never pollute the value ordering, and 38 digits hold every
    // (total_cents ≤ int64 max) input — no overflow contract to police
    // (a narrower int64 ordinal would silently corrupt the argmax once
    // user_id ≥ the multiplier: Spark wraps, DuckDB errors).
    QueryDef.sql("q101_argmax_top_user") { (s, d) =>
      val u = Tables(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("total_cents"))
      val ord = col("total_cents").cast(DecimalType(38, 0)) *
        BigDecimal("10000000000000000000") + col("user_id")
      u.groupBy(col("event_type"))
        .agg(
          max_by(col("user_id"), ord).as("top_user"),
          max(col("total_cents")).as("top_cents"),
          count(lit(1)).as("n_users"))
        .orderBy("event_type")
    } {
      """WITH u AS (
        |  SELECT event_type, user_id,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS total_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  ARG_MAX(user_id,
        |    CAST(total_cents AS HUGEINT) * 10000000000000000000 + user_id)
        |    AS top_user,
        |  MAX(total_cents) AS top_cents,
        |  COUNT(*) AS n_users
        |FROM u
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q118: USER-JOURNEY TRANSITION MATRIX — the first-order Markov
    // view of event flows: consecutive (from → to) event-type pairs per
    // user, with the row-normalized transition probability. One keyed
    // window (partition by user_id — the high-cardinality key, never a
    // global sort) produces the successor; the matrix itself is a
    // types²-key agg and the row totals broadcast back onto it. The
    // probability is one IEEE division of two exact int64 counts —
    // engine-exact. Ordering ties on ts break by event_id on both
    // engines (the q21/q90 posture).
    QueryDef.sql("q118_event_transitions") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val t = Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val tot = t.groupBy(col("from_type"))
        .agg(sum(col("n_transitions")).as("n_from"))
      t.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n_transitions"),
          (col("n_transitions").cast("double") / col("n_from").cast("double"))
            .as("p_transition"))
        .orderBy("from_type", "to_type")
    } {
      """WITH s AS (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, to_type, COUNT(*) AS n_transitions
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
        |  FROM t GROUP BY from_type)
        |SELECT t.from_type, t.to_type, t.n_transitions,
        |  CAST(t.n_transitions AS DOUBLE) / CAST(tot.n_from AS DOUBLE)
        |    AS p_transition
        |FROM t JOIN tot ON t.from_type = tot.from_type
        |ORDER BY t.from_type, t.to_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q135: K-STEP ORDERED FUNNEL — how many users complete each prefix
    // of signup → view → click → purchase with STRICTLY increasing
    // timestamps (earliest-completion semantics): the general funnel
    // q22's two-step view→purchase window cannot express. Shape at
    // scale: ONE shuffle on user_id, then a per-user automaton — an
    // aggregate() fold over array_sort(collect_list(...)) (q90's
    // in-buffer-sort posture: per-user history fits an aggregation
    // buffer wherever it fits a session anyway). The k-join min-chain
    // the oracle uses (k scans, k shuffles) is exactly what this plan
    // avoids; the fold is provably equivalent because events arrive in
    // (ts, event_id) total order, so "first qualifying event after
    // acc.t" IS "min ts > acc.t". Counts are pure integers.
    QueryDef.sql("q135_kstep_funnel") { (s, d) =>
      val steps = expr(
        """aggregate(
          |  array_sort(collect_list(struct(ts, event_id, event_type))),
          |  named_struct('step', 0, 't', cast('1970-01-01 00:00:00' AS timestamp)),
          |  (acc, x) -> CASE
          |    WHEN acc.step = 0 AND x.event_type = 'signup'
          |      THEN named_struct('step', 1, 't', x.ts)
          |    WHEN acc.step = 1 AND x.event_type = 'view' AND x.ts > acc.t
          |      THEN named_struct('step', 2, 't', x.ts)
          |    WHEN acc.step = 2 AND x.event_type = 'click' AND x.ts > acc.t
          |      THEN named_struct('step', 3, 't', x.ts)
          |    WHEN acc.step = 3 AND x.event_type = 'purchase' AND x.ts > acc.t
          |      THEN named_struct('step', 4, 't', x.ts)
          |    ELSE acc END).step""".stripMargin)
      Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(steps.as("steps"))
        .agg(
          sum(when(col("steps") >= 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("steps") >= 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("steps") >= 3, 1L).otherwise(0L)).as("n3"),
          sum(when(col("steps") >= 4, 1L).otherwise(0L)).as("n4"))
        .select(expr(
          """stack(4,
            |  1, 'signup',   n1,
            |  2, 'view',     n2,
            |  3, 'click',    n3,
            |  4, 'purchase', n4) AS (step, step_name, n_users)""".stripMargin))
        .orderBy("step")
    } {
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
        |  WHERE e.event_type = 'view' GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |t4 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN t3 ON e.user_id = t3.user_id AND e.ts > t3.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT step, step_name, n_users FROM (
        |  SELECT 1 AS step, 'signup' AS step_name, COUNT(*) AS n_users FROM t1
        |  UNION ALL SELECT 2, 'view', COUNT(*) FROM t2
        |  UNION ALL SELECT 3, 'click', COUNT(*) FROM t3
        |  UNION ALL SELECT 4, 'purchase', COUNT(*) FROM t4)
        |ORDER BY step""".stripMargin
    },

    // ------------------------------------------------------------------
    // q140: TRANSITION GAP PROFILE — inter-event dwell time per
    // (from → to) transition: q118 counts WHERE users go, this measures
    // HOW LONG they linger on each hop (latency/abandonment diagnosis;
    // a bot signature is a near-zero gap profile). Same single keyed
    // lead window as q118 (one user_id shuffle, one sort), then a
    // types²-key aggregation. Gaps are exact integer MICROSECONDS
    // summed in decimal(38) — int64 would overflow at corpus row counts
    // (6e11 rows × ~1e13 µs max gap) — then ONE huge-int→double cast
    // and two divisions, correctly rounded from identical exact
    // operands on both engines. Bound audit (round 11): the global sum
    // 6e11 · 1e13 = 6e24 sits 13 orders of magnitude under 10³⁸, and
    // the per-(from,to) group sums are smaller still — no shift path
    // needed at any realistic corpus.
    QueryDef.sql("q140_transition_gap_profile") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        // ts is TIMESTAMP_NTZ; the session runs UTC, so the NTZ→LTZ cast
        // is value-preserving and unix_micros equals DuckDB's epoch_us
        .withColumn("gap_us", expr(
          "unix_micros(cast(next_ts AS timestamp)) - unix_micros(cast(ts AS timestamp))"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(
          count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          sum(col("gap_us").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double").as("sum_gap_us"))
        .withColumn("avg_gap_s",
          col("sum_gap_us") / col("n_gaps").cast("double") / 1e6)
        .drop("sum_gap_us")
        .orderBy("from_type", "to_type")
    } {
      """WITH s AS (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type,
        |    EPOCH_US(LEAD(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - EPOCH_US(ts) AS gap_us
        |  FROM events)
        |SELECT event_type AS from_type, to_type,
        |  COUNT(*) AS n_gaps,
        |  MIN(gap_us) AS min_gap_us,
        |  MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1e6 AS avg_gap_s
        |FROM s WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q151: SCD-2 DIMENSION BUILD — slowly-changing-dimension version
    // history from an event stream: for the deterministic 2% user cohort
    // (q139's posture — bounding the inventory-sized output, exactly as
    // a targeted backfill would), each user's purchase-value BAND
    // (floor(value/100)) becomes a versioned attribute with
    // [effective_from, effective_to) validity intervals and a version
    // number — the type-2 dimension row a warehouse keeps per attribute
    // change. Change-point detection is one lag() over the user-keyed
    // window (high-cardinality partition key, never a global sort);
    // intervals come from lead() over the surviving change rows; the
    // open current version carries effective_to NULL. Both engines run
    // the identical two-window plan; the band is one IEEE FLOOR-division
    // of identical operands.
    QueryDef.sql("q151_scd2_dimension_build") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changes = Tables(s, d, "events")
        .filter(col("event_type") === "purchase" &&
          graft.Ids.hash("user_id") % 50 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(FLOOR(value / 100.0) AS INT)").as("band"))
        .withColumn("prev_band", lag(col("band"), 1).over(w))
        .filter(col("prev_band").isNull || col("band") =!= col("prev_band"))
      val wc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      changes
        .withColumn("effective_from", col("ts"))
        .withColumn("effective_to", lead(col("ts"), 1).over(wc))
        .withColumn("version_n", row_number().over(wc))
        .select(col("user_id"), col("band"), col("effective_from"),
          col("effective_to"), col("version_n"))
        .orderBy("user_id", "version_n")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(FLOOR(value / 100.0) AS INT) AS band
         |  FROM events
         |  WHERE event_type = 'purchase'
         |    AND ${graft.Ids.hashSql("user_id")} % 50 = 0),
         |flagged AS (
         |  SELECT user_id, ts, event_id, band,
         |    LAG(band) OVER w AS prev_band
         |  FROM cohort
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |changes AS (
         |  SELECT user_id, ts, event_id, band FROM flagged
         |  WHERE prev_band IS NULL OR band <> prev_band)
         |SELECT user_id, band,
         |  ts AS effective_from,
         |  LEAD(ts) OVER w AS effective_to,
         |  CAST(ROW_NUMBER() OVER w AS INT) AS version_n
         |FROM changes
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, version_n""".stripMargin
    },

    // ------------------------------------------------------------------
    // q153: LAST-TOUCH REVENUE ATTRIBUTION — each purchase's value is
    // credited to the user's latest preceding non-purchase event
    // ("channel") within a 7-day lookback, else to 'organic'. The
    // marketing-attribution primitive, computed the q21/q95 way: ONE
    // user-keyed window over the unified event stream (ROWS unbounded
    // preceding → 1 preceding, ordered by (ts, event_id) so ties are
    // deterministic) with ignore-nulls last() picking the most recent
    // non-purchase — never a purchases × events pair join, which at
    // corpus scale multiplies by the per-user event count. The 7-day
    // constraint is a scan-side post-filter on the exact µs gap, NOT a
    // range frame (a range frame cannot carry the event_id tie-break).
    QueryDef.sql("q153_lasttouch_attribution") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val sevenDaysUs = 7L * 24 * 3600 * 1000000L
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          expr("unix_micros(cast(ts AS timestamp))").as("ts_us"))
        .withColumn("prev_type", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .withColumn("prev_ts_us", last(
          when(col("event_type") =!= "purchase", col("ts_us")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("prev_type").isNotNull &&
            col("ts_us") - col("prev_ts_us") <= sevenDaysUs,
            col("prev_type")).otherwise(lit("organic")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("attributed_revenue"))
        .orderBy("channel")
    } {
      s"""WITH base AS (
         |  SELECT user_id, ts, event_id, event_type, value,
         |    epoch_us(ts) AS ts_us
         |  FROM events),
         |attrib AS (
         |  SELECT *,
         |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
         |        THEN event_type END IGNORE NULLS) OVER w AS prev_type,
         |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
         |        THEN ts_us END IGNORE NULLS) OVER w AS prev_ts_us
         |  FROM base
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |p AS (
         |  SELECT CASE WHEN prev_type IS NOT NULL
         |      AND ts_us - prev_ts_us <= 604800000000 THEN prev_type
         |    ELSE 'organic' END AS channel, value
         |  FROM attrib WHERE event_type = 'purchase')
         |SELECT channel, COUNT(*) AS n_purchases,
         |  ${dsumSql("value")} AS attributed_revenue
         |FROM p GROUP BY channel
         |ORDER BY channel""".stripMargin
    },

    // ------------------------------------------------------------------
    // q155: MARKOV NEXT-EVENT MODEL EVALUATION — the train/eval loop of
    // a sequence baseline, entirely relational: fit q118's first-order
    // transition model on the EVEN md5-half of users, predict each odd-
    // half transition's successor as the train-side argmax (ties broken
    // lexicographically — deterministic on both engines), and score
    // per-from-type accuracy on the held-out half. The model is a
    // types²-row broadcast; the eval is one keyed window over test
    // events plus a broadcast join — no per-row UDF, no driver loop.
    // Every quantity is an exact integer count; accuracy is the single
    // terminal division. This is the "can we even beat a bigram
    // baseline" gate a sequence-model pipeline runs before training
    // anything expensive.
    QueryDef.sql("q155_markov_eval") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      def transitions(half: Int) = Tables(s, d, "events")
        .filter(graft.Ids.hash("user_id") % 2 === half)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("event_type").as("from_type"), col("to_type"))
      val argmaxW = Window.partitionBy(col("from_type"))
        .orderBy(col("n").desc, col("to_type").asc)
      val model = transitions(0)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(argmaxW))
        .filter(col("rk") === 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      transitions(1)
        .join(broadcast(model), Seq("from_type"), "left_outer")
        .groupBy(col("from_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .join(broadcast(model), Seq("from_type"), "left_outer")
        .select(col("from_type"), col("predicted"), col("n_test"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_test").cast("double"))
            .as("accuracy"))
        .orderBy("from_type")
    } {
      s"""WITH tr AS (
         |  SELECT ${graft.Ids.hashSql("user_id")} % 2 AS half,
         |    event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |counts AS (
         |  SELECT from_type, to_type, COUNT(*) AS n
         |  FROM tr WHERE half = 0 AND to_type IS NOT NULL
         |  GROUP BY 1, 2),
         |model AS (
         |  SELECT from_type, to_type AS predicted FROM (
         |    SELECT from_type, to_type,
         |      ROW_NUMBER() OVER (PARTITION BY from_type
         |        ORDER BY n DESC, to_type ASC) AS rk
         |    FROM counts) WHERE rk = 1),
         |test AS (
         |  SELECT from_type, to_type FROM tr
         |  WHERE half = 1 AND to_type IS NOT NULL)
         |SELECT t.from_type, m.predicted,
         |  COUNT(*) AS n_test,
         |  CAST(SUM(CASE WHEN t.to_type = m.predicted THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN t.to_type = m.predicted THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
         |FROM test t LEFT JOIN model m ON t.from_type = m.from_type
         |GROUP BY t.from_type, m.predicted
         |ORDER BY t.from_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q164: TIME-WEIGHTED AVERAGE VALUE (TWAP) — per cohort user, the
    // purchase value weighted by how long it was the CURRENT value
    // (finance's TWAP / ops' duration-weighted gauge): Σ vᵢ·Δtᵢ / ΣΔtᵢ
    // over consecutive purchases, the last (open-ended) holding
    // excluded. A plain AVG pretends every observation held equally
    // long; the duration weighting is what monitoring and pricing
    // actually need. Exactness: values become integer cents, gaps exact
    // µs, products accumulate in decimal(38)/HUGEINT (cents·µs
    // overflows int64 at month-scale gaps), and the single terminal
    // division runs on identical correctly-rounded casts (the oracle
    // routes its wide-int casts through VARCHAR — the q154 lesson).
    // Bound audit (round 11): per-row cents·µs ≤ 1e7·1e13 = 1e20, so a
    // per-user sum reaches 10³⁸ only past 1e18 purchase rows per user —
    // unreachable; no shift path needed.
    // One user-keyed window + one keyed aggregation; cohort-bounded
    // output (q139's posture).
    QueryDef.sql("q164_twap_per_user") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wide = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables(s, d, "events")
        .filter(col("event_type") === "purchase" &&
          graft.Ids.hash("user_id") % 50 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"),
          expr("unix_micros(cast(ts AS timestamp))").as("ts_us"))
        .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum((col("cents").cast(wide) * col("gap_us")).cast(wide)).as("wsum"),
          sum(col("gap_us").cast(wide)).as("denom"))
        .filter(col("denom").isNotNull)
        .select(col("user_id"), col("n_purchases"),
          (col("wsum").cast("double") / col("denom").cast("double") /
            lit(100.0)).as("twap_value"))
        .orderBy("user_id")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
         |    epoch_us(ts) AS ts_us
         |  FROM events
         |  WHERE event_type = 'purchase'
         |    AND ${graft.Ids.hashSql("user_id")} % 50 = 0),
         |gapped AS (
         |  SELECT user_id, cents,
         |    LEAD(ts_us) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) - ts_us AS gap_us
         |  FROM cohort),
         |agg AS (
         |  SELECT user_id, COUNT(*) AS n_purchases,
         |    SUM(CAST(cents AS HUGEINT) * gap_us) AS wsum,
         |    SUM(CAST(gap_us AS HUGEINT)) AS denom
         |  FROM gapped GROUP BY user_id)
         |SELECT user_id, n_purchases,
         |  CAST(CAST(wsum AS VARCHAR) AS DOUBLE)
         |    / CAST(CAST(denom AS VARCHAR) AS DOUBLE) / 100.0 AS twap_value
         |FROM agg WHERE denom IS NOT NULL
         |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q165: CALENDAR DENSIFICATION — the sparse-to-dense time-series
    // primitive every BI/forecast pipeline needs: daily order counts
    // per priority over the COMPLETE [min, max] calendar, missing days
    // present as explicit zeros (a gap a groupBy silently drops is a
    // gap a forecast silently interpolates wrong). The scaffold is
    // generated, never scanned: one 1-row min/max aggregate feeds
    // sequence()/generate_series, cross-joined with the distinct
    // priority dimension — days × groups rows, broadcast-sized at any
    // fact-table scale — and the fact counts LEFT-join onto it.
    QueryDef.sql("q165_calendar_densify") { (s, d) =>
      val orders = Tables(s, d, "orders")
      val span = broadcast(orders.agg(
        min(expr("CAST(o_orderdate AS DATE)")).as("d0"),
        max(expr("CAST(o_orderdate AS DATE)")).as("d1")))
      val days = span.select(explode(
        expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val prios = orders.select(col("o_orderpriority")).distinct()
      val counts = orders.groupBy(
          expr("CAST(o_orderdate AS DATE)").as("day2"),
          col("o_orderpriority").as("prio2"))
        .agg(count(lit(1)).as("n"))
      days.crossJoin(broadcast(prios))
        .join(counts, col("day") === col("day2") &&
          col("o_orderpriority") === col("prio2"), "left_outer")
        .select(col("day"), col("o_orderpriority"),
          coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("day", "o_orderpriority")
    } {
      """WITH span AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |    CAST(MAX(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |days AS (
        |  SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))
        |    AS DATE) AS day
        |  FROM span),
        |prios AS (SELECT DISTINCT o_orderpriority FROM orders),
        |counts AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day2,
        |    o_orderpriority AS prio2, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT days.day, prios.o_orderpriority,
        |  CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_orders
        |FROM days CROSS JOIN prios
        |LEFT JOIN counts ON days.day = counts.day2
        |  AND prios.o_orderpriority = counts.prio2
        |ORDER BY days.day, prios.o_orderpriority""".stripMargin
    },

    // ------------------------------------------------------------------
    // q166: INTERVAL-UNION COVERAGE — per cohort user, the total length
    // of the UNION of their activity intervals ([ts, ts+30min) per
    // event): overlapping intervals merge, so the answer is real active
    // time, not Σ durations (which double-counts every overlap — the
    // standing bug of naive engagement metrics). The gaps-and-islands
    // form on INTERVALS: one user-keyed window tracks the running max
    // interval end, a new island starts where the next interval begins
    // past it, and each island contributes (max end − min start). All
    // exact integer microseconds; two windows + one aggregation, all
    // keyed by the high-cardinality user id.
    QueryDef.sql("q166_interval_coverage") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val halfHourUs = 1800000000L
      val flagged = Tables(s, d, "events")
        .filter(graft.Ids.hash("user_id") % 20 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("s_us"))
        .withColumn("e_us", col("s_us") + halfHourUs)
        .withColumn("prev_max_end",
          max(col("e_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max_end").isNull ||
            col("s_us") > col("prev_max_end"), 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      flagged
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s_us")).as("i_start"), max(col("e_us")).as("i_end"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("coverage_us"))
        .orderBy("user_id")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, ts, event_id,
         |    epoch_us(ts) AS s_us, epoch_us(ts) + 1800000000 AS e_us
         |  FROM events
         |  WHERE ${graft.Ids.hashSql("user_id")} % 20 = 0),
         |flagged AS (
         |  SELECT user_id, ts, event_id, s_us, e_us,
         |    CASE WHEN MAX(e_us) OVER w IS NULL
         |        OR s_us > MAX(e_us) OVER w THEN 1 ELSE 0 END AS new_island
         |  FROM cohort
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |islanded AS (
         |  SELECT user_id, s_us, e_us,
         |    SUM(new_island) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM flagged),
         |per_island AS (
         |  SELECT user_id, island,
         |    MIN(s_us) AS i_start, MAX(e_us) AS i_end
         |  FROM islanded GROUP BY user_id, island)
         |SELECT user_id, COUNT(*) AS n_islands,
         |  CAST(SUM(i_end - i_start) AS BIGINT) AS coverage_us
         |FROM per_island GROUP BY user_id
         |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q167: SEQUENTIAL-PATTERN MINING (lite) — the support of every
    // 3-step behavioral pattern: for each event-type trigram (three
    // consecutive events of one user), how many DISTINCT users exhibit
    // it and how often it occurs. The SPAM/PrefixSpan entry point a
    // product team actually uses ("what do users do right before
    // churning?"), bounded to contiguous windows so the pattern
    // universe is types³ — never the exponential subsequence lattice.
    // One user-keyed window (two leads), then a types³-key aggregation
    // with an exact distinct-user count; support filter ≥ 2 users.
    QueryDef.sql("q167_sequence_patterns") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
          col("t3").as("step3"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .filter(col("n_users") >= 2)
        .orderBy("step1", "step2", "step3")
    } {
      """WITH seq AS (
        |  SELECT user_id, event_type AS step1,
        |    LEAD(event_type, 1) OVER w AS step2,
        |    LEAD(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, step3,
        |  COUNT(*) AS n_occurrences,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM seq WHERE step3 IS NOT NULL
        |GROUP BY step1, step2, step3
        |HAVING COUNT(DISTINCT user_id) >= 2
        |ORDER BY step1, step2, step3""".stripMargin
    },

    // ------------------------------------------------------------------
    // q168: RUN-LENGTH COMPRESSIBILITY — per cohort user, how much the
    // event-type sequence compresses under run-length encoding: run
    // count over event count. A human's session mixes types (ratio near
    // 1); a scripted client hammers one action (ratio near 0) — the
    // cheapest bot/automation signature there is, and a close cousin of
    // q69's intra-document repetition rules applied to behavior. One
    // lag() change-flag + one keyed aggregation, all integers, one
    // terminal division.
    QueryDef.sql("q168_rle_compressibility") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .filter(graft.Ids.hash("user_id") % 20 === 0)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("new_run",
          when(col("prev_type").isNull ||
            col("event_type") =!= col("prev_type"), 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("new_run")).as("n_runs"))
        .select(col("user_id"), col("n_events"), col("n_runs"),
          (col("n_runs").cast("double") / col("n_events").cast("double"))
            .as("rle_ratio"))
        .orderBy("user_id")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, ts, event_id, event_type
         |  FROM events
         |  WHERE ${graft.Ids.hashSql("user_id")} % 20 = 0),
         |flagged AS (
         |  SELECT user_id,
         |    CASE WHEN LAG(event_type) OVER w IS NULL
         |        OR event_type <> LAG(event_type) OVER w
         |      THEN 1 ELSE 0 END AS new_run
         |  FROM cohort
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(new_run) AS BIGINT) AS n_runs,
         |  CAST(SUM(new_run) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS rle_ratio
         |FROM flagged GROUP BY user_id
         |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q173: RANGE-FRAME TRAILING WINDOW — per event, the 7-day trailing
    // sum/count of the SAME USER's event values, as a true value-range
    // frame (RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW over unix
    // seconds) — the time-series "moving revenue" primitive a ROWS
    // frame cannot express (event counts per window vary) and a pair
    // join would quadratically overpay for. Ties share a frame by
    // value, so the result is order-independent by construction; the
    // windowed double sum rides the Det decimal contract (order-free
    // exact accumulation, one terminal cast). Keyed by the
    // high-cardinality user id — no single-task stage at any scale.
    // Cohort-bounded output (the q166 posture).
    QueryDef.sql("q173_trailing_window") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-604800L, 0L)
      Tables(s, d, "events")
        .filter(graft.Ids.hash("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp)) DIV 1000000").as("ts_s"),
          col("value"))
        .withColumn("trail_sum",
          sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
        .withColumn("trail_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("ts_s"),
          col("trail_sum"), col("trail_n"))
        .orderBy("user_id", "ts_s", "event_id")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, event_id,
         |    epoch_us(ts) // 1000000 AS ts_s, value
         |  FROM events
         |  WHERE ${graft.Ids.hashSql("user_id")} % 20 = 0)
         |SELECT user_id, event_id, ts_s,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         |    AS trail_sum,
         |  COUNT(*) OVER w AS trail_n
         |FROM cohort
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
         |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts_s, event_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q176: GAP-FILL WITH LINEAR INTERPOLATION — the q165 calendar
    // scaffold upgraded from explicit zeros to interpolated estimates:
    // per order-priority, every day in the global [min, max] span gets
    // the exact daily order count where one exists, else the linear
    // interpolation between the nearest BRACKETING observed days (the
    // timeseries-warehouse gap-fill primitive). Interpolation
    // arithmetic is one rational: prev + (next − prev)·(day − prev_day)
    // / (next_day − prev_day) on exact int64 counts and day ordinals —
    // numerator products first, ONE terminal double division, so both
    // engines round identically. Edges (before first / after last
    // observation) carry the nearest value. Scaffold = days ×
    // priorities (broadcast-sized above one span agg); the as-of
    // brackets are two ignore-nulls windows keyed by priority over the
    // scaffold-sized relation — never the fact table. The daily rollup
    // is FROZEN (localCheckpoint) before fan-out: three consumers
    // (span, priority list, scaffold join) would otherwise re-derive it
    // — three fact scans at warehouse scale. And the next-observation
    // bracket runs as a running frame over the REVERSED ordering, not a
    // CURRENT→UNBOUNDED-FOLLOWING frame: WindowExec re-scans following
    // frames per row (O(rows²) per partition — the q182 skyline lesson),
    // while both running frames here are incremental O(rows).
    QueryDef.sql("q176_gap_interpolation") { (s, d) =>
      val daily = graft.Checkpoints.checkpointLazy(
        Tables(s, d, "orders")
          .select(col("o_orderpriority").as("prio"),
            expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)").as("day"))
          .groupBy(col("prio"), col("day"))
          .agg(count(lit(1)).as("n")))
      val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
        .crossJoin(daily.select(col("prio")).distinct())
      val joined = grid.join(daily, Seq("prio", "day"), "left_outer")
      val wPrev = Window.partitionBy(col("prio")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // nearest observation at day ≥ current: running last over the
      // day-DESC ordering (incremental), ≡ first over CURRENT→FOLLOWING
      val wNextR = Window.partitionBy(col("prio")).orderBy(col("day").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      joined
        .withColumn("pv", last(col("n"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(when(col("n").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", last(col("n"), ignoreNulls = true).over(wNextR))
        .withColumn("nd", last(when(col("n").isNotNull, col("day")),
          ignoreNulls = true).over(wNextR))
        .withColumn("filled",
          when(col("n").isNotNull, col("n").cast("double"))
            .when(col("pv").isNull, col("nv").cast("double"))
            .when(col("nv").isNull, col("pv").cast("double"))
            .otherwise(
              (col("pv") * (col("nd") - col("day")) +
               col("nv") * (col("day") - col("pd"))).cast("double") /
                (col("nd") - col("pd")).cast("double")))
        .withColumn("observed", col("n").isNotNull.cast("int"))
        .select(col("prio"), col("day"), col("filled"), col("observed"))
        .orderBy("prio", "day")
    } {
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(DATEDIFF('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        |  SELECT p.prio, g.day
        |  FROM (SELECT DISTINCT prio FROM daily) p,
        |    (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span) g),
        |j AS (
        |  SELECT g.prio, g.day, d.n FROM grid g
        |  LEFT JOIN daily d ON g.prio = d.prio AND g.day = d.day),
        |br AS (
        |  SELECT prio, day, n,
        |    LAST_VALUE(n IGNORE NULLS) OVER wp AS pv,
        |    LAST_VALUE(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    FIRST_VALUE(n IGNORE NULLS) OVER wn AS nv,
        |    FIRST_VALUE(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j
        |  WINDOW
        |    wp AS (PARTITION BY prio ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY prio ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT prio, day,
        |  CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
        |    WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |    WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |    ELSE CAST(pv * (nd - day) + nv * (day - pd) AS DOUBLE)
        |      / CAST(nd - pd AS DOUBLE) END AS filled,
        |  CAST(n IS NOT NULL AS INT) AS observed
        |FROM br
        |ORDER BY prio, day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q178: MAX DRAWDOWN — per cohort user, the deepest peak-to-current
    // decline of the event value gauge over (ts, event_id) order: the
    // finance max-drawdown primitive applied to any monitored metric
    // series (engagement, balance, throughput). A running-max window
    // gives each row its historical peak; the drawdown is max(peak −
    // value), with the count of below-peak rows as the persistence
    // signal. Everything rides exact integer cents (value is 2-decimal
    // by fixture contract, round() makes the int exact on both engines);
    // the only doubles are two terminal long→double casts and a shared
    // /100. ONE user-keyed window + one keyed agg — no self-join over
    // (row, earlier rows) pairs, which is the quadratic formulation this
    // window shape replaces. Keyed by the high-cardinality user id: no
    // single-task stage at any scale.
    QueryDef.sql("q178_max_drawdown") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables(s, d, "events")
        .filter(graft.Ids.hash("user_id") % 20 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .withColumn("peak", max(col("vc")).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          (max(col("vc")).cast("double") / 100.0).as("max_value"),
          (max(col("peak") - col("vc")).cast("double") / 100.0).as("max_drawdown"),
          sum(when(col("vc") < col("peak"), 1L).otherwise(0L)).as("n_below_peak"))
        .orderBy("user_id")
    } {
      s"""WITH cohort AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(ROUND(value * 100) AS BIGINT) AS vc
         |  FROM events
         |  WHERE ${graft.Ids.hashSql("user_id")} % 20 = 0),
         |pk AS (
         |  SELECT user_id, vc,
         |    MAX(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM cohort)
         |SELECT user_id, COUNT(*) AS n_events,
         |  CAST(MAX(vc) AS DOUBLE) / 100.0 AS max_value,
         |  CAST(MAX(peak - vc) AS DOUBLE) / 100.0 AS max_drawdown,
         |  CAST(SUM(CASE WHEN vc < peak THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_below_peak
         |FROM pk GROUP BY user_id
         |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q184: SEASONAL-NAIVE FORECAST ERROR — the mandatory baseline any
    // real forecasting model must beat: predict each day's order count
    // with the count from 7 days earlier, and report per-priority MAE
    // over the days where the prediction exists. Runs on q165's dense
    // calendar scaffold (missing days are explicit zeros — a lag(7) over
    // a SPARSE daily relation would silently compare across gaps), so
    // the fact table is touched exactly once for the daily agg; the
    // lag window and error agg run on the O(days × priorities)
    // broadcast-sized grid. All-integer errors, one terminal division.
    QueryDef.sql("q184_seasonal_naive_error") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)").as("day"))
        .groupBy(col("prio"), col("day"))
        .agg(count(lit(1)).as("n"))
      val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
        .crossJoin(daily.select(col("prio")).distinct())
      val filled = grid.join(daily, Seq("prio", "day"), "left_outer")
        .withColumn("c", coalesce(col("n"), lit(0L)))
      val w = Window.partitionBy(col("prio")).orderBy(col("day"))
      filled
        .withColumn("pred", lag(col("c"), 7).over(w))
        .filter(col("pred").isNotNull)
        .groupBy(col("prio"))
        .agg(
          count(lit(1)).as("n_days"),
          sum(abs(col("c") - col("pred"))).as("total_abs_err"))
        .select(col("prio"), col("n_days"), col("total_abs_err"),
          (col("total_abs_err").cast("double") / col("n_days").cast("double"))
            .as("mae"))
        .orderBy("prio")
    } {
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(DATEDIFF('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        |  SELECT p.prio, g.day
        |  FROM (SELECT DISTINCT prio FROM daily) p,
        |    (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span) g),
        |filled AS (
        |  SELECT g.prio, g.day, COALESCE(d.n, 0) AS c
        |  FROM grid g LEFT JOIN daily d ON g.prio = d.prio AND g.day = d.day),
        |scored AS (
        |  SELECT prio, c,
        |    LAG(c, 7) OVER (PARTITION BY prio ORDER BY day) AS pred
        |  FROM filled)
        |SELECT prio, COUNT(*) AS n_days,
        |  CAST(SUM(ABS(c - pred)) AS BIGINT) AS total_abs_err,
        |  CAST(SUM(ABS(c - pred)) AS DOUBLE) / COUNT(*) AS mae
        |FROM scored WHERE pred IS NOT NULL
        |GROUP BY prio ORDER BY prio""".stripMargin
    },

    // ------------------------------------------------------------------
    // q186: LAG-k AUTOCORRELATION (ACF) — per priority, the Pearson
    // correlation of the daily order count with itself k = 1 and 7 days
    // earlier: the seasonality detector that tells q184's seasonal-naive
    // baseline WHICH lag to use, and the first diagnostic any
    // forecasting pipeline prints. Runs on the q165 dense calendar (a
    // sparse series would correlate across gaps), so the fact table is
    // scanned once for the daily agg and the lag windows + moment sums
    // live on the O(days × priorities) grid. All five moment sums are
    // exact int64 over integer counts (at warehouse scale swap the
    // product sums to decimal(38) — q58's contract note), and the ACF
    // is ONE shared IEEE chain over exact operands (q58's
    // cross-multiplied form; zero-variance guard yields NULL on both
    // engines).
    QueryDef.sql("q186_autocorrelation") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)").as("day"))
        .groupBy(col("prio"), col("day"))
        .agg(count(lit(1)).as("n"))
      val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
        .crossJoin(daily.select(col("prio")).distinct())
      val filled = graft.Checkpoints.checkpointLazy(
        grid.join(daily, Seq("prio", "day"), "left_outer")
          .withColumn("c", coalesce(col("n"), lit(0L))))
      val w = Window.partitionBy(col("prio")).orderBy(col("day"))
      val byLag = Seq(1, 7).map { k =>
        filled
          .withColumn("y", lead(col("c"), k).over(w))
          .filter(col("y").isNotNull)
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"),
            sum(col("c")).as("sx"), sum(col("y")).as("sy"),
            sum(col("c") * col("y")).as("sxy"),
            sum(col("c") * col("c")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("prio"), lit(k.toLong).as("lag"), col("n").as("n_pairs"),
            {
              val n = col("n").cast("double")
              val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
              val sxy = col("sxy").cast("double")
              val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
              val varx = n * sxx - sx * sx
              val vary = n * syy - sy * sy
              when(varx * vary <= 0, lit(null).cast("double"))
                .otherwise((n * sxy - sx * sy) / sqrt(varx * vary)).as("acf")
            })
      }
      byLag.reduce(_ unionAll _).orderBy("prio", "lag")
    } {
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(DATEDIFF('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        |  SELECT p.prio, g.day
        |  FROM (SELECT DISTINCT prio FROM daily) p,
        |    (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span) g),
        |filled AS (
        |  SELECT g.prio, g.day, COALESCE(d.n, 0) AS c
        |  FROM grid g LEFT JOIN daily d ON g.prio = d.prio AND g.day = d.day),
        |lagged AS (
        |  SELECT l.lag, prio, c,
        |    LEAD(c, l.lag) OVER (PARTITION BY l.lag, prio ORDER BY day) AS y
        |  FROM filled, (SELECT UNNEST([1, 7]) AS lag) l),
        |sums AS (
        |  SELECT prio, lag, COUNT(*) AS n_pairs,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(c * y) AS BIGINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
        |  FROM lagged WHERE y IS NOT NULL GROUP BY prio, lag)
        |SELECT prio, CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0 THEN NULL
        |    ELSE (n * sxy - sx * sy)
        |      / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS acf
        |FROM sums
        |ORDER BY prio, lag""".stripMargin
    },

    // ------------------------------------------------------------------
    // q189: CUMULATIVE UNIQUE USERS — the growth curve: per day, the
    // number of DISTINCT users ever seen up to that day. The naive form
    // (COUNT(DISTINCT) OVER a running frame) doesn't exist in either
    // engine and would hold the user set per frame; the scalable
    // identity is that a user contributes exactly once, on their FIRST
    // day: one user-keyed min() agg, a daily first-timer count, and a
    // running sum over the dense calendar. The only window runs on the
    // O(days) grid — calendar-bounded, not corpus-bounded, which is why
    // a global frame is safe here and nowhere else (a decade is ~3.7k
    // rows no matter how many trillion events feed it).
    QueryDef.sql("q189_cumulative_uniques") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val firstDay = Tables(s, d, "events")
        .select(col("user_id"),
          expr("CAST(datediff(cast(ts AS timestamp), DATE '2024-01-01') AS BIGINT)")
            .as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
        .groupBy(col("first_day"))
        .agg(count(lit(1)).as("n_new"))
      val span = firstDay.agg(min(col("first_day")).as("lo"),
        max(col("first_day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(firstDay, col("day") === col("first_day"), "left_outer")
        .withColumn("n_new_users", coalesce(col("n_new"), lit(0L)))
        .withColumn("n_cum_users", sum(col("n_new_users")).over(w))
        .select(col("day"), col("n_new_users"), col("n_cum_users"))
        .orderBy("day")
    } {
      """WITH fd AS (
        |  SELECT user_id,
        |    MIN(CAST(DATEDIFF('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) AS BIGINT)) AS first_day
        |  FROM events GROUP BY user_id),
        |newbies AS (
        |  SELECT first_day, COUNT(*) AS n_new FROM fd GROUP BY first_day),
        |span AS (SELECT MIN(first_day) AS lo, MAX(first_day) AS hi
        |  FROM newbies),
        |grid AS (
        |  SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span)
        |SELECT g.day, COALESCE(n.n_new, 0) AS n_new_users,
        |  CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_cum_users
        |FROM grid g LEFT JOIN newbies n ON g.day = n.first_day
        |ORDER BY g.day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q194: ROLLING 7-DAY ACTIVE USERS — for every day, how many
    // distinct users were active in the trailing week. The naive form
    // is a COUNT(DISTINCT) per sliding window — a distinct set held per
    // window-day, the exact thing that detonates at scale (and q99's
    // DAU/WAU computes only two fixed windows). The scalable identity:
    // a user active on day d is "rolling-active" on exactly the days
    // [d, d+6], so merge each user's overlapping coverage intervals
    // into disjoint islands (gap > 6 starts a new one — q166's
    // gaps-and-islands ON INTERVALS, user-keyed windows) and explode
    // each island's covered days ONCE. Disjointness makes the final
    // count a plain keyed agg — no distinct anywhere; the explode
    // fan-out is bounded by 7× the user-day relation. Oracle = the
    // brute-force range join + COUNT(DISTINCT), so the island identity
    // is re-proven equivalent on every Verify run.
    QueryDef.sql("q194_rolling_active_users") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ud = Tables(s, d, "events")
        .select(col("user_id"),
          expr("CAST(datediff(cast(ts AS timestamp), DATE '2024-01-01') AS BIGINT)")
            .as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      ud
        .withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("new_island",
          when(col("prev").isNull || col("day") - col("prev") > 6, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(wRun))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("day")).as("cov_start"),
          (max(col("day")) + 6).as("cov_end"))
        .select(col("user_id"),
          explode(expr("sequence(cov_start, cov_end)")).as("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active_7d"))
        .orderBy("day")
    } {
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day
        |  FROM events),
        |span AS (SELECT MIN(day) AS lo, MAX(day) + 6 AS hi FROM ud),
        |w AS (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span)
        |SELECT w.day, COUNT(DISTINCT ud.user_id) AS n_active_7d
        |FROM w JOIN ud ON ud.day BETWEEN w.day - 6 AND w.day
        |GROUP BY w.day ORDER BY w.day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q199: A/B CONVERSION Z-TEST — the experiment-analysis primitive:
    // users are split into two arms by the library's one id-hash recipe
    // (graft.Ids — content-independent, so assignment is unbiased and
    // reproducible on both engines), exposure = saw a view, conversion =
    // exposed user later purchased, and the two-proportion pooled z-test
    // decides significance. DETERMINISM: counts are exact integers; the
    // z statistic uses only IEEE-correctly-rounded ops (divide, sqrt) in
    // one fixed expression tree mirrored verbatim in the oracle, so the
    // doubles are bit-equal cross-engine. Shape at scale: one user-keyed
    // shrinking agg (events → one flag row per user), then a single
    // global conditional-sum row — no shuffle after the per-user agg,
    // nothing driver-side.
    QueryDef.sql("q199_ab_conversion_ztest") { (s, d) =>
      import graft.Ids
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
        .filter(col("exposed") === 1L)
        .select(
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("converted"))
      val counts = flags.agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a"), col("converted")).otherwise(0L)).as("x_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("x_b"))
      val pa = col("x_a").cast("double") / col("n_a").cast("double")
      val pb = col("x_b").cast("double") / col("n_b").cast("double")
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      counts
        .withColumn("p_a", pa)
        .withColumn("p_b", pb)
        .withColumn("se", sqrt((pp * (lit(1.0) - pp)) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double"))))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          col("p_a"), col("p_b"),
          when(col("se") === 0.0, 0.0)
            .otherwise((col("p_a") - col("p_b")) / col("se")).as("z_stat"),
          when(col("se") =!= 0.0 &&
              abs((col("p_a") - col("p_b")) / col("se")) > 1.96, 1L)
            .otherwise(0L).as("significant"))
    } {
      s"""WITH pu AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS exposed,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |armed AS (
        |  SELECT ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, converted
        |  FROM pu WHERE exposed = 1),
        |c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)
        |      AS x_a,
        |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN NOT in_a THEN converted ELSE 0 END)
        |      AS BIGINT) AS x_b
        |  FROM armed),
        |z AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |    SQRT((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |        * (1.0 - CAST(x_a + x_b AS DOUBLE)
        |            / CAST(n_a + n_b AS DOUBLE)))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |      AS se
        |  FROM c)
        |SELECT n_a, x_a, n_b, x_b, p_a, p_b,
        |  CASE WHEN se = 0.0 THEN 0.0 ELSE (p_a - p_b) / se END AS z_stat,
        |  CAST(CASE WHEN se <> 0.0 AND ABS((p_a - p_b) / se) > 1.96
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM z""".stripMargin
    },

    // ------------------------------------------------------------------
    // q202: EWMA LEVEL-SHIFT MONITOR — exponentially-weighted smoothing
    // of daily event volume per type, the alerting complement to q195's
    // CUSUM (EWMA reacts to fast spikes, CUSUM to slow drifts). The
    // recurrence is made engine-exact by fixing α = 1/2 and truncating
    // to a 16-term window: weight of lag k is 2^-(k+1), so the SCALED
    // smoothed level E'_t = Σ_{k=0..15} c_{t-k}·2^(15-k) is a pure int64
    // (counts ≤ 2^40 leave 2^15 headroom per term across 16 terms), and
    // ewma = E'/2^16 is one exact long→double cast + dyadic divide. The
    // truncation residual is a DEFINED part of the operator (2^-16 of
    // weight), not an approximation the engines could disagree on.
    // Spike alert: day t (past the 16-day warm-up) with c_t·2^16 >
    // 3·E'_{t-1} — an all-integer comparison. Shape: dense per-type
    // daily grid (q195's posture), one keyed window with 16 lags (a
    // single pass — lags share the frame), then a keyed shrink.
    QueryDef.sql("q202_ewma_level_shift") { (s, d) =>
      val daily = Tables(s, d, "events")
        .select(col("event_type").as("etype"),
          expr("CAST(datediff(cast(ts AS timestamp), DATE '2024-01-01') AS BIGINT)")
            .as("day"))
        .groupBy(col("etype"), col("day"))
        .agg(count(lit(1)).as("n"))
      val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
        .crossJoin(daily.select(col("etype")).distinct())
      val filled = grid.join(daily, Seq("etype", "day"), "left_outer")
        .withColumn("c", coalesce(col("n"), lit(0L)))
      val w = Window.partitionBy(col("etype")).orderBy(col("day"))
      val eprime = (0 to 15)
        .map(k => coalesce(lag(col("c"), k).over(w), lit(0L)) *
          lit(1L << (15 - k)))
        .reduce(_ + _)
      filled
        .withColumn("e", eprime)
        .withColumn("rn", row_number().over(w))
        .withColumn("eprev", lag(col("e"), 1).over(w))
        .groupBy(col("etype"))
        .agg(
          count(lit(1)).as("n_days"),
          (max(col("e")).cast("double") / 65536.0).as("max_ewma"),
          sum(when(col("rn") > 16 &&
              col("c") * 65536L > col("eprev") * 3L, 1L).otherwise(0L))
            .as("n_spike_days"))
        .orderBy("etype")
    } {
      val terms = (0 to 15)
        .map(k => s"COALESCE(LAG(c, $k) OVER w, 0) * ${1L << (15 - k)}")
        .mkString(" + ")
      s"""WITH daily AS (
        |  SELECT event_type AS etype,
        |    CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        |  SELECT t.etype, g.day
        |  FROM (SELECT DISTINCT etype FROM daily) t,
        |    (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span) g),
        |filled AS (
        |  SELECT g.etype, g.day, COALESCE(d.n, 0) AS c
        |  FROM grid g LEFT JOIN daily d
        |    ON g.etype = d.etype AND g.day = d.day),
        |lvl AS (
        |  SELECT etype, day, c,
        |    CAST($terms AS BIGINT) AS e,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM filled
        |  WINDOW w AS (PARTITION BY etype ORDER BY day)),
        |sm AS (
        |  SELECT etype, day, c, e, rn,
        |    LAG(e, 1) OVER (PARTITION BY etype ORDER BY day) AS eprev
        |  FROM lvl)
        |SELECT etype, COUNT(*) AS n_days,
        |  CAST(MAX(e) AS DOUBLE) / 65536.0 AS max_ewma,
        |  CAST(SUM(CASE WHEN rn > 16 AND c * 65536 > eprev * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spike_days
        |FROM sm GROUP BY etype
        |ORDER BY etype""".stripMargin
    },

    // ------------------------------------------------------------------
    // q212: POINT-IN-TIME DIMENSION JOIN — the temporal-correctness
    // primitive behind every "state as of the fact's own time" question
    // (and the thing naive BI gets wrong by joining facts to TODAY's
    // dimension): signups are SCD-2-style tier updates (value-banded),
    // purchases are facts, and each purchase joins to the tier that was
    // in force AT ITS TIMESTAMP — same-instant updates apply, later
    // ones never leak back. Implementation is the q21 union-tag + one
    // user-keyed ordered window (`last ignoreNulls`) — ONE shuffle on
    // the shared user key, no range join, no per-fact probe; the oracle
    // re-derives every assignment through an INDEPENDENT mechanism
    // (per-fact LATERAL top-1 over ts) so the window identity is
    // re-proven equivalent on every Verify. Tie rule: equal ts resolves
    // by event_id (dim before fact at the same instant). Exact cents;
    // one terminal division.
    QueryDef.sql("q212_point_in_time_join") { (s, d) =>
      val ev = Tables(s, d, "events")
      val tier = when(col("value") < 30.0, "basic")
        .when(col("value") < 70.0, "plus").otherwise("pro")
      val dim = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("u"), col("ts").as("t"),
          col("event_id"), lit(0).as("kind"), tier.as("tier"),
          lit(null).cast("long").as("cents"))
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u"), col("ts").as("t"),
          col("event_id"), lit(1).as("kind"),
          lit(null).cast("string").as("tier"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("t"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dim.unionByName(fact)
        .withColumn("asof_tier",
          last(col("tier"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(coalesce(col("asof_tier"), lit("none")).as("tier"),
          col("cents"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("revenue_cents"))
        .select(col("tier"), col("n_purchases"), col("revenue_cents"),
          (col("revenue_cents").cast("double") /
            col("n_purchases").cast("double")).as("avg_cents"))
        .orderBy("tier")
    } {
      """WITH dim AS (
        |  SELECT user_id AS u, ts AS t, event_id,
        |    CASE WHEN value < 30.0 THEN 'basic'
        |         WHEN value < 70.0 THEN 'plus' ELSE 'pro' END AS tier
        |  FROM events WHERE event_type = 'signup'),
        |fact AS (
        |  SELECT user_id AS u, ts AS t, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |pit AS (
        |  SELECT f.cents, COALESCE(d.tier, 'none') AS tier
        |  FROM fact f
        |  LEFT JOIN LATERAL (
        |    SELECT tier FROM dim
        |    WHERE dim.u = f.u AND dim.t <= f.t
        |    ORDER BY dim.t DESC, dim.event_id DESC LIMIT 1) d ON TRUE)
        |SELECT tier, COUNT(*) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_cents
        |FROM pit GROUP BY tier
        |ORDER BY tier""".stripMargin
    },

    // ------------------------------------------------------------------
    // q214: LAG-FEATURE MATRIX — the time-series featurization step a
    // forecasting pipeline materializes before training (one row per
    // (series, day): yesterday, same-day-last-week, trailing-7 total
    // and mean, day-over-day delta). Everything is integer counts over
    // the dense per-type grid except the trailing mean's ONE terminal
    // division; lags at the series edge are explicit NULLs (a model
    // must see "no history yet", not a silent 0 — the 0-fill is what
    // the EWMA/CUSUM monitors use, deliberately different here). One
    // keyed window pass produces every feature — the frame is shared,
    // so adding features widens the projection, not the shuffle.
    QueryDef.sql("q214_lag_features") { (s, d) =>
      val daily = Tables(s, d, "events")
        .select(col("event_type").as("etype"),
          expr("CAST(datediff(cast(ts AS timestamp), DATE '2024-01-01') AS BIGINT)")
            .as("day"))
        .groupBy(col("etype"), col("day"))
        .agg(count(lit(1)).as("c"))
      val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val grid = span.select(explode(expr("sequence(lo, hi)")).as("day"))
        .crossJoin(daily.select(col("etype")).distinct())
      val filled = grid.join(daily, Seq("etype", "day"), "left_outer")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val w = Window.partitionBy(col("etype")).orderBy(col("day"))
      val w7 = w.rowsBetween(-6, 0)
      filled
        .withColumn("lag_1", lag(col("c"), 1).over(w))
        .withColumn("lag_7", lag(col("c"), 7).over(w))
        .withColumn("trail_7", sum(col("c")).over(w7))
        .withColumn("n_trail", count(lit(1)).over(w7))
        .select(col("etype"), col("day"), col("c"), col("lag_1"),
          col("lag_7"), col("trail_7"),
          (col("trail_7").cast("double") / col("n_trail").cast("double"))
            .as("trail_mean"),
          (col("c") - col("lag_1")).as("delta_1"))
        .orderBy("etype", "day")
    } {
      """WITH daily AS (
        |  SELECT event_type AS etype,
        |    CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        |  SELECT t.etype, g.day
        |  FROM (SELECT DISTINCT etype FROM daily) t,
        |    (SELECT UNNEST(GENERATE_SERIES(lo, hi)) AS day FROM span) g),
        |filled AS (
        |  SELECT g.etype, g.day, COALESCE(d.c, 0) AS c
        |  FROM grid g LEFT JOIN daily d
        |    ON g.etype = d.etype AND g.day = d.day)
        |SELECT etype, day, c,
        |  LAG(c, 1) OVER w AS lag_1,
        |  LAG(c, 7) OVER w AS lag_7,
        |  CAST(SUM(c) OVER w7 AS BIGINT) AS trail_7,
        |  CAST(CAST(SUM(c) OVER w7 AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) OVER w7 AS DOUBLE) AS trail_mean,
        |  c - LAG(c, 1) OVER w AS delta_1
        |FROM filled
        |WINDOW w AS (PARTITION BY etype ORDER BY day),
        |  w7 AS (PARTITION BY etype ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY etype, day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q218: SHARD REBALANCE PLAN — the reference's consumer-group
    // assignment rule (`/root/reference/syncclient.go:113-117`: client
    // idx of n owns shards [round(idx·r), round((idx+1)·r)), r =
    // shards/n) applied AS AN ANALYTIC: when the group scales 2 → 3
    // clients, which shards move, and how many buffered records ride
    // the checkpoint handoff. owner(s) = Σ_{i=1..n−1} [round(i·r) ≤ s]
    // — the range rule inverted into a per-shard fold over the tiny
    // client list, so both engines evaluate the identical round()
    // boundaries (positive half-up on both). The spec additionally pins
    // this SQL derivation against the ShardAssignment.split function
    // the source layer actually uses (the [2,1,2] golden from
    // `kinesumer_test.go:231-316`), closing the loop between §2.1
    // semantics and the query surface.
    QueryDef.sql("q218_shard_rebalance_plan") { (s, d) =>
      val owner = (n: Int) => expr(
        s"""aggregate(sequence(1, ${n - 1}), 0L,
           |  (acc, i) -> acc + IF(ROUND(i * (${NumShards}.0 / $n)) <= s,
           |    1L, 0L))""".stripMargin)
      Tables(s, d, "events")
        .select(pmod(col("user_id"), lit(NumShards)).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n_records"))
        .withColumn("old_owner", owner(2))
        .withColumn("new_owner", owner(3))
        .select(
          format_string("shardId-%012d", col("s")).as("shard_id"),
          col("n_records"), col("old_owner"), col("new_owner"),
          (col("old_owner") =!= col("new_owner")).cast("long").as("moved"))
        .orderBy("shard_id")
    } {
      s"""WITH sh AS (
         |  SELECT user_id % $NumShards AS s, COUNT(*) AS n_records
         |  FROM events GROUP BY 1),
         |own AS (
         |  SELECT s, n_records,
         |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 2),
         |      i -> CASE WHEN ROUND(i * (${NumShards}.0 / 2)) <= s
         |        THEN 1 ELSE 0 END)) AS BIGINT) AS old_owner,
         |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 3),
         |      i -> CASE WHEN ROUND(i * (${NumShards}.0 / 3)) <= s
         |        THEN 1 ELSE 0 END)) AS BIGINT) AS new_owner
         |  FROM sh)
         |SELECT PRINTF('shardId-%012d', s) AS shard_id, n_records,
         |  old_owner, new_owner,
         |  CAST(CASE WHEN old_owner <> new_owner THEN 1 ELSE 0 END
         |    AS BIGINT) AS moved
         |FROM own
         |ORDER BY shard_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q224: WATERMARK-DELAY PROFILE — how out-of-order is each shard,
    // really? A record is LATE if its event time trails the running
    // event-time high-water mark at its ARRIVAL position. Per shard:
    // late fraction and the max lateness in µs — exactly the numbers
    // that size `withWatermark` (too small drops data, too large
    // bloats state); every streaming operator in graft.streaming takes
    // that delay as a parameter, and this query is where it comes
    // from. The driver fixture's envelope sequence is perfectly
    // ts-ordered, so the replay harness synthesizes the disorder the
    // way q172 synthesizes audio: a DETERMINISTIC bounded arrival
    // jitter (md5 of the event id, ±29 on a stride-7 sequence — up to
    // ~8 positions of displacement, the same one-hash recipe both
    // engines share), then the profile MEASURES the resulting
    // lateness. Exact µs integers; one keyed
    // arrival-ordered window (running max), keyed shrink.
    QueryDef.sql("q224_watermark_delay_profile") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(pmod(col("user_id"), lit(NumShards)).as("shard"),
          col("event_id"),
          (col("event_id") * 7L + graft.Ids.hash("event_id") % 59L - 29L)
            .as("arrival"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("hwm", max(col("tus")).over(w))
        .withColumn("late_by",
          when(col("hwm").isNotNull && col("hwm") > col("tus"),
            col("hwm") - col("tus")).otherwise(0L))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(when(col("late_by") > 0L, 1L).otherwise(0L)).as("n_late"),
          max(col("late_by")).as("max_late_us"))
        .select(
          format_string("shardId-%012d", col("shard")).as("shard_id"),
          col("n_records"), col("n_late"),
          (col("n_late").cast("double") / col("n_records").cast("double"))
            .as("late_rate"),
          col("max_late_us"))
        .orderBy("shard_id")
    } {
      s"""WITH ev AS (
        |  SELECT user_id % 5 AS shard, event_id,
        |    event_id * 7 + ${graft.Ids.hashSql("event_id")} % 59 - 29
        |      AS arrival,
        |    EPOCH_US(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events),
        |hw AS (
        |  SELECT shard, tus,
        |    MAX(tus) OVER (PARTITION BY shard ORDER BY arrival, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM ev),
        |lt AS (
        |  SELECT shard,
        |    CASE WHEN hwm IS NOT NULL AND hwm > tus THEN hwm - tus
        |      ELSE 0 END AS late_by
        |  FROM hw)
        |SELECT PRINTF('shardId-%012d', shard) AS shard_id,
        |  COUNT(*) AS n_records,
        |  CAST(SUM(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(SUM(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS late_rate,
        |  CAST(MAX(late_by) AS BIGINT) AS max_late_us
        |FROM lt GROUP BY shard
        |ORDER BY shard_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q225: SLO BURN-RATE ALERTS — the SRE multi-window error-budget
    // monitor (Beyer et al., the SRE workbook's ch.5 alerting policy):
    // with SLO = 99% non-error events, burn rate = error_rate / 0.01
    // per window; page when BOTH the 6-hour and the 1-hour window burn
    // faster than 6× (long window proves it's sustained, short window
    // proves it's still happening; the 6x of the workbook's example
    // becomes 20x here so the fixture's ~20% synthetic error mix
    // exercises BOTH filter outcomes). Windows tumble hourly with the
    // 6-hour leg as a trailing frame over the hourly grid — exact
    // integer counts; divisions terminal. Per qualifying hour: both
    // burn rates. Shape: one hourly keyed agg, one 6-wide frame window.
    QueryDef.sql("q225_slo_burn_rate") { (s, d) =>
      val hourly = Tables(s, d, "events")
        .select(expr(
          "CAST(floor(unix_micros(cast(ts AS timestamp)) / 3600000000.0) AS BIGINT)")
          .as("hour"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("err")).as("e"))
      val w6 = Window.orderBy(col("hour")).rowsBetween(-5, 0)
      hourly
        .withColumn("n6", sum(col("n")).over(w6))
        .withColumn("e6", sum(col("e")).over(w6))
        .withColumn("burn_1h",
          (col("e").cast("double") / col("n").cast("double")) / 0.01)
        .withColumn("burn_6h",
          (col("e6").cast("double") / col("n6").cast("double")) / 0.01)
        .filter(col("burn_1h") > 20.0 && col("burn_6h") > 20.0)
        .select(col("hour"), col("n"), col("e"), col("burn_1h"),
          col("burn_6h"))
        .orderBy("hour")
    } {
      """WITH hourly AS (
        |  SELECT CAST(FLOOR(EPOCH_US(CAST(ts AS TIMESTAMP)) / 3600000000.0)
        |      AS BIGINT) AS hour,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS e
        |  FROM events GROUP BY 1),
        |fr AS (
        |  SELECT hour, n, e,
        |    CAST(SUM(n) OVER w AS BIGINT) AS n6,
        |    CAST(SUM(e) OVER w AS BIGINT) AS e6
        |  FROM hourly
        |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING
        |    AND CURRENT ROW)),
        |b AS (
        |  SELECT hour, n, e,
        |    (CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) / 0.01 AS burn_1h,
        |    (CAST(e6 AS DOUBLE) / CAST(n6 AS DOUBLE)) / 0.01 AS burn_6h
        |  FROM fr)
        |SELECT hour, n, e, burn_1h, burn_6h
        |FROM b WHERE burn_1h > 20.0 AND burn_6h > 20.0
        |ORDER BY hour""".stripMargin
    },

    // ------------------------------------------------------------------
    // q228: SAMPLE-EXTRAPOLATION AUDIT — can the nightly revenue number
    // be read off the deterministic user sample instead of the full
    // scan? Two Horvitz–Thompson estimators over the library's md5
    // buckets (each sampled row weighted by its inverse inclusion
    // probability): a uniform 20% sample, and q59's variable-rate
    // design (10% of the even-hash "majority" arm, 25% of the rest) —
    // both priced against the exact total with their signed relative
    // error. The decision this feeds: which sample rate is cheap
    // enough AND close enough for the dashboard. Exact cent sums;
    // inverse-probability weights are exact small rationals (×5, ×10,
    // ×4); divisions terminal.
    QueryDef.sql("q228_sample_extrapolation_audit") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("user_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"),
          (pmod(graft.Ids.hash("user_id"), lit(100L))).as("bucket"),
          (graft.Ids.hash("user_id") % 2 === 0).as("arm_a"))
      val exact = ev.agg(sum(col("cents")).as("exact_cents"))
      val uni = ev.filter(col("bucket") < 20)
        .agg((sum(col("cents")) * 5L).as("est_cents"),
          count(lit(1)).as("n_sampled"))
        .select(lit("uniform_20pct").as("design"), col("est_cents"),
          col("n_sampled"))
      val strat = ev
        .filter((col("arm_a") && col("bucket") < 10) ||
          (!col("arm_a") && col("bucket") < 25))
        .agg(sum(when(col("arm_a"), col("cents") * 10L)
            .otherwise(col("cents") * 4L)).as("est_cents"),
          count(lit(1)).as("n_sampled"))
        .select(lit("stratified_10_25").as("design"), col("est_cents"),
          col("n_sampled"))
      uni.unionAll(strat).crossJoin(broadcast(exact))
        .select(col("design"), col("n_sampled"), col("est_cents"),
          col("exact_cents"),
          ((col("est_cents") - col("exact_cents")).cast("double") /
            col("exact_cents").cast("double")).as("rel_err"))
        .orderBy("design")
    } {
      s"""WITH ev AS (
         |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         |    ${graft.Ids.hashSql("user_id")} % 100 AS bucket,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS arm_a
         |  FROM events),
         |exact AS (SELECT CAST(SUM(cents) AS BIGINT) AS exact_cents FROM ev),
         |uni AS (
         |  SELECT 'uniform_20pct' AS design, COUNT(*) AS n_sampled,
         |    CAST(SUM(cents) * 5 AS BIGINT) AS est_cents
         |  FROM ev WHERE bucket < 20),
         |strat AS (
         |  SELECT 'stratified_10_25' AS design, COUNT(*) AS n_sampled,
         |    CAST(SUM(CASE WHEN arm_a THEN cents * 10 ELSE cents * 4 END)
         |      AS BIGINT) AS est_cents
         |  FROM ev WHERE (arm_a AND bucket < 10)
         |    OR (NOT arm_a AND bucket < 25)),
         |u AS (SELECT * FROM uni UNION ALL SELECT * FROM strat)
         |SELECT design, n_sampled, est_cents, exact_cents,
         |  CAST(est_cents - exact_cents AS DOUBLE)
         |    / CAST(exact_cents AS DOUBLE) AS rel_err
         |FROM u CROSS JOIN exact
         |ORDER BY design""".stripMargin
    },

    // ------------------------------------------------------------------
    // q229: ALLOWED-LATENESS IMPACT — q224 measures HOW out-of-order
    // the stream is; this prices WHAT each candidate watermark delay
    // would cost: under the same deterministic arrival jitter, a record
    // is dropped if its event time trails the shard's running
    // high-water mark by more than D, for D ∈ {1 s, 10 s, 60 s}.
    // Reported per D: dropped records, drop rate, and the cents of
    // purchase value lost — turning "pick a watermark" into a priced
    // decision against q224's profile. One hwm window shared across
    // the three candidate delays (a 3-row explode, not three scans);
    // exact µs/cents integers.
    QueryDef.sql("q229_allowed_lateness_impact") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(pmod(col("user_id"), lit(NumShards)).as("shard"),
          col("event_id"),
          (col("event_id") * 7L + graft.Ids.hash("event_id") % 59L - 29L)
            .as("arrival"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"),
          when(col("event_type") === "purchase",
            expr("CAST(ROUND(value * 100) AS BIGINT)")).otherwise(0L)
            .as("cents"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withHwm = ev.withColumn("hwm", max(col("tus")).over(w))
      withHwm
        .select(col("tus"), col("hwm"), col("cents"),
          explode(expr("array(1000000L, 10000000L, 60000000L)")).as("d_us"))
        .groupBy(col("d_us"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(when(col("hwm").isNotNull &&
            col("hwm") - col("tus") > col("d_us"), 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when(col("hwm").isNotNull &&
            col("hwm") - col("tus") > col("d_us"), col("cents"))
            .otherwise(0L)).as("cents_lost"))
        .select(col("d_us"), col("n_records"), col("n_dropped"),
          (col("n_dropped").cast("double") / col("n_records").cast("double"))
            .as("drop_rate"),
          col("cents_lost"))
        .orderBy("d_us")
    } {
      s"""WITH ev AS (
         |  SELECT user_id % $NumShards AS shard, event_id,
         |    event_id * 7 + ${graft.Ids.hashSql("event_id")} % 59 - 29
         |      AS arrival,
         |    EPOCH_US(CAST(ts AS TIMESTAMP)) AS tus,
         |    CASE WHEN event_type = 'purchase'
         |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END AS cents
         |  FROM events),
         |hw AS (
         |  SELECT tus, cents,
         |    MAX(tus) OVER (PARTITION BY shard ORDER BY arrival, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
         |  FROM ev),
         |x AS (
         |  SELECT tus, cents, hwm,
         |    UNNEST([1000000, 10000000, 60000000]) AS d_us
         |  FROM hw)
         |SELECT CAST(d_us AS BIGINT) AS d_us, COUNT(*) AS n_records,
         |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND hwm - tus > d_us
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND hwm - tus > d_us
         |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS drop_rate,
         |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND hwm - tus > d_us
         |    THEN cents ELSE 0 END) AS BIGINT) AS cents_lost
         |FROM x GROUP BY d_us
         |ORDER BY d_us""".stripMargin
    },

    // ------------------------------------------------------------------
    // q230: DUPLICATE-PAYMENT DETECTION — the classic fintech audit
    // (double-click, retry storm, replayed webhook): purchases by the
    // SAME user for the SAME whole-dollar amount within 24 hours of
    // each other (the fixture's synthetic values are near-continuous,
    // so the match key rounds to dollars — a real ledger would key on
    // exact minor units). Join-free: each purchase compares to its
    // predecessor AT THE SAME (user, dollars) via one keyed lag — the
    // suspect is the LATER event of each close pair, so retry chains
    // flag every echo once. Reported per user: suspect count and the
    // exact cents at risk. Exact µs/cent integers.
    QueryDef.sql("q230_duplicate_payments") { (s, d) =>
      val p = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"),
          expr("CAST(ROUND(value) AS BIGINT)").as("dollars"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("user_id"), col("dollars"))
        .orderBy(col("tus"), col("event_id"))
      p.withColumn("prev_tus", lag(col("tus"), 1).over(w))
        .withColumn("suspect",
          when(col("prev_tus").isNotNull &&
            col("tus") - col("prev_tus") <= 86400000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("suspect")).as("n_suspect"),
          sum(when(col("suspect") === 1L, col("cents")).otherwise(0L))
            .as("cents_at_risk"))
        .filter(col("n_suspect") > 0L)
        .orderBy("user_id")
    } {
      """WITH p AS (
        |  SELECT user_id, event_id,
        |    EPOCH_US(CAST(ts AS TIMESTAMP)) AS tus,
        |    CAST(ROUND(value) AS BIGINT) AS dollars,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |lagd AS (
        |  SELECT user_id, cents, tus,
        |    LAG(tus, 1) OVER (PARTITION BY user_id, dollars
        |      ORDER BY tus, event_id) AS prev_tus
        |  FROM p),
        |f AS (
        |  SELECT user_id, cents,
        |    CASE WHEN prev_tus IS NOT NULL
        |        AND tus - prev_tus <= 86400000000
        |      THEN 1 ELSE 0 END AS suspect
        |  FROM lagd)
        |SELECT user_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(suspect) AS BIGINT) AS n_suspect,
        |  CAST(SUM(CASE WHEN suspect = 1 THEN cents ELSE 0 END) AS BIGINT)
        |    AS cents_at_risk
        |FROM f GROUP BY user_id
        |HAVING SUM(suspect) > 0
        |ORDER BY user_id""".stripMargin
    },

    // ------------------------------------------------------------------
    // q238: BEHAVIORAL DIVERSITY AUDIT (Gini–Simpson) — the bot/script
    // screen on action mixes: a scripted client hammers one action
    // (diversity → 0, top-action share → 1) while organic users spread
    // across the type vocabulary. Shannon entropy is the textbook
    // choice but needs ln() — a transcendental whose last ulp is libm-
    // specific; the Gini–Simpson index 1 − Σc²/n² carries the same
    // signal from exact integers with ONE correctly-rounded division
    // per user, so it hash-matches across engines. Two shrinking keyed
    // aggregations ((user,type) → user → k-band); the per-user doubles
    // never shuffle raw — the band rollup sums them via the Det
    // decimal contract. Output is ≤ |type vocabulary| rows at any SF.
    QueryDef.sql("q238_action_diversity") { (s, d) =>
      val perType = Tables(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val perUser = perType.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("k"),
          sum(col("c")).as("n"),
          sum(col("c") * col("c")).as("ssq"),
          max(col("c")).as("cmax"))
        .withColumn("diversity", expr(
          "1.0D - CAST(ssq AS DOUBLE) / CAST(n * n AS DOUBLE)"))
        .withColumn("top_share", expr(
          "CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("scripted",
          (col("diversity") < 0.30) || (col("top_share") > 0.85))
      // averages ride a nearest-grid 1e-6 quantization, not Det.davg: the
      // per-user values are exact small rationals (1 − ssq/n², cmax/n)
      // that routinely land ON the scale-6 rounding boundary (e.g.
      // 0.7790625), and there Spark's cast (HALF_UP on the exact binary
      // expansion) and DuckDB's cast (half-up on the SHORTEST DECIMAL
      // string) disagree — observed at sf0.1, invisible at sf0.01.
      // floor(v·1e6 + 0.5) of the identical double is rounding-mode-free
      // (pure IEEE chain, same result on both engines) and — unlike bare
      // floor(v·1e6), which biases each row down by up to 1e-6 — keeps
      // the quantized average a true nearest-grid mean that the min/max
      // columns bracket.
      def floorAvg(c: org.apache.spark.sql.Column) =
        sum(floor(c * lit(1e6) + lit(0.5)).cast("long")).cast("double") /
          lit(1e6) / count(lit(1))
      perUser.groupBy(col("k").as("n_action_types"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("scripted"), 1L).otherwise(0L)).as("n_scripted"),
          floorAvg(col("diversity")).as("avg_diversity"),
          min(col("diversity")).as("min_diversity"),
          max(col("diversity")).as("max_diversity"),
          floorAvg(col("top_share")).as("avg_top_share"))
        .orderBy("n_action_types")
    } {
      s"""WITH c AS (
         |  SELECT user_id, event_type, COUNT(*) AS c
         |  FROM events GROUP BY user_id, event_type),
         |u AS (
         |  SELECT user_id, COUNT(*) AS k,
         |    CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(c * c) AS BIGINT) AS ssq,
         |    MAX(c) AS cmax
         |  FROM c GROUP BY user_id),
         |p AS (
         |  SELECT k,
         |    1.0 - CAST(ssq AS DOUBLE) / CAST(n * n AS DOUBLE) AS diversity,
         |    CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
         |  FROM u)
         |SELECT k AS n_action_types, COUNT(*) AS n_users,
         |  CAST(SUM(CASE WHEN diversity < 0.30 OR top_share > 0.85
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_scripted,
         |  CAST(SUM(CAST(FLOOR(diversity * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e6 / COUNT(*) AS avg_diversity,
         |  MIN(diversity) AS min_diversity,
         |  MAX(diversity) AS max_diversity,
         |  CAST(SUM(CAST(FLOOR(top_share * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e6 / COUNT(*) AS avg_top_share
         |FROM p GROUP BY k
         |ORDER BY n_action_types""".stripMargin
    },

    // ------------------------------------------------------------------
    // q239: KAPLAN–MEIER TIME-TO-CONVERSION with right-censoring — the
    // survival curve for "days from signup to first purchase", where
    // users who never purchase are CENSORED at the corpus horizon
    // rather than dropped (dropping them biases conversion speed
    // optimistic — the classic funnel-analytics mistake). Estimator:
    // S(t) = Π_{u≤t} (n_u − d_u)/n_u over event days. Determinism: the
    // at-risk count n_t is a SUFFIX sum (descending-order running
    // window — never a rows-to-unbounded-FOLLOWING frame, which
    // WindowExec rescans per row); each factor is one correctly-rounded
    // double division from exact integers; and the product is an
    // ORDERED left fold (sorted factor array + aggregate()) — the same
    // multiplication sequence DuckDB's list_reduce performs, so the
    // doubles are bit-identical. The curve relation after the day
    // rollup has ≤ calendar-span rows — CONSTANT in corpus size — so
    // the single-partition window and the O(T²) prefix folds never see
    // data-scale input; everything upstream is keyed aggregation.
    QueryDef.sql("q239_conversion_survival") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(signup, "user_id")
        .filter(col("tus") >= col("t0"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("tconv"))
      val horizon = ev.agg(max(col("tus")).as("tmax"))
      val durations = signup.join(conv, Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .select(
          when(col("tconv").isNotNull, lit(1L)).otherwise(lit(0L)).as("event"),
          expr("(coalesce(tconv, tmax) - t0) div 86400000000L").as("t_days"))
      val days = durations.groupBy(col("t_days"))
        .agg(sum(col("event")).as("n_events"),
          sum(lit(1L) - col("event")).as("n_censored"))
      val wDesc = Window.orderBy(col("t_days").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.orderBy(col("t_days"))
      val curve = days
        .withColumn("n_at_risk",
          sum(col("n_events") + col("n_censored")).over(wDesc))
        .withColumn("factor", expr(
          "CAST(n_at_risk - n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE)"))
        .withColumn("i", row_number().over(wAsc))
      val factors = curve
        .agg(expr("transform(sort_array(collect_list(struct(t_days, factor)))," +
          " x -> x.factor)").as("fs"))
      curve.crossJoin(broadcast(factors))
        .withColumn("survival", expr(
          "aggregate(slice(fs, 1, i), 1.0D, (acc, f) -> acc * f)"))
        .select("t_days", "n_at_risk", "n_events", "n_censored", "survival")
        .orderBy("t_days")
    } {
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    EPOCH_US(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events),
        |signup AS (
        |  SELECT user_id, MIN(tus) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, MIN(e.tus) AS tconv
        |  FROM ev e JOIN signup s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus >= s.t0
        |  GROUP BY e.user_id),
        |horizon AS (SELECT MAX(tus) AS tmax FROM ev),
        |dur AS (
        |  SELECT CASE WHEN c.tconv IS NOT NULL THEN 1 ELSE 0 END AS event,
        |    (COALESCE(c.tconv, h.tmax) - s.t0) // 86400000000 AS t_days
        |  FROM signup s LEFT JOIN conv c ON s.user_id = c.user_id
        |  CROSS JOIN horizon h),
        |days AS (
        |  SELECT t_days, CAST(SUM(event) AS BIGINT) AS n_events,
        |    CAST(SUM(1 - event) AS BIGINT) AS n_censored
        |  FROM dur GROUP BY t_days),
        |curve AS (
        |  SELECT t_days, n_events, n_censored,
        |    CAST(SUM(n_events + n_censored) OVER (ORDER BY t_days DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_at_risk,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t_days) AS INT) AS i
        |  FROM days),
        |f AS (
        |  SELECT t_days, n_events, n_censored, n_at_risk, i,
        |    CAST(n_at_risk - n_events AS DOUBLE)
        |      / CAST(n_at_risk AS DOUBLE) AS factor
        |  FROM curve),
        |l AS (SELECT LIST(factor ORDER BY t_days) AS fs FROM f)
        |SELECT f.t_days, f.n_at_risk, f.n_events, f.n_censored,
        |  LIST_REDUCE(l.fs[1:f.i], (acc, x) -> acc * x) AS survival
        |FROM f CROSS JOIN l
        |ORDER BY f.t_days""".stripMargin
    },

    // ------------------------------------------------------------------
    // q253: FRESHNESS / COMPLETENESS AUDIT — the two questions every
    // ingestion dashboard leads with: is each producer still WRITING
    // (staleness = minutes between its newest event and the corpus
    // high-water mark, exact integer µs DIV), and is its newest full
    // day COMPLETE (reference-day volume vs the R-7 median of its
    // prior-7-day volumes — a ratio « 1 means the producer is up but
    // dropping data, which staleness alone can never see). Per-type
    // daily rollup = one fact pass; the 7-day median sorts ≤ 7 ints per
    // type; ratios are single divisions on exact operands. Days with
    // zero events are absent from the rollup and hence from the median
    // (both engines agree; the zero-day itself shows up as the ratio's
    // numerator collapsing).
    QueryDef.sql("q253_freshness_audit") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("event_type"), col("ts"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"),
          to_date(col("ts")).as("day"))
      val hw = ev.agg(max(col("tus")).as("hw_us"), max(col("day")).as("ref_day"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val per = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), max(col("tus")).as("max_us"))
      val last = daily.crossJoin(broadcast(hw))
        .filter(col("day") === col("ref_day"))
        .select(col("event_type"), col("cnt").as("v_ref_day"))
      val med7 = daily.crossJoin(broadcast(hw))
        .filter(col("day") >= date_sub(col("ref_day"), 7) &&
          col("day") < col("ref_day"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(cnt, 0.5)").as("med7"))
      per.crossJoin(broadcast(hw))
        .join(broadcast(last), "event_type")
        .join(broadcast(med7), "event_type")
        .select(col("event_type"), col("n_events"),
          expr("(hw_us - max_us) DIV 60000000").as("staleness_min"),
          col("v_ref_day"), col("med7"),
          (col("v_ref_day").cast("double") / col("med7")).as("volume_ratio"))
        .orderBy("event_type")
    } {
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS tus, CAST(ts AS DATE) AS day
        |  FROM events),
        |hw AS (
        |  SELECT MAX(tus) AS hw_us, MAX(day) AS ref_day FROM ev),
        |daily AS (
        |  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY event_type, day),
        |per AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    MAX(tus) AS max_us
        |  FROM ev GROUP BY event_type),
        |lastd AS (
        |  SELECT event_type, cnt AS v_ref_day
        |  FROM daily CROSS JOIN hw WHERE day = ref_day),
        |med7 AS (
        |  SELECT event_type, MEDIAN(cnt) AS med7
        |  FROM daily CROSS JOIN hw
        |  WHERE day >= ref_day - 7 AND day < ref_day
        |  GROUP BY event_type)
        |SELECT per.event_type, per.n_events,
        |  CAST((hw.hw_us - per.max_us) // 60000000 AS BIGINT)
        |    AS staleness_min,
        |  lastd.v_ref_day, med7.med7,
        |  CAST(lastd.v_ref_day AS DOUBLE) / med7.med7 AS volume_ratio
        |FROM per CROSS JOIN hw
        |JOIN lastd ON per.event_type = lastd.event_type
        |JOIN med7 ON per.event_type = med7.event_type
        |ORDER BY per.event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q257: DAILY QUANTILE DRIFT — the value-distribution monitor that
    // mean-based panels (q202's EWMA, q92's bursts) are blind to: a
    // payment processor that starts truncating large orders moves the
    // high tail while the mean barely stirs. Per day: exact R-7 P50 and
    // P87.5 of purchase value in integer cents (7/8 — a BINARY-EXACT
    // fraction, so Spark's weighted-average interpolation and DuckDB's
    // lower+(upper−lower)·w form collapse to the same exact value; 0.9
    // is not, and the two engines' algebraically-equal forms drift in
    // the last ulps), plus week-over-week deltas via
    // an explicit day = day−7 self-join (NULL when no prior week — a
    // keyed join, not a window, so missing days surface as NULL instead
    // of silently comparing adjacent rows). Interpolation parity rides
    // the q57 shared-R-7 contract. Scale caveat (q57's): per-day exact
    // percentile buffers one day per task — at extreme scale swap in
    // the q67 GK sketch or the q102 two-pass machinery per day.
    QueryDef.sql("q257_daily_quantile_drift") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val qd = pv.groupBy(col("day"))
        .agg(count(lit(1)).as("n_purchases"),
          expr("percentile(cents, 0.5)").as("p50"),
          expr("percentile(cents, 0.875)").as("p875"))
      val prior = qd.select(col("day").as("prior_day"),
        col("p50").as("p50_prior"), col("p875").as("p875_prior"))
      qd.join(prior, col("day") === date_add(col("prior_day"), 7),
          "left_outer")
        .select(col("day"), col("n_purchases"), col("p50"), col("p875"),
          (col("p50") - col("p50_prior")).as("p50_wow"),
          (col("p875") - col("p875_prior")).as("p875_wow"))
        .orderBy("day")
    } {
      """WITH pv AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |qd AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |    QUANTILE_CONT(cents, 0.5) AS p50,
        |    QUANTILE_CONT(cents, 0.875) AS p875
        |  FROM pv GROUP BY day)
        |SELECT a.day, a.n_purchases, a.p50, a.p875,
        |  a.p50 - b.p50 AS p50_wow,
        |  a.p875 - b.p875 AS p875_wow
        |FROM qd a LEFT JOIN qd b ON a.day = b.day + 7
        |ORDER BY a.day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q260: COOLDOWN DEDUP (greedy 24 h keeper chain) — q20 keeps the
    // first event per key EVER; real notification/billing suppression
    // keeps an event iff ≥ 24 h passed since the last KEPT one, a
    // self-referential greedy chain no window/lag stack can express
    // (each decision depends on the previous DECISION, not the
    // previous row). Per (user, type) the chain folds over the
    // in-buffer-sorted history — the q135 posture: ONE keyed shuffle,
    // an `aggregate()` lambda inside codegen, per-group memory bounded
    // by that user's history. The sentinel start is -86400000001 so
    // the first event always keeps WITHOUT the +24 h addition
    // overflowing ANSI arithmetic on a MinValue sentinel. The oracle
    // walks the identical chain as a recursive CTE (the q162 posture),
    // proving the fold against an independent per-rank recursion.
    QueryDef.sql("q260_cooldown_dedup") { (s, d) =>
      val keptExpr = expr(
        """aggregate(
          |  array_sort(collect_list(struct(tus, event_id))),
          |  named_struct('last', CAST(-86400000001 AS BIGINT),
          |               'kept', CAST(0 AS BIGINT)),
          |  (acc, x) -> CASE
          |    WHEN x.tus >= acc.last + 86400000000
          |      THEN named_struct('last', x.tus, 'kept', acc.kept + 1L)
          |    ELSE acc END
          |).kept""".stripMargin)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), keptExpr.as("kept"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_events"), sum(col("kept")).as("n_kept"))
        .select(col("event_type"), col("n_events"), col("n_kept"),
          expr("CAST(n_events - n_kept AS DOUBLE) / CAST(n_events AS DOUBLE)")
            .as("suppression_ratio"))
        .orderBy("event_type")
    } {
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, event_type, rn, tus AS last_kept,
        |    CAST(1 AS BIGINT) AS kept
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.rn,
        |    CASE WHEN e.tus >= w.last_kept + 86400000000
        |      THEN e.tus ELSE w.last_kept END,
        |    w.kept + CASE WHEN e.tus >= w.last_kept + 86400000000
        |      THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e
        |    ON e.user_id = w.user_id AND e.event_type = w.event_type
        |    AND e.rn = w.rn + 1),
        |fin AS (
        |  SELECT user_id, event_type,
        |    MAX(rn) AS n, MAX_BY(kept, rn) AS kept
        |  FROM walk GROUP BY user_id, event_type)
        |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(n) - SUM(kept) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |    AS suppression_ratio
        |FROM fin GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q263: CAPPED SESSIONIZATION — q19's inactivity rule (30 min gap)
    // PLUS the duration cap every production analytics stack applies
    // (a session also ends 4 h after it STARTED, even under continuous
    // activity — else a polling client produces week-long sessions).
    // The cap makes the break decision self-referential (it compares
    // against the session START, which is itself a prior decision), so
    // like q260 this is a per-user greedy fold over the in-buffer-
    // sorted history — ONE keyed shuffle, the q135 posture — and NO
    // window/session_window stack can express it. The oracle walks the
    // identical chain as a recursive CTE. Output: corpus totals plus
    // how many breaks each rule caused — the knob-tuning numbers.
    QueryDef.sql("q263_capped_sessions") { (s, d) =>
      val foldExpr = expr(
        """aggregate(
          |  array_sort(collect_list(struct(tus, event_id))),
          |  named_struct('start', CAST(-1 AS BIGINT),
          |    'last', CAST(-1 AS BIGINT), 'sessions', CAST(0 AS BIGINT),
          |    'gap_breaks', CAST(0 AS BIGINT),
          |    'cap_breaks', CAST(0 AS BIGINT)),
          |  (acc, x) -> CASE
          |    WHEN acc.sessions = 0 THEN named_struct(
          |      'start', x.tus, 'last', x.tus,
          |      'sessions', CAST(1 AS BIGINT),
          |      'gap_breaks', CAST(0 AS BIGINT),
          |      'cap_breaks', CAST(0 AS BIGINT))
          |    WHEN x.tus - acc.last > 1800000000 THEN named_struct(
          |      'start', x.tus, 'last', x.tus, 'sessions', acc.sessions + 1L,
          |      'gap_breaks', acc.gap_breaks + 1L,
          |      'cap_breaks', acc.cap_breaks)
          |    WHEN x.tus - acc.start > 14400000000 THEN named_struct(
          |      'start', x.tus, 'last', x.tus, 'sessions', acc.sessions + 1L,
          |      'gap_breaks', acc.gap_breaks,
          |      'cap_breaks', acc.cap_breaks + 1L)
          |    ELSE named_struct('start', acc.start, 'last', x.tus,
          |      'sessions', acc.sessions, 'gap_breaks', acc.gap_breaks,
          |      'cap_breaks', acc.cap_breaks) END
          |)""".stripMargin)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), foldExpr.as("f"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
          sum(col("f.sessions")).as("n_sessions"),
          sum(col("f.gap_breaks")).as("n_gap_breaks"),
          sum(col("f.cap_breaks")).as("n_cap_breaks"))
        .withColumn("events_per_session",
          expr("CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)"))
    } {
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, rn, tus AS sstart, tus AS slast,
        |    CAST(1 AS BIGINT) AS sessions, CAST(0 AS BIGINT) AS gapb,
        |    CAST(0 AS BIGINT) AS capb
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    CASE WHEN e.tus - w.slast > 1800000000
        |           OR e.tus - w.sstart > 14400000000
        |      THEN e.tus ELSE w.sstart END,
        |    e.tus,
        |    w.sessions + CASE WHEN e.tus - w.slast > 1800000000
        |      OR e.tus - w.sstart > 14400000000 THEN 1 ELSE 0 END,
        |    w.gapb + CASE WHEN e.tus - w.slast > 1800000000
        |      THEN 1 ELSE 0 END,
        |    w.capb + CASE WHEN e.tus - w.slast <= 1800000000
        |      AND e.tus - w.sstart > 14400000000 THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1),
        |fin AS (
        |  SELECT user_id, MAX(rn) AS n, MAX_BY(sessions, rn) AS sessions,
        |    MAX_BY(gapb, rn) AS gapb, MAX_BY(capb, rn) AS capb
        |  FROM walk GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(sessions) AS BIGINT) AS n_sessions,
        |  CAST(SUM(gapb) AS BIGINT) AS n_gap_breaks,
        |  CAST(SUM(capb) AS BIGINT) AS n_cap_breaks,
        |  CAST(SUM(n) AS DOUBLE) / CAST(SUM(sessions) AS DOUBLE)
        |    AS events_per_session
        |FROM fin""".stripMargin
    },

    // ------------------------------------------------------------------
    // q265: ROLLING 14-DAY CORRELATION of two KPI series (daily view
    // count vs daily purchase count) — "do these metrics still move
    // together" is the relationship monitor that catches a broken
    // funnel even when both individual series look healthy (q58
    // correlates ROWS; this correlates two TIME SERIES through a
    // moving frame). Exactness: every frame statistic (n, Σa, Σb, Σa²,
    // Σb², Σab) is an exact-int windowed sum; Pearson r is ONE shared
    // IEEE chain with a correctly-rounded √, NULL when a frame is
    // constant. Frames ride the COMPLETE q165-style densified calendar
    // (missing days as explicit zeros), so both engines window the
    // same 14 rows. The day series is calendar-bounded — the window
    // runs over ≤ 365 rows/year regardless of corpus size.
    QueryDef.sql("q265_rolling_correlation") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, d, "events")
      val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val cal = span.select(
        explode(expr("sequence(d0, d1)")).as("day"))
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("a"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("b"))
      val dense = cal.join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b"))
      // calendar-bounded series: the single-task window is ≤365 rows/yr
      val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
      val corr =
        "CASE WHEN (n * saa - sa * sa) * (n * sbb - sb * sb) <= 0 " +
          "THEN NULL ELSE CAST(n * sab - sa * sb AS DOUBLE) " +
          "/ SQRT(CAST((n * saa - sa * sa) * (n * sbb - sb * sb) " +
          "AS DOUBLE)) END"
      dense
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sa", sum(col("a")).over(w))
        .withColumn("sb", sum(col("b")).over(w))
        .withColumn("saa", sum(col("a") * col("a")).over(w))
        .withColumn("sbb", sum(col("b") * col("b")).over(w))
        .withColumn("sab", sum(col("a") * col("b")).over(w))
        .filter(col("n") === 14L)
        .select(col("day"), col("a"), col("b"),
          expr(corr).as("rolling_corr"))
        .orderBy("day")
    } {
      """WITH span AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        |  FROM events),
        |cal AS (
        |  SELECT UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day FROM span),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM events GROUP BY CAST(ts AS DATE)),
        |dense AS (
        |  SELECT cal.day, COALESCE(daily.a, 0) AS a, COALESCE(daily.b, 0) AS b
        |  FROM cal LEFT JOIN daily ON cal.day = daily.day),
        |fr AS (
        |  SELECT day, a, b,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    CAST(SUM(a) OVER w AS BIGINT) AS sa,
        |    CAST(SUM(b) OVER w AS BIGINT) AS sb,
        |    CAST(SUM(a * a) OVER w AS BIGINT) AS saa,
        |    CAST(SUM(b * b) OVER w AS BIGINT) AS sbb,
        |    CAST(SUM(a * b) OVER w AS BIGINT) AS sab
        |  FROM dense
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
        |    AND CURRENT ROW))
        |SELECT day, a, b,
        |  CASE WHEN (n * saa - sa * sa) * (n * sbb - sb * sb) <= 0
        |    THEN NULL ELSE CAST(n * sab - sa * sb AS DOUBLE)
        |    / SQRT(CAST((n * saa - sa * sa) * (n * sbb - sb * sb)
        |        AS DOUBLE)) END AS rolling_corr
        |FROM fr WHERE n = 14
        |ORDER BY day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q266: DEPENDENCY-AWARE BACKFILL PLAN — q261 finds the raw-data
    // days that need resync; this turns them into the RECOMPUTE plan
    // for a downstream 7-day-window feature job (each bad raw day d
    // taints feature days [d, d+6]). Tainted ranges overlap, and a
    // scheduler wants contiguous SEGMENTS (one backfill job each), not
    // 7N day-jobs — so the q166 islands-on-intervals machinery merges
    // them: a new island starts where a day clears every preceding
    // range's running-max end. Windows run over the BAD-DAY relation
    // only (calendar-bounded); the defect predicate is the q261 planted
    // cohort, so the plan is deterministic and both engines derive the
    // identical segments.
    QueryDef.sql("q266_backfill_plan") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val bad = Tables(s, d, "events")
        .select(to_date(col("ts")).as("day"),
          graft.Ids.hash("event_id").as("h"))
        .filter(col("h") % 997 === 0L)
        .groupBy(col("day")).agg(count(lit(1)).as("n_bad_rows"))
        .withColumn("end_day", date_add(col("day"), 6))
      val wPrev = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      bad
        .withColumn("new_island",
          when(col("day") > max(col("end_day")).over(wPrev), 1L)
            .otherwise(when(max(col("end_day")).over(wPrev).isNull, 1L)
              .otherwise(0L)))
        .withColumn("island", sum(col("new_island")).over(wRun))
        .groupBy(col("island"))
        .agg(min(col("day")).as("from_day"),
          max(col("end_day")).as("to_day"),
          count(lit(1)).as("n_bad_days"),
          sum(col("n_bad_rows")).as("n_bad_rows"))
        .select(col("island"), col("from_day"), col("to_day"),
          (datediff(col("to_day"), col("from_day")) + 1).cast("long")
            .as("n_recompute_days"),
          col("n_bad_days"), col("n_bad_rows"))
        .orderBy("island")
    } {
      s"""WITH bad AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS n_bad_rows,
         |    CAST(ts AS DATE) + 6 AS end_day
         |  FROM events
         |  WHERE ${graft.Ids.hashSql("event_id")} % 997 = 0
         |  GROUP BY CAST(ts AS DATE)),
         |mk AS (
         |  SELECT day, end_day, n_bad_rows,
         |    CASE WHEN MAX(end_day) OVER (ORDER BY day
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      IS NULL THEN 1
         |      WHEN day > MAX(end_day) OVER (ORDER BY day
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      THEN 1 ELSE 0 END AS new_island
         |  FROM bad),
         |isl AS (
         |  SELECT day, end_day, n_bad_rows,
         |    CAST(SUM(new_island) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS island
         |  FROM mk)
         |SELECT island, MIN(day) AS from_day, MAX(end_day) AS to_day,
         |  CAST(DATEDIFF('day', MIN(day), MAX(end_day)) + 1 AS BIGINT)
         |    AS n_recompute_days,
         |  CAST(COUNT(*) AS BIGINT) AS n_bad_days,
         |  CAST(SUM(n_bad_rows) AS BIGINT) AS n_bad_rows
         |FROM isl GROUP BY island
         |ORDER BY island""".stripMargin
    },

    // ------------------------------------------------------------------
    // q268: A/A TEST CALIBRATION — before trusting any A/B readout,
    // run the SAME machinery on a null experiment: split the exposed
    // population by a FRESH salted hash (independent of every split
    // the engine already uses — a reused hash would correlate with
    // q53/q199's arms) and z-test conversion between the two halves.
    // Any significance here means the bucketing or the test is broken,
    // not the product. The z chain is q199's verbatim; the salt rides
    // the library md5 recipe over 'aa:' || user_id on both engines.
    QueryDef.sql("q268_aa_test_calibration") { (s, d) =>
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
        .filter(col("exposed") === 1L)
        .withColumn("arm",
          graft.Ids.hash("concat('aa:', cast(user_id AS string))") % 2)
      perUser.agg(
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0L, col("converted")).otherwise(0L))
            .as("x_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1L, col("converted")).otherwise(0L))
            .as("x_b"))
        .withColumn("p_a", expr("CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)"))
        .withColumn("p_b", expr("CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)"))
        .withColumn("p_pool",
          expr("CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
        .withColumn("se", expr(
          "SQRT(p_pool * (1.0 - p_pool) " +
            "* (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"))
        .withColumn("z_stat",
          expr("CASE WHEN se = 0.0 THEN 0.0 ELSE (p_a - p_b) / se END"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          col("p_a"), col("p_b"), col("z_stat"),
          expr("CAST(CASE WHEN se <> 0.0 AND ABS((p_a - p_b) / se) > 1.96 " +
            "THEN 1 ELSE 0 END AS BIGINT)").as("significant"))
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS exposed,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted
         |  FROM events GROUP BY user_id),
         |arms AS (
         |  SELECT converted,
         |    ${graft.Ids.hashSql("'aa:' || CAST(user_id AS VARCHAR)")} % 2
         |      AS arm
         |  FROM pu WHERE exposed = 1),
         |agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
         |      AS BIGINT) AS x_a,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
         |      AS BIGINT) AS x_b
         |  FROM arms),
         |x AS (
         |  SELECT n_a, x_a, n_b, x_b,
         |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
         |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
         |    CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
         |      AS p_pool
         |  FROM agg),
         |y AS (
         |  SELECT *, SQRT(p_pool * (1.0 - p_pool)
         |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |    AS se
         |  FROM x)
         |SELECT n_a, x_a, n_b, x_b, p_a, p_b,
         |  CASE WHEN se = 0.0 THEN 0.0 ELSE (p_a - p_b) / se END AS z_stat,
         |  CAST(CASE WHEN se <> 0.0 AND ABS((p_a - p_b) / se) > 1.96
         |    THEN 1 ELSE 0 END AS BIGINT) AS significant
         |FROM y""".stripMargin
    },
    // ------------------------------------------------------------------
    // q318: COHORT HALF-LIFE — the single retention number leadership
    // asks for: per first-purchase cohort, the week age at which active
    // purchasers first drop to half the cohort (NULL = hasn't halved in
    // the observed window — reported, not dropped). Derived from q299's
    // calendar²-bounded triangle with an exact cross-multiplied test
    // (2·active ≤ cohort — no fractional threshold); the half-life is
    // one keyed min over the triangle.
    QueryDef.sql("q318_cohort_half_life") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("datediff(to_date(ts), DATE '1970-01-01') div 7").as("wk"))
      val first = pv.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      val cohortSize = first.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_users"))
      val tri = pv.join(first, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("age"))
        .agg(countDistinct(col("user_id")).as("active"))
      tri.join(broadcast(cohortSize), "cohort")
        .groupBy(col("cohort"))
        .agg(max(col("cohort_users")).as("cohort_users"),
          max(col("age")).as("max_age_observed"),
          min(when(col("age") > 0L &&
            col("active") * 2L <= col("cohort_users"), col("age")))
            .as("half_life_weeks"))
        .orderBy("cohort")
    } {
      """WITH pv AS (
        |  SELECT user_id,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM pv GROUP BY user_id),
        |cs AS (
        |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
        |  FROM f GROUP BY cohort),
        |tri AS (
        |  SELECT f.cohort, pv.wk - f.cohort AS age,
        |    CAST(COUNT(DISTINCT pv.user_id) AS BIGINT) AS active
        |  FROM pv JOIN f ON pv.user_id = f.user_id
        |  GROUP BY f.cohort, pv.wk - f.cohort)
        |SELECT tri.cohort,
        |  CAST(MAX(cohort_users) AS BIGINT) AS cohort_users,
        |  CAST(MAX(age) AS BIGINT) AS max_age_observed,
        |  CAST(MIN(CASE WHEN age > 0 AND active * 2 <= cohort_users
        |    THEN age END) AS BIGINT) AS half_life_weeks
        |FROM tri JOIN cs USING (cohort)
        |GROUP BY tri.cohort
        |ORDER BY tri.cohort""".stripMargin
    },

    // ------------------------------------------------------------------
    // q316: CHURN-RISK CENSUS — per market segment, users whose last
    // activity is ≥ 28 days behind the corpus high-water mark (the
    // at-risk definition every retention program starts from), with the
    // churned share and the median staleness of the churned. Exact
    // integer day arithmetic against one broadcast high-water row; the
    // per-user reduction is one keyed max; the segment census is
    // dimension-bounded. Median staleness rides the q57 exact contract
    // (integer days, binary-exact fraction).
    QueryDef.sql("q316_churn_census") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val hwm = ev.agg(max(col("day")).as("maxday"))
      val users = ev.crossJoin(broadcast(hwm))
        .groupBy(col("user_id"))
        .agg(datediff(max(col("maxday")), max(col("day"))).cast("long")
          .as("stale_days"))
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      users.join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_users"),
          sum((col("stale_days") >= 28L).cast("long")).as("n_churned"),
          expr("percentile(CASE WHEN stale_days >= 28 THEN stale_days END, 0.5)")
            .as("churned_median_stale_days"))
        .select(col("c_mktsegment"), col("n_users"), col("n_churned"),
          expr("CAST(n_churned AS DOUBLE) / CAST(n_users AS DOUBLE)")
            .as("churned_share"),
          col("churned_median_stale_days"))
        .orderBy("c_mktsegment")
    } {
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |hwm AS (SELECT MAX(day) AS maxday FROM ev),
        |u AS (
        |  SELECT user_id,
        |    CAST(MAX(h.maxday) - MAX(day) AS BIGINT) AS stale_days
        |  FROM ev CROSS JOIN hwm h GROUP BY user_id)
        |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN stale_days >= 28 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned,
        |  CAST(SUM(CASE WHEN stale_days >= 28 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS churned_share,
        |  QUANTILE_CONT(CASE WHEN stale_days >= 28 THEN stale_days END,
        |    0.5) AS churned_median_stale_days
        |FROM u JOIN customer c ON u.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin
    },

    // ------------------------------------------------------------------
    // q314: SEGMENT BEHAVIOR PROFILE — the flagship `entry` join as a
    // registered, oracle-checked operator: events enriched with the
    // customer dimension (broadcast — never a shuffled fact-dimension
    // join), rolled up per market segment into the engagement/monetize
    // profile (users, events/user, purchases, exact cents, cents per
    // purchase). Exact counts; ratios are single divisions.
    QueryDef.sql("q314_segment_behavior") { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum((col("event_type") === "purchase").cast("long"))
            .as("n_purchases"),
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(0L)).as("purchase_cents"))
        .select(col("c_mktsegment"), col("n_users"), col("n_events"),
          col("n_purchases"), col("purchase_cents"),
          expr("CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)")
            .as("events_per_user"),
          expr("CASE WHEN n_purchases = 0 THEN NULL ELSE " +
            "CAST(purchase_cents AS DOUBLE) / CAST(n_purchases AS DOUBLE) END")
            .as("cents_per_purchase"))
        .orderBy("c_mktsegment")
    } {
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN e.event_type = 'purchase'
        |    THEN CAST(ROUND(e.value * 100) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS purchase_cents,
        |  CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT e.user_id)
        |    AS events_per_user,
        |  CASE WHEN SUM(CASE WHEN e.event_type = 'purchase' THEN 1
        |      ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(SUM(CASE WHEN e.event_type = 'purchase'
        |      THEN CAST(ROUND(e.value * 100) AS BIGINT) ELSE 0 END)
        |      AS DOUBLE)
        |      / SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |    END AS cents_per_purchase
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin
    },

    // ------------------------------------------------------------------
    // q315: EXACT MULTI-TOUCH ATTRIBUTION — q153/q280 give the last
    // touch everything; linear attribution splits each purchase's cents
    // EQUALLY across every touch in its 7-day lookback — and does it in
    // EXACT INTEGER CENTS via largest-remainder apportionment (FLOOR
    // division of cents by k to every touch, +1 cent to the pmod(cents,
    // k) most recent — the q210 integer-apportionment posture). Floor
    // div + pmod (not `div`/`%`, which truncate toward zero on BOTH
    // engines) keep the conservation identity k·q + r = cents exact for
    // NEGATIVE cents too (refund events), so the attributed totals
    // conserve the revenue to the cent for any sign and no engine can
    // drift a floating credit. Touchless purchases credit 'organic' in
    // full.
    // Shape: one user-keyed interval join (7-day band), one
    // per-purchase window over its bounded touch fan-out, one channel
    // agg.
    QueryDef.sql("q315_multitouch_attribution") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
          col("tus").as("b_tus"), col("cents").as("b_cents"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
          col("event_type").as("channel"), col("tus").as("t_tus"))
      val joined = buys.join(touches,
        col("b_user") === col("t_user") &&
          col("t_tus") < col("b_tus") &&
          col("t_tus") >= col("b_tus") - lit(604800000000L), "left_outer")
      val wp = Window.partitionBy(col("b_id"))
      val wr = wp.orderBy(col("t_tus").desc, col("t_id").desc)
      val credited = joined
        .withColumn("k", count(col("t_id")).over(wp))
        .withColumn("rnk", row_number().over(wr))
        .withColumn("channel2",
          when(col("k") === 0L, lit("organic")).otherwise(col("channel")))
        .withColumn("credit",
          when(col("k") === 0L, col("b_cents")).otherwise(
            expr("b_cents div k - (CASE WHEN b_cents % k < 0 THEN 1 ELSE 0 END)") +
              when(col("rnk") <= expr("pmod(b_cents, k)"), 1L).otherwise(0L)))
      credited.groupBy(col("channel2").as("channel"))
        .agg(count(lit(1)).as("n_credits"),
          sum(col("credit")).as("attributed_cents"))
        .orderBy("channel")
    } {
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT user_id AS b_user, event_id AS b_id, tus AS b_tus,
        |    cents AS b_cents
        |  FROM ev WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS t_user, event_id AS t_id,
        |    event_type AS channel, tus AS t_tus
        |  FROM ev WHERE event_type <> 'purchase'),
        |j AS (
        |  SELECT b.*, t.t_id, t.channel, t.t_tus
        |  FROM b LEFT JOIN t ON b_user = t_user
        |    AND t_tus < b_tus AND t_tus >= b_tus - 604800000000),
        |w AS (
        |  SELECT *,
        |    COUNT(t_id) OVER (PARTITION BY b_id) AS k,
        |    ROW_NUMBER() OVER (PARTITION BY b_id
        |      ORDER BY t_tus DESC, t_id DESC) AS rnk
        |  FROM j),
        |cr AS (
        |  SELECT CASE WHEN k = 0 THEN 'organic' ELSE channel END
        |      AS channel,
        |    CASE WHEN k = 0 THEN b_cents
        |      ELSE b_cents // k
        |        - (CASE WHEN b_cents % k < 0 THEN 1 ELSE 0 END)
        |        + CASE WHEN rnk <= ((b_cents % k) + k) % k THEN 1 ELSE 0 END
        |      END AS credit
        |  FROM w)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
        |  CAST(SUM(credit) AS BIGINT) AS attributed_cents
        |FROM cr GROUP BY channel
        |ORDER BY channel""".stripMargin
    },

    // ------------------------------------------------------------------
    // q313: REVENUE GROWTH DECOMPOSITION — the FP&A bridge: each week's
    // revenue delta split into the VOLUME effect (more purchases at
    // last week's average ticket) and the PRICE/MIX effect (this week's
    // volume at the change in average ticket) — the first question any
    // revenue review asks of a move. Weekly counts and cents are exact
    // int64; the two effects are shared IEEE chains off those exact
    // operands (the delta itself stays exact); weeks meet in a
    // calendar-bounded self-join (q275's posture).
    QueryDef.sql("q313_growth_decomposition") { (s, d) =>
      val wk = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(expr("datediff(to_date(ts), DATE '1970-01-01') div 7")
          .as("wk"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("cents"))
      val prev = wk.select((col("wk") + 1L).as("wk"),
        col("n").as("n_prev"), col("cents").as("cents_prev"))
      wk.join(prev, "wk")
        .select(col("wk"), col("n_prev"), col("n").as("n_cur"),
          col("cents_prev"), col("cents").as("cents_cur"),
          (col("cents") - col("cents_prev")).as("delta_cents"),
          expr("CAST(n - n_prev AS DOUBLE) * " +
            "(CAST(cents_prev AS DOUBLE) / CAST(n_prev AS DOUBLE))")
            .as("volume_effect"),
          expr("CAST(n AS DOUBLE) * " +
            "(CAST(cents AS DOUBLE) / CAST(n AS DOUBLE) - " +
            "CAST(cents_prev AS DOUBLE) / CAST(n_prev AS DOUBLE))")
            .as("price_effect"))
        .orderBy("wk")
    } {
      """WITH wk AS (
        |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT a.wk, b.n AS n_prev, a.n AS n_cur,
        |  b.cents AS cents_prev, a.cents AS cents_cur,
        |  a.cents - b.cents AS delta_cents,
        |  CAST(a.n - b.n AS DOUBLE)
        |    * (CAST(b.cents AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    AS volume_effect,
        |  CAST(a.n AS DOUBLE)
        |    * (CAST(a.cents AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.cents AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    AS price_effect
        |FROM wk a JOIN wk b ON a.wk = b.wk + 1
        |ORDER BY a.wk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q310: ERROR-RECOVERY LATENCY — the user-facing MTTR: for every
    // error event, the time until that user's next NON-error event
    // (one keyed scan-forward window, join-free), summarized as exact
    // global P50/P87.5 through Scale.exactQuantiles — the two-pass
    // frozen range shuffle, so the corpus-scale distribution is never
    // buffered in one task (the q102 posture; binary-exact fractions
    // keep both engines bit-identical on integer µs). Errors with no
    // later activity are right-censored and reported separately — a
    // recovery metric that silently drops them overstates health.
    QueryDef.sql("q310_error_recovery_latency") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // running frame over the REVERSED order, not an
      // unbounded-FOLLOWING frame: WindowExec re-scans following frames
      // per row (the q182 O(n²) trap, SCALING.md); a descending running
      // min computes incrementally
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("tus").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
      val rec = ev
        .withColumn("next_ok", min(
          when(col("event_type") =!= "error", col("tus"))).over(wo))
        .filter(col("event_type") === "error")
        .select((col("next_ok") - col("tus")).as("rec_us"))
      val counts = rec.agg(count(lit(1)).as("n_errors"),
        sum(col("rec_us").isNull.cast("long")).as("n_censored"))
      val qs = Scale.exactQuantiles(
        rec.filter(col("rec_us").isNotNull), "rec_us", Seq(0.5, 0.875))
      val p50 = qs.filter(col("p") === 0.5)
        .select(col("quantile").as("p50_us"))
      val p875 = qs.filter(col("p") === 0.875)
        .select(col("quantile").as("p875_us"))
      counts.crossJoin(broadcast(p50)).crossJoin(broadcast(p875))
        .select(col("n_errors"), col("n_censored"),
          expr("CAST(n_censored AS DOUBLE) / CAST(n_errors AS DOUBLE)")
            .as("censored_share"),
          col("p50_us"), col("p875_us"))
    } {
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        |r AS (
        |  SELECT
        |    MIN(CASE WHEN event_type <> 'error' THEN tus END)
        |      OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - tus AS rec_us,
        |    event_type
        |  FROM ev),
        |e AS (SELECT rec_us FROM r WHERE event_type = 'error'),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_errors,
        |    CAST(SUM(CASE WHEN rec_us IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_censored
        |  FROM e),
        |q AS (
        |  SELECT QUANTILE_CONT(rec_us, 0.5) AS p50_us,
        |    QUANTILE_CONT(rec_us, 0.875) AS p875_us
        |  FROM e WHERE rec_us IS NOT NULL)
        |SELECT n_errors, n_censored,
        |  CAST(n_censored AS DOUBLE) / CAST(n_errors AS DOUBLE)
        |    AS censored_share,
        |  p50_us, p875_us
        |FROM c CROSS JOIN q""".stripMargin
    },

    // ------------------------------------------------------------------
    // q311: HOURLY CONVERSION PROFILE — when does the funnel actually
    // convert? Per hour of day (UTC, engine-neutral integer
    // arithmetic): views, views converted within one hour (q22's
    // interval-join semantics, credited to the VIEW's hour), and the
    // rate — the dayparting input for spend pacing and the load-shape
    // prior for q288's capacity number. The interval join is
    // user-keyed with a ±1h band; hours are 24 groups; exact counts,
    // one division.
    QueryDef.sql("q311_hourly_conversion_profile") { (s, d) =>
      val ev = Tables(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("v_tus"))
        .withColumn("hod", expr("CAST((v_tus div 3600000000) % 24 AS BIGINT)"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"),
          expr("unix_micros(cast(ts AS timestamp))").as("b_tus"))
      val conv = views.join(buys,
          col("v_user") === col("b_user") &&
            col("b_tus") > col("v_tus") &&
            col("b_tus") <= col("v_tus") + lit(3600000000L))
        .select(col("v_id"), col("hod")).distinct()
        .groupBy(col("hod")).agg(count(lit(1)).as("n_converted"))
      views.groupBy(col("hod")).agg(count(lit(1)).as("n_views"))
        .join(conv, Seq("hod"), "left_outer")
        .select(col("hod"), col("n_views"),
          coalesce(col("n_converted"), lit(0L)).as("n_converted"),
          expr("CAST(COALESCE(n_converted, 0) AS DOUBLE) / " +
            "CAST(n_views AS DOUBLE)").as("conversion_rate"))
        .orderBy("hod")
    } {
      """WITH v AS (
        |  SELECT user_id AS v_user, event_id AS v_id,
        |    epoch_us(ts) AS v_tus,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events WHERE event_type = 'view'),
        |b AS (
        |  SELECT user_id AS b_user, epoch_us(ts) AS b_tus
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT hod, CAST(COUNT(*) AS BIGINT) AS n_converted FROM (
        |    SELECT DISTINCT v_id, hod
        |    FROM v JOIN b ON v_user = b_user
        |      AND b_tus > v_tus AND b_tus <= v_tus + 3600000000) t
        |  GROUP BY hod),
        |vh AS (
        |  SELECT hod, CAST(COUNT(*) AS BIGINT) AS n_views
        |  FROM v GROUP BY hod)
        |SELECT vh.hod, n_views, COALESCE(n_converted, 0) AS n_converted,
        |  CAST(COALESCE(n_converted, 0) AS DOUBLE)
        |    / CAST(n_views AS DOUBLE) AS conversion_rate
        |FROM vh LEFT JOIN conv ON vh.hod = conv.hod
        |ORDER BY vh.hod""".stripMargin
    },

    // ------------------------------------------------------------------
    // q306: QUANTILE TREATMENT EFFECT — A/B readouts on heavy-tailed
    // spend metrics mislead at the mean (one whale flips the sign);
    // the distributional readout compares QUANTILES between arms. Arms
    // are the library md5 split (q53's recipe — the assignment a real
    // experiment would reuse); per arm, exact P50/P87.5 of purchase
    // cents at binary-exact fractions (the q57 contract), and the
    // per-quantile arm difference. Median-shift vs mean-shift is the
    // robustness check q199 cannot give. One scan, two arm-keyed
    // exact-percentile aggs (q57's scale caveat applies per arm).
    QueryDef.sql("q306_quantile_treatment_effect") { (s, d) =>
      val arms = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(pmod(graft.Ids.hash("user_id"), lit(2L)).as("arm"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(cents, 0.5)").as("p50"),
          expr("percentile(cents, 0.875)").as("p875"))
      val a = arms.filter(col("arm") === 0L)
        .select(col("n").as("n_a"), col("p50").as("p50_a"),
          col("p875").as("p875_a"))
      val b = arms.filter(col("arm") === 1L)
        .select(col("n").as("n_b"), col("p50").as("p50_b"),
          col("p875").as("p875_b"))
      a.crossJoin(broadcast(b))
        .select(col("n_a"), col("n_b"), col("p50_a"), col("p50_b"),
          (col("p50_b") - col("p50_a")).as("qte_p50"),
          col("p875_a"), col("p875_b"),
          (col("p875_b") - col("p875_a")).as("qte_p875"))
    } {
      s"""WITH pv AS (
         |  SELECT (${graft.Ids.hashSql("user_id")} % 2) AS arm,
         |    CAST(ROUND(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |arms AS (
         |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    QUANTILE_CONT(cents, 0.5) AS p50,
         |    QUANTILE_CONT(cents, 0.875) AS p875
         |  FROM pv GROUP BY arm)
         |SELECT a.n AS n_a, b.n AS n_b, a.p50 AS p50_a, b.p50 AS p50_b,
         |  b.p50 - a.p50 AS qte_p50,
         |  a.p875 AS p875_a, b.p875 AS p875_b,
         |  b.p875 - a.p875 AS qte_p875
         |FROM (SELECT * FROM arms WHERE arm = 0) a
         |CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b""".stripMargin
    },

    // ------------------------------------------------------------------
    // q309: SEASONALITY-ADJUSTED ANOMALY FLAGS — q272 measures the
    // weekday profile; this APPLIES it: a day is anomalous when its
    // volume breaks 2× (or ½×) its weekday's own mean — the comparison
    // that stops Monday from paging just for not being Saturday. The
    // flag is an exact CROSS-MULTIPLIED integer test (c·n_w vs 2·S_w —
    // no double threshold can drift between engines); the reported
    // ratio is the single terminal division. Leave-one-out is
    // deliberately NOT applied (the weekday mean includes the day
    // itself — documented, consistent on both engines). The 3 most
    // extreme days always surface (with the exact flag), so a healthy
    // corpus reports its worst ratio instead of an empty relation.
    // Calendar-bounded after the one fact pass.
    QueryDef.sql("q309_seasonal_anomalies") { (s, d) =>
      val daily = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("wd", expr("datediff(day, DATE '1970-01-01') % 7"))
      val byWd = daily.groupBy(col("wd"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s_w"))
      daily.join(broadcast(byWd), "wd")
        .select(col("day"), col("wd"), col("c"),
          expr("(CAST(c AS DOUBLE) * CAST(n_days AS DOUBLE)) / " +
            "CAST(s_w AS DOUBLE)").as("ratio_to_weekday_mean"),
          (col("c") * col("n_days") > lit(2L) * col("s_w") ||
            lit(2L) * col("c") * col("n_days") < col("s_w"))
            .as("is_anomaly"))
        // always surface the 3 most extreme days (flag still exact):
        // a healthy corpus reports "nothing anomalous, worst was 1.04x"
        // instead of an empty relation
        .orderBy(abs(col("ratio_to_weekday_mean") - 1.0).desc, col("day"))
        .limit(3)
    } {
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS wd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |bywd AS (
        |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS s_w
        |  FROM daily GROUP BY wd)
        |SELECT day, daily.wd, c,
        |  (CAST(c AS DOUBLE) * CAST(n_days AS DOUBLE))
        |    / CAST(s_w AS DOUBLE) AS ratio_to_weekday_mean,
        |  (c * n_days > 2 * s_w OR 2 * c * n_days < s_w) AS is_anomaly
        |FROM daily JOIN bywd ON daily.wd = bywd.wd
        |ORDER BY ABS((CAST(c AS DOUBLE) * CAST(n_days AS DOUBLE))
        |    / CAST(s_w AS DOUBLE) - 1.0) DESC, day
        |LIMIT 3""".stripMargin
    },

    // ------------------------------------------------------------------
    // q304: POINT-IN-TIME SNAPSHOTS — "what did the book look like on
    // these dates": per reference date (the fixture span's quartiles —
    // deterministic integer date arithmetic), each user's LATEST gauge
    // value at or before that instant, aggregated to the snapshot
    // census. This is q212's point-in-time join turned into the
    // balance-sheet aggregate every finance/inventory close runs.
    // Latest-at is one keyed max of a (tus, event_id, cents) struct —
    // no window, no self-join; the date explode is ≤3× and the struct
    // max's lexicographic order IS the as-of rule. Exact cents.
    QueryDef.sql("q304_point_in_time_snapshots") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"),
          to_date(col("ts")).as("day"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val span = pv.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr(
          """transform(sequence(1, 3), k -> date_add(d0,
            |  CAST(k * datediff(d1, d0) div 4 AS INT)))""".stripMargin))
          .as("ref_date"))
      pv.crossJoin(broadcast(span))
        .filter(col("day") <= col("ref_date"))
        .groupBy(col("ref_date"), col("user_id"))
        .agg(max(struct(col("tus"), col("event_id"), col("cents")))
          .getField("cents").as("latest_cents"))
        .groupBy(col("ref_date"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("latest_cents")).as("total_cents"))
        .select(col("ref_date"), col("n_users"), col("total_cents"),
          expr("CAST(total_cents AS DOUBLE) / CAST(n_users AS DOUBLE)")
            .as("mean_cents"))
        .orderBy("ref_date")
    } {
      """WITH pv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CAST(ts AS DATE) AS day,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |span AS (
        |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM pv),
        |refs AS (
        |  SELECT d0 + CAST(k * (d1 - d0) // 4 AS INTEGER) AS ref_date
        |  FROM span, (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS k) g),
        |latest AS (
        |  SELECT r.ref_date, user_id,
        |    MAX(struct_pack(tus := tus, event_id := event_id,
        |      cents := cents)) AS m
        |  FROM pv CROSS JOIN refs r
        |  WHERE day <= r.ref_date
        |  GROUP BY r.ref_date, user_id)
        |SELECT ref_date, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(m['cents']) AS BIGINT) AS total_cents,
        |  CAST(CAST(SUM(m['cents']) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS mean_cents
        |FROM latest GROUP BY ref_date
        |ORDER BY ref_date""".stripMargin
    },

    // ------------------------------------------------------------------
    // q298: FUNNEL REGRESSION TEST — did this week's funnel ACTUALLY get
    // worse, or is it noise? Per week and stage (view→click,
    // click→purchase, presence-based within the week), the conversion
    // rate vs the PREVIOUS week with the two-proportion z (q199's
    // pooled-SE chain verbatim) — the monitor that stops teams from
    // reacting to every wiggle. One fact pass to weekly user flags;
    // stages ride a 2-row explode; the week-over-week meet is a
    // calendar-bounded self-join; exact integer counts into one shared
    // IEEE chain.
    QueryDef.sql("q298_funnel_regression") { (s, d) =>
      val flags = Tables(s, d, "events")
        .groupBy(expr("datediff(to_date(ts), DATE '1970-01-01') div 7")
          .as("wk"), col("user_id"))
        .agg(max((col("event_type") === "view").cast("long")).as("v"),
          max((col("event_type") === "click").cast("long")).as("c"),
          max((col("event_type") === "purchase").cast("long")).as("p"))
      val wkStage = flags.groupBy(col("wk"))
        .agg(sum(col("v")).as("b1"), sum(col("v") * col("c")).as("x1"),
          sum(col("v") * col("c")).as("b2"),
          sum(col("v") * col("c") * col("p")).as("x2"))
        .select(col("wk"), explode(expr(
          "array(named_struct('stage', 'view_to_click', 'base', b1, 'conv', x1), " +
            "named_struct('stage', 'click_to_purchase', 'base', b2, 'conv', x2))"))
          .as("s"))
        .select(col("wk"), col("s.stage").as("stage"),
          col("s.base").as("base"), col("s.conv").as("conv"))
      val prev = wkStage.select((col("wk") + 1L).as("wk"), col("stage"),
        col("base").as("base_prev"), col("conv").as("conv_prev"))
      wkStage.join(prev, Seq("wk", "stage"))
        .filter(col("base") > 0L && col("base_prev") > 0L)
        .select(col("wk"), col("stage"), col("base_prev"), col("conv_prev"),
          col("base").as("base_cur"), col("conv").as("conv_cur"),
          expr("CAST(conv_prev AS DOUBLE) / CAST(base_prev AS DOUBLE)")
            .as("rate_prev"),
          expr("CAST(conv AS DOUBLE) / CAST(base AS DOUBLE)").as("rate_cur"),
          expr(FunnelZExpr).as("z_stat"))
        .orderBy("wk", "stage")
    } {
      s"""WITH flags AS (
         |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
         |    user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
         |  FROM events GROUP BY 1, 2),
         |wkagg AS (
         |  SELECT wk, CAST(SUM(v) AS BIGINT) AS b1,
         |    CAST(SUM(v * c) AS BIGINT) AS x1,
         |    CAST(SUM(v * c) AS BIGINT) AS b2,
         |    CAST(SUM(v * c * p) AS BIGINT) AS x2
         |  FROM flags GROUP BY wk),
         |ws AS (
         |  SELECT wk, stage, base, conv FROM (
         |    SELECT wk, UNNEST([
         |      {'stage': 'view_to_click', 'base': b1, 'conv': x1},
         |      {'stage': 'click_to_purchase', 'base': b2, 'conv': x2}],
         |      recursive := true)
         |    FROM wkagg) u),
         |j AS (
         |  SELECT a.wk, a.stage,
         |    b.base AS base_prev, b.conv AS conv_prev,
         |    a.base AS base_cur, a.conv AS conv_cur,
         |    a.base AS base, a.conv AS conv
         |  FROM ws a JOIN ws b ON a.wk = b.wk + 1 AND a.stage = b.stage
         |  WHERE a.base > 0 AND b.base > 0)
         |SELECT wk, stage, base_prev, conv_prev, base_cur, conv_cur,
         |  CAST(conv_prev AS DOUBLE) / CAST(base_prev AS DOUBLE)
         |    AS rate_prev,
         |  CAST(conv AS DOUBLE) / CAST(base AS DOUBLE) AS rate_cur,
         |  $FunnelZExpr AS z_stat
         |FROM j
         |ORDER BY wk, stage""".stripMargin
    },

    // ------------------------------------------------------------------
    // q299: COHORT LTV TRIANGLE — cumulative revenue per first-purchase
    // cohort by week age: the lifetime-value curve that prices
    // acquisition (and the triangle every payback-period model reads
    // off). Cohort assignment is one user-keyed min; the triangle is a
    // (cohort, age) agg — calendar²-bounded regardless of corpus size —
    // with one cohort-keyed running sum. Exact cents throughout; the
    // per-user average is the single terminal division.
    QueryDef.sql("q299_cohort_ltv") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("datediff(to_date(ts), DATE '1970-01-01') div 7").as("wk"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val first = pv.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      val cohortSize = first.groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("cohort_users"))
      val tri = pv.join(first, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("age"))
        .agg(countDistinct(col("user_id")).as("active_users"),
          sum(col("cents")).as("cents"))
      val wc = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tri.join(broadcast(cohortSize), "cohort")
        .withColumn("cum_cents", sum(col("cents")).over(wc))
        .select(col("cohort"), col("age"), col("cohort_users"),
          col("active_users"), col("cents"), col("cum_cents"),
          expr("CAST(cum_cents AS DOUBLE) / CAST(cohort_users AS DOUBLE)")
            .as("cum_cents_per_user"))
        .orderBy("cohort", "age")
    } {
      """WITH pv AS (
        |  SELECT user_id,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM pv GROUP BY user_id),
        |cs AS (
        |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
        |  FROM f GROUP BY cohort),
        |tri AS (
        |  SELECT f.cohort, pv.wk - f.cohort AS age,
        |    CAST(COUNT(DISTINCT pv.user_id) AS BIGINT) AS active_users,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM pv JOIN f ON pv.user_id = f.user_id
        |  GROUP BY f.cohort, pv.wk - f.cohort),
        |c AS (
        |  SELECT tri.*, cs.cohort_users,
        |    CAST(SUM(cents) OVER (PARTITION BY tri.cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM tri JOIN cs USING (cohort))
        |SELECT cohort, age, cohort_users, active_users, cents, cum_cents,
        |  CAST(cum_cents AS DOUBLE) / CAST(cohort_users AS DOUBLE)
        |    AS cum_cents_per_user
        |FROM c
        |ORDER BY cohort, age""".stripMargin
    },

    // ------------------------------------------------------------------
    // q297: INCREMENTAL-REFRESH COST ADVISOR — a rolling 7-day metric
    // view can refresh two ways: rescan the trailing window (full) or
    // apply the new day and retract the expiring one (incremental, the
    // q205 maintenance algebra). This prices both PER DAY from the
    // daily rollup alone — window_rows vs day_rows + expiring_rows —
    // and reports the savings ratio, the number that decides the
    // refresh strategy (and whether q205's delta pipeline is worth its
    // complexity) for each day's actual volume mix. One fact pass to
    // the day rollup; everything downstream is calendar-bounded window
    // arithmetic over that rollup.
    QueryDef.sql("q297_incremental_refresh_advisor") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("epoch", datediff(col("day"), expr("DATE '1970-01-01'")))
      // calendar-bounded series: single-task windows over ≤365 rows/yr
      val w7 = Window.orderBy(col("epoch")).rangeBetween(-6, 0)
      val exp7 = Window.orderBy(col("epoch")).rangeBetween(-7, -7)
      daily
        .withColumn("window_rows", sum(col("n")).over(w7))
        .withColumn("expiring_rows",
          coalesce(sum(col("n")).over(exp7), lit(0L)))
        .select(col("day"), col("n").as("new_rows"), col("window_rows"),
          col("expiring_rows"),
          (col("n") + col("expiring_rows")).as("incremental_rows"),
          expr("CAST(n + expiring_rows AS DOUBLE) / " +
            "CAST(window_rows AS DOUBLE)").as("incremental_cost_share"))
        .orderBy("day")
    } {
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS epoch
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT day, n,
        |    CAST(SUM(n) OVER (ORDER BY epoch RANGE BETWEEN 6 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS window_rows,
        |    COALESCE(CAST(SUM(n) OVER (ORDER BY epoch RANGE BETWEEN
        |      7 PRECEDING AND 7 PRECEDING) AS BIGINT), 0) AS expiring_rows
        |  FROM daily)
        |SELECT day, n AS new_rows, window_rows, expiring_rows,
        |  n + expiring_rows AS incremental_rows,
        |  CAST(n + expiring_rows AS DOUBLE) / CAST(window_rows AS DOUBLE)
        |    AS incremental_cost_share
        |FROM r
        |ORDER BY day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q292: REPEAT-PURCHASE INTERVAL HISTOGRAM — the inter-purchase-gap
    // census behind every retention/replenishment model: days between a
    // user's consecutive purchases (ONE keyed lag — join-free), bucketed
    // to a domain-bounded 0..30 / 31+ histogram with the cumulative
    // share. The cumulative window runs over ≤ 32 histogram rows (the
    // q165 calendar posture — domain-bounded, never corpus-bounded);
    // shares are single divisions of exact int64.
    QueryDef.sql("q292_repeat_purchase_intervals") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val gaps = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
        .withColumn("prev", lag(col("tus"), 1).over(wo))
        .filter(col("prev").isNotNull)
        .select(least(expr("(tus - prev) div 86400000000"), lit(31L))
          .as("gap_days"))
      val hist = gaps.groupBy(col("gap_days")).agg(count(lit(1)).as("n"))
      val tot = hist.agg(sum(col("n")).as("n_total"))
      val wcum = Window.orderBy(col("gap_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("n")).over(wcum))
        .select(col("gap_days"), col("n"),
          expr("CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)").as("share"),
          expr("CAST(cum AS DOUBLE) / CAST(n_total AS DOUBLE)")
            .as("cumulative_share"))
        .orderBy("gap_days")
    } {
      """WITH pv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |g0 AS (
        |  SELECT tus - LAG(tus) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS gap
        |  FROM pv),
        |g AS (
        |  -- filter BEFORE LEAST: DuckDB's LEAST skips NULLs, so a NULL
        |  -- first-purchase gap would otherwise collapse to bucket 31
        |  SELECT LEAST(gap // 86400000000, 31) AS gap_days
        |  FROM g0 WHERE gap IS NOT NULL),
        |hist AS (
        |  SELECT gap_days, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM g GROUP BY gap_days),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM hist)
        |SELECT gap_days, n,
        |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |  CAST(CAST(SUM(n) OVER (ORDER BY gap_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / CAST(n_total AS DOUBLE) AS cumulative_share
        |FROM hist CROSS JOIN tot
        |ORDER BY gap_days""".stripMargin
    },

    // ------------------------------------------------------------------
    // q293: NEW vs RETURNING REVENUE SPLIT per week — the growth
    // accounting every revenue dashboard opens with: weekly purchase
    // cents split between users in their FIRST purchase week and
    // returning users, with the new-revenue share. First-week is one
    // user-keyed min; the split is count arithmetic on exact cents —
    // two keyed aggs and a broadcast-sized week relation, no window.
    QueryDef.sql("q293_new_vs_returning") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("datediff(to_date(ts), DATE '1970-01-01') div 7").as("wk"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val uw = pv.groupBy(col("user_id"), col("wk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fwk"))
      uw.join(first, "user_id")
        .withColumn("is_new", (col("wk") === col("fwk")).cast("long"))
        .groupBy(col("wk"))
        .agg(sum(col("is_new")).as("n_new_users"),
          sum(lit(1L) - col("is_new")).as("n_returning_users"),
          sum(col("is_new") * col("c")).as("new_cents"),
          sum((lit(1L) - col("is_new")) * col("c")).as("returning_cents"))
        .select(col("wk"), col("n_new_users"), col("n_returning_users"),
          col("new_cents"), col("returning_cents"),
          expr("CAST(new_cents AS DOUBLE) / " +
            "CAST(new_cents + returning_cents AS DOUBLE)").as("new_share"))
        .orderBy("wk")
    } {
      """WITH pv AS (
        |  SELECT user_id,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |uw AS (
        |  SELECT user_id, wk, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS c
        |  FROM pv GROUP BY user_id, wk),
        |f AS (SELECT user_id, MIN(wk) AS fwk FROM uw GROUP BY user_id),
        |j AS (
        |  SELECT uw.wk, CASE WHEN uw.wk = f.fwk THEN 1 ELSE 0 END AS
        |    is_new, uw.c
        |  FROM uw JOIN f ON uw.user_id = f.user_id)
        |SELECT wk,
        |  CAST(SUM(is_new) AS BIGINT) AS n_new_users,
        |  CAST(SUM(1 - is_new) AS BIGINT) AS n_returning_users,
        |  CAST(SUM(is_new * c) AS BIGINT) AS new_cents,
        |  CAST(SUM((1 - is_new) * c) AS BIGINT) AS returning_cents,
        |  CAST(SUM(is_new * c) AS DOUBLE)
        |    / CAST(SUM(c) AS DOUBLE) AS new_share
        |FROM j GROUP BY wk
        |ORDER BY wk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q288: PEAK CONCURRENCY (sweep line) — the capacity number every
    // serving platform sizes against: the maximum number of
    // SIMULTANEOUSLY open user sessions, per day. Sessions are q19's
    // 30-min-gap intervals (keyed lag + running flag-sum windows — all
    // user-partitioned); each interval becomes a +1 at its start and a
    // −1 one µs after its end, and the concurrency curve is the running
    // sum of deltas in global time order — computed by the TWO-PASS
    // frozen range shuffle (globalOrderedCumsum), so no single task
    // ever sorts the corpus (the q102 posture). Boundary rule: a
    // session ending exactly when another starts still overlaps it
    // (+1 sorts before −1 at equal instants). Per-day peak is one keyed
    // max over the delta points.
    QueryDef.sql("q288_peak_concurrency") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val sess = Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts AS timestamp))").as("tus"))
        .withColumn("news", when(col("tus") - lag(col("tus"), 1).over(wo) >
          lit(1800000000L), 1L).otherwise(
          when(lag(col("tus"), 1).over(wo).isNull, 1L).otherwise(0L)))
        .withColumn("sid", sum(col("news")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("tus")).as("sstart"), max(col("tus")).as("send"))
      val deltas = sess.select(col("user_id"), col("sstart"),
        explode(expr("array(named_struct('t', sstart, 'dlt', 1L), " +
          "named_struct('t', send + 1L, 'dlt', -1L))")).as("x"))
        .select(col("x.t").as("t"), col("x.dlt").as("dlt"),
          col("user_id"), col("sstart"))
      val cum = Scale.globalOrderedCumsum(deltas, "dlt", "conc", "rnk",
        col("t").asc, col("dlt").desc, col("user_id").asc,
        col("sstart").asc)
      cum.groupBy(expr("CAST(to_date(timestamp_micros(t)) AS date)")
          .as("day"))
        .agg(max(col("conc")).as("peak_concurrency"),
          count(lit(1)).as("n_boundary_points"))
        .orderBy("day")
    } {
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |fl AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN LAG(tus) OVER w IS NULL THEN 1
        |      WHEN tus - LAG(tus) OVER w > 1800000000 THEN 1
        |      ELSE 0 END AS news
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |sid AS (
        |  SELECT user_id, tus,
        |    SUM(news) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM fl),
        |sess AS (
        |  SELECT user_id, sid, MIN(tus) AS sstart, MAX(tus) AS send
        |  FROM sid GROUP BY user_id, sid),
        |deltas AS (
        |  SELECT t, dlt, user_id, sstart FROM (
        |    SELECT user_id, sstart, UNNEST([
        |      {'t': sstart, 'dlt': 1},
        |      {'t': send + 1, 'dlt': -1}], recursive := true)
        |    FROM sess) u),
        |cum AS (
        |  SELECT t, CAST(SUM(dlt) OVER (ORDER BY t, dlt DESC, user_id,
        |    sstart ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS conc
        |  FROM deltas)
        |SELECT CAST(make_timestamp(t) AS DATE) AS day,
        |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(COUNT(*) AS BIGINT) AS n_boundary_points
        |FROM cum GROUP BY 1
        |ORDER BY day""".stripMargin
    },

    // ------------------------------------------------------------------
    // q273: RFM SEGMENTATION — the classic customer-value census:
    // recency (days since last purchase vs the corpus high-water day),
    // frequency (purchase count) and monetary (exact cents) per user,
    // each coded into quintiles, then the segment census with its value
    // mass. Quintile boundaries are exact ORDER STATISTICS (b_k = the
    // smallest value whose cumulative count reaches ⌈n·k/5⌉ —
    // QUANTILE_DISC semantics, pure integer arithmetic, so no
    // interpolation FP can drift between engines), derived from the
    // per-dimension VALUE HISTOGRAM through the two-pass cumsum — never
    // a row-level sort, never an NTILE's single-task global window.
    // Coding is a broadcast of 12 boundary values; the census is one
    // user-keyed agg + one ≤125-group agg.
    QueryDef.sql("q273_rfm_segmentation") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val hwm = pv.agg(max(col("day")).as("maxday"))
      val users = pv.crossJoin(broadcast(hwm))
        .groupBy(col("user_id"))
        .agg(datediff(max(col("maxday")), max(col("day"))).cast("long").as("r"),
          count(lit(1)).as("f"), sum(col("cents")).as("m"))
      val nRel = users.agg(count(lit(1)).as("n"))
      val ks = nRel.select(explode(expr("sequence(1, 4)")).as("k"), col("n"))
        .withColumn("t", expr("(n * k + 4) div 5"))
      // exact-order-statistic boundaries of one dimension, pivoted to a
      // single broadcastable row (prefix1..prefix4)
      def boundsOf(valueCol: String, prefix: String) = {
        val hist = users.groupBy(col(valueCol).as("v"))
          .agg(count(lit(1)).as("c"))
        val cum = Scale.globalOrderedCumsum(hist, "c", "cum", "rnk",
          col("v").asc)
        val pivots = (1 to 4).map(i =>
          max(when(col("k") === i, col("b"))).as(s"$prefix$i"))
        cum.join(broadcast(ks), col("cum") >= col("t"))
          .groupBy(col("k")).agg(min(col("v")).as("b"))
          .agg(pivots.head, pivots.tail: _*)
      }
      def code(x: String, p: String) =
        s"CAST(CASE WHEN $x <= ${p}1 THEN 1 WHEN $x <= ${p}2 THEN 2 " +
          s"WHEN $x <= ${p}3 THEN 3 WHEN $x <= ${p}4 THEN 4 ELSE 5 END AS BIGINT)"
      users
        .crossJoin(broadcast(boundsOf("r", "rb")))
        .crossJoin(broadcast(boundsOf("f", "fb")))
        .crossJoin(broadcast(boundsOf("m", "mb")))
        .select(expr(code("r", "rb")).as("r_code"),
          expr(code("f", "fb")).as("f_code"),
          expr(code("m", "mb")).as("m_code"), col("m"))
        .groupBy(col("r_code"), col("f_code"), col("m_code"))
        .agg(count(lit(1)).as("n_users"), sum(col("m")).as("total_cents"))
        .orderBy("r_code", "f_code", "m_code")
    } {
      def boundsSql(dim: String, prefix: String) =
        s"""${prefix}h AS (
           |  SELECT $dim AS v, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM u GROUP BY $dim),
           |${prefix}c AS (
           |  SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum
           |  FROM ${prefix}h),
           |${prefix}b AS (
           |  SELECT
           |    MAX(CASE WHEN k = 1 THEN b END) AS ${prefix}1,
           |    MAX(CASE WHEN k = 2 THEN b END) AS ${prefix}2,
           |    MAX(CASE WHEN k = 3 THEN b END) AS ${prefix}3,
           |    MAX(CASE WHEN k = 4 THEN b END) AS ${prefix}4
           |  FROM (
           |    SELECT k, MIN(v) AS b
           |    FROM ${prefix}c JOIN ks ON cum >= t GROUP BY k) t)""".stripMargin
      def code(x: String, p: String) =
        s"CAST(CASE WHEN $x <= ${p}1 THEN 1 WHEN $x <= ${p}2 THEN 2 " +
          s"WHEN $x <= ${p}3 THEN 3 WHEN $x <= ${p}4 THEN 4 ELSE 5 END AS BIGINT)"
      s"""WITH pv AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |    CAST(ROUND(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |hwm AS (SELECT MAX(day) AS maxday FROM pv),
         |u AS (
         |  SELECT user_id,
         |    CAST(MAX(h.maxday) - MAX(day) AS BIGINT) AS r,
         |    CAST(COUNT(*) AS BIGINT) AS f,
         |    CAST(SUM(cents) AS BIGINT) AS m
         |  FROM pv CROSS JOIN hwm h GROUP BY user_id),
         |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
         |ks AS (
         |  SELECT k, (n * k + 4) // 5 AS t
         |  FROM nr, (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS k) g),
         |${boundsSql("r", "rb")},
         |${boundsSql("f", "fb")},
         |${boundsSql("m", "mb")}
         |SELECT ${code("u.r", "rb")} AS r_code, ${code("u.f", "fb")} AS f_code,
         |  ${code("u.m", "mb")} AS m_code,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(u.m) AS BIGINT) AS total_cents
         |FROM u CROSS JOIN rbb CROSS JOIN fbb CROSS JOIN mbb
         |GROUP BY 1, 2, 3
         |ORDER BY r_code, f_code, m_code""".stripMargin
    },

    // ------------------------------------------------------------------
    // q275: WEEKLY DISTRIBUTION DRIFT (total-variation distance) — the
    // histogram-level twin of q122's KS screen, run week-over-week on
    // purchase value: TV = ½·Σ|p_i − q_i| over $20 value bands is the
    // number a data-quality pager thresholds ("this week's spend mix
    // moved 12% of its mass"). Exactness: the band census is exact
    // int64; TV's numerator is Σ|c_cur·n_prev − c_prev·n_cur| — exact
    // cross-multiplied integers (valid while weekly volume stays under
    // ~3e9 rows/week) — and ONE terminal division. Weeks ride
    // engine-neutral epoch-day arithmetic; the complete week×band grid
    // (calendar × 20 — never corpus-sized) makes missing bands explicit
    // zeros on both engines, and consecutive weeks meet in a grid-sized
    // self-join, not a fact-table one.
    QueryDef.sql("q275_weekly_tv_drift") { (s, d) =>
      val pv = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(expr("datediff(to_date(ts), DATE '1970-01-01') div 7").as("wk"),
          expr("least(CAST(ROUND(value * 100) AS BIGINT) div 2000, 19)").as("band"))
      val hist = pv.groupBy(col("wk"), col("band")).agg(count(lit(1)).as("c"))
      val tot = pv.groupBy(col("wk")).agg(count(lit(1)).as("n"))
      val bands = Tables(s, d, "events").sparkSession.range(1)
        .select(explode(expr("sequence(0, 19)")).as("band"))
      val cur = tot.select(col("wk")).crossJoin(bands)
        .join(hist, Seq("wk", "band"), "left_outer")
        .select(col("wk"), col("band"), coalesce(col("c"), lit(0L)).as("c"))
        .join(tot, "wk")
      val prev = cur.select(col("wk").as("pwk"), col("band").as("pband"),
        col("c").as("pc"), col("n").as("pn"))
      cur.join(prev, col("wk") === col("pwk") + 1 &&
          col("band") === col("pband"))
        .groupBy(col("wk"))
        .agg(max(col("pn")).as("n_prev"), max(col("n")).as("n_cur"),
          sum(abs(col("c") * col("pn") - col("pc") * col("n"))).as("num"))
        .select(col("wk"), col("n_prev"), col("n_cur"),
          expr("CAST(num AS DOUBLE) / " +
            "(2.0 * CAST(n_prev AS DOUBLE) * CAST(n_cur AS DOUBLE))")
            .as("tv_distance"))
        .orderBy("wk")
    } {
      """WITH pv AS (
        |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
        |    LEAST(CAST(ROUND(value * 100) AS BIGINT) // 2000, 19) AS band
        |  FROM events WHERE event_type = 'purchase'),
        |hist AS (
        |  SELECT wk, band, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pv GROUP BY wk, band),
        |tot AS (
        |  SELECT wk, CAST(COUNT(*) AS BIGINT) AS n FROM pv GROUP BY wk),
        |cur AS (
        |  SELECT t.wk, b.band, COALESCE(h.c, 0) AS c, t.n
        |  FROM tot t
        |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 19)) AS band) b
        |  LEFT JOIN hist h ON h.wk = t.wk AND h.band = b.band)
        |SELECT a.wk, MAX(b.n) AS n_prev, MAX(a.n) AS n_cur,
        |  CAST(CAST(SUM(ABS(a.c * b.n - b.c * a.n)) AS BIGINT) AS DOUBLE)
        |    / (2.0 * CAST(MAX(b.n) AS DOUBLE) * CAST(MAX(a.n) AS DOUBLE))
        |    AS tv_distance
        |FROM cur a JOIN cur b ON a.wk = b.wk + 1 AND a.band = b.band
        |GROUP BY a.wk
        |ORDER BY a.wk""".stripMargin
    },

    // ------------------------------------------------------------------
    // q276: A/B SAMPLE-SIZE CALCULATOR — the planning half of the
    // q199/q268 testing stack: from the corpus's own baseline conversion
    // (q251's exposure semantics — a user counts once), the users per
    // arm needed to detect a 2/5/10% RELATIVE lift at α=0.05, power=0.8
    // (the standard two-proportion closed form
    // 2(z_{α/2}+z_β)²·p(1−p)/δ²). z literals are shortest-round-trip
    // doubles (both engines parse the identical values); the whole
    // estimate is ONE shared IEEE chain per MDE row over exact integer
    // counts, CEIL'd at the end. One user-keyed agg over the fact
    // table; the calculator itself is a 3-row planner relation (the
    // q267 posture).
    QueryDef.sql("q276_sample_size") { (s, d) =>
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "view").cast("long")).as("exposed"),
          max((col("event_type") === "purchase").cast("long")).as("purch"))
        .filter(col("exposed") === 1L)
      val base = flags.agg(count(lit(1)).as("n_exposed"),
        sum(col("purch")).as("n_converted"))
      base.select(col("n_exposed"), col("n_converted"),
          expr("CAST(n_converted AS DOUBLE) / CAST(n_exposed AS DOUBLE)")
            .as("p"),
          explode(expr("array(0.02D, 0.05D, 0.1D)")).as("rel_mde"))
        .select(col("n_exposed"), col("n_converted"), col("p"),
          col("rel_mde"), expr(SampleSizeExpr).as("n_per_arm"))
        .orderBy("rel_mde")
    } {
      s"""WITH flags AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS exposed,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS purch
         |  FROM events GROUP BY user_id),
         |base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exposed,
         |    CAST(SUM(purch) AS BIGINT) AS n_converted
         |  FROM flags WHERE exposed = 1),
         |px AS (
         |  SELECT n_exposed, n_converted,
         |    CAST(n_converted AS DOUBLE) / CAST(n_exposed AS DOUBLE) AS p,
         |    rel_mde
         |  FROM base,
         |    (SELECT UNNEST([0.02::DOUBLE, 0.05::DOUBLE, 0.1::DOUBLE])
         |      AS rel_mde) m)
         |SELECT n_exposed, n_converted, p, rel_mde,
         |  $SampleSizeExpr AS n_per_arm
         |FROM px
         |ORDER BY rel_mde""".stripMargin
    },

    // ------------------------------------------------------------------
    // q280: ATTRIBUTION-WINDOW SENSITIVITY — how much revenue moves
    // between channels when the lookback changes? q153 commits to 7
    // days; every ads-measurement migration asks "what would 1 / 7 / 28
    // days report", and the deltas ARE the negotiation. The expensive
    // part — the per-purchase last non-purchase touch — is computed
    // ONCE in the q153 window; the three candidate windows ride a
    // 3-row explode per purchase (the q229 posture: never three window
    // passes). Revenue is exact cents; output is (window × channel)
    // bounded.
    QueryDef.sql("q280_attribution_windows") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"),
          expr("unix_micros(cast(ts AS timestamp))").as("ts_us"))
        .withColumn("prev_type", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .withColumn("prev_ts_us", last(
          when(col("event_type") =!= "purchase", col("ts_us")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("cents"), col("ts_us"), col("prev_type"),
          col("prev_ts_us"),
          explode(expr("array(1L, 7L, 28L)")).as("window_days"))
        .withColumn("channel",
          when(col("prev_type").isNotNull &&
            col("ts_us") - col("prev_ts_us") <=
              col("window_days") * lit(86400000000L),
            col("prev_type")).otherwise(lit("organic")))
        .groupBy(col("window_days"), col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("attributed_cents"))
        .orderBy("window_days", "channel")
    } {
      """WITH base AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS ts_us
        |  FROM events),
        |attrib AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER w AS prev_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |        THEN ts_us END IGNORE NULLS) OVER w AS prev_ts_us
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (
        |  SELECT wd.window_days,
        |    CASE WHEN prev_type IS NOT NULL
        |        AND ts_us - prev_ts_us <= wd.window_days * 86400000000
        |      THEN prev_type ELSE 'organic' END AS channel,
        |    cents
        |  FROM attrib,
        |    (SELECT UNNEST([1, 7, 28]) AS window_days) wd
        |  WHERE event_type = 'purchase')
        |SELECT CAST(window_days AS BIGINT) AS window_days, channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS attributed_cents
        |FROM p GROUP BY window_days, channel
        |ORDER BY window_days, channel""".stripMargin
    },

    // ------------------------------------------------------------------
    // q335: BENJAMINI–HOCHBERG FDR OVER SEGMENT TESTS — running q199's
    // z-test once per customer nation multiplies the false-positive rate
    // by the segment count; the BH step-up procedure is the standard
    // multiple-testing correction. p-values need Φ (a transcendental —
    // not bit-reproducible cross-engine), so the p here is the
    // DISTRIBUTION-FREE Chebyshev bound p = min(1, 1/z²): a valid
    // conservative p-value under ANY null with a variance (P(|Z|≥t) ≤
    // 1/t²), monotone in |z|, and pure IEEE arithmetic — the correction
    // is exact, the individual p's deliberately conservative. BH at
    // q = 0.10: rank tests by p ascending, reject ranks ≤ the largest i
    // with p_(i) ≤ i·q/m (cross-multiplied: i·z² ≥ 10·m — one
    // double×int compare, no division).
    //
    // Shape at 100 TB: one events scan → per-user keyed flag agg → one
    // broadcast nation lookup → per-nation conditional sums (segment-
    // count-sized from here on); the BH windows run over the TESTS
    // relation (|nations| rows — a frozen dimension, q133's bounded-
    // window posture).
    QueryDef.sql("q335_bh_fdr_correction") { (s, d) =>
      import graft.Ids
      // "converted" = a HEAVY purchaser (≥ 14 purchases): q199's
      // any-purchase flag saturates on this fixture (every exposed user
      // converts → all z = 0); the heavy-buyer cut gives each nation a
      // real proportion to test. Assignment is hash-random, so this is
      // an A/A null — BH rejecting ~nothing IS the correct answer here
      // (the constructed-effect case lives in ExperimentOpsSpec).
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            >= 14L, 1L).otherwise(0L).as("converted"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val tests = flags
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("converted"))
        .groupBy(col("nationkey"))
        .agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("in_a"), col("converted")).otherwise(0L)).as("x_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("x_b"))
        .filter(col("n_a") > 0L && col("n_b") > 0L)
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val se = sqrt((pp * (lit(1.0) - pp)) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double")))
      val scored = tests
        .withColumn("z_stat",
          when(se === 0.0, 0.0)
            .otherwise((col("x_a").cast("double") / col("n_a").cast("double") -
              col("x_b").cast("double") / col("n_b").cast("double")) / se))
        .withColumn("z2", col("z_stat") * col("z_stat"))
        .withColumn("p_cheb",
          when(col("z2") === 0.0, 1.0).otherwise(least(lit(1.0), lit(1.0) / col("z2"))))
      // the windows below are over the tests relation: |nations| rows
      val wAll = Window.partitionBy()
      val wRank = Window.orderBy(col("z2").desc, col("nationkey"))
      scored
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("bh_rank", row_number().over(wRank))
        .withColumn("pass",
          when(col("bh_rank") * col("z2") >= col("m") * lit(10.0), 1L)
            .otherwise(0L))
        .withColumn("k",
          max(when(col("pass") === 1L, col("bh_rank")).otherwise(0L)).over(wAll))
        .select(col("nationkey"), col("n_a"), col("x_a"), col("n_b"),
          col("x_b"), col("z_stat"), col("p_cheb"), col("bh_rank"),
          when(col("bh_rank") <= col("k"), 1L).otherwise(0L).as("rejected"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS exposed,
         |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
         |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted
         |  FROM events GROUP BY user_id),
         |armed AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, converted
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey
         |  WHERE exposed = 1),
         |t AS (
         |  SELECT nationkey,
         |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)
         |      AS x_a,
         |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(SUM(CASE WHEN NOT in_a THEN converted ELSE 0 END)
         |      AS BIGINT) AS x_b
         |  FROM armed GROUP BY nationkey
         |  HAVING SUM(CASE WHEN in_a THEN 1 ELSE 0 END) > 0
         |     AND SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) > 0),
         |z AS (
         |  SELECT *,
         |    CASE WHEN se = 0.0 THEN 0.0
         |         ELSE (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |             - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / se END
         |      AS z_stat
         |  FROM (SELECT t.*,
         |          SQRT((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
         |              * (1.0 - CAST(x_a + x_b AS DOUBLE)
         |                  / CAST(n_a + n_b AS DOUBLE)))
         |            * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |            AS se
         |        FROM t)),
         |r AS (
         |  SELECT nationkey, n_a, x_a, n_b, x_b, z_stat,
         |    z_stat * z_stat AS z2,
         |    CASE WHEN z_stat * z_stat = 0.0 THEN 1.0
         |         ELSE LEAST(1.0, 1.0 / (z_stat * z_stat)) END AS p_cheb,
         |    COUNT(*) OVER () AS m,
         |    ROW_NUMBER() OVER (ORDER BY z_stat * z_stat DESC, nationkey)
         |      AS bh_rank
         |  FROM z),
         |kk AS (
         |  SELECT *,
         |    MAX(CASE WHEN bh_rank * z2 >= m * 10.0 THEN bh_rank ELSE 0 END)
         |      OVER () AS k
         |  FROM r)
         |SELECT nationkey, n_a, x_a, n_b, x_b, z_stat, p_cheb, bh_rank,
         |  CAST(CASE WHEN bh_rank <= k THEN 1 ELSE 0 END AS BIGINT)
         |    AS rejected
         |FROM kk
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q336: CUPED VARIANCE REDUCTION — the industry-standard experiment
    // sensitivity lever (Deng et al., WSDM'13): adjust each user's
    // experiment-period metric Y by their PRE-period metric X,
    // Ŷ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), shrinking metric
    // variance by exactly the squared X–Y correlation without biasing
    // the A−B difference (assignment is independent of X). Periods split
    // at 2024-01-16 (q234's boundary); metric = purchase count; arms by
    // the library id-hash. Every moment is an exact int64 sum; θ, the
    // adjusted means, and the variance-reduction ratio are one fixed
    // IEEE chain mirrored verbatim in the oracle — bit-equal.
    //
    // Shape at 100 TB: one events scan → per-user keyed conditional
    // counts → ONE global 10-sum aggregate row → closed-form projection.
    // Nothing after the per-user agg shuffles; nothing is driver-side.
    // Overflow: Σxy ≤ users · (purchases/user)² — at 1e9 users × 1e3
    // purchases/period it is 1e15 ≪ 2^63; revisit past 1e4/user.
    QueryDef.sql("q336_cuped_adjustment") { (s, d) =>
      import graft.Ids
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" &&
            col("ts") < lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("y"))
        .select((Ids.hash("user_id") % 2 === 0).as("in_a"),
          col("x"), col("y"))
      val g = perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a"), col("x")).otherwise(0L)).as("sx_a"),
        sum(when(col("in_a"), col("y")).otherwise(0L)).as("sy_a"))
      val nD = col("n").cast("double")
      val varX = nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val varY = nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val covXY = nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val theta = when(varX === 0.0, 0.0).otherwise(covXY / varX)
      val xbar = col("sx").cast("double") / nD
      val nB = col("n") - col("n_a")
      // degenerate-arm guard (q199's se===0 / q325's NULL convention):
      // if the id-hash lands every user in one arm, the other arm's
      // means are undefined — NULL, never a cross-engine inf/NaN split.
      // greatest(…,1) keeps the eager divisions ANSI-safe.
      val oneArm = col("n_a") === 0L || nB === 0L
      val naD = greatest(col("n_a"), lit(1L)).cast("double")
      val nbD = greatest(nB, lit(1L)).cast("double")
      val meanYA = col("sy_a").cast("double") / naD
      val meanYB = (col("sy") - col("sy_a")).cast("double") / nbD
      val meanXA = col("sx_a").cast("double") / naD
      val meanXB = (col("sx") - col("sx_a")).cast("double") / nbD
      def armed(c: org.apache.spark.sql.Column) =
        when(oneArm, lit(null).cast("double")).otherwise(c)
      g.select(
        col("n_a"), nB.as("n_b"),
        armed(meanYA).as("mean_y_a"), armed(meanYB).as("mean_y_b"),
        theta.as("theta"),
        armed(meanYA - theta * (meanXA - xbar)).as("mean_y_adj_a"),
        armed(meanYB - theta * (meanXB - xbar)).as("mean_y_adj_b"),
        armed((meanYA - theta * (meanXA - xbar)) -
          (meanYB - theta * (meanXB - xbar))).as("diff_adj"),
        when(varX === 0.0 || varY === 0.0, 0.0)
          .otherwise((covXY * covXY) / (varX * varY)).as("var_reduction"))
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY user_id),
         |armed AS (
         |  SELECT ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, x, y
         |  FROM pu),
         |g AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |    CAST(SUM(CASE WHEN in_a THEN y ELSE 0 END) AS BIGINT) AS sy_a
         |  FROM armed),
         |f AS (
         |  SELECT *,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x,
         |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_xy,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
         |    n - n_a AS n_b,
         |    CAST(sy_a AS DOUBLE) / CAST(GREATEST(n_a, 1) AS DOUBLE)
         |      AS mean_y_a,
         |    CAST(sy - sy_a AS DOUBLE) / CAST(GREATEST(n - n_a, 1) AS DOUBLE)
         |      AS mean_y_b,
         |    CAST(sx_a AS DOUBLE) / CAST(GREATEST(n_a, 1) AS DOUBLE)
         |      AS mean_x_a,
         |    CAST(sx - sx_a AS DOUBLE) / CAST(GREATEST(n - n_a, 1) AS DOUBLE)
         |      AS mean_x_b,
         |    (n_a = 0 OR n - n_a = 0) AS one_arm
         |  FROM g),
         |f2 AS (
         |  SELECT *,
         |    CASE WHEN var_x = 0.0 THEN 0.0 ELSE cov_xy / var_x END AS theta
         |  FROM f)
         |SELECT n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CASE WHEN one_arm THEN NULL ELSE mean_y_a END AS mean_y_a,
         |  CASE WHEN one_arm THEN NULL ELSE mean_y_b END AS mean_y_b,
         |  theta,
         |  CASE WHEN one_arm THEN NULL
         |    ELSE mean_y_a - theta * (mean_x_a - xbar) END AS mean_y_adj_a,
         |  CASE WHEN one_arm THEN NULL
         |    ELSE mean_y_b - theta * (mean_x_b - xbar) END AS mean_y_adj_b,
         |  CASE WHEN one_arm THEN NULL
         |    ELSE (mean_y_a - theta * (mean_x_a - xbar))
         |      - (mean_y_b - theta * (mean_x_b - xbar)) END AS diff_adj,
         |  CASE WHEN var_x = 0.0 OR var_y = 0.0 THEN 0.0
         |       ELSE (cov_xy * cov_xy) / (var_x * var_y) END AS var_reduction
         |FROM f2""".stripMargin
    },

    // ------------------------------------------------------------------
    // q337: SAMPLE-RATIO-MISMATCH GUARD — the #1 experiment trust check
    // (run BEFORE reading any metric): a 50/50 assignment whose realized
    // arm counts fail a chi-square goodness-of-fit test means the
    // logging/assignment path is broken and every downstream readout is
    // invalid. One chi² per nation PLUS the global cell via ROLLUP
    // (χ² = (n_a−n_b)²/(n_a+n_b), 1 dof; flag at the 3.841 α=.05
    // critical value). Counts are exact integers; χ² is one IEEE
    // division of exact operands.
    //
    // Shape at 100 TB: one events scan → per-user keyed flag agg →
    // broadcast nation lookup → ROLLUP over the nation key (Expand on
    // the already user-sized relation, shrinking to |nations|+1 rows).
    QueryDef.sql("q337_srm_check") { (s, d) =>
      import graft.Ids
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("exposed"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val chi2 = (col("n_a") - col("n_b")).cast("double") *
        (col("n_a") - col("n_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      flags
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nk"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"))
        .rollup(col("nk"))
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
        // degenerate-input guard: over ZERO exposed users Spark's rollup
        // emits no rows while DuckDB's GROUP BY ROLLUP still emits the
        // grand-total grouping-set row (NULL counts, NULL χ²) — filter
        // the empty cell on BOTH engines so the row sets agree
        .filter(col("n_a") + col("n_b") > 0L)
        .select(coalesce(col("nk"), lit(-1L)).as("nationkey"),
          col("n_a"), col("n_b"), chi2.as("chi2"),
          when(chi2 > 3.841, 1L).otherwise(0L).as("srm_flag"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id
         |  FROM events GROUP BY user_id
         |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
         |armed AS (
         |  SELECT c.c_nationkey AS nk,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey),
         |g AS (
         |  SELECT COALESCE(nk, -1) AS nationkey,
         |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM armed GROUP BY ROLLUP(nk)
         |  HAVING COUNT(*) > 0)
         |SELECT nationkey, n_a, n_b,
         |  CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
         |    / CAST(n_a + n_b AS DOUBLE) AS chi2,
         |  CAST(CASE WHEN CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
         |      / CAST(n_a + n_b AS DOUBLE) > 3.841 THEN 1 ELSE 0 END
         |    AS BIGINT) AS srm_flag
         |FROM g
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q338: DIFFERENCE-IN-DIFFERENCES — the observational complement to
    // q336 (no randomized arms needed): for each market segment, compare
    // its per-user purchase-count change across the 2024-01-16 boundary
    // against the SAME change in the rest of the population; parallel
    // trends turn the double difference into the segment's causal
    // effect estimate. Control cells come from the broadcast global row
    // (complement = total − segment — never a second scan or an
    // anti-join). Every mean is a ratio of exact int64s; the DiD is one
    // fixed IEEE chain mirrored verbatim.
    //
    // Shape at 100 TB: one events scan → per-user keyed pre/post counts
    // → broadcast segment lookup → per-segment sums (|segments| rows) +
    // ONE global row broadcast back. Nothing after the per-user agg is
    // corpus-sized.
    QueryDef.sql("q338_diff_in_diff") { (s, d) =>
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" &&
            col("ts") < lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("pre"),
          sum(when(col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L)).as("post"))
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      // freeze the |segments|-row relation: both consumers (the global
      // row and the output projection) read the frozen copy, so the
      // events scan + per-user agg run ONCE (q114's posture)
      val seg = graft.Checkpoints.checkpointLazy(perUser
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_t"),
          sum(col("pre")).as("pre_t"), sum(col("post")).as("post_t")))
      val tot = seg.agg(sum(col("n_t")).as("n"),
        sum(col("pre_t")).as("sp"), sum(col("post_t")).as("spo"))
      val nC = (col("n") - col("n_t"))
      // degenerate-control guard (the q325 NULL convention): with a
      // single segment the complement is empty — report NULL, never a
      // cross-engine inf/NaN split. greatest(…,1) keeps the eagerly-
      // evaluated division ANSI-safe on the guarded rows.
      val nCD = greatest(nC, lit(1L)).cast("double")
      val noControl = col("n") === col("n_t")
      val preT = col("pre_t").cast("double") / col("n_t").cast("double")
      val postT = col("post_t").cast("double") / col("n_t").cast("double")
      val preC = (col("sp") - col("pre_t")).cast("double") / nCD
      val postC = (col("spo") - col("post_t")).cast("double") / nCD
      def guarded(c: org.apache.spark.sql.Column) =
        when(noControl, lit(null).cast("double")).otherwise(c)
      seg.crossJoin(broadcast(tot))
        .select(col("c_mktsegment"), col("n_t"), nC.as("n_c"),
          preT.as("pre_treated_mean"), postT.as("post_treated_mean"),
          guarded(preC).as("pre_control_mean"),
          guarded(postC).as("post_control_mean"),
          guarded((postT - preT) - (postC - preC)).as("did"))
        .orderBy("c_mktsegment")
    } {
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS post
        |  FROM events GROUP BY user_id),
        |seg AS (
        |  SELECT c.c_mktsegment, COUNT(*) AS n_t,
        |    CAST(SUM(pre) AS BIGINT) AS pre_t,
        |    CAST(SUM(post) AS BIGINT) AS post_t
        |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey
        |  GROUP BY c.c_mktsegment),
        |tot AS (
        |  SELECT CAST(SUM(n_t) AS BIGINT) AS n,
        |    CAST(SUM(pre_t) AS BIGINT) AS sp,
        |    CAST(SUM(post_t) AS BIGINT) AS spo FROM seg)
        |SELECT c_mktsegment, n_t, CAST(n - n_t AS BIGINT) AS n_c,
        |  CAST(pre_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS pre_treated_mean,
        |  CAST(post_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS post_treated_mean,
        |  CASE WHEN n = n_t THEN NULL
        |    ELSE CAST(sp - pre_t AS DOUBLE)
        |      / CAST(GREATEST(n - n_t, 1) AS DOUBLE) END AS pre_control_mean,
        |  CASE WHEN n = n_t THEN NULL
        |    ELSE CAST(spo - post_t AS DOUBLE)
        |      / CAST(GREATEST(n - n_t, 1) AS DOUBLE) END AS post_control_mean,
        |  CASE WHEN n = n_t THEN NULL
        |    ELSE (CAST(post_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(pre_t AS DOUBLE) / CAST(n_t AS DOUBLE))
        |    - (CAST(spo - post_t AS DOUBLE)
        |        / CAST(GREATEST(n - n_t, 1) AS DOUBLE)
        |      - CAST(sp - pre_t AS DOUBLE)
        |        / CAST(GREATEST(n - n_t, 1) AS DOUBLE)) END AS did
        |FROM seg CROSS JOIN tot
        |ORDER BY c_mktsegment""".stripMargin
    },

    // ------------------------------------------------------------------
    // q341: GROUP-SEQUENTIAL STOPPING AUDIT — the "peeking" guard: a
    // team reading the daily dashboard (q199) every day runs MANY
    // correlated tests, so the nominal 1.96 cut inflates false
    // positives severalfold; group-sequential monitoring
    // replays the daily looks per nation and applies a fixed
    // conservative boundary |z| > 2.5 (z² > 6.25, the
    // Pocock-style constant-boundary discipline) to report WHEN each
    // nation's experiment could have legitimately stopped — and whether
    // the naive daily reader would have been fooled earlier. Per
    // nation: looks taken, both-arm looks, first boundary-crossing day
    // (NULL = never), and the final z.
    //
    // Shape at 100 TB: one events scan → per-user keyed (exposure day,
    // conversion day) → broadcast nation lookup → one explode to ≤ 2
    // contribution rows per user → (nation, day)-keyed deltas →
    // cumulative windows and the final agg both ride the
    // |nations|×|days| relation (calendar-bounded, the q165 posture).
    QueryDef.sql("q341_sequential_stopping") { (s, d) =>
      import graft.Ids
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view",
            date_trunc("day", col("ts")))).as("e_day"),
          min(when(col("event_type") === "purchase",
            date_trunc("day", col("ts")))).as("b_day"))
        .filter(col("e_day").isNotNull)
        // the conversion contribution lands when BOTH flags hold
        // (order-free, q199's contract): max(exposure day, first buy day)
        .withColumn("x_day",
          when(col("b_day").isNotNull, greatest(col("e_day"), col("b_day"))))
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val contrib = perUser
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"),
          explode(array(
            struct(col("e_day").as("day"), lit(1L).as("dn"),
              when(col("x_day") === col("e_day"), 1L).otherwise(0L).as("dx")),
            struct(when(col("x_day") > col("e_day"), col("x_day")).as("day"),
              lit(0L).as("dn"), lit(1L).as("dx")))).as("c"))
        .filter(col("c.day").isNotNull)
        .select(col("nationkey"), col("in_a"),
          col("c.day").as("day"), col("c.dn").as("dn"), col("c.dx").as("dx"))
      val daily = contrib.groupBy(col("nationkey"), col("day"))
        .agg(
          sum(when(col("in_a"), col("dn")).otherwise(0L)).as("dna"),
          sum(when(col("in_a"), col("dx")).otherwise(0L)).as("dxa"),
          sum(when(!col("in_a"), col("dn")).otherwise(0L)).as("dnb"),
          sum(when(!col("in_a"), col("dx")).otherwise(0L)).as("dxb"))
      val wCum = Window.partitionBy(col("nationkey")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily
        .withColumn("n_a", sum(col("dna")).over(wCum))
        .withColumn("x_a", sum(col("dxa")).over(wCum))
        .withColumn("n_b", sum(col("dnb")).over(wCum))
        .withColumn("x_b", sum(col("dxb")).over(wCum))
      // ANSI guard: empty-arm rows are z = 0 by the outer when(), but
      // codegen evaluates the divisions eagerly — clamp denominators
      val naD = greatest(col("n_a"), lit(1L)).cast("double")
      val nbD = greatest(col("n_b"), lit(1L)).cast("double")
      val pp = (col("x_a") + col("x_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val se = sqrt((pp * (lit(1.0) - pp)) * (lit(1.0) / naD + lit(1.0) / nbD))
      val z = when(col("n_a") === 0L || col("n_b") === 0L || se === 0.0, 0.0)
        .otherwise((col("x_a").cast("double") / naD -
          col("x_b").cast("double") / nbD) / se)
      cum
        .withColumn("z_stat", z)
        .withColumn("z2", col("z_stat") * col("z_stat"))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_looks"),
          sum(when(col("n_a") > 0L && col("n_b") > 0L, 1L).otherwise(0L))
            .as("n_two_arm_looks"),
          min(when(col("z2") > 6.25, col("day"))).as("first_cross_day"),
          max(when(col("z2") > 6.25, 1L).otherwise(0L)).as("crossed"),
          max_by(col("z_stat"), col("day")).as("z_final"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    MIN(CASE WHEN event_type = 'view'
         |      THEN DATE_TRUNC('day', ts) END) AS e_day,
         |    MIN(CASE WHEN event_type = 'purchase'
         |      THEN DATE_TRUNC('day', ts) END) AS b_day
         |  FROM events GROUP BY user_id
         |  HAVING MIN(CASE WHEN event_type = 'view'
         |    THEN DATE_TRUNC('day', ts) END) IS NOT NULL),
         |k AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, e_day,
         |    CASE WHEN b_day IS NOT NULL
         |      THEN GREATEST(e_day, b_day) END AS x_day
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey),
         |contrib AS (
         |  SELECT nationkey, in_a, e_day AS day, 1 AS dn,
         |    CASE WHEN x_day = e_day THEN 1 ELSE 0 END AS dx FROM k
         |  UNION ALL
         |  SELECT nationkey, in_a, x_day, 0, 1 FROM k
         |  WHERE x_day > e_day),
         |daily AS (
         |  SELECT nationkey, day,
         |    CAST(SUM(CASE WHEN in_a THEN dn ELSE 0 END) AS BIGINT) AS dna,
         |    CAST(SUM(CASE WHEN in_a THEN dx ELSE 0 END) AS BIGINT) AS dxa,
         |    CAST(SUM(CASE WHEN NOT in_a THEN dn ELSE 0 END) AS BIGINT)
         |      AS dnb,
         |    CAST(SUM(CASE WHEN NOT in_a THEN dx ELSE 0 END) AS BIGINT)
         |      AS dxb
         |  FROM contrib GROUP BY nationkey, day),
         |cum AS (
         |  SELECT nationkey, day,
         |    SUM(dna) OVER w AS n_a, SUM(dxa) OVER w AS x_a,
         |    SUM(dnb) OVER w AS n_b, SUM(dxb) OVER w AS x_b
         |  FROM daily
         |  WINDOW w AS (PARTITION BY nationkey ORDER BY day
         |    ROWS UNBOUNDED PRECEDING)),
         |looks AS (
         |  SELECT nationkey, day, n_a, n_b,
         |    CASE WHEN n_a = 0 OR n_b = 0 OR se = 0.0 THEN 0.0
         |      ELSE (CAST(x_a AS DOUBLE) / CAST(GREATEST(n_a, 1) AS DOUBLE)
         |          - CAST(x_b AS DOUBLE) / CAST(GREATEST(n_b, 1) AS DOUBLE))
         |        / se END AS z_stat
         |  FROM (SELECT *,
         |      SQRT(((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |          * (1.0 - CAST(x_a + x_b AS DOUBLE)
         |              / CAST(n_a + n_b AS DOUBLE)))
         |        * (1.0 / CAST(GREATEST(n_a, 1) AS DOUBLE)
         |          + 1.0 / CAST(GREATEST(n_b, 1) AS DOUBLE))) AS se
         |    FROM cum))
         |SELECT nationkey, COUNT(*) AS n_looks,
         |  CAST(SUM(CASE WHEN n_a > 0 AND n_b > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_two_arm_looks,
         |  MIN(CASE WHEN z_stat * z_stat > 6.25 THEN day END)
         |    AS first_cross_day,
         |  CAST(MAX(CASE WHEN z_stat * z_stat > 6.25 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS crossed,
         |  MAX_BY(z_stat, day) AS z_final
         |FROM looks GROUP BY nationkey
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q342: QUANTILE TREATMENT EFFECT, user grain — mean differences
    // (q199/q336) hide where in the distribution an effect lives and
    // are dominated by heavy buyers; the median shift per arm is the
    // robust complement (the Lehmann QTE at τ=0.5). DISTINCT from
    // q306, which reads the EVENT grain (per-purchase value cents,
    // interpolated QUANTILE_CONT, one global row): this one is the
    // per-USER metric (purchase count — the same unit the z-test and
    // CUPED read), per NATION, and an EXACT order statistic. Per
    // nation: exact LOWER MEDIAN of per-user purchase counts in each
    // arm (the k-th order statistic at k = ⌊(n+1)/2⌋ — deterministic
    // under ties, since the VALUE at a rank is well-defined however
    // row_number breaks ties) and their difference.
    //
    // Shape at 100 TB: one events scan → per-user keyed counts →
    // broadcast nation join → per-(nation, arm) ordered window. The
    // window partitions are users-per-(nation, arm) — the exact-order-
    // statistic cost; at extreme scale the two-pass q102 global-quantile
    // recipe is the approximate path, this is the exact auditor.
    QueryDef.sql("q342_quantile_treatment_effect") { (s, d) =>
      import graft.Ids
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val keyed = perUser
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("y"))
      // two-pass grouped rank (Scale.groupedRank): 25 nations × 2 arms
      // would cap a plain keyed window at 50 tasks over the user-grain
      // relation. The median reads the VALUE at a rank — tie-safe.
      val med = graft.ops.Scale.groupedRank(
        keyed, Seq("nationkey", "in_a"), "rn", Some("n"), col("y"))
        .filter(col("rn") ===
          floor((col("n") + lit(1L)).cast("double") / lit(2.0)).cast("long"))
      med.groupBy(col("nationkey"))
        .agg(
          max(when(col("in_a"), col("n"))).as("n_a"),
          max(when(col("in_a"), col("y"))).as("med_a"),
          max(when(!col("in_a"), col("n"))).as("n_b"),
          max(when(!col("in_a"), col("y"))).as("med_b"))
        .filter(col("n_a").isNotNull && col("n_b").isNotNull)
        .select(col("nationkey"), col("n_a"), col("med_a"), col("n_b"),
          col("med_b"), (col("med_a") - col("med_b")).as("qte"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY user_id
         |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
         |k AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, y
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey),
         |r AS (
         |  SELECT nationkey, in_a, y,
         |    ROW_NUMBER() OVER (PARTITION BY nationkey, in_a ORDER BY y)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY nationkey, in_a) AS n
         |  FROM k),
         |m AS (
         |  SELECT * FROM r
         |  WHERE rn = CAST(FLOOR(CAST(n + 1 AS DOUBLE) / 2.0) AS BIGINT)),
         |p AS (
         |  SELECT nationkey,
         |    MAX(CASE WHEN in_a THEN n END) AS n_a,
         |    MAX(CASE WHEN in_a THEN y END) AS med_a,
         |    MAX(CASE WHEN NOT in_a THEN n END) AS n_b,
         |    MAX(CASE WHEN NOT in_a THEN y END) AS med_b
         |  FROM m GROUP BY nationkey)
         |SELECT nationkey, n_a, med_a, n_b, med_b,
         |  CAST(med_a - med_b AS BIGINT) AS qte
         |FROM p
         |WHERE n_a IS NOT NULL AND n_b IS NOT NULL
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q343: VALUE-DISTRIBUTION DRIFT — the two-sample chi-square
    // homogeneity test per event_type across the 2024-01-16 boundary
    // (q338's split): did the SHAPE of the value distribution move, not
    // just its mean (q195's CUSUM watches the mean; a price-mix shift
    // with a constant mean is invisible there)? Values bucket into
    // seven fixed-width bins (50-wide, last open-ended) — fixed edges,
    // so the statistic is reproducible and mergeable across partitions;
    // χ² = Σ_b (n₁ᵦN₂ − n₂ᵦN₁)² / (N₁N₂(n₁ᵦ+n₂ᵦ)), each term one IEEE
    // chain over exact int64 counts (products computed in double — the
    // int64 cross-product would overflow at ~1e12 rows), summed with
    // the order-insensitive [[Det.dsum]]. Flag at 12.592 (χ²₀.₀₅, 6
    // dof, the full 7-bucket case; read n_buckets for degenerate
    // slices).
    //
    // Shape at 100 TB: one events scan → (event_type, bucket)-keyed
    // conditional counts (map-side combine to ≤ 7·|types| cells) →
    // windows and the final agg ride the cell relation.
    QueryDef.sql("q343_value_drift_chi2") { (s, d) =>
      val cells = Tables(s, d, "events")
        .select(col("event_type"),
          least(floor(col("value") / lit(50.0)), lit(6.0)).cast("long")
            .as("b"),
          (col("ts") < lit("2024-01-16").cast("timestamp")).as("pre"))
        .groupBy(col("event_type"), col("b"))
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("pre"), 1L).otherwise(0L)).as("n2"))
      val wT = Window.partitionBy(col("event_type"))
      val d1 = col("n1").cast("double")
      val d2 = col("n2").cast("double")
      val dN1 = col("nn1").cast("double")
      val dN2 = col("nn2").cast("double")
      val num = (d1 * dN2 - d2 * dN1) * (d1 * dN2 - d2 * dN1)
      val term = when(col("nn1") === 0L || col("nn2") === 0L, 0.0)
        .otherwise(num / (dN1 * dN2 * (d1 + d2)))
      cells
        .withColumn("nn1", sum(col("n1")).over(wT))
        .withColumn("nn2", sum(col("n2")).over(wT))
        .withColumn("term", term)
        .groupBy(col("event_type"))
        .agg(max(col("nn1")).as("n_pre"), max(col("nn2")).as("n_post"),
          count(lit(1)).as("n_buckets"),
          Det.dsum(col("term")).as("chi2"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          col("n_buckets"), col("chi2"),
          when(col("chi2") > 12.592, 1L).otherwise(0L).as("drift_flag"))
        .orderBy("event_type")
    } {
      s"""WITH cells AS (
         |  SELECT event_type,
         |    CAST(LEAST(FLOOR(value / 50.0), 6.0) AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM events
         |  GROUP BY event_type, CAST(LEAST(FLOOR(value / 50.0), 6.0)
         |    AS BIGINT)),
         |t AS (
         |  SELECT event_type, n1, n2,
         |    CAST(SUM(n1) OVER (PARTITION BY event_type) AS BIGINT) AS nn1,
         |    CAST(SUM(n2) OVER (PARTITION BY event_type) AS BIGINT) AS nn2
         |  FROM cells),
         |terms AS (
         |  SELECT event_type, nn1, nn2,
         |    CASE WHEN nn1 = 0 OR nn2 = 0 THEN 0.0
         |      ELSE (CAST(n1 AS DOUBLE) * CAST(nn2 AS DOUBLE)
         |          - CAST(n2 AS DOUBLE) * CAST(nn1 AS DOUBLE))
         |        * (CAST(n1 AS DOUBLE) * CAST(nn2 AS DOUBLE)
         |          - CAST(n2 AS DOUBLE) * CAST(nn1 AS DOUBLE))
         |        / (CAST(nn1 AS DOUBLE) * CAST(nn2 AS DOUBLE)
         |          * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) END AS term
         |  FROM t)
         |SELECT event_type,
         |  MAX(nn1) AS n_pre, MAX(nn2) AS n_post,
         |  COUNT(*) AS n_buckets,
         |  ${graft.Det.dsumSql("term")} AS chi2,
         |  CAST(CASE WHEN ${graft.Det.dsumSql("term")} > 12.592
         |    THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
         |FROM terms GROUP BY event_type
         |ORDER BY event_type""".stripMargin
    },

    // ------------------------------------------------------------------
    // q344: WINSORIZED TREATMENT EFFECT — the industry-standard
    // heavy-tail guard for metric readouts: cap each user's purchase
    // count at their (nation, arm) cell's exact p90 order statistic
    // (k = ⌈0.9·n⌉ — deterministic under ties, q342's argument), then
    // compare winsorized arm means. One whale can no longer buy a
    // significant readout. Per nation: raw and winsorized means per
    // arm, both diffs, and the caps — the (raw − winsorized) gap is
    // itself the outlier-influence diagnostic. Every mean is an exact
    // int64 ratio (capped counts stay integers).
    //
    // Shape at 100 TB: one events scan → per-user keyed counts →
    // broadcast nation join → per-(nation, arm) ordered window for the
    // cap (q342's partition posture: users-per-cell, the exact-order-
    // statistic cost) → one keyed agg to |nations| rows.
    QueryDef.sql("q344_winsorized_effect") { (s, d) =>
      import graft.Ids
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val keyed = perUser
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("y"))
      // two-pass grouped rank (Scale.groupedRank — a plain keyed window
      // would cap at |nations|×2 tasks over the user-grain relation),
      // then the winsorized sum by the RANK-RANGE identity instead of a
      // cap broadcast-back window: with cap = y at rank k = ⌈0.9 n⌉,
      // Σ min(y, cap) = Σ_{rn ≤ k} y + (n − k)·cap (rows at rn ≤ k have
      // y ≤ cap; rows above have y ≥ cap — tie-invariant, since sums
      // over rank ranges of ordered values don't depend on tie order).
      // Everything lands in ONE keyed agg; k is recomputed from the
      // per-arm count in the final select through the SAME kOf — one
      // definition of the winsorization threshold, used everywhere.
      val ranked = graft.ops.Scale.groupedRank(
        keyed, Seq("nationkey", "in_a"), "rn", Some("n"), col("y"))
      def kOf(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ceil(n.cast("double") * lit(0.9)).cast("long")
      val k = kOf(col("n"))
      def sywOf(sylow: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
          cap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sylow + (n - kOf(n)) * cap
      ranked.groupBy(col("nationkey"))
        .agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("in_a"), col("y")).otherwise(0L)).as("sy_a"),
          sum(when(col("in_a") && col("rn") <= k, col("y")).otherwise(0L))
            .as("sylow_a"),
          max(when(col("in_a") && col("rn") === k, col("y"))).as("cap_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("in_a"), col("y")).otherwise(0L)).as("sy_b"),
          sum(when(!col("in_a") && col("rn") <= k, col("y")).otherwise(0L))
            .as("sylow_b"),
          max(when(!col("in_a") && col("rn") === k, col("y"))).as("cap_b"))
        .filter(col("n_a") > 0L && col("n_b") > 0L)
        .withColumn("syw_a", sywOf(col("sylow_a"), col("n_a"), col("cap_a")))
        .withColumn("syw_b", sywOf(col("sylow_b"), col("n_b"), col("cap_b")))
        .select(col("nationkey"), col("n_a"), col("n_b"),
          col("cap_a"), col("cap_b"),
          (col("sy_a").cast("double") / col("n_a").cast("double"))
            .as("mean_a"),
          (col("sy_b").cast("double") / col("n_b").cast("double"))
            .as("mean_b"),
          (col("syw_a").cast("double") / col("n_a").cast("double"))
            .as("wmean_a"),
          (col("syw_b").cast("double") / col("n_b").cast("double"))
            .as("wmean_b"),
          (col("sy_a").cast("double") / col("n_a").cast("double") -
            col("sy_b").cast("double") / col("n_b").cast("double"))
            .as("diff_raw"),
          (col("syw_a").cast("double") / col("n_a").cast("double") -
            col("syw_b").cast("double") / col("n_b").cast("double"))
            .as("diff_winsorized"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY user_id
         |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
         |k AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    ${graft.Ids.hashSql("user_id")} % 2 = 0 AS in_a, y
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey),
         |r AS (
         |  SELECT nationkey, in_a, y,
         |    ROW_NUMBER() OVER (PARTITION BY nationkey, in_a ORDER BY y)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY nationkey, in_a) AS n
         |  FROM k),
         |cpd AS (
         |  SELECT nationkey, in_a, y,
         |    MAX(CASE WHEN rn = CAST(CEIL(CAST(n AS DOUBLE) * 0.9)
         |      AS BIGINT) THEN y END)
         |      OVER (PARTITION BY nationkey, in_a) AS cap
         |  FROM r),
         |w AS (
         |  SELECT nationkey, in_a, y, cap, LEAST(y, cap) AS yw FROM cpd),
         |p AS (
         |  SELECT nationkey,
         |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN in_a THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |    CAST(SUM(CASE WHEN in_a THEN yw ELSE 0 END) AS BIGINT)
         |      AS syw_a,
         |    MAX(CASE WHEN in_a THEN cap END) AS cap_a,
         |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(SUM(CASE WHEN NOT in_a THEN y ELSE 0 END) AS BIGINT)
         |      AS sy_b,
         |    CAST(SUM(CASE WHEN NOT in_a THEN yw ELSE 0 END) AS BIGINT)
         |      AS syw_b,
         |    MAX(CASE WHEN NOT in_a THEN cap END) AS cap_b
         |  FROM w GROUP BY nationkey
         |  HAVING SUM(CASE WHEN in_a THEN 1 ELSE 0 END) > 0
         |     AND SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) > 0)
         |SELECT nationkey, n_a, n_b, cap_a, cap_b,
         |  CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
         |  CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
         |  CAST(syw_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS wmean_a,
         |  CAST(syw_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS wmean_b,
         |  CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |    - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff_raw,
         |  CAST(syw_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |    - CAST(syw_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |    AS diff_winsorized
         |FROM p
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q345: JACKKNIFE CONFIDENCE INTERVAL — the global heavy-buyer
    // conversion-rate difference (q335's metric: ≥ 14 purchases —
    // q199's any-purchase flag saturates on this fixture, leaving
    // nothing to resample) with a leave-one-NATION-out jackknife: delete
    // one nation's users at a time, recompute Δ = p_a − p_b, and read
    // the variance of the pseudo-series — the distribution-free CI that
    // respects clustering by geography (users within a nation are
    // correlated; the binomial SE underestimates that). g pseudo-values
    // from the |nations|-row count relation — the corpus is scanned
    // once, the jackknife is pure arithmetic on exact int64 counts;
    // pseudo-value moments go through the order-insensitive fine-grid
    // [[Det.csum]] (scale 12 — see the inline bound). Output: one row —
    // Δ, jackknife SE, the ±2·SE CI, and g.
    //
    // Shape at 100 TB: one events scan → per-user keyed flags →
    // broadcast nation join → |nations|-row counts; the leave-one-out
    // series is that relation joined to its own one-row global sum
    // (broadcast), never a second pass.
    QueryDef.sql("q345_jackknife_ci") { (s, d) =>
      import graft.Ids
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            >= 14L, 1L).otherwise(0L).as("converted"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      // freeze the |nations|-row count relation: three consumers below
      // (the totals row twice + the leave-one-out series) — the freeze
      // runs the events scan ONCE (q338's posture)
      val byNation = graft.Checkpoints.checkpointLazy(flags
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("converted"))
        .groupBy(col("nationkey"))
        .agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("in_a"), col("converted")).otherwise(0L)).as("xa"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("xb")))
      val tot = byNation.agg(sum(col("na")).as("tna"), sum(col("xa")).as("txa"),
        sum(col("nb")).as("tnb"), sum(col("xb")).as("txb"))
      // leave-one-out pseudo-values: Δ_(i) over the counts minus nation i
      val loo = byNation.crossJoin(broadcast(tot))
        .select(
          ((col("txa") - col("xa")).cast("double") /
            greatest(col("tna") - col("na"), lit(1L)).cast("double") -
            (col("txb") - col("xb")).cast("double") /
              greatest(col("tnb") - col("nb"), lit(1L)).cast("double"))
            .as("delta_i"))
      // pseudo-value moments at the 1e-12 grid (csum scale 12), NOT the
      // 1e-6 dsum grid: at 1e6+ users the deltas differ by ~1e-4 and
      // their centered square sum is ~1e-7 — a 1e-6 grid would bury the
      // variance in quantization noise. Overflow headroom: |Δᵢ| ≤ 1 →
      // per-term units ≤ 1e12, × |nations| ≈ 25 ≪ 2^63.
      val g = loo.agg(
        count(lit(1)).as("g"),
        Det.csum(col("delta_i"), 12).as("sd"),
        Det.csum(col("delta_i") * col("delta_i"), 12).as("sdd"))
      g.crossJoin(broadcast(tot))
        .select(
          (col("txa").cast("double") / col("tna").cast("double") -
            col("txb").cast("double") / col("tnb").cast("double"))
            .as("delta"),
          col("g"),
          // var_jack = (g-1)/g · Σ(Δᵢ − Δ̄)² = (g-1)/g · (ΣΔᵢ² − (ΣΔᵢ)²/g);
          // the greatest(…, 0) clamp absorbs the ε-negative a 1e-6
          // quantized sdd can produce (sqrt(-ε) would hash as NaN)
          sqrt(((col("g") - 1L).cast("double") / col("g").cast("double")) *
            greatest(col("sdd") - col("sd") * col("sd") /
              col("g").cast("double"), lit(0.0)))
            .as("se_jack"))
        .select(col("delta"), col("g"), col("se_jack"),
          (col("delta") - lit(2.0) * col("se_jack")).as("ci_lo"),
          (col("delta") + lit(2.0) * col("se_jack")).as("ci_hi"))
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
         |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted
         |  FROM events GROUP BY user_id
         |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
         |bn AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 = 0
         |      THEN converted ELSE 0 END) AS BIGINT) AS xa,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 <> 0
         |      THEN converted ELSE 0 END) AS BIGINT) AS xb
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey
         |  GROUP BY c.c_nationkey),
         |tot AS (
         |  SELECT CAST(SUM(na) AS BIGINT) AS tna,
         |    CAST(SUM(xa) AS BIGINT) AS txa,
         |    CAST(SUM(nb) AS BIGINT) AS tnb,
         |    CAST(SUM(xb) AS BIGINT) AS txb FROM bn),
         |loo AS (
         |  SELECT
         |    CAST(txa - xa AS DOUBLE)
         |        / CAST(GREATEST(tna - na, 1) AS DOUBLE)
         |      - CAST(txb - xb AS DOUBLE)
         |        / CAST(GREATEST(tnb - nb, 1) AS DOUBLE) AS delta_i
         |  FROM bn CROSS JOIN tot),
         |m AS (
         |  SELECT COUNT(*) AS g,
         |    ${graft.Det.csumSql("delta_i", 12)} AS sd,
         |    ${graft.Det.csumSql("delta_i * delta_i", 12)} AS sdd
         |  FROM loo)
         |SELECT
         |  CAST(txa AS DOUBLE) / CAST(tna AS DOUBLE)
         |    - CAST(txb AS DOUBLE) / CAST(tnb AS DOUBLE) AS delta,
         |  g,
         |  SQRT((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE))
         |    * GREATEST(sdd - sd * sd / CAST(g AS DOUBLE), 0.0)) AS se_jack,
         |  CAST(txa AS DOUBLE) / CAST(tna AS DOUBLE)
         |    - CAST(txb AS DOUBLE) / CAST(tnb AS DOUBLE)
         |    - 2.0 * SQRT((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE))
         |      * GREATEST(sdd - sd * sd / CAST(g AS DOUBLE), 0.0)) AS ci_lo,
         |  CAST(txa AS DOUBLE) / CAST(tna AS DOUBLE)
         |    - CAST(txb AS DOUBLE) / CAST(tnb AS DOUBLE)
         |    + 2.0 * SQRT((CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE))
         |      * GREATEST(sdd - sd * sd / CAST(g AS DOUBLE), 0.0)) AS ci_hi
         |FROM m CROSS JOIN tot""".stripMargin
    },

    // ------------------------------------------------------------------
    // q346: EFFECT HETEROGENEITY (Cochran's Q + I²) — before reading
    // q335's per-nation tests OR q345's pooled CI, decide which one is
    // even meaningful: fixed-effect meta-analysis across nations with
    // inverse-variance weights wᵢ = 1/varᵢ (unpooled two-proportion
    // variance), weighted mean effect θ̄, Q = Σ wᵢ(θᵢ − θ̄)², and
    // I² = max(0, (Q − (k−1))/Q) — the share of between-nation variance
    // that is real heterogeneity rather than sampling noise. High I²
    // says "the per-nation table is the readout"; low says "pool".
    // Every wᵢ/θᵢ is one IEEE chain on exact int64 counts; the three
    // weighted sums go through [[Det.dsum]]. Degenerate cells (an empty
    // arm or a 0/1 proportion on both arms → varᵢ = 0) are excluded
    // from the meta-set, k counts the included nations.
    //
    // Shape at 100 TB: one events scan → per-user flags → broadcast
    // nation join → |nations|-row counts; everything after is
    // arithmetic on that relation.
    QueryDef.sql("q346_effect_heterogeneity") { (s, d) =>
      import graft.Ids
      val flags = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("exposed"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            >= 14L, 1L).otherwise(0L).as("converted"))
        .filter(col("exposed") === 1L)
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val byNation = flags
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          (Ids.hash("user_id") % 2 === 0).as("in_a"), col("converted"))
        .groupBy(col("nationkey"))
        .agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("in_a"), col("converted")).otherwise(0L)).as("xa"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("xb"))
        .filter(col("na") > 0L && col("nb") > 0L)
      val pa = col("xa").cast("double") / col("na").cast("double")
      val pb = col("xb").cast("double") / col("nb").cast("double")
      val vi = pa * (lit(1.0) - pa) / col("na").cast("double") +
        pb * (lit(1.0) - pb) / col("nb").cast("double")
      val scored = byNation
        .withColumn("theta", pa - pb)
        .withColumn("vi", vi)
        .filter(col("vi") > 0.0)
        .withColumn("w", lit(1.0) / col("vi"))
      val m = scored.agg(
        count(lit(1)).as("k"),
        Det.dsum(col("w")).as("sw"),
        Det.dsum(col("w") * col("theta")).as("swt"),
        Det.dsum(col("w") * col("theta") * col("theta")).as("swtt"))
      // Q = Σwθ² − (Σwθ)²/Σw (the one-pass identity); I² from Q and k
      m.select(col("k"),
          (col("swt") / col("sw")).as("theta_bar"),
          (col("swtt") - col("swt") * col("swt") / col("sw")).as("q_stat"))
        .select(col("k"), col("theta_bar"), col("q_stat"),
          when(col("q_stat") <= 0.0 || col("k") <= 1L, 0.0)
            .otherwise(greatest(lit(0.0),
              (col("q_stat") - (col("k") - 1L).cast("double")) /
                col("q_stat"))).as("i2"))
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
         |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted
         |  FROM events GROUP BY user_id
         |  HAVING MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1),
         |bn AS (
         |  SELECT c.c_nationkey AS nationkey,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 = 0
         |      THEN converted ELSE 0 END) AS BIGINT) AS xa,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 <> 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 <> 0
         |      THEN converted ELSE 0 END) AS BIGINT) AS xb
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey
         |  GROUP BY c.c_nationkey
         |  HAVING SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 = 0
         |      THEN 1 ELSE 0 END) > 0
         |    AND SUM(CASE WHEN ${graft.Ids.hashSql("user_id")} % 2 <> 0
         |      THEN 1 ELSE 0 END) > 0),
         |sc AS (
         |  SELECT
         |    CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
         |      - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE) AS theta,
         |    (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE))
         |      * (1.0 - CAST(xa AS DOUBLE) / CAST(na AS DOUBLE))
         |      / CAST(na AS DOUBLE)
         |    + (CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
         |      * (1.0 - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
         |      / CAST(nb AS DOUBLE) AS vi
         |  FROM bn),
         |f AS (SELECT theta, 1.0 / vi AS w FROM sc WHERE vi > 0.0),
         |m AS (
         |  SELECT COUNT(*) AS k,
         |    ${graft.Det.dsumSql("w")} AS sw,
         |    ${graft.Det.dsumSql("w * theta")} AS swt,
         |    ${graft.Det.dsumSql("w * theta * theta")} AS swtt
         |  FROM f)
         |SELECT k, swt / sw AS theta_bar,
         |  swtt - swt * swt / sw AS q_stat,
         |  CASE WHEN swtt - swt * swt / sw <= 0.0 OR k <= 1 THEN 0.0
         |    ELSE GREATEST(0.0, ((swtt - swt * swt / sw)
         |      - CAST(k - 1 AS DOUBLE)) / (swtt - swt * swt / sw)) END
         |    AS i2
         |FROM m""".stripMargin
    },

    // ------------------------------------------------------------------
    // q348: PURCHASE GINI — revenue-concentration inequality per nation
    // over per-user purchase counts: the standard complement to an HHI
    // (q294 measures supplier concentration over shares; Gini reads the
    // whole user distribution). Computed by the sorted-rank identity
    // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) — all-integer numerator and
    // denominator, ONE terminal division; tie order is irrelevant (a
    // tied block contributes x·Σi whatever the permutation, so
    // row_number under ties cannot change the sum). NULL when a nation
    // has zero purchases (undefined inequality, not 0).
    //
    // Shape at 100 TB: one events scan → per-user keyed counts →
    // broadcast nation join → the TWO-PASS grouped rank
    // (Scale.groupedRank: 25 nations would cap a plain keyed window at
    // 25 tasks over the user-grain relation; the range shuffle spreads
    // each nation across the cluster) → one keyed agg to |nations|
    // rows. Rank ties on x are value-safe here by the Σi·x identity.
    QueryDef.sql("q348_purchase_gini") { (s, d) =>
      val perUser = Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ranked = graft.ops.Scale.groupedRank(
        perUser
          .join(broadcast(cust), col("user_id") === col("c_custkey"))
          .select(col("c_nationkey").as("nationkey"), col("x")),
        Seq("nationkey"), "i", None, col("x"))
      ranked.groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("total_purchases"),
          sum(col("i") * col("x")).as("six"))
        .select(col("nationkey"), col("n_users"), col("total_purchases"),
          when(col("total_purchases") === 0L, lit(null).cast("double"))
            .otherwise(
              (lit(2.0) * col("six").cast("double") -
                (col("n_users") + 1L).cast("double") *
                  col("total_purchases").cast("double")) /
                (col("n_users").cast("double") *
                  col("total_purchases").cast("double"))).as("gini"))
        .orderBy("nationkey")
    } {
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x
         |  FROM events GROUP BY user_id),
         |r AS (
         |  SELECT c.c_nationkey AS nationkey, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY c.c_nationkey ORDER BY x)
         |      AS BIGINT) AS i
         |  FROM pu JOIN customer c ON pu.user_id = c.c_custkey)
         |SELECT nationkey, COUNT(*) AS n_users,
         |  CAST(SUM(x) AS BIGINT) AS total_purchases,
         |  CASE WHEN SUM(x) = 0 THEN NULL
         |    ELSE (2.0 * CAST(SUM(i * x) AS DOUBLE)
         |        - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
         |      / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) END
         |    AS gini
         |FROM r GROUP BY nationkey
         |ORDER BY nationkey""".stripMargin
    },

    // ------------------------------------------------------------------
    // q350: FANO BURSTINESS INDEX — variance-to-mean ratio of per-minute
    // event counts per event_type over the DENSE minute grid (empty
    // minutes count — a Poisson-uniform stream reads ≈ 1, clumped
    // traffic reads ≫ 1). q92 flags WHICH windows burst; this is the
    // one-number dispersion summary that says whether a type bursts at
    // all. Fano = (m·Σc² − (Σc)²) / (m·Σc) over exact int64 sums (zeros
    // contribute nothing to either sum, so only observed minutes are
    // scanned; m comes from the global span), one fixed IEEE chain.
    //
    // Shape at 100 TB: one events scan → (type, minute)-keyed counts
    // (map-side combine) → |types|-row moment agg + ONE broadcast
    // global-span row.
    QueryDef.sql("q350_fano_burstiness") { (s, d) =>
      // freeze the (type × minute)-sized cell relation: both consumers
      // (the span row and the moment agg) read the frozen copy — ONE
      // events scan (q345's posture). The global span off the cells is
      // the span off the events: min/max survive the grouping.
      val cells = graft.Checkpoints.checkpointLazy(
        Tables(s, d, "events")
          .select(col("event_type"), date_trunc("minute", col("ts")).as("mi"))
          .groupBy(col("event_type"), col("mi"))
          .agg(count(lit(1)).as("c")))
      val span = cells.agg(
        ((unix_timestamp(max(col("mi"))) - unix_timestamp(min(col("mi"))))
          / lit(60L)).cast("long").+(lit(1L)).as("m"))
      val fano = (col("m").cast("double") * col("scc").cast("double") -
        col("sc").cast("double") * col("sc").cast("double")) /
        (col("m").cast("double") * col("sc").cast("double"))
      cells.groupBy(col("event_type"))
        .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"),
          count(lit(1)).as("active_minutes"))
        .crossJoin(broadcast(span))
        .select(col("event_type"), col("m").as("m_minutes"),
          col("active_minutes"), col("sc").as("n_events"),
          (col("sc").cast("double") / col("m").cast("double")).as("mean"),
          fano.as("fano"),
          when(fano > 1.5, 1L).otherwise(0L).as("bursty_flag"))
        .orderBy("event_type")
    } {
      """WITH ev AS (
        |  SELECT event_type, DATE_TRUNC('minute', ts) AS mi FROM events),
        |cells AS (
        |  SELECT event_type, mi, COUNT(*) AS c
        |  FROM ev GROUP BY event_type, mi),
        |span AS (
        |  SELECT CAST((EPOCH(MAX(mi)) - EPOCH(MIN(mi))) / 60 + 1 AS BIGINT)
        |    AS m FROM ev),
        |t AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS BIGINT) AS scc,
        |    COUNT(*) AS active_minutes
        |  FROM cells GROUP BY event_type)
        |SELECT event_type, m AS m_minutes, active_minutes,
        |  sc AS n_events,
        |  CAST(sc AS DOUBLE) / CAST(m AS DOUBLE) AS mean,
        |  (CAST(m AS DOUBLE) * CAST(scc AS DOUBLE)
        |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / (CAST(m AS DOUBLE) * CAST(sc AS DOUBLE)) AS fano,
        |  CAST(CASE WHEN (CAST(m AS DOUBLE) * CAST(scc AS DOUBLE)
        |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |      / (CAST(m AS DOUBLE) * CAST(sc AS DOUBLE)) > 1.5
        |    THEN 1 ELSE 0 END AS BIGINT) AS bursty_flag
        |FROM t CROSS JOIN span
        |ORDER BY event_type""".stripMargin
    }
  )

  /** q298's two-proportion z over (base_prev, conv_prev, base, conv) —
    * q199's pooled-SE chain, NULL on a degenerate pooled rate.
    */
  private def FunnelZExpr: String =
    "CASE WHEN CAST(conv_prev + conv AS DOUBLE) / " +
      "CAST(base_prev + base AS DOUBLE) IN (0.0, 1.0) THEN NULL ELSE " +
      "(CAST(conv AS DOUBLE) / CAST(base AS DOUBLE) - " +
      "CAST(conv_prev AS DOUBLE) / CAST(base_prev AS DOUBLE)) / " +
      "SQRT((CAST(conv_prev + conv AS DOUBLE) / " +
      "CAST(base_prev + base AS DOUBLE)) * " +
      "(1.0 - CAST(conv_prev + conv AS DOUBLE) / " +
      "CAST(base_prev + base AS DOUBLE)) * " +
      "(1.0 / CAST(base AS DOUBLE) + 1.0 / CAST(base_prev AS DOUBLE))) END"

  /** q276's closed-form per-arm size: 2(z_a+z_b)^2*p(1-p)/(p*rel)^2, one
    * shared IEEE chain (z's are shortest-round-trip doubles for alpha=0.05
    * two-sided and power 0.8).
    */
  private def SampleSizeExpr: String =
    "CAST(CEIL(((1.959963984540054 + 0.8416212335729143) * " +
      "(1.959963984540054 + 0.8416212335729143)) * 2.0 * p * (1.0 - p) / " +
      "((p * rel_mde) * (p * rel_mde))) AS BIGINT)"
}
