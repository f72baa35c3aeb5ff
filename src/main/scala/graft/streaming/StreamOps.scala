package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming operator library (SURVEY.md §2.2 streaming row): watermarked
  * windows, streaming dedup, stream-static joins, and arbitrary stateful
  * processing over either the sharded-stream envelope or decoded events.
  * Batch twins of the window/dedup/session ops are oracle-verified in
  * `graft.ops.Events`; the streaming forms are ScalaTest-covered
  * (StreamOpsSpec, ShardedStreamSourceSpec).
  *
  * All operators group by explicit keys (shard, user, window) — state is
  * partitioned and survives scale-out; nothing accumulates on the driver.
  */
object StreamOps {

  /** Decode the envelope's opaque `data` payload (UTF-8 JSON) into typed
    * columns — schema-on-read over the kinesumer `Data []byte` analog.
    */
  def decodeJson(envelope: DataFrame, payloadSchema: StructType): DataFrame =
    envelope.withColumn("payload",
        from_json(col("data").cast("string"), payloadSchema))
      .select(col("stream"), col("shard_id"), col("sequence_number"),
        col("partition_key"), col("approx_arrival"), col("payload.*"))

  /** Tumbling-window counts/sums with a watermark for state eviction —
    * the slide == window special case of [[slidingAgg]].
    */
  def tumblingAgg(
      events: DataFrame,
      timeCol: String,
      windowDuration: String,
      watermarkDelay: String,
      valueCol: String): DataFrame =
    slidingAgg(events, timeCol, windowDuration, windowDuration,
      watermarkDelay, valueCol)

  /** Sliding-window counts/sums: `windowDuration`-long windows advancing
    * every `slideDuration` (an event lands in window/slide windows); the
    * watermark bounds how long window state is kept — the streaming twin
    * of the batch q18 operator.
    */
  def slidingAgg(
      events: DataFrame,
      timeCol: String,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      valueCol: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDuration, slideDuration).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Session windows per key with a gap; watermark bounds session state. */
  def sessionAgg(
      events: DataFrame,
      timeCol: String,
      keyCol: String,
      gap: String,
      watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .groupBy(session_window(col(timeCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming deduplication by key within the watermark horizon. */
  def dedupWithinWatermark(
      events: DataFrame,
      timeCol: String,
      watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static join: enrich a stream against a (broadcastable)
    * dimension table. The dimension is re-read per micro-batch by Spark,
    * so slowly-changing dims stay fresh.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Stream-stream interval join: left events matched to right events of
    * the same key within `(0, window]` after the left event. Watermarks on
    * both sides bound the join state; the range condition lets Spark evict
    * buffered rows — the streaming form of the q22 funnel operator.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      leftKey: String, rightKey: String,
      window: String, watermarkDelay: String): DataFrame =
    intervalJoinImpl(left, right, leftTime, rightTime, leftKey, rightKey,
      window, watermarkDelay, "inner", symmetric = false)

  /** Shared scaffold of the interval-join family: one condition builder
    * so a boundary fix cannot diverge across the three join types. Both
    * sides get UNIQUE DATASET ALIASES and the condition uses qualified
    * names: the natural funnel use is a SELF-join of one decoded stream
    * filtered two ways, where both unqualified col(name) AND
    * dataset-qualified refs are ambiguous on every shared column (the
    * filters don't re-alias the attributes).
    */
  private def intervalJoinImpl(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      leftKey: String, rightKey: String,
      window: String, watermarkDelay: String,
      joinType: String, symmetric: Boolean): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkDelay).as("__ijl")
    val r = right.withWatermark(rightTime, watermarkDelay).as("__ijr")
    val (lt, rt) = (col(s"__ijl.$leftTime"), col(s"__ijr.$rightTime"))
    val lower =
      if (symmetric) rt >= lt - expr(s"INTERVAL $window")
      else rt > lt
    l.join(r,
      col(s"__ijl.$leftKey") === col(s"__ijr.$rightKey") && lower &&
        rt <= lt + expr(s"INTERVAL $window"),
      joinType)
  }

  /** LEFT OUTER stream-stream interval join: every left event is emitted;
    * the right columns are null when no match arrived in the interval.
    * Unlike the inner form, the null-extended row for an unmatched left
    * event can only be emitted once the watermark has passed the whole
    * interval in which a match could still arrive — so outer results
    * trail the watermark by `window + watermarkDelay`, which is the
    * documented Spark semantics, not a bug. Both watermarks and the range
    * condition are REQUIRED for outer interval joins (Spark refuses the
    * query otherwise — unbounded state).
    */
  def leftOuterIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      leftKey: String, rightKey: String,
      window: String, watermarkDelay: String): DataFrame =
    intervalJoinImpl(left, right, leftTime, rightTime, leftKey, rightKey,
      window, watermarkDelay, "left_outer", symmetric = false)

  /** FULL OUTER stream-stream interval join — completes the outer-join
    * family: matched pairs emit immediately (inner semantics); an
    * unmatched event on EITHER side emits null-extended once the
    * watermark has passed every instant at which its partner could
    * still arrive. The state bound is identical to the one-sided outer
    * forms — both watermarks plus the range condition are mandatory —
    * and so is the trailing emission (outer rows follow the watermark by
    * `window + watermarkDelay`). Symmetric interval: a right event
    * within ±`window` of the left matches, because in full-outer use
    * (reconciliation of two event feeds) neither side is privileged as
    * "first".
    */
  def fullOuterIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      leftKey: String, rightKey: String,
      window: String, watermarkDelay: String): DataFrame =
    intervalJoinImpl(left, right, leftTime, rightTime, leftKey, rightKey,
      window, watermarkDelay, "full_outer", symmetric = true)

  /** Per-band LSH bucket membership for streaming near-dup detection. */
  final case class BucketMembers(ids: Seq[Long])

  /** STREAMING near-duplicate candidate detection across micro-batches:
    * each arriving document computes its MinHash signatures (the same
    * codegen kernel as the batch `Dedup.minhashDedup`), fans out to 8
    * LSH band keys, and every band bucket keeps its member list as
    * keyed state — an arriving document emits a candidate pair with
    * every earlier document that ever shared one of its buckets, in the
    * batch it arrives. This is what neither the batch operator (no
    * cross-batch memory) nor `dropDuplicatesWithinWatermark` (exact
    * keys only) can express.
    *
    * Emitted pairs are CANDIDATES (verify exactly downstream against a
    * document store) and may repeat when two documents share several
    * bands — consumers dedupe or route through streaming dedup. Bucket
    * state is capped at `maxBucketMembers` per band key (oldest evicted
    * first): at corpus scale an uncapped hot bucket — boilerplate
    * documents — would otherwise grow state without bound. The NUMBER of
    * band keys still grows with corpus vocabulary, so long-running
    * streams should set `stateTtl` (e.g. "7 days"): buckets idle past
    * the TTL are evicted wholesale via a processing-time timeout,
    * trading recall against far-apart duplicates for bounded state —
    * the standard sliding-window posture for streaming dedup. None
    * keeps state forever (exact cross-batch behavior, bounded corpora).
    */
  def streamingNearDupCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      maxBucketMembers: Int = 64,
      stateTtl: Option[String] = None): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    val bands = docs
      // null/malformed ids would kill the Long encoder (or the ANSI
      // cast) downstream — drop them instead of dying on a poison record
      .filter(expr(s"try_cast($idCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($idCol AS bigint)").as("doc_id"),
        split(col(textCol), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
      // sorted = false: minhash_sigs is a pure min-fold (order-free), and
      // unlike the batch operator nothing downstream needs sorted shingles
      .withColumn("sigs",
        expr(s"minhash_sigs(${graft.llm.Lsh.shingleHashesSql(sorted = false)})"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 7), b -> named_struct(
          |  'band', b,
          |  'bkey', xxhash64(element_at(sigs, b*4+1), element_at(sigs, b*4+2),
          |                   element_at(sigs, b*4+3), element_at(sigs, b*4+4), b)))""".stripMargin))
        .as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
      .as[(Long, Int, Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands.groupByKey { case (_, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState[BucketMembers, (Long, Long)](
        OutputMode.Append, timeoutConf) {
        case (_, rows, state: GroupState[BucketMembers]) =>
          if (state.hasTimedOut) {
            // bucket idle past the TTL: evict wholesale
            state.remove()
            Iterator.empty
          } else {
            val existing = state.getOption.map(_.ids).getOrElse(Seq.empty)
            val arriving = rows.map(_._1).toSeq.distinct
              .filterNot(existing.contains).sorted
            val known = scala.collection.mutable.ArrayBuffer(existing: _*)
            val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
            arriving.foreach { n =>
              known.foreach { e =>
                if (e != n) out += (if (e < n) (e, n) else (n, e))
              }
              known += n
            }
            state.update(BucketMembers(known.toSeq.takeRight(maxBucketMembers)))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Per-shard consumption progress (records seen, max sequence) via
    * arbitrary stateful processing — the engine-side analog of the
    * reference's in-memory checkpoint bookkeeping
    * (`/root/reference/kinesumer.go:746-764`), as a queryable operator.
    */
  final case class ShardProgress(
      stream: String, shard_id: String, n_records: Long, max_sequence: Long)

  /** One closed session per (user, quiet period): arbitrary stateful
    * processing via flatMapGroupsWithState with an event-time timeout.
    * State is the key's OPEN session intervals (plural — late events
    * within the watermark may open an earlier, disjoint session, and an
    * event can bridge two intervals into one); an interval only closes —
    * and is emitted — once the watermark passes its end + gap, so late
    * data merges into the correct session instead of whichever happens
    * to be open. Demonstrates the 0..N-emissions form that
    * mapGroupsWithState (1 output per group per batch) cannot express.
    */
  final case class OpenSession(start: Long, end: Long, n: Long)
  final case class OpenSessions(sessions: Seq[OpenSession])
  final case class ClosedSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  def closedSessions(
      events: DataFrame, timeCol: String, keyCol: String,
      gapMinutes: Int, watermarkDelay: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark(timeCol, watermarkDelay)
      // a null key would kill the primitive-Long tuple encoder — and a
      // malformed string key would kill the ANSI cast — taking the whole
      // query down on one poison record; try_cast + filter drops both
      // (the batch twin groups nulls silently)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[OpenSessions]) =>
          def emit(s: OpenSession) = ClosedSession(user,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n)
          val existing = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val arrivals = rows.map(r => OpenSession(r._2.getTime, r._2.getTime, 1L)).toSeq
          // coalesce all intervals (old + new) that are within gap of each
          // other — an arrival may extend a session backwards or bridge two
          // STRICT merge (< gap, not <=): session_window and the q19
          // batch twin both start a NEW session at exactly gap distance
          // ([start, end+gap) is half-open). Strictness also makes the
          // close rule airtight: once wm >= end+gap, any on-time event
          // (ts >= wm) can no longer merge into the emitted session.
          val merged = (existing ++ arrivals).sortBy(_.start)
            .foldLeft(List.empty[OpenSession]) { (acc, s) =>
              acc match {
                case h :: t if s.start - h.end < gapMs =>
                  OpenSession(h.start, math.max(h.end, s.end), h.n + s.n) :: t
                case _ => s :: acc
              }
            }.reverse
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = merged.partition(s => s.end + gapMs <= wm)
          if (open.nonEmpty) {
            state.update(OpenSessions(open))
            state.setTimeoutTimestamp(open.map(_.end).min + gapMs)
          } else state.remove()
          closed.sortBy(_.start).iterator.map(emit)
      }
  }

  /** Streaming twin of q92's burst audit: per (key, tumbling window),
    * emit ONE alert in the first micro-batch where the window's event
    * count reaches `threshold` — the online rate-limit/abuse signal,
    * fired mid-window (a windowed aggregation would only report after
    * the watermark closes the window; an alert that arrives when the
    * burst is over is not an alert). The reported `n_events` is the
    * count as of the END of the crossing batch — if one batch delivers
    * several events it exceeds the threshold by the overshoot (batch
    * boundaries, not the threshold, decide the reported count; spec-
    * pinned). State per group is two longs + a flag; the `alerted`
    * latch makes the alert exactly-once per window across batches, and
    * EventTimeTimeout reaps the state once the watermark passes the
    * window end — bounded by the number of OPEN (key, window) pairs, as
    * any keyed streaming state must be.
    */
  final case class BurstState(count: Long, alerted: Boolean)
  final case class BurstAlert(
      user_id: Long, window_start: java.sql.Timestamp, n_events: Long)

  def burstAlerts(events: DataFrame, timeCol: String, keyCol: String,
      windowMinutes: Int, threshold: Long,
      watermarkDelay: String): Dataset[BurstAlert] = {
    require(windowMinutes >= 1 && threshold >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = windowMinutes * 60L * 1000L
    events
      .withWatermark(timeCol, watermarkDelay)
      // poison-key hygiene: same try_cast rationale as closedSessions
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey { case (user, t) =>
        (user, t.getTime - Math.floorMod(t.getTime, windowMs))
      }
      .flatMapGroupsWithState[BurstState, BurstAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, winStart), rows, state: GroupState[BurstState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(BurstState(0L, alerted = false))
            val n = prev.count + rows.size
            val fire = !prev.alerted && n >= threshold
            state.update(BurstState(n, prev.alerted || fire))
            // reap once the watermark passes the window end; the timeout
            // must stay strictly ahead of the current watermark or the
            // update throws (a window that closed while we held state)
            state.setTimeoutTimestamp(math.max(
              winStart + windowMs, state.getCurrentWatermarkMs() + 1))
            if (fire)
              Iterator.single(
                BurstAlert(user, new java.sql.Timestamp(winStart), n))
            else Iterator.empty
          }
      }
  }

  def shardProgress(envelope: DataFrame): Dataset[ShardProgress] = {
    val spark = envelope.sparkSession
    import spark.implicits._
    envelope
      .select(col("stream"), col("shard_id"), col("sequence_number").cast("long").as("seq"))
      .as[(String, String, Long)]
      .groupByKey { case (stream, shard, _) => (stream, shard) }
      .mapGroupsWithState[ShardProgress, ShardProgress](GroupStateTimeout.NoTimeout) {
        case ((stream, shard), rows, state: GroupState[ShardProgress]) =>
          val prev = state.getOption.getOrElse(ShardProgress(stream, shard, 0L, -1L))
          var n = prev.n_records
          var maxSeq = prev.max_sequence
          rows.foreach { case (_, _, seq) =>
            n += 1
            if (seq > maxSeq) maxSeq = seq
          }
          val next = ShardProgress(stream, shard, n, maxSeq)
          state.update(next)
          next
      }
  }

  /** Streaming twin of q135's k-step ordered funnel: emit a
    * FunnelAdvance the moment a user's next step becomes FINAL — i.e.
    * once the watermark passes the advancing event, so no
    * still-admissible late event could have advanced the automaton
    * earlier. Arrival order is NOT event order under reordering, so
    * advancing on arrival would be wrong; instead events buffer in
    * per-user state until the watermark finalizes them, then replay
    * through the same (ts, event_id)-ordered strictly-increasing
    * automaton as the batch twin — identical final step per user on
    * identical data (spec-asserted against q135's fold). State is
    * bounded: the buffer holds only events above the watermark (arrival
    * rate × allowed lateness) plus two automaton fields; completed
    * users with a drained buffer drop their state entirely.
    */
  final case class FunnelState(step: Int, lastTs: Long,
      pending: Seq[(Long, Long, String)])
  final case class FunnelAdvance(user_id: Long, step: Int, step_name: String,
      ts: java.sql.Timestamp)

  def funnelProgress(events: DataFrame, timeCol: String, keyCol: String,
      steps: Seq[String], watermarkDelay: String): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      // poison-record hygiene: closedSessions' contract (null/malformed
      // keys dropped, never a query-killing cast failure)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[FunnelState]) =>
          val st0 = state.getOption.getOrElse(FunnelState(0, Long.MinValue, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++
            rows.map(r => (r._2.getTime, r._3, r._4))
          // ts <= wm is final: the watermark admits only ts > wm later
          val (ready, hold) = pending.partition(_._1 <= wm)
          var step = st0.step
          var lastTs = st0.lastTs
          val advances = ready.sortBy(t => (t._1, t._2)).flatMap {
            case (ts, _, typ) =>
              if (step < steps.length && typ == steps(step) &&
                (step == 0 || ts > lastTs)) {
                step += 1
                lastTs = ts
                Some(FunnelAdvance(user, step, steps(step - 1),
                  new java.sql.Timestamp(ts)))
              } else None
          }
          if (step >= steps.length && hold.isEmpty) state.remove()
          else {
            state.update(FunnelState(step, lastTs, hold))
            // wake when the watermark can finalize the oldest held event
            // (or on the next advance for an empty buffer — cheap no-op)
            val next = if (hold.nonEmpty) hold.map(_._1).min else wm + 1
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          advances.iterator
      }
  }

  final case class TransState(lastType: String, lastTs: Long, lastId: Long,
      pending: Seq[(Long, Long, String)])
  final case class Transition(user_id: Long, from_type: String,
      to_type: String, ts: java.sql.Timestamp)

  /** Streaming twin of q118's user-journey transition matrix: emits one
    * (from → to) record per consecutive event pair per user, in EVENT
    * time — arrival order cannot invert a transition. Events buffer per
    * user until the watermark finalizes them (the funnelProgress
    * posture), then replay sorted by (ts, event_id); the last finalized
    * event is retained in state so transitions bridge trigger
    * boundaries. Downstream, `groupBy(from_type, to_type).count()` IS
    * the q118 matrix, continuously maintained. State is bounded by the
    * allowed lateness (buffered events) plus one retained record per
    * user.
    */
  def transitionEmitter(events: DataFrame, timeCol: String, keyCol: String,
      watermarkDelay: String): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[TransState]) =>
          val st0 = state.getOption.getOrElse(
            TransState(null, Long.MinValue, Long.MinValue, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++
            rows.map(r => (r._2.getTime, r._3, r._4))
          val (ready, hold) = pending.partition(_._1 <= wm)
          var (lastType, lastTs, lastId) = (st0.lastType, st0.lastTs, st0.lastId)
          val out = ready.sortBy(t => (t._1, t._2)).flatMap {
            case (ts, id, typ) =>
              val t = if (lastType != null)
                Some(Transition(user, lastType, typ, new java.sql.Timestamp(ts)))
              else None
              lastType = typ; lastTs = ts; lastId = id
              t
          }
          state.update(TransState(lastType, lastTs, lastId, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min else wm + 1
          state.setTimeoutTimestamp(math.max(next, wm + 1))
          out.iterator
      }
  }

  final case class Scd1State(lastTs: Long, lastId: Long, value: Double,
      versions: Long, pending: Seq[(Long, Long, Double)])
  final case class CurrentValue(user_id: Long, value: Double,
      versions: Long, ts: java.sql.Timestamp)

  /** Streaming SCD-1 materializer — the keyed current-value store (the
    * streaming twin of q150's batch CDC apply): per key, the latest
    * value in EVENT time, with a version counter. Events buffer until
    * the watermark finalizes them (the funnelProgress/transitionEmitter
    * posture), then replay in (ts, event_id) order — so a late-arriving
    * OLDER record can never overwrite a newer value, the bug every
    * arrival-order upsert store ships with. Emits one [[CurrentValue]]
    * row per trigger per key whose current value changed; downstream
    * foreachBatch upserts it into the serving table. State per key is
    * one scalar record plus the lateness-bounded buffer.
    */
  def latestValueStore(events: DataFrame, timeCol: String, keyCol: String,
      valueCol: String, watermarkDelay: String): Dataset[CurrentValue] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"), col(valueCol).cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd1State, CurrentValue](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[Scd1State]) =>
          val st0 = state.getOption.getOrElse(
            Scd1State(Long.MinValue, Long.MinValue, Double.NaN, 0L, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++
            rows.map(r => (r._2.getTime, r._3, r._4))
          val (ready, hold) = pending.partition(_._1 <= wm)
          var (lastTs, lastId, value, versions) =
            (st0.lastTs, st0.lastId, st0.value, st0.versions)
          ready.sortBy(t => (t._1, t._2)).foreach { case (ts, id, v) =>
            // replay is ordered, so every ready record advances the
            // clock; the guard is belt-and-braces against equal keys
            if (ts > lastTs || (ts == lastTs && id > lastId)) {
              lastTs = ts; lastId = id; value = v; versions += 1
            }
          }
          state.update(Scd1State(lastTs, lastId, value, versions, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min else wm + 1
          state.setTimeoutTimestamp(math.max(next, wm + 1))
          if (versions > st0.versions)
            Iterator(CurrentValue(user, value, versions,
              new java.sql.Timestamp(lastTs)))
          else Iterator.empty
      }
  }

  /** Streaming twin of q153's last-touch attribution: emit one
    * Attribution record per purchase the moment the purchase becomes
    * watermark-FINAL, credited to the user's latest preceding
    * non-purchase event within `lookbackUs`, else 'organic'. Events
    * buffer per user until final (arrival order is not event order),
    * then replay through the same (ts, event_id)-ordered fold as the
    * batch window — identical channel per purchase on identical data
    * (spec-asserted against the q153 window on a replayed fixture).
    * State is bounded and self-evicting: the compacted last-touch pair
    * plus the above-watermark buffer; once the watermark passes
    * last-touch + lookback with an empty buffer, no future purchase
    * (all later than the watermark) can be attributed to it, so the
    * group state is removed entirely.
    */
  final case class TouchState(lastType: String, lastTsUs: Long,
      pending: Seq[(Long, Long, String, Double)])
  final case class Attribution(user_id: Long, ts: java.sql.Timestamp,
      channel: String, value: Double)

  def lastTouchAttribution(events: DataFrame, timeCol: String,
      keyCol: String, purchaseType: String, lookbackUs: Long,
      watermarkDelay: String): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[TouchState]) =>
          val st0 = state.getOption.getOrElse(TouchState(null, Long.MinValue, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r =>
            (r._2.getTime * 1000L + (r._2.getNanos / 1000) % 1000, r._3, r._4, r._5))
          // final iff at-or-below the watermark (ms granularity, like the
          // engine's own finality rule)
          val (ready, hold) = pending.partition(_._1 / 1000 <= wmMs)
          var (lastType, lastTs) = (st0.lastType, st0.lastTsUs)
          val out = ready.sortBy(t => (t._1, t._2)).flatMap {
            case (tsUs, _, typ, value) =>
              if (typ != purchaseType) { lastType = typ; lastTs = tsUs; None }
              else {
                val channel =
                  if (lastType != null && tsUs - lastTs <= lookbackUs) lastType
                  else "organic"
                Some(Attribution(user, new java.sql.Timestamp(tsUs / 1000),
                  channel, value))
              }
          }
          val touchDeadMs = if (lastType == null) Long.MinValue
            else (lastTs + lookbackUs) / 1000
          if (hold.isEmpty && wmMs > touchDeadMs) state.remove()
          else {
            state.update(TouchState(lastType, lastTs, hold))
            val next = if (hold.nonEmpty) hold.map(_._1 / 1000).min
              else touchDeadMs + 1
            state.setTimeoutTimestamp(math.max(next, wmMs + 1))
          }
          out.iterator
      }
  }

  /** Streaming twin of q166's interval-union coverage: each event opens
    * a [ts, ts + intervalUs) activity interval; overlapping intervals
    * merge into islands, and each island is emitted EXACTLY ONCE, the
    * moment it can no longer grow — either a watermark-final successor
    * event started a new island past its end, or the watermark itself
    * passed its end (every future event is later than the watermark,
    * hence past the island). Same buffer-until-final replay as the
    * other twins; island arithmetic in exact integer microseconds,
    * matching the batch gaps-and-islands window (spec-asserted on a
    * replayed fixture). State: one open island + the above-watermark
    * buffer; groups with no open island and an empty buffer drop.
    */
  final case class IslandState(start: Long, maxEnd: Long, hasOpen: Boolean,
      pending: Seq[(Long, Long)])
  final case class Island(user_id: Long, island_start: java.sql.Timestamp,
      island_end: java.sql.Timestamp, duration_us: Long)

  def intervalCoverage(events: DataFrame, timeCol: String, keyCol: String,
      intervalUs: Long, watermarkDelay: String): Dataset[Island] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[IslandState, Island](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[IslandState]) =>
          val st0 = state.getOption.getOrElse(
            IslandState(0L, Long.MinValue, hasOpen = false, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r =>
            (r._2.getTime * 1000L + (r._2.getNanos / 1000) % 1000, r._3))
          val (ready, hold) = pending.partition(_._1 / 1000 <= wmMs)
          var (start, maxEnd, hasOpen) = (st0.start, st0.maxEnd, st0.hasOpen)
          val out = scala.collection.mutable.ArrayBuffer.empty[Island]
          def close(): Unit = {
            out += Island(user, new java.sql.Timestamp(start / 1000),
              new java.sql.Timestamp(maxEnd / 1000), maxEnd - start)
            hasOpen = false
          }
          ready.sortBy(identity).foreach { case (sUs, _) =>
            if (!hasOpen) { start = sUs; maxEnd = sUs + intervalUs; hasOpen = true }
            else if (sUs > maxEnd) { close(); start = sUs; maxEnd = sUs + intervalUs; hasOpen = true }
            else maxEnd = math.max(maxEnd, sUs + intervalUs)
          }
          // watermark past the open island's end: nothing can extend it
          // (held events included — they are above the watermark)
          if (hasOpen && wmMs * 1000 > maxEnd) close()
          if (!hasOpen && hold.isEmpty) state.remove()
          else {
            state.update(IslandState(start, maxEnd, hasOpen, hold))
            val next = if (hold.nonEmpty) hold.map(_._1 / 1000).min
              else maxEnd / 1000 + 1
            state.setTimeoutTimestamp(math.max(next, wmMs + 1))
          }
          out.iterator
      }
  }

  /** Streaming referential-integrity monitor — q170's live twin: per
    * tumbling window, the rate of events whose key has no row in the
    * static dimension, emitted ONLY for windows whose watermark-final
    * rate reaches `threshold`. Stream-static left join (the dimension
    * re-resolves per micro-batch, so a dimension backfill heals future
    * windows without restart) → watermarked windowed aggregation →
    * scan-side rate filter on the finalized window. Append mode means
    * an alert fires exactly once per offending window, when it can no
    * longer change.
    */
  def orphanRateAlerts(events: DataFrame, dim: DataFrame,
      timeCol: String, keyCol: String, dimKey: String,
      windowDuration: String, watermarkDelay: String,
      threshold: Double): DataFrame = {
    events
      .withWatermark(timeCol, watermarkDelay)
      .join(dim.select(col(dimKey).as("__dim_key")),
        col(keyCol) === col("__dim_key"), "left_outer")
      .groupBy(window(col(timeCol), windowDuration))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__dim_key").isNull, 1L).otherwise(0L))
          .as("n_orphans"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("n_orphans"),
        (col("n_orphans").cast("double") / col("n_events").cast("double"))
          .as("orphan_rate"))
      .filter(col("orphan_rate") >= threshold)
  }

  /** Streaming drawdown monitor — q178's live twin: one alert per
    * drawdown EPISODE, fired at the first watermark-FINAL event whose
    * decline from the user's running peak reaches `thresholdCents`, and
    * re-armed only when a later event sets a NEW peak (so a gauge
    * crawling along the bottom alerts once, not per tick). Events
    * buffer per user until final and replay through the identical
    * (ts, event_id)-ordered peak fold as the batch q178 window, so the
    * emitted peak/value pairs are exactly the batch recurrence's
    * (spec-asserted on a replayed arrival-shuffled fixture). State is
    * the compacted (peak, armed) pair plus the above-watermark buffer —
    * unlike attribution there is no lookback horizon, so the peak pair
    * lives for the key's lifetime (two longs and a flag; the buffer
    * alone is watermark-bounded), which is the honest cost of a
    * monitors-forever gauge.
    */
  final case class DrawdownState(peakCents: Long, armed: Boolean,
      pending: Seq[(Long, Long, Long)])
  final case class DrawdownAlert(user_id: Long, ts: java.sql.Timestamp,
      peak_value: Double, value: Double, drawdown: Double)

  def drawdownAlerts(events: DataFrame, timeCol: String, keyCol: String,
      valueCol: String, thresholdCents: Long,
      watermarkDelay: String): Dataset[DrawdownAlert] = {
    require(thresholdCents >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"),
        expr(s"CAST(ROUND($valueCol * 100) AS BIGINT)"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DrawdownState, DrawdownAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[DrawdownState]) =>
          val st0 = state.getOption
            .getOrElse(DrawdownState(Long.MinValue, armed = true, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r =>
            (r._2.getTime * 1000L + (r._2.getNanos / 1000) % 1000, r._3, r._4))
          val (ready, hold) = pending.partition(_._1 / 1000 <= wmMs)
          var peak = st0.peakCents
          var armed = st0.armed
          val out = ready.sortBy(t => (t._1, t._2)).flatMap {
            case (tsUs, _, vc) =>
              if (vc > peak) { peak = vc; armed = true; None }
              else if (armed && peak - vc >= thresholdCents) {
                armed = false
                Some(DrawdownAlert(user, new java.sql.Timestamp(tsUs / 1000),
                  peak / 100.0, vc / 100.0, (peak - vc) / 100.0))
              } else None
          }
          state.update(DrawdownState(peak, armed, hold))
          val next = if (hold.nonEmpty) hold.map(_._1 / 1000).min
            else wmMs + 60000L
          state.setTimeoutTimestamp(math.max(next, wmMs + 1))
          out.iterator
      }
  }

  /** Streaming heavy-hitter monitor — q86's live twin: a continuously
    * maintained Misra–Gries sketch over an unbounded item stream,
    * PARTITIONED by an md5 hash bucket of the item so the state scales
    * out (each bucket owns a disjoint slice of the item universe; a
    * global heavy hitter is at least as heavy inside its own bucket, so
    * per-bucket sketches lose nothing). Every micro-batch folds its
    * rows into the bucket's counter map via the SAME `mgUpdate` the
    * batch q86 pass runs, so the live sketch carries the identical
    * guarantee: any item whose true bucket count exceeds
    * n_bucket/(counters+1) is present, with its map value in
    * [count − n_bucket/(counters+1), count] (spec-pinned against exact
    * counts on a replayed fixture). Emits the bucket's refreshed
    * snapshot each batch (Update mode — monitoring reads the latest
    * row per bucket); state is bounded at buckets × counters entries
    * forever, which is the entire point of sketching the stream
    * instead of counting it.
    */
  final case class HHSnapshot(
      bucket: Long, n_seen: Long, candidates: Map[String, Long])

  def heavyHitterSketch(events: DataFrame, itemCol: String,
      buckets: Int, counters: Int): Dataset[HHSnapshot] = {
    require(buckets >= 1 && counters >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    events
      .select(col(itemCol).cast("string").as("item"),
        pmod(graft.Ids.hash(itemCol), lit(buckets)).as("bucket"))
      .as[(String, Long)]
      .groupByKey(_._2)
      .mapGroupsWithState[HHSnapshot, HHSnapshot](GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state: GroupState[HHSnapshot]) =>
          val prev = state.getOption.getOrElse(HHSnapshot(bucket, 0L, Map.empty))
          val m = new java.util.HashMap[String, Long]()
          prev.candidates.foreach { case (k, v) => m.put(k, v) }
          var n = prev.n_seen
          rows.foreach { case (item, _) =>
            graft.llm.HeavyHitters.mgUpdate(m, item, counters); n += 1
          }
          val next = HHSnapshot(bucket, n, m.asScala.toMap)
          state.update(next)
          next
      }
  }

  /** One finalized day of the streaming EWMA monitor — q202's live twin. */
  final case class EwmaPoint(
      etype: String, day: Long, c: Long, eprime: Long, spike: Boolean)

  final case class EwmaState(
      lastDay: Long, nEmitted: Long, window: List[Long],
      pending: Map[Long, Long])

  /** Streaming EWMA level monitor — q202's live twin: per event type, a
    * watermark-finalized daily count stream smoothed with the SAME
    * α = 1/2 dyadic 16-term recurrence (scaled level E'_t =
    * Σ_{k=0..15} c_{t-k}·2^(15-k), exact int64), emitting one point per
    * FINALIZED day with the spike flag (past the 16-day warm-up,
    * c·2^16 > 3·E'_{t-1}). Days with no events still emit (c = 0): the
    * state walks every day from the last finalized one up to the
    * watermark, so the dense-grid semantics match the batch query on
    * any key whose first event lands on the grid start. State is
    * bounded: a 16-deep window plus the pending not-yet-final day
    * counts (≤ watermark delay in days); event-time timeouts keep the
    * walk advancing through silent stretches.
    */
  def ewmaLevels(events: DataFrame, timeCol: String, typeCol: String,
      watermarkDelay: String): Dataset[EwmaPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    val epochDay2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(col(typeCol).cast("string"), col(timeCol),
        expr(s"CAST(datediff(cast($timeCol AS date), DATE '2024-01-01') AS BIGINT)"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (etype, rows, state: GroupState[EwmaState]) =>
          val st0 = state.getOption
            .getOrElse(EwmaState(Long.MinValue, 0L, Nil, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            pending = pending.updated(r._3, pending.getOrElse(r._3, 0L) + 1L)
          }
          val wmMs = state.getCurrentWatermarkMs()
          // the day containing the watermark is still open; everything
          // strictly before it is final
          val finalUpTo =
            math.floorDiv(wmMs, 86400000L) - epochDay2024 - 1L
          val start =
            if (st0.lastDay != Long.MinValue) st0.lastDay
            else if (pending.nonEmpty) pending.keys.min - 1L
            else Long.MinValue
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaPoint]
          var window = st0.window
          var nEmitted = st0.nEmitted
          var day = start
          if (start != Long.MinValue) {
            while (day < finalUpTo) {
              day += 1L
              val c = pending.getOrElse(day, 0L)
              pending = pending - day
              val eprev = window.iterator.zipWithIndex
                .map { case (v, k) => v * (1L << (15 - k)) }.sum
              window = (c :: window).take(16)
              val eprime = window.iterator.zipWithIndex
                .map { case (v, k) => v * (1L << (15 - k)) }.sum
              nEmitted += 1L
              val spike = nEmitted > 16L && c * 65536L > eprev * 3L
              out += EwmaPoint(etype, day, c, eprime, spike)
            }
          }
          state.update(EwmaState(
            if (day == Long.MinValue) st0.lastDay else day,
            nEmitted, window, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One paging alert of the streaming burn-rate monitor — q225's live
    * twin.
    */
  final case class BurnAlert(shard: Long, hour: Long, n: Long, e: Long,
      burn_1h: Double, burn_6h: Double)

  final case class BurnState(lastHour: Long, window: List[(Long, Long)],
      pending: Map[Long, (Long, Long)])

  /** Streaming SLO burn-rate pager — q225's live twin, per shard: hourly
    * (count, error) buckets finalize as the watermark passes each hour
    * boundary; the 6-hour leg is a trailing deque of finalized buckets;
    * an alert emits for a finalized hour when BOTH windows burn faster
    * than the 20× threshold (the q225 policy verbatim, including the
    * dense walk — silent hours advance the deque with (0,0), which can
    * only end a page, exactly like the batch frame). State is bounded:
    * a 6-deep deque plus the pending open hours.
    */
  def burnRateAlerts(events: DataFrame, timeCol: String, typeCol: String,
      shardCol: String, watermarkDelay: String): Dataset[BurnAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(expr(s"pmod($shardCol, 5)").cast("long"), col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 3600000000.0) AS BIGINT)"),
        // coalesce: a NULL event_type must decode as false, not NPE in the
        // primitive-tuple deserializer
        coalesce(col(typeCol) === "error", lit(false)).cast("long"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BurnState, BurnAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (shard, rows, state: GroupState[BurnState]) =>
          val st0 = state.getOption
            .getOrElse(BurnState(Long.MinValue, Nil, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            val (n0, e0) = pending.getOrElse(r._3, (0L, 0L))
            pending = pending.updated(r._3, (n0 + 1L, e0 + r._4))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 3600000L) - 1L
          val start =
            if (st0.lastHour != Long.MinValue) st0.lastHour
            else if (pending.nonEmpty) pending.keys.min - 1L
            else Long.MinValue
          val out = scala.collection.mutable.ArrayBuffer.empty[BurnAlert]
          var window = st0.window
          var hour = start
          if (start != Long.MinValue) {
            while (hour < finalUpTo) {
              hour += 1L
              val (n, e) = pending.getOrElse(hour, (0L, 0L))
              pending = pending - hour
              window = ((n, e) :: window).take(6)
              val (n6, e6) = (window.map(_._1).sum, window.map(_._2).sum)
              if (n > 0L && n6 > 0L) {
                val b1 = (e.toDouble / n) / 0.01
                val b6 = (e6.toDouble / n6) / 0.01
                if (b1 > 20.0 && b6 > 20.0)
                  out += BurnAlert(shard, hour, n, e, b1, b6)
              }
            }
          }
          state.update(BurnState(
            if (hour == Long.MinValue) st0.lastHour else hour,
            window, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One segment's live KMV sketch snapshot — q125's streaming twin. */
  final case class KmvSnapshot(
      etype: String, n_sk: Long, hk: Long, estimate: Double)

  private final val KmvStreamK = graft.ops.Stats.KmvK

  /** Streaming KMV distinct sketch — q125's live twin: per segment, the
    * k smallest DISTINCT md5 hashes of the active user-day element
    * (the exact [[graft.Ids]] recipe the batch query uses), maintained
    * as bounded state and snapshotted each micro-batch with the same
    * (k−1)·2³²/h_k estimator. The k-min set is a DETERMINISTIC function
    * of the set of elements seen — independent of arrival order or
    * batching — so the final snapshot equals the batch q125 sketch
    * EXACTLY, not approximately (spec-pinned). State is bounded at
    * k longs per segment forever; this is the mergeable-sketch posture
    * that lets a fleet of tasks union their k-min sets without ever
    * holding the distinct universe.
    */
  def kmvDistinctSketch(events: DataFrame, timeCol: String,
      typeCol: String, userCol: String): Dataset[KmvSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(typeCol).cast("string").as("etype"),
        graft.Ids.hash(
          s"concat(cast($userCol AS string), ':', cast(to_date($timeCol) AS string))")
          .as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], KmvSnapshot](GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[Seq[Long]]) =>
          val prev = state.getOption.getOrElse(Seq.empty[Long])
          val merged = (prev.iterator ++ rows.map(_._2))
            .toArray.distinct.sorted.take(KmvStreamK).toSeq
          state.update(merged)
          val n = merged.size.toLong
          val hk = if (merged.isEmpty) 0L else merged.last
          val est =
            if (n < KmvStreamK) n.toDouble
            else (KmvStreamK - 1).toDouble * 4294967296.0 / hk.toDouble
          KmvSnapshot(etype, n, hk, est)
      }
  }

  /** One staleness page of the live freshness monitor — q253's twin. */
  final case class FreshnessAlert(
      event_type: String, last_ts_us: Long, staleness_min: Long)

  final case class FreshnessState(maxUs: Long, alerted: Boolean)

  /** Streaming freshness pager — q253's live twin: per type, the newest
    * event time is the ONLY state (two fields, bounded forever); the
    * event-time WATERMARK plays the corpus high-water-mark role — it
    * advances because OTHER producers keep writing, which is exactly
    * the comparison the batch audit makes against MAX(ts) over the
    * corpus. When watermark − max_ts reaches the threshold, ONE alert
    * emits per quiet period (fresh data re-arms the pager), driven by
    * an event-time timeout set to the alert's due instant — a silent
    * producer costs zero per-event work; detection latency is one
    * timeout firing, not a scheduled batch re-scan. The batch query
    * answers "how stale is everything right now"; this answers "page
    * me the moment anything goes stale".
    */
  def freshnessAlerts(events: DataFrame, timeCol: String, typeCol: String,
      watermarkDelay: String, thresholdMin: Long): Dataset[FreshnessAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(col(typeCol).cast("string"), col(timeCol),
        expr(s"unix_micros(cast($timeCol AS timestamp))"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FreshnessState, FreshnessAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (etype, rows, state: GroupState[FreshnessState]) =>
          val st0 = state.getOption
            .getOrElse(FreshnessState(Long.MinValue, alerted = false))
          var maxUs = st0.maxUs
          var hadData = false
          rows.foreach { r =>
            hadData = true; if (r._3 > maxUs) maxUs = r._3
          }
          val alreadyPaged = if (hadData) false else st0.alerted
          val wmMs = state.getCurrentWatermarkMs()
          val stalenessMin =
            if (maxUs == Long.MinValue) Long.MinValue
            else (wmMs - maxUs / 1000L) / 60000L
          val fire = stalenessMin != Long.MinValue &&
            stalenessMin >= thresholdMin && !alreadyPaged
          state.update(FreshnessState(maxUs, alreadyPaged || fire))
          // wake exactly when the alert comes due (or re-check shortly
          // after the watermark if already due/paged)
          val dueMs = if (maxUs == Long.MinValue) wmMs + 60000L
            else maxUs / 1000L + thresholdMin * 60000L
          state.setTimeoutTimestamp(math.max(wmMs + 60000L, dueMs + 1L))
          if (fire) Iterator(FreshnessAlert(etype, maxUs, stalenessMin))
          else Iterator.empty
      }
  }

  /** One finalized day of the live quantile monitor — q257's twin. */
  final case class DayQuantiles(
      day: String, n_purchases: Long, p50: Double, p875: Double)

  /** Streaming daily quantile monitor — q257's live twin: purchases
    * group by their DAY key (groups distribute — no single ordering
    * task), each open day's state is a cents→count HISTOGRAM (bounded
    * by the price grid, NOT the event count — the reason exact
    * quantiles are streamable here at all), and the day finalizes
    * exactly once when the watermark passes its end: the R-7 order
    * statistics are read off the sorted histogram walk, bit-identical
    * to the batch percentile on the same day (spec-pinned — 0.5 and
    * 7/8 are binary-exact fractions, the q257 contract). Late events
    * beyond the watermark are dropped by the watermark itself, the
    * same completeness contract the batch query inherits from its
    * snapshot.
    */
  def dailyQuantileMonitor(events: DataFrame, timeCol: String,
      typeCol: String, valueCol: String,
      watermarkDelay: String): Dataset[DayQuantiles] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the purchase filter runs INSIDE the stateful op, not as a
    // .filter() between withWatermark and the groupBy: Catalyst pushes
    // a deterministic predicate below the EventTimeWatermark node, so
    // filtered-out event types would stop advancing the watermark and
    // open days would never finalize (observed: watermark frozen while
    // non-purchase traffic kept flowing)
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(expr(s"CAST(to_date($timeCol) AS string)"),
        col(timeCol),
        expr(s"CAST(ROUND($valueCol * 100) AS BIGINT)"),
        coalesce(col(typeCol) === "purchase", lit(false)).as("is_purchase"))
      .as[(String, java.sql.Timestamp, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], DayQuantiles](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, rows, state: GroupState[Map[Long, Long]]) =>
          var hist = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { r =>
            if (r._4) hist = hist.updated(r._3, hist.getOrElse(r._3, 0L) + 1L)
          }
          val wmMs = state.getCurrentWatermarkMs()
          val dayEndMs = java.time.LocalDate.parse(day).plusDays(1)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          if (wmMs >= dayEndMs) {
            // final: exact R-7 off the sorted histogram walk
            val n = hist.valuesIterator.sum
            def r7(p: Double): Double = {
              val h = (n - 1) * p
              val lo = h.toLong; val w = h - lo
              var seen = 0L
              var vLo = 0L; var vHi = 0L
              val it = hist.toSeq.sortBy(_._1).iterator
              while (it.hasNext && (seen <= lo + 1)) {
                val (v, c) = it.next()
                if (seen <= lo && lo < seen + c) vLo = v
                if (seen <= lo + 1 && lo + 1 < seen + c) vHi = v
                seen += c
              }
              if (lo + 1 < n) vLo + (vHi - vLo) * w else vLo.toDouble
            }
            state.remove()
            // a day that saw only non-purchase traffic closes silently
            if (hist.nonEmpty) Iterator(DayQuantiles(day, n, r7(0.5), r7(0.875)))
            else Iterator.empty
          } else {
            state.update(hist)
            state.setTimeoutTimestamp(math.max(wmMs + 60000L, dayEndMs + 1L))
            Iterator.empty
          }
      }
  }

  /** One finalized day of the live checksum feed — q261's twin. */
  final case class DayChecksum(day: String, n_rows: Long, checksum: Long)

  /** Streaming per-partition checksum feed — q261's live twin: each
    * day-keyed group maintains (count, Σ md5-id-hash) — two longs of
    * state, order-free because addition commutes — and publishes its
    * final checksum exactly once when the watermark passes the day's
    * end. Two replicas running this feed against their own copy give
    * the q261 anti-entropy comparison CONTINUOUSLY: a diverging day
    * surfaces one watermark-delay after it closes, instead of at the
    * next batch audit. The id column rides the library-wide md5 recipe
    * ([[graft.Ids]]), so the streamed checksum equals the batch q261
    * checksum for the same rows EXACTLY (spec-pinned on a
    * shuffled-arrival fixture).
    */
  def dailyChecksumMonitor(events: DataFrame, timeCol: String,
      idCol: String, watermarkDelay: String): Dataset[DayChecksum] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(expr(s"CAST(to_date($timeCol) AS string)"), col(timeCol),
        graft.Ids.hash(idCol))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), DayChecksum](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, rows, state: GroupState[(Long, Long)]) =>
          var (n, sum) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r => n += 1L; sum += r._3 }
          val wmMs = state.getCurrentWatermarkMs()
          val dayEndMs = java.time.LocalDate.parse(day).plusDays(1)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          if (wmMs >= dayEndMs) {
            state.remove()
            if (n > 0L) Iterator(DayChecksum(day, n, sum)) else Iterator.empty
          } else {
            state.update((n, sum))
            state.setTimeoutTimestamp(math.max(wmMs + 60000L, dayEndMs + 1L))
            Iterator.empty
          }
      }
  }

  /** One finalized day of the live seasonal-anomaly pager — q309's
    * twin.
    */
  final case class SeasonalAlert(day: String, wd: Long, n: Long,
      ratio_to_weekday_mean: Double, is_anomaly: Boolean)

  /** Streaming seasonality-adjusted anomaly pager — q309's live twin,
    * and the model-in-the-loop streaming shape: the weekday profile is
    * TRAINED in batch (q272/q309's exact (n_days, s_w) pairs, passed in
    * as a 7-row model — in production, refreshed on whatever cadence
    * the batch pipeline runs) and the stream only keeps one counter per
    * open day. When the watermark closes a day, the batch twin's exact
    * cross-multiplied 2× test fires against the day's own weekday mean
    * — Monday pages only for not being MONDAY. Day keys are engine-
    * neutral epoch arithmetic; the model rides the closure (7 longs),
    * never a join.
    */
  def seasonalAnomalyAlerts(events: DataFrame, timeCol: String,
      typeCol: String, weekdayModel: Map[Long, (Long, Long)],
      watermarkDelay: String): Dataset[SeasonalAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(weekdayModel.nonEmpty, "weekday model must not be empty")
    events
      .withWatermark(timeCol, watermarkDelay)
      // the purchase filter runs INSIDE the state function: Catalyst
      // pushes deterministic filters below EventTimeWatermark, so a
      // pre-filter would freeze the watermark whenever only other-type
      // traffic flows (SCALING.md's round-8 streaming trap)
      .select(col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)"),
        coalesce(col(typeCol) === "purchase", lit(false)).cast("long"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, SeasonalAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, rows, state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          rows.foreach(r => n += r._3)
          val wmMs = state.getCurrentWatermarkMs()
          val dayEndMs = (day + 1L) * 86400000L
          if (wmMs >= dayEndMs) {
            state.remove()
            val wd = ((day % 7L) + 7L) % 7L
            weekdayModel.get(wd) match {
              case Some((nDays, sw)) if n > 0L && nDays > 0L && sw > 0L =>
                val anomalous = n * nDays > 2L * sw || 2L * n * nDays < sw
                Iterator(SeasonalAlert(
                  java.time.LocalDate.ofEpochDay(day).toString, wd, n,
                  (n.toDouble * nDays.toDouble) / sw.toDouble, anomalous))
              case _ => Iterator.empty
            }
          } else {
            state.update(n)
            state.setTimeoutTimestamp(math.max(wmMs + 60000L, dayEndMs + 1L))
            Iterator.empty
          }
      }
  }

  /** One finalized week of the live distribution-drift monitor —
    * q275's twin.
    */
  final case class WeekDrift(wk: Long, n_prev: Long, n_cur: Long,
      tv_distance: Double)

  final case class DriftState(lastFinal: Long, prevWk: Long,
      prevHist: Seq[Long], pending: Map[Long, Seq[Long]])

  /** Streaming weekly TV-distance drift — q275's live twin: per week, a
    * 20-band purchase-value histogram accumulates as bounded state (20
    * longs per open week); when the watermark passes a week boundary the
    * week finalizes and its total-variation distance against the
    * PREVIOUS finalized non-empty week emits — exactly the batch
    * algebra (Σ|c_cur·n_prev − c_prev·n_cur| cross-multiplied exact
    * ints, one terminal division), with the batch's adjacency contract:
    * an empty week breaks the chain (no emission across it), matching
    * q275's grid join on wk = wk−1. The pager fires one watermark-delay
    * after a drifted week closes instead of at the next batch audit.
    */
  def weeklyTvDrift(events: DataFrame, timeCol: String, typeCol: String,
      valueCol: String, watermarkDelay: String): Dataset[WeekDrift] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 604800000000.0) AS BIGINT)"),
        expr(s"CASE WHEN $typeCol = 'purchase' THEN " +
          s"least(CAST(ROUND($valueCol * 100) AS BIGINT) div 2000, 19) " +
          "ELSE CAST(-1 AS BIGINT) END"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[DriftState, WeekDrift](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[DriftState]) =>
          val st0 = state.getOption
            .getOrElse(DriftState(Long.MinValue, Long.MinValue, Nil, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            if (r._3 >= 0L) {
              val h = pending.getOrElse(r._2, Seq.fill(20)(0L)).toArray
              h(r._3.toInt) += 1L
              pending = pending.updated(r._2, h.toSeq)
            }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 604800000L) - 1L
          val start =
            if (st0.lastFinal != Long.MinValue) st0.lastFinal
            else if (pending.nonEmpty) pending.keys.min - 1L
            else Long.MinValue
          val out = scala.collection.mutable.ArrayBuffer.empty[WeekDrift]
          var (prevWk, prevHist) = (st0.prevWk, st0.prevHist)
          var wk = start
          if (start != Long.MinValue) {
            while (wk < finalUpTo) {
              wk += 1L
              val hist = pending.getOrElse(wk, Seq.fill(20)(0L))
              pending = pending - wk
              val n = hist.sum
              if (n > 0L) {
                if (prevWk == wk - 1L) {
                  val np = prevHist.sum
                  val num = hist.zip(prevHist)
                    .map { case (c, pc) => math.abs(c * np - pc * n) }.sum
                  out += WeekDrift(wk, np, n,
                    num.toDouble / (2.0 * np.toDouble * n.toDouble))
                }
                prevWk = wk
                prevHist = hist
              }
              // empty week: the adjacency chain breaks (batch contract)
            }
          }
          state.update(DriftState(
            if (wk == Long.MinValue) st0.lastFinal else wk,
            prevWk, prevHist, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One drift-episode page of the live CUSUM change-point pager —
    * q195's twin. `s_scaled` is the exact n-scaled CUSUM statistic at
    * the paging day (the batch's integer `s`); `cusum` = s/nd in order
    * units.
    */
  final case class CusumAlert(key: String, day: String, n: Long,
      s_scaled: Long, cusum: Double)

  final case class CusumState(lastFinal: Long, p: Long, minP: Long,
      inEpisode: Boolean, pending: Map[Long, Long])

  /** Streaming CUSUM drift pager — q195's live twin. The batch q195
    * scans the whole series against its own mean; the pager runs the
    * SAME one-sided recurrence causally, against a reference mean
    * TRAINED in batch (q195's exact per-key `(n_days, total)` pairs —
    * the rational mean total/nd, the q309 model-in-the-loop posture).
    * Per key the state is four longs plus the open-day counters: when
    * the watermark closes a day, every day up to it finalizes DENSELY
    * (silent days count 0 — the batch's q165 grid fill), the exact
    * integer recurrence advances (P += c·nd − total; S = P − min P,
    * all int64, the batch's n-scaled running-min identity), and the
    * pager emits ONE alert per sustained drift episode: the first
    * finalized day with S > nd·threshold pages, the episode then
    * holds the pager silent until S returns to the threshold or below,
    * re-arming it. The one division (S/nd, back to order units)
    * happens at emission — the statistic itself never leaves int64.
    */
  def cusumDriftPager(events: DataFrame, timeCol: String, keyCol: String,
      model: Map[String, (Long, Long)], threshold: Long,
      watermarkDelay: String): Dataset[CusumAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(model.nonEmpty, "trained (n_days, total) model must not be empty")
    events
      .withWatermark(timeCol, watermarkDelay)
      // keys outside the model still flow (their rows advance the
      // watermark); the state fn drops them — a pre-filter could freeze
      // the watermark when only unmodeled traffic flows (SCALING.md's
      // round-8 streaming trap)
      .select(col(timeCol),
        col(keyCol).cast("string"),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)"))
      .as[(java.sql.Timestamp, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[CusumState, CusumAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[CusumState]) =>
          model.get(key) match {
            case None =>
              // unmodeled key: consume and keep no state
              rows.foreach(_ => ())
              if (state.exists) state.remove()
              Iterator.empty
            case Some((nd, total)) =>
              val st0 = state.getOption
                .getOrElse(CusumState(Long.MinValue, 0L, 0L, false, Map.empty))
              var pending = st0.pending
              rows.foreach { r =>
                pending = pending.updated(r._3, pending.getOrElse(r._3, 0L) + 1L)
              }
              val wmMs = state.getCurrentWatermarkMs()
              val finalUpTo = math.floorDiv(wmMs, 86400000L) - 1L
              // dense finalization starts at the key's first OBSERVED day
              val start =
                if (st0.lastFinal != Long.MinValue) st0.lastFinal
                else if (pending.nonEmpty) pending.keys.min - 1L
                else Long.MinValue
              val out = scala.collection.mutable.ArrayBuffer.empty[CusumAlert]
              var (p, minP, inEpisode) = (st0.p, st0.minP, st0.inEpisode)
              var day = start
              if (start != Long.MinValue) {
                while (day < finalUpTo) {
                  day += 1L
                  val c = pending.getOrElse(day, 0L)
                  pending = pending - day
                  p += c * nd - total
                  if (p < minP) minP = p
                  val s = p - minP
                  if (s > nd * threshold) {
                    if (!inEpisode) {
                      inEpisode = true
                      out += CusumAlert(key,
                        java.time.LocalDate.ofEpochDay(day).toString, c, s,
                        s.toDouble / nd.toDouble)
                    }
                  } else inEpisode = false
                }
              }
              // anchor lastFinal only once a day actually finalized: until
              // then the dense-grid start re-derives from pending each
              // trigger, so an admissible late row for an EARLIER day can
              // still pull the anchor back (after finalization the
              // watermark already bounds what can arrive)
              val newLast =
                if (st0.lastFinal != Long.MinValue) day
                else if (start != Long.MinValue && day > start) day
                else Long.MinValue
              state.update(CusumState(newLast, p, minP, inEpisode, pending))
              state.setTimeoutTimestamp(wmMs + 60000L)
              out.iterator
          }
      }
  }

  /** One closed session of the live capped sessionizer — q263's twin. */
  final case class CappedSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, break_reason: String)

  final case class CappedState(start: Long, last: Long, n: Long,
      pending: Seq[(Long, Long)])

  /** Streaming capped sessionization — q263's live twin: sessions close
    * on the 30-min inactivity gap OR 4 h after they STARTED (the
    * polling-client cap), the same self-referential chain as the batch
    * fold. Events buffer per user until the watermark finalizes them
    * (the funnelProgress posture), then replay in (ts, event_id) order
    * through the identical break rules; an OPEN session also closes via
    * event-time timeout once the watermark passes its last event + gap —
    * sound early emission, because any still-admissible event would
    * gap-break it anyway (the closedSessions argument). Emitted
    * sessions carry their break reason ('gap' / 'cap' / 'timeout'), so
    * downstream `groupBy(break_reason).count()` IS the q263 knob-tuning
    * census, continuously maintained. State per user: three longs plus
    * the lateness-bounded buffer.
    */
  def cappedSessions(events: DataFrame, timeCol: String, keyCol: String,
      watermarkDelay: String, gapUs: Long = 1800000000L,
      capUs: Long = 14400000000L): Dataset[CappedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($keyCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($keyCol AS bigint)"), col(timeCol),
        col("event_id"),
        expr(s"unix_micros(cast($timeCol AS timestamp))"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CappedState, CappedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[CappedState]) =>
          val st0 = state.getOption.getOrElse(CappedState(-1L, -1L, 0L, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r => (r._4, r._3))
          val (ready, hold) = pending.partition(_._1 <= wm * 1000L)
          var (start, last, n) = (st0.start, st0.last, st0.n)
          val out = scala.collection.mutable.ArrayBuffer.empty[CappedSession]
          def close(reason: String): Unit = {
            out += CappedSession(user, start, last, n, reason)
            n = 0L
          }
          ready.sortBy(identity).foreach { case (tus, _) =>
            if (n == 0L) { start = tus; last = tus; n = 1L }
            else if (tus - last > gapUs) { close("gap"); start = tus; last = tus; n = 1L }
            else if (tus - start > capUs) { close("cap"); start = tus; last = tus; n = 1L }
            else { last = tus; n += 1L }
          }
          // watermark past last+gap: no admissible event can extend it
          if (n > 0L && hold.isEmpty && wm * 1000L > last + gapUs)
            close("timeout")
          if (n == 0L && hold.isEmpty) state.remove()
          else {
            state.update(CappedState(start, last, n, hold))
            val next =
              if (hold.nonEmpty) hold.map(_._1).min / 1000L
              else (last + gapUs) / 1000L + 1L
            state.setTimeoutTimestamp(math.max(next, wm + 1L))
          }
          out.iterator
      }
  }

  /** One kept (non-suppressed) event of the live cooldown dedup —
    * q260's twin.
    */
  final case class KeptEvent(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp)

  final case class CooldownState(lastKeptUs: Long,
      pending: Seq[(Long, Long)])

  /** Streaming cooldown dedup — q260's live twin, the alert/notification
    * suppression primitive: per (user, type), emit an event iff at least
    * `cooldown` elapsed since the last EMITTED one. The keep decision is
    * self-referential (it compares against the previous DECISION, not the
    * previous row), so arrival order matters and events must replay in
    * EVENT time: they buffer per key until the watermark finalizes them
    * (the funnelProgress posture), then fold through the identical
    * greedy chain as the batch aggregate — same sentinel start, same
    * `>= last + cooldown` keep rule — so the kept set equals q260's fold
    * on the same data exactly (spec-asserted on shuffled arrivals).
    * State per key is one long plus the lateness-bounded buffer.
    */
  def cooldownDedup(events: DataFrame, timeCol: String, userCol: String,
      typeCol: String, watermarkDelay: String,
      cooldown: java.time.Duration = java.time.Duration.ofHours(24))
      : Dataset[KeptEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val cooldownUs = cooldown.toMillis * 1000L
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($userCol AS bigint)"),
        col(typeCol).cast("string"), col(timeCol), col("event_id"),
        expr(s"unix_micros(cast($timeCol AS timestamp))"))
      .as[(Long, String, java.sql.Timestamp, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[CooldownState, KeptEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, etype), rows, state: GroupState[CooldownState]) =>
          // the q260 sentinel: first event always keeps, and the +cooldown
          // comparison cannot overflow ANSI arithmetic
          val st0 = state.getOption
            .getOrElse(CooldownState(-86400000001L, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r => (r._5, r._4))
          // tsUs <= wm·1000 is final: the watermark admits only later events
          val (ready, hold) = pending.partition(_._1 <= wm * 1000L)
          var lastKept = st0.lastKeptUs
          val out = ready.sortBy(identity).flatMap { case (tus, id) =>
            if (tus >= lastKept + cooldownUs) {
              lastKept = tus
              // rebuild the event time at FULL µs precision: the
              // Timestamp(ms) constructor alone would truncate
              // sub-millisecond event times relative to the input
              val ts = new java.sql.Timestamp(Math.floorDiv(tus, 1000L))
              ts.setNanos((Math.floorMod(tus, 1000000L) * 1000L).toInt)
              Some(KeptEvent(user, etype, id, ts))
            } else None
          }
          state.update(CooldownState(lastKept, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min / 1000L else wm + 1L
          state.setTimeoutTimestamp(math.max(next, wm + 1L))
          out.iterator
      }
  }

  /** One finalized day of the live KPI correlation monitor — q265's twin. */
  final case class RollingCorr(day: String, a: Long, b: Long,
      rolling_corr: Option[Double])

  final case class CorrState(lastDay: Long, window: List[(Long, Long)],
      pending: Map[Long, (Long, Long)])

  /** Streaming rolling KPI correlation — q265's live twin: daily
    * (view, purchase) counts finalize as the watermark passes each day
    * boundary; a 14-deep trailing deque of finalized days feeds the
    * same exact-int64 Pearson moments as the batch window, densified —
    * silent days advance the deque with (0,0) exactly like the batch
    * calendar join, so a dead KPI drives the correlation signal instead
    * of silently freezing it (the burnRateAlerts dense-walk posture).
    * Emits one row per finalized day once the frame holds 14 days, with
    * the batch's NULL-on-degenerate-variance contract. State is bounded:
    * a 14-deep deque plus the lateness-bounded open-day counts. The
    * series is global (one row per calendar day — the batch twin's
    * single-task calendar scaffold), so the single group is the correct
    * parallelism, not a bottleneck.
    */
  def rollingCorrelation(events: DataFrame, timeCol: String,
      typeCol: String, watermarkDelay: String): Dataset[RollingCorr] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)"),
        coalesce(col(typeCol) === "view", lit(false)).cast("long"),
        coalesce(col(typeCol) === "purchase", lit(false)).cast("long"))
      .as[(java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[CorrState, RollingCorr](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[CorrState]) =>
          val st0 = state.getOption
            .getOrElse(CorrState(Long.MinValue, Nil, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            val (a0, b0) = pending.getOrElse(r._2, (0L, 0L))
            pending = pending.updated(r._2, (a0 + r._3, b0 + r._4))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 86400000L) - 1L
          val start =
            if (st0.lastDay != Long.MinValue) st0.lastDay
            else if (pending.nonEmpty) pending.keys.min - 1L
            else Long.MinValue
          val out = scala.collection.mutable.ArrayBuffer.empty[RollingCorr]
          var window = st0.window
          var day = start
          if (start != Long.MinValue) {
            while (day < finalUpTo) {
              day += 1L
              val (a, b) = pending.getOrElse(day, (0L, 0L))
              pending = pending - day
              window = ((a, b) :: window).take(14)
              if (window.size == 14) {
                // exact int64 moments — identical algebra to the batch frame
                val n = 14L
                val sa = window.map(_._1).sum
                val sb = window.map(_._2).sum
                val saa = window.map(w => w._1 * w._1).sum
                val sbb = window.map(w => w._2 * w._2).sum
                val sab = window.map(w => w._1 * w._2).sum
                val den = (n * saa - sa * sa) * (n * sbb - sb * sb)
                val corr =
                  if (den <= 0L) None
                  else Some((n * sab - sa * sb).toDouble / math.sqrt(den.toDouble))
                out += RollingCorr(
                  java.time.LocalDate.ofEpochDay(day).toString, a, b, corr)
              }
            }
          }
          state.update(CorrState(
            if (day == Long.MinValue) st0.lastDay else day, window, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One resolved error-recovery episode — q310's live twin output. */
  final case class Recovery(user_id: Long, error_event_id: Long,
      rec_us: Long)

  final case class RecoveryState(openErrors: List[(Long, Long)],
      pending: List[(Long, Long, Boolean)])

  /** Streaming error-recovery latency — q310's live twin: the batch
    * query reports the MTTR distribution after the fact; this emits
    * each user's recovery time THE MOMENT the recovery happens. Events
    * buffer until the watermark (the q260 replay posture) and fold in
    * (tus, event_id) order: an error event opens an episode; the first
    * later NON-error event for that user resolves every open episode at
    * once (rec_us = ok_tus − err_tus — exactly the batch window's
    * "min non-error tus over later rows", including the 0-µs same-
    * instant case the event_id tie-break orders). Errors with no later
    * activity stay open — the batch's right-censored rows: a stream
    * cannot pronounce "never recovered", only "not yet", so censoring
    * is a read of the open-state size, not an output row. State per
    * user is the open-episode list (bounded by the longest consecutive
    * error run — fixture-wise a handful; a pathological all-error user
    * is a pager-storm upstream, not a state-store problem) plus the
    * lateness-bounded buffer. The downstream quantile read is a
    * windowed agg over this op's output, distribution-friendly.
    */
  def recoveryLatency(events: DataFrame, timeCol: String, userCol: String,
      typeCol: String, watermarkDelay: String): Dataset[Recovery] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($userCol AS bigint)"), col(timeCol),
        col("event_id"),
        expr(s"unix_micros(cast($timeCol AS timestamp))"),
        coalesce(col(typeCol) === "error", lit(false)).as("is_error"))
      .as[(Long, java.sql.Timestamp, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RecoveryState, Recovery](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[RecoveryState]) =>
          val st0 = state.getOption.getOrElse(RecoveryState(Nil, Nil))
          val wm = state.getCurrentWatermarkMs()
          val pending = st0.pending ++ rows.map(r => (r._4, r._3, r._5))
          val (ready, hold) = pending.partition(_._1 <= wm * 1000L)
          var open = st0.openErrors
          val out = ready.sortBy(r => (r._1, r._2)).flatMap {
            case (tus, id, isError) =>
              if (isError) { open = (tus, id) :: open; Nil }
              else {
                // resolve EVERY open episode: the batch window gives each
                // error its own next-ok distance, so consecutive errors
                // all resolve against the same recovery event
                val resolved = open.sortBy(identity).map { case (etus, eid) =>
                  Recovery(user, eid, tus - etus)
                }
                open = Nil
                resolved
              }
          }
          state.update(RecoveryState(open, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min / 1000L else wm + 60000L
          state.setTimeoutTimestamp(math.max(next, wm + 1L))
          out.iterator
      }
  }

  /** One finalized day of the planner-stats staleness monitor — q271's
    * live twin output. `misestimate_factor` is None until the stream
    * has seen a purchase (the batch divides by npurch_cur, undefined
    * at 0).
    */
  final case class StalenessPoint(day: String, n_cur: Long,
      npurch_cur: Long, count_growth: Double, est_purchase_rows: Double,
      actual_purchase_rows: Long, misestimate_factor: Option[Double],
      analyze_due: Boolean)

  final case class StalenessState(lastDay: Long, nCum: Long, pCum: Long,
      pending: Map[Long, (Long, Long)])

  /** Streaming planner-stats staleness monitor — q271's live twin: the
    * batch query asks "how stale are the table stats right now" with a
    * synthetic half-corpus cutoff; the live monitor takes the REAL
    * stats snapshot (nOld rows, npurchOld purchases — what ANALYZE
    * recorded) as parameters and re-prices them against the growing
    * corpus, one row per finalized day (watermark past day end, the
    * dailyQuantileMonitor posture): cumulative count growth, the
    * selectivity-estimate row count the old stats would hand the
    * planner, the actual, and their ratio — plus the `analyze_due`
    * flag when growth crosses the re-analyze threshold every warehouse
    * autovacuum runs on. All monitored fields are exact int64 folds
    * (one IEEE division per emitted field, same algebra as the batch);
    * the twin deliberately drops q271's ndv_user axis — exact distinct
    * over an unbounded stream is unbounded state by definition, and the
    * house sketch path for that axis is `kmvDistinctSketch`. The series
    * is global (one row per calendar day), so the single group is the
    * correct parallelism, not a bottleneck; state is the cumulative
    * pair plus the lateness-bounded open-day counts. Silent days emit
    * too — staleness keeps growing precisely when nothing arrives.
    */
  def statsStalenessMonitor(events: DataFrame, timeCol: String,
      typeCol: String, watermarkDelay: String, nOld: Long,
      npurchOld: Long, growthThreshold: Double): Dataset[StalenessPoint] = {
    require(nOld > 0 && npurchOld >= 0)
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)"),
        coalesce(col(typeCol) === "purchase", lit(false)).cast("long"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[StalenessState, StalenessPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[StalenessState]) =>
          val st0 = state.getOption
            .getOrElse(StalenessState(Long.MinValue, 0L, 0L, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            val (n0, p0) = pending.getOrElse(r._2, (0L, 0L))
            pending = pending.updated(r._2, (n0 + 1L, p0 + r._3))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 86400000L) - 1L
          val start =
            if (st0.lastDay != Long.MinValue) st0.lastDay
            else if (pending.nonEmpty) pending.keys.min - 1L
            else Long.MinValue
          var (nCum, pCum, day) = (st0.nCum, st0.pCum, start)
          val out = scala.collection.mutable.ArrayBuffer.empty[StalenessPoint]
          if (start != Long.MinValue) {
            while (day < finalUpTo) {
              day += 1L
              val (n, p) = pending.getOrElse(day, (0L, 0L))
              pending = pending - day
              nCum += n; pCum += p
              val growth = nCum.toDouble / nOld.toDouble
              val est = npurchOld.toDouble * nCum.toDouble / nOld.toDouble
              out += StalenessPoint(
                java.time.LocalDate.ofEpochDay(day).toString, nCum, pCum,
                growth, est, pCum,
                if (pCum == 0L) None else Some(est / pCum.toDouble),
                growth >= growthThreshold)
            }
          }
          state.update(StalenessState(
            if (day == Long.MinValue) st0.lastDay else day,
            nCum, pCum, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One weekday row of the live seasonality profile — q272's twin
    * emits the FULL updated profile (one row per weekday seen so far)
    * after every finalized active day, tagged with that day.
    */
  final case class WeekdayProfileRow(day: String, wd: Long, n_days: Long,
      total: Long, seasonal_index: Double, weekday_eta2: Option[Double])

  final case class WeekdayProfileState(lastDay: Long, qAll: Long,
      byWd: Map[Long, (Long, Long)], pending: Map[Long, Long])

  /** Streaming weekday-seasonality profile — q272's live twin: the
    * batch query decomposes daily purchase volume into per-weekday
    * seasonal indices plus the seasonal-strength eta² in one pass; the
    * live monitor maintains the SAME sufficient statistics — per-weekday
    * (n_days, Σc) and the global Σc² — folding each day in as the
    * watermark finalizes it (the dailyQuantileMonitor posture), and
    * emits the updated profile snapshot after every finalized ACTIVE
    * day (days without purchases are absent from the batch's daily
    * relation, so they change nothing and emit nothing — silent days
    * are the q271 twin's concern, not this one's). The arithmetic
    * replays the batch chain exactly: weekday = epoch-day mod 7
    * (locale-free), contribs fold in weekday order, one IEEE
    * multiply/divide chain per emitted field — so the last snapshot is
    * BIT-EQUAL to the batch q272 over the finalized prefix
    * (spec-pinned on a shuffled-arrival fixture). State is 7 weekday
    * pairs + one long + the lateness-bounded open-day counts; the
    * series is global, so the single group is the correct parallelism.
    */
  def weekdayProfileMonitor(events: DataFrame, timeCol: String,
      typeCol: String, watermarkDelay: String): Dataset[WeekdayProfileRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      // purchase filter INSIDE the state fold: a pre-filter would freeze
      // the watermark whenever only other-type traffic flows
      .select(col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)"),
        coalesce(col(typeCol) === "purchase", lit(false)).cast("long"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[WeekdayProfileState, WeekdayProfileRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[WeekdayProfileState]) =>
          val st0 = state.getOption
            .getOrElse(WeekdayProfileState(Long.MinValue, 0L, Map.empty, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            if (r._3 > 0L && r._2 > st0.lastDay)
              pending = pending.updated(r._2, pending.getOrElse(r._2, 0L) + r._3)
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 86400000L) - 1L
          var (byWd, qAll, lastDay) = (st0.byWd, st0.qAll, st0.lastDay)
          val out = scala.collection.mutable.ArrayBuffer.empty[WeekdayProfileRow]
          pending.keys.filter(_ <= finalUpTo).toSeq.sorted.foreach { day =>
            val c = pending(day)
            pending = pending - day
            lastDay = math.max(lastDay, day)
            // epoch-day mod 7 — identical to the batch's
            // datediff(day, DATE '1970-01-01') % 7 (0 = Thursday)
            val wd = math.floorMod(day, 7L)
            val (nd0, t0) = byWd.getOrElse(wd, (0L, 0L))
            byWd = byWd.updated(wd, (nd0 + 1L, t0 + c))
            qAll += c * c
            // snapshot: the exact batch algebra over the updated stats
            val nAll = byWd.valuesIterator.map(_._1).sum
            val sAll = byWd.valuesIterator.map(_._2).sum
            val f = byWd.toSeq.sortBy(_._1).foldLeft(0.0) {
              case (acc, (_, (nd, tot))) =>
                acc + (tot.toDouble * tot.toDouble) / nd.toDouble
            }
            val denom = nAll.toDouble * qAll.toDouble - sAll.toDouble * sAll.toDouble
            val eta2 =
              if (denom <= 0.0) None
              else Some((nAll.toDouble * f - sAll.toDouble * sAll.toDouble) / denom)
            val dayStr = java.time.LocalDate.ofEpochDay(day).toString
            byWd.toSeq.sortBy(_._1).foreach { case (w, (nd, tot)) =>
              out += WeekdayProfileRow(dayStr, w, nd, tot,
                (tot.toDouble * nAll.toDouble) / (nd.toDouble * sAll.toDouble),
                eta2)
            }
          }
          state.update(WeekdayProfileState(lastDay, qAll, byWd, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** One finalized (user, week) purchase split — q293's stage-1 output:
    * whether that week was the user's FIRST active week, with their
    * purchase count and cents for the week.
    */
  final case class UserWeekSplit(user_id: Long, wk: Long, is_new: Long,
      n: Long, cents: Long)

  final case class UserWeekState(fwk: Long, lastWk: Long,
      pending: Map[Long, (Long, Long)])

  /** Stage 1 of q293's live twin — per-user new-vs-returning weekly
    * finalization: the batch query joins each (user, week) revenue row
    * against the user's first active week; the live form keeps exactly
    * that per user — the first FINALIZED active week (weeks finalize in
    * watermark order, so no earlier week can appear later) plus the
    * lateness-bounded open-week sums — and emits one labeled row per
    * (user, week) as the watermark passes the week's end. Downstream,
    * the weekly dashboard row is one keyed aggregation over this delta
    * topic ([[weeklySplitOf]] — the q288 two-stage shape); the spec pins
    * the composition bit-equal to the batch q293 on a shuffled-arrival
    * fixture. State per user: one long + open weeks. Weeks are the
    * batch's floor(epoch-day / 7) — locale-free.
    */
  def userWeekSplits(events: DataFrame, timeCol: String, userCol: String,
      typeCol: String, valueCol: String,
      watermarkDelay: String): Dataset[UserWeekSplit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($userCol AS bigint)"), col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 604800000000.0) AS BIGINT)"),
        // non-purchase rows ride through for watermark progress only and
        // may carry NULL value — decode as 0, never NPE
        coalesce(expr(s"CAST(ROUND($valueCol * 100) AS BIGINT)"), lit(0L)),
        coalesce(col(typeCol) === "purchase", lit(false)))
      .as[(Long, java.sql.Timestamp, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserWeekState, UserWeekSplit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[UserWeekState]) =>
          val st0 = state.getOption
            .getOrElse(UserWeekState(Long.MinValue, Long.MinValue, Map.empty))
          var pending = st0.pending
          rows.foreach { r =>
            // drop rows for weeks this key already finalized: a
            // beyond-watermark straggler would otherwise re-open the
            // week and emit a DUPLICATE split row (the lastDay guard
            // every finalizing twin carries)
            if (r._5 && r._3 > st0.lastWk) {
              val (n0, c0) = pending.getOrElse(r._3, (0L, 0L))
              pending = pending.updated(r._3, (n0 + 1L, c0 + r._4))
            }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 604800000L) - 1L
          var fwk = st0.fwk
          var lastWk = st0.lastWk
          val out = scala.collection.mutable.ArrayBuffer.empty[UserWeekSplit]
          pending.keys.filter(_ <= finalUpTo).toSeq.sorted.foreach { wk =>
            val (n, c) = pending(wk)
            pending = pending - wk
            lastWk = math.max(lastWk, wk)
            val isNew = if (fwk == Long.MinValue) { fwk = wk; 1L } else 0L
            out += UserWeekSplit(user, wk, isNew, n, c)
          }
          state.update(UserWeekState(fwk, lastWk, pending))
          state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** Stage 2 of q293's twin: the weekly dashboard aggregation over the
    * stage-1 delta topic — usable as a batch query over the sink (the
    * spec's form) or as a streaming aggregation. Algebra is the batch
    * q293's verbatim (exact int64 sums, one terminal IEEE division).
    */
  def weeklySplitOf(splits: DataFrame): DataFrame =
    splits.groupBy(col("wk"))
      .agg(sum(col("is_new")).as("n_new_users"),
        sum(lit(1L) - col("is_new")).as("n_returning_users"),
        sum(col("is_new") * col("cents")).as("new_cents"),
        sum((lit(1L) - col("is_new")) * col("cents")).as("returning_cents"))
      .select(col("wk"), col("n_new_users"), col("n_returning_users"),
        col("new_cents"), col("returning_cents"),
        expr("CAST(new_cents AS DOUBLE) / " +
          "CAST(new_cents + returning_cents AS DOUBLE)").as("new_share"))
      .orderBy("wk")

  /** q299's twin as a SECOND consumer of [[userWeekSplits]]'s delta
    * topic — the production pattern where one finalized stream feeds
    * many dashboards: each user's cohort is the week their is_new flag
    * fired, and the LTV triangle is the (cohort, age) rollup of the
    * per-(user, week) cents with the running cumulative per-user value.
    * Algebra is the batch q299's verbatim: the splits are already one
    * row per (user, week), so the distinct-user counts collapse to
    * plain counts of identical value; the cumulative window runs per
    * cohort over ≤ ages rows. Spec-pinned bit-equal to the batch q299
    * replayed inline on a shuffled-arrival fixture.
    */
  def cohortLtvOf(splits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // JOIN-FREE single-lineage shape (and no self-join: a delta topic
    // read back from a memory sink is a View leaf DeduplicateRelations
    // cannot re-instance, so the batch q299's pv⋈first form would not
    // resolve here): the cohort is a user-keyed window min over the
    // is_new week, each user's is_new row lands exactly in its cohort's
    // age-0 cell — so cohort size is a cohort-window sum of the per-cell
    // new-user counts — and the LTV accumulation is the running frame.
    val wcoh = Window.partitionBy(col("user_id"))
    val withC = splits
      .withColumn("cohort",
        min(when(col("is_new") === 1L, col("wk"))).over(wcoh))
      .withColumn("age", col("wk") - col("cohort"))
    val tri = withC.groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col("user_id")).as("active_users"),
        sum(col("cents")).as("cents"),
        countDistinct(when(col("is_new") === 1L, col("user_id")))
          .as("new_in_cell"))
    val wsz = Window.partitionBy(col("cohort"))
    val wc = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri
      .withColumn("cohort_users", sum(col("new_in_cell")).over(wsz))
      .withColumn("cum_cents", sum(col("cents")).over(wc))
      .select(col("cohort"), col("age"), col("cohort_users"),
        col("active_users"), col("cents"), col("cum_cents"),
        expr("CAST(cum_cents AS DOUBLE) / CAST(cohort_users AS DOUBLE)")
          .as("cum_cents_per_user"))
      .orderBy("cohort", "age")
  }

  /** One finalized inter-purchase gap — q292's stage-1 output: the
    * day-bucketed (capped) gap that ended at purchase `event_id`.
    */
  final case class GapSample(user_id: Long, event_id: Long, gap_days: Long)

  final case class GapState(prevTus: Long, prevId: Long, hasPrev: Boolean,
      pending: List[(Long, Long)])

  /** Stage 1 of q292's live twin — per-user inter-purchase gap
    * finalization: purchases buffer per user until the watermark
    * finalizes them (the recoveryLatency posture), then replay in
    * (event-time, event_id) order against the last finalized purchase,
    * emitting each gap day-bucketed and capped at `capDays` (q292's
    * open-tail bucket) the moment it can no longer change. The repeat-
    * interval dashboard row is one aggregation over this delta topic
    * ([[intervalHistogramOf]], the q288/q293 two-stage shape) —
    * spec-pinned bit-equal to the batch q292 on a shuffled-arrival
    * fixture. State per user: the last finalized purchase plus the
    * lateness-bounded buffer; beyond-watermark stragglers older than
    * the finalized frontier are dropped (they are unplaceable in an
    * already-emitted gap sequence — the lastDay guard in gap form).
    */
  def purchaseGaps(events: DataFrame, timeCol: String, userCol: String,
      typeCol: String, watermarkDelay: String,
      capDays: Long = 31L): Dataset[GapSample] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($userCol AS bigint)"), col(timeCol),
        expr(s"unix_micros(cast($timeCol AS timestamp))"),
        col("event_id"),
        coalesce(col(typeCol) === "purchase", lit(false)))
      .as[(Long, java.sql.Timestamp, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapSample](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[GapState]) =>
          val st0 = state.getOption
            .getOrElse(GapState(Long.MinValue, Long.MinValue, false, Nil))
          val fresh = rows.filter(r => r._5 &&
            (!st0.hasPrev || r._3 > st0.prevTus)).map(r => (r._3, r._4))
          val pending = st0.pending ++ fresh
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = pending.partition(_._1 <= wm * 1000L)
          var (ptus, pid, has) = (st0.prevTus, st0.prevId, st0.hasPrev)
          val out = ready.sortBy(identity).flatMap { case (tus, id) =>
            val o =
              if (has)
                Some(GapSample(user, id,
                  math.min(math.floorDiv(tus - ptus, 86400000000L), capDays)))
              else None
            ptus = tus; pid = id; has = true
            o
          }
          state.update(GapState(ptus, pid, has, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min / 1000L else wm + 60000L
          state.setTimeoutTimestamp(math.max(next, wm + 1L))
          out.iterator
      }
  }

  /** Stage 2 of q292's twin: the interval histogram with shares and the
    * cumulative distribution over the stage-1 delta topic — usable as a
    * batch query over the sink (the spec's form) or a streaming
    * aggregation. Algebra is the batch q292's verbatim (exact int64
    * histogram, terminal IEEE divisions; the cumulative window runs
    * over ≤ capDays+1 rows).
    */
  def intervalHistogramOf(gaps: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
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
  }

  /** One finalized user session at µs resolution — q288's stage-1
    * output (and the delta-topic payload between the two stages).
    */
  final case class FinalSession(user_id: Long, sstart_us: Long,
      send_us: Long, sstart_ts: java.sql.Timestamp)

  final case class USessions(sessions: List[(Long, Long)])

  /** Stage 1 of q288's live twin: per-user sessionization at µs
    * resolution with q288's EXACT break rule (a gap is a break only
    * when STRICTLY greater than `gapUs` — `tus − lag > gap`, so two
    * events exactly gap apart share a session), emitting each session
    * once the watermark proves no on-time event can extend it
    * (wm > send + gap). An arrival may extend a session backwards or
    * bridge two open ones — the interval-merge handles both (the
    * closedSessions posture, µs-exact). State per user is the open-
    * session interval list, bounded by the lateness window.
    *
    * q288 needs a GLOBAL running sum over all users' session
    * boundaries; chaining two flatMapGroupsWithState ops in one query
    * is rejected by Spark's UnsupportedOperationChecker, and that
    * matches production shape anyway: the sessionizer writes a
    * compacted delta topic, the concurrency folder (concurrencyPeaks)
    * consumes it — exactly this two-stage split.
    */
  def sessionDeltas(events: DataFrame, timeCol: String, userCol: String,
      gapUs: Long, watermarkDelay: String): Dataset[FinalSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      .select(expr(s"try_cast($userCol AS bigint)"),
        col(timeCol),
        expr(s"unix_micros(cast($timeCol AS timestamp))"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[USessions, FinalSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[USessions]) =>
          val existing = state.getOption.map(_.sessions).getOrElse(Nil)
          val arrivals = rows.map(r => (r._3, r._3)).toList
          // merge old + new intervals within gap (INCLUSIVE: the batch
          // breaks only on tus − lag > gap)
          val merged = (existing ++ arrivals).sortBy(identity)
            .foldLeft(List.empty[(Long, Long)]) { (acc, s) =>
              acc match {
                case h :: t if s._1 - h._2 <= gapUs =>
                  (h._1, math.max(h._2, s._2)) :: t
                case _ => s :: acc
              }
            }.reverse
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // close rule: on-time events have tus ≥ wm, and an event can
          // only merge when tus ≤ send + gap — so wm > send + gap is final
          val (closed, open) = merged.partition(s => s._2 + gapUs < wmUs)
          if (open.nonEmpty) {
            state.update(USessions(open))
            state.setTimeoutTimestamp((open.map(_._2).min + gapUs) / 1000L + 1L)
          } else state.remove()
          closed.sortBy(identity).iterator.map { case (a, b) =>
            val ts = new java.sql.Timestamp(Math.floorDiv(a, 1000L))
            ts.setNanos((Math.floorMod(a, 1000000L) * 1000L).toInt)
            FinalSession(user, a, b, ts)
          }
      }
  }

  /** One finalized day of the live peak-concurrency monitor — q288's
    * twin output (same columns as the batch row).
    */
  final case class DayPeak(day: String, peak_concurrency: Long,
      n_boundary_points: Long)

  final case class ConcState(conc: Long,
      days: Map[Long, (Long, Long)],
      pending: List[(Long, Long, Long, Long)])

  /** Stage 2 of q288's live twin: the global sweep line. Consumes
    * stage-1 sessions (the delta topic), explodes each into q288's +1
    * at sstart / −1 at send+1 boundary points, buffers them until the
    * watermark and folds in the batch's EXACT global order
    * (t asc, +1 before −1, user asc, sstart asc — a session ending
    * exactly when another starts still overlaps it), maintaining the
    * running concurrency across days (the curve never resets) and each
    * open day's (peak, boundary-point count). A day emits once the
    * watermark passes its end. Finality argument: stage 2 watermarks on
    * the session START column — any not-yet-arrived on-time session has
    * sstart ≥ wm, and both its deltas sit at t ≥ sstart, so every
    * buffered point below the watermark is final. The stage-2
    * watermark delay must therefore cover the longest session span +
    * gap + the stage-1 delay (production bounds the span with q263's
    * duration cap, which makes this a constant). The series is global
    * (one row per calendar day) — the single group is the correct
    * parallelism; state is the running counter, the open days' pairs,
    * and the lateness-bounded point buffer.
    */
  def concurrencyPeaks(sessions: DataFrame,
      watermarkDelay: String): Dataset[DayPeak] = {
    val spark = sessions.sparkSession
    import spark.implicits._
    sessions
      .withWatermark("sstart_ts", watermarkDelay)
      .select(col("sstart_ts"), col("user_id"), col("sstart_us"),
        col("send_us"))
      .as[(java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[ConcState, DayPeak](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[ConcState]) =>
          val st0 = state.getOption
            .getOrElse(ConcState(0L, Map.empty, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val pending = st0.pending ++ rows.flatMap { r =>
            List((r._3, 1L, r._2, r._3), (r._4 + 1L, -1L, r._2, r._3))
          }
          val (ready, hold) = pending.partition(_._1 < wmUs)
          var conc = st0.conc
          var days = st0.days
          ready.sortBy { case (t, dlt, u, ss) => (t, -dlt, u, ss) }
            .foreach { case (t, dlt, _, _) =>
              conc += dlt
              val day = Math.floorDiv(t, 86400000000L)
              val (pk, n) = days.getOrElse(day, (Long.MinValue, 0L))
              days = days.updated(day, (math.max(pk, conc), n + 1L))
            }
          // a day is final once the watermark passes its end: every
          // point with t < wm was ready above, and no future point can
          // land below the watermark
          val (done, still) = days.partition {
            case (day, _) => (day + 1L) * 86400000000L <= wmUs
          }
          state.update(ConcState(conc, still, hold))
          val next = if (hold.nonEmpty) hold.map(_._1).min / 1000L
            else wmUs / 1000L + 60000L
          state.setTimeoutTimestamp(math.max(next, wmUs / 1000L + 1L))
          done.toSeq.sortBy(_._1).iterator.map { case (day, (pk, n)) =>
            DayPeak(java.time.LocalDate.ofEpochDay(day).toString, pk, n)
          }
      }
  }

  /** One finalized A/B contribution delta — q199's stage-1 output: on
    * the finalized `day` a user's experiment contribution changed by
    * `dn` to their arm's denominator (newly exposed) and `dx` to its
    * numerator (exposed ∧ converted became true). `nation` is the
    * user's static dimension key (−1 when [[abDeltas]] runs without a
    * lookup) so per-nation consumers ([[abNationSnapshotOf]]) can ride
    * the same topic as the global ones.
    */
  final case class AbDelta(day: Long, nation: Long, in_a: Boolean,
      dn: Long, dx: Long)

  /** Per-user A/B state. `ver` is the STATE-SCHEMA VERSION, checked on
    * every read: a checkpoint written by a different encoding fails
    * with an actionable message naming both versions, instead of (at
    * best) Spark's generic state-schema rejection or (at worst — a
    * semantic change that happens to keep the same field layout) silent
    * misreads. History: v1 = pre-round-13 (no nation; hasPurchase
    * boolean), v2 = round 13 (nation key; purchase COUNT for the
    * convertAtPurchases threshold), v3 = this versioned layout. v1/v2
    * checkpoints are not resumable — restart from a fresh checkpoint
    * and replay the topic (pre-release policy; the version field is
    * what turns the next bump into a readable error).
    */
  final case class AbUserState(ver: Int, inA: Boolean, nation: Long,
      hasView: Boolean, purchases: Long, lastDay: Long,
      pending: Map[Long, (Boolean, Long)])

  object AbUserState { val Version = 3 }

  /** Stage 1 of q199's live twin — per-user exposure/conversion
    * finalization: the batch z-test counts each user once (exposed =
    * any view, converted = exposed ∧ any purchase, ORDER-FREE); the
    * live form keeps exactly those two booleans per user plus the
    * lateness-bounded open-day flags, folds days in watermark order,
    * and emits a delta row ONLY when the user's (denominator,
    * numerator) contribution changes — ≤ 2 rows per user lifetime, so
    * the delta topic is user-bounded, not event-bounded. Arms ride the
    * library id-hash as a column (content-independent, computed once,
    * stored in state for timeout-only invocations). A beyond-watermark
    * straggler for an already-finalized day is dropped by the lastDay
    * guard every finalizing twin carries. Downstream, the daily
    * dashboard is one keyed aggregation over this topic
    * ([[abSnapshotOf]] — the q288/q293 two-stage shape); the spec pins
    * the composed prefix snapshots bit-equal to the batch q199 replayed
    * on each finalized prefix of a shuffled-arrival fixture.
    *
    * Two generalization knobs (defaults reproduce q199 exactly):
    * `users` — a static (user, nation) lookup broadcast-joined in
    * (inner, the batch customer-join semantics) so each delta carries
    * the user's static dimension key and [[abNationSnapshotOf]] can run
    * the per-nation BH-corrected dashboard off the same topic; and
    * `convertAtPurchases` — conversion as a cumulative purchase-count
    * threshold (1 = q199's any-purchase; 14 = q335's heavy-buyer cut).
    * Conversion stays monotone under any threshold, so the ≤ 2 delta
    * rows per user lifetime contract is unchanged; the purchase counter
    * folds in finalized-day order, counting only in-watermark events
    * (the same straggler contract as the flags).
    *
    * STATE-SCHEMA MIGRATION NOTE: adding these knobs changed the
    * [[AbUserState]]/[[AbDelta]] encodings (nation field; purchase
    * COUNT where a boolean was stored). A checkpoint written by the
    * previous shape cannot be resumed — Spark's state-store schema
    * validation rejects it at restart. Upgrade path: stop the old
    * query cleanly, start the new one with a FRESH checkpoint from a
    * replayable position (the sharded-stream source's `at_sequence` /
    * `at_timestamp` starts exist exactly for this), and let downstream
    * consumers dedup on the (day, user-transition) contract.
    */
  def abDeltas(events: DataFrame, timeCol: String, userCol: String,
      typeCol: String, watermarkDelay: String,
      users: Option[DataFrame] = None,
      convertAtPurchases: Long = 1L): Dataset[AbDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(timeCol, watermarkDelay)
      .filter(expr(s"try_cast($userCol AS bigint)").isNotNull)
      // drop irrelevant traffic BEFORE the stateful stage: a user whose
      // events are all non-view/non-purchase can never change the
      // experiment counts, but without this filter groupByKey would
      // still materialize (and forever retain) an empty state entry per
      // such user — state would grow with irrelevant-traffic
      // cardinality, not experiment cardinality
      .filter(col(typeCol) === "view" || col(typeCol) === "purchase")
      .select(expr(s"try_cast($userCol AS bigint)").as("uid"), col(timeCol),
        expr(s"CAST(floor(unix_micros(cast($timeCol AS timestamp)) / 86400000000.0) AS BIGINT)")
          .as("_day"),
        col(typeCol).as("_type"))
    // the static user→nation dimension rides a broadcast stream-static
    // join (the batch queries' customer join, same inner semantics:
    // users absent from the lookup contribute nothing — which makes the
    // srm/snapshot prefix equalities EXACT, not modulo-join); without a
    // lookup every user lands in nation −1 and the per-nation consumers
    // degenerate to the global ones
    val dim = users match {
      case Some(u) =>
        val cols = u.columns
        // exactly-two-column contract: the binding is positional (first
        // = user key, second = nation), so a wider frame — say the full
        // customer table — would silently cast a name column to null
        // nations; make that a construction-time error instead
        require(cols.length == 2,
          s"users lookup must have exactly (user, nation) columns, got " +
            s"${cols.mkString("[", ", ", "]")} — project it first")
        typed.join(
          broadcast(u.select(col(cols(0)).cast("bigint").as("uid"),
            col(cols(1)).cast("bigint").as("_nation"))), Seq("uid"))
      case None => typed.withColumn("_nation", lit(-1L))
    }
    dim
      // arm = the library id-hash of the CANONICAL bigint id (the same
      // value the state groups by and batch q199 hashes) — hashing the
      // raw input string would give "07" and "7" different arms while
      // they share one state
      .select(col("uid"), col(timeCol), col("_day"),
        graft.Ids.hash("uid") % 2 === 0,
        coalesce(col("_type") === "view", lit(false)),
        coalesce(col("_type") === "purchase", lit(false)),
        col("_nation"))
      .as[(Long, java.sql.Timestamp, Long, Boolean, Boolean, Boolean, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AbUserState, AbDelta](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[AbUserState]) =>
          val st0 = state.getOption
            .getOrElse(AbUserState(AbUserState.Version, false, -1L, false,
              0L, Long.MinValue, Map.empty))
          require(st0.ver == AbUserState.Version,
            s"AbUserState v${st0.ver} checkpoint cannot be resumed by this " +
              s"build (expects v${AbUserState.Version}); start from a fresh " +
              "checkpoint and replay the source")
          var pending = st0.pending
          var inA = st0.inA
          var nation = st0.nation
          var seeded = state.exists
          rows.foreach { r =>
            if (!seeded) { inA = r._4; nation = r._7; seeded = true }
            if ((r._5 || r._6) && r._3 > st0.lastDay) {
              val (v0, p0) = pending.getOrElse(r._3, (false, 0L))
              pending = pending.updated(r._3,
                (v0 || r._5, p0 + (if (r._6) 1L else 0L)))
            }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val finalUpTo = math.floorDiv(wmMs, 86400000L) - 1L
          var hv = st0.hasView
          var np = st0.purchases
          var lastDay = st0.lastDay
          val out = scala.collection.mutable.ArrayBuffer.empty[AbDelta]
          pending.keys.filter(_ <= finalUpTo).toSeq.sorted.foreach { day =>
            val (dv, dp) = pending(day)
            pending = pending - day
            lastDay = math.max(lastDay, day)
            val hp = np >= convertAtPurchases
            val nhv = hv || dv
            val nnp = np + dp
            val nhp = nnp >= convertAtPurchases
            val dn = (if (nhv) 1L else 0L) - (if (hv) 1L else 0L)
            val dx = (if (nhv && nhp) 1L else 0L) - (if (hv && hp) 1L else 0L)
            if (dn != 0L || dx != 0L) out += AbDelta(day, nation, inA, dn, dx)
            hv = nhv; np = nnp
          }
          state.update(AbUserState(AbUserState.Version, inA, nation, hv, np,
            lastDay, pending))
          // re-arm a timeout ONLY while days are still open: a drained
          // user needs no wake-up (new events re-enter state on arrival),
          // and an unconditional re-arm would re-invoke and rewrite EVERY
          // user ever seen on every watermark advance — O(total users)
          // per micro-batch forever
          if (pending.nonEmpty) state.setTimeoutTimestamp(wmMs + 60000L)
          out.iterator
      }
  }

  /** Stage 2 of q199's twin: the daily experiment dashboard over the
    * stage-1 delta topic — one snapshot row per finalized day with a
    * transition, carrying the RUNNING arm counts and the z decision
    * for the whole finalized prefix. The z chain is the batch q199's
    * verbatim (pooled SE, one fixed IEEE tree), so each day's row is
    * bit-equal to the batch query run over that prefix; days where an
    * arm is still empty report z = 0 (the batch's degenerate-SE
    * convention). The running sums ride an ordered window over the
    * per-day delta relation — calendar-bounded (q165's day-grid
    * posture), never event-sized.
    */
  def abSnapshotOf(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = deltas.groupBy(col("day"))
      .agg(
        sum(when(col("in_a"), col("dn")).otherwise(0L)).as("dna"),
        sum(when(col("in_a"), col("dx")).otherwise(0L)).as("dxa"),
        sum(when(!col("in_a"), col("dn")).otherwise(0L)).as("dnb"),
        sum(when(!col("in_a"), col("dx")).otherwise(0L)).as("dxb"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("n_a", sum(col("dna")).over(w))
      .withColumn("x_a", sum(col("dxa")).over(w))
      .withColumn("n_b", sum(col("dnb")).over(w))
      .withColumn("x_b", sum(col("dxb")).over(w))
    // ANSI guard: the empty-arm rows are discarded by the outer when(),
    // but codegen's common-subexpression pass evaluates these divisions
    // EAGERLY — clamp the denominators to 1 there (bit-identical to the
    // batch chain whenever the arm is non-empty, which is the only case
    // whose value survives)
    val naD = greatest(col("n_a"), lit(1L)).cast("double")
    val nbD = greatest(col("n_b"), lit(1L)).cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt((pp * (lit(1.0) - pp)) *
      (lit(1.0) / naD + lit(1.0) / nbD))
    val pa = col("x_a").cast("double") / naD
    val pb = col("x_b").cast("double") / nbD
    cum.select(col("day"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      when(col("n_a") === 0L || col("n_b") === 0L || se === 0.0, 0.0)
        .otherwise((pa - pb) / se).as("z_stat"),
      when(col("n_a") > 0L && col("n_b") > 0L && se =!= 0.0 &&
          abs((pa - pb) / se) > 1.96, 1L)
        .otherwise(0L).as("significant"))
      .orderBy("day")
  }

  /** q337's live global cell as a THIRD consumer of [[abDeltas]]'s
    * topic (the one-finalized-stream-many-dashboards posture q299
    * established): per finalized day with a transition, the running
    * arm counts and the chi-square sample-ratio-mismatch check against
    * the designed 50/50 — the trust pager that should fire BEFORE
    * anyone reads [[abSnapshotOf]]'s metric row. The chi² chain is the
    * batch q337's verbatim; each day's row equals the batch global
    * cell over that finalized prefix MODULO q337's customer join — the
    * batch query inner-joins customer (dropping exposed users with no
    * customer row) while this stream counts every exposed user on the
    * topic, so exact equality holds precisely when all event users
    * exist in customer (true of the testdata generator, and the
    * precondition the StreamOpsSpec pin runs under) — or
    * unconditionally when [[abDeltas]] is fed the `users` lookup, which
    * reproduces the batch join inside the topic itself.
    */
  def srmMonitorOf(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = deltas.groupBy(col("day"))
      .agg(
        sum(when(col("in_a"), col("dn")).otherwise(0L)).as("dna"),
        sum(when(!col("in_a"), col("dn")).otherwise(0L)).as("dnb"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chi2 = (col("n_a") - col("n_b")).cast("double") *
      (col("n_a") - col("n_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    daily
      .withColumn("n_a", sum(col("dna")).over(w))
      .withColumn("n_b", sum(col("dnb")).over(w))
      .filter(col("n_a") + col("n_b") > 0L)
      .select(col("day"), col("n_a"), col("n_b"), chi2.as("chi2"),
        when(chi2 > 3.841, 1L).otherwise(0L).as("srm_flag"))
      .orderBy("day")
  }

  /** The FOURTH consumer of [[abDeltas]]'s topic: the per-nation live
    * experiment dashboard with the q335 Benjamini–Hochberg step-up — the
    * corrected readout a live operator should act on. [[abSnapshotOf]]
    * reports one UNCORRECTED global z; the batch q199/q335 pair reports
    * per-nation tests with BH multiple-testing control, so a reader
    * acting on the global row can contradict the corrected batch
    * decision. This closes that gap live: for each finalized day with a
    * transition anywhere, the running per-nation arm counts, z, the
    * distribution-free Chebyshev p = min(1, 1/z²), and the BH step-up
    * at α = 0.1 over that day's |nations|-row test set — the EXACT q335
    * chain (same filter, same IEEE tree, same tie-break), so each day's
    * rows are bit-equal to batch q335 over that finalized prefix
    * (feed [[abDeltas]] the customer lookup and `convertAtPurchases =
    * 14` for literal q335 parity; the spec pins it).
    *
    * Scale shape: the delta topic is user-bounded; everything past the
    * per-(day, nation) agg rides day×|nations|-sized relations — the
    * cumulative window is per-nation over the day grid, and the BH
    * windows are per-day over |nations| rows. The day grid is a cross
    * join of two tiny relations (calendar × dimension), never
    * event-sized.
    */
  /** The shared cumulative look-series core of the per-nation
    * consumers: per (finalized day × nation) with both arms non-empty,
    * the RUNNING arm counts over the day grid and the q335 z — what
    * [[abNationSnapshotOf]] decorates with the BH step-up and
    * [[sequentialStopOf]] thresholds directly (no discarded rank
    * windows on the stopping path).
    */
  private def nationLookSeries(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // freeze the (day × nation)-sized daily relation: three consumers
    // below (day list, nation list, the join-back) — the freeze runs the
    // delta scan ONCE and gives the analyzer a cloneable leaf for the
    // self-joins (q338's frozen-relation posture)
    val daily = graft.Checkpoints.checkpointLazy(
      deltas.groupBy(col("day"), col("nation"))
        .agg(
          sum(when(col("in_a"), col("dn")).otherwise(0L)).as("dna"),
          sum(when(col("in_a"), col("dx")).otherwise(0L)).as("dxa"),
          sum(when(!col("in_a"), col("dn")).otherwise(0L)).as("dnb"),
          sum(when(!col("in_a"), col("dx")).otherwise(0L)).as("dxb")))
    // a nation with no transition on day D still contributes its running
    // counts to day D's test family — materialize the (day × nation)
    // grid and zero-fill, then cumulate per nation
    val grid = daily.select(col("day")).distinct()
      .crossJoin(daily.select(col("nation")).distinct())
    val wCum = Window.partitionBy(col("nation")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(daily, Seq("day", "nation"), "left")
      .na.fill(0L, Seq("dna", "dxa", "dnb", "dxb"))
      .withColumn("n_a", sum(col("dna")).over(wCum))
      .withColumn("x_a", sum(col("dxa")).over(wCum))
      .withColumn("n_b", sum(col("dnb")).over(wCum))
      .withColumn("x_b", sum(col("dxb")).over(wCum))
      // q335's test-family membership: both arms non-empty
      .filter(col("n_a") > 0L && col("n_b") > 0L)
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt((pp * (lit(1.0) - pp)) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    cum.withColumn("z_stat",
      when(se === 0.0, 0.0)
        .otherwise((col("x_a").cast("double") / col("n_a").cast("double") -
          col("x_b").cast("double") / col("n_b").cast("double")) / se))
  }

  def abNationSnapshotOf(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDay = Window.partitionBy(col("day"))
    val wRank = Window.partitionBy(col("day"))
      .orderBy(col("z2").desc, col("nation"))
    nationLookSeries(deltas)
      .withColumn("z2", col("z_stat") * col("z_stat"))
      .withColumn("p_cheb",
        when(col("z2") === 0.0, 1.0)
          .otherwise(least(lit(1.0), lit(1.0) / col("z2"))))
      .withColumn("m", count(lit(1)).over(wDay))
      .withColumn("bh_rank", row_number().over(wRank))
      .withColumn("pass",
        when(col("bh_rank") * col("z2") >= col("m") * lit(10.0), 1L)
          .otherwise(0L))
      .withColumn("k",
        max(when(col("pass") === 1L, col("bh_rank")).otherwise(0L)).over(wDay))
      .select(col("day"), col("nation").as("nationkey"), col("n_a"),
        col("x_a"), col("n_b"), col("x_b"), col("z_stat"), col("p_cheb"),
        col("bh_rank"),
        when(col("bh_rank") <= col("k"), 1L).otherwise(0L).as("rejected"))
      .orderBy("day", "nationkey")
  }

  /** The FIFTH consumer of [[abDeltas]]'s topic: the live
    * group-sequential stopping monitor — batch q341's streaming twin.
    * Reading the daily dashboard every day is MANY correlated tests;
    * this reports, per nation, the first finalized day whose running z
    * legitimately clears the fixed conservative boundary (|z| > 2.5 by
    * default, z² > 6.25 — the same Pocock-style constant q341
    * documents), i.e. the earliest day the experiment could have
    * stopped. Rides [[abNationSnapshotOf]]'s per-day look relation;
    * cumulative counts only change on a nation's own transition days,
    * so the first clearing look always coincides with a transition day
    * — the reported day equals batch q341's `first_cross_day` over the
    * finalized prefix (the spec twin-pins it). Nations that never
    * cross simply have no row: absence IS the "keep running" signal.
    */
  def sequentialStopOf(deltas: DataFrame,
      boundaryZ2: Double = 6.25): DataFrame = {
    nationLookSeries(deltas)
      .filter(col("z_stat") * col("z_stat") > boundaryZ2)
      .groupBy(col("nation").as("nationkey"))
      .agg(min(col("day")).as("first_cross_day"),
        min_by(col("z_stat"), col("day")).as("z_at_cross"))
      .orderBy("nationkey")
  }

  /** The SIXTH consumer of [[abDeltas]]'s topic: the live effect-
    * heterogeneity monitor — batch q346's streaming twin. Per finalized
    * day with a transition anywhere: Cochran's Q and I² over that day's
    * per-nation cumulative effects with inverse-variance weights — the
    * live answer to "is the per-nation dashboard ([[abNationSnapshotOf]])
    * or the pooled readout the legitimate one RIGHT NOW?". The chain is
    * batch q346's verbatim (unpooled variances, the one-pass Q identity,
    * [[graft.Det.dsum]]'d weighted sums), so a day-D row equals batch
    * q346 over that finalized prefix — feed [[abDeltas]] the customer
    * lookup and `convertAtPurchases = 14` for literal parity (the spec
    * pins it). Degenerate cells (0/1 proportions on both arms → vᵢ = 0)
    * leave the day's meta-set exactly as in batch.
    *
    * Scale shape: rides the [[nationLookSeries]] day×|nations| relation;
    * everything after is arithmetic and a per-day keyed agg.
    */
  def heterogeneityMonitorOf(deltas: DataFrame): DataFrame = {
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val vi = pa * (lit(1.0) - pa) / col("n_a").cast("double") +
      pb * (lit(1.0) - pb) / col("n_b").cast("double")
    nationLookSeries(deltas)
      .withColumn("theta", pa - pb)
      .withColumn("vi", vi)
      .filter(col("vi") > 0.0)
      .withColumn("w", lit(1.0) / col("vi"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("k"),
        graft.Det.dsum(col("w")).as("sw"),
        graft.Det.dsum(col("w") * col("theta")).as("swt"),
        graft.Det.dsum(col("w") * col("theta") * col("theta")).as("swtt"))
      .select(col("day"), col("k"),
        (col("swt") / col("sw")).as("theta_bar"),
        (col("swtt") - col("swt") * col("swt") / col("sw")).as("q_stat"),
        when((col("swtt") - col("swt") * col("swt") / col("sw")) <= 0.0 ||
            col("k") <= 1L, 0.0)
          .otherwise(greatest(lit(0.0),
            ((col("swtt") - col("swt") * col("swt") / col("sw")) -
              (col("k") - 1L).cast("double")) /
              (col("swtt") - col("swt") * col("swt") / col("sw"))))
          .as("i2"))
      .orderBy("day")
  }

  /** Stage 1 of q343's live twin — finalized daily value-distribution
    * cells: per (day, event_type, bucket) event counts, emitted once
    * the watermark closes the day (plain windowed count, Append mode —
    * no per-key user state; the distribution IS the aggregate).
    * Buckets are q343's fixed 50-wide bins with the last open-ended:
    * fixed edges make the cells mergeable across partitions and days.
    */
  def dailyValueCells(events: DataFrame, timeCol: String,
      typeCol: String, valueCol: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(
        window(col(timeCol), "1 day").as("w"),
        col(typeCol).as("event_type"),
        least(floor(col(valueCol) / lit(50.0)), lit(6.0)).cast("long")
          .as("b"))
      .agg(count(lit(1)).as("n"))
      // the window struct must survive INTO the aggregate for watermark
      // tracking; project the day start only after it
      .select(col("w").getField("start").as("day"),
        col("event_type"), col("b"), col("n"))

  /** Stage 2 of q343's live twin: the running drift monitor over the
    * stage-1 cell topic — per finalized day × event_type, the two-sample
    * χ² of the CUMULATIVE value distribution before vs after the fixed
    * `boundary` (batch q343's test, replayed on every finalized prefix:
    * a day-D row equals batch q343 over events with day ≤ D — the spec
    * pins it). Until the boundary passes, every cell is pre-only and
    * the χ² is the degenerate 0 — the monitor only starts speaking
    * once post-boundary days finalize, exactly like the batch query on
    * a prefix that ends before the boundary.
    *
    * Scale shape: the cell topic is (days × types × 7)-sized; the day
    * grid, cumulative windows, and per-(day, type) χ² aggregation all
    * ride that calendar-bounded relation (the [[abNationSnapshotOf]]
    * posture — checkpoint-frozen, scanned once).
    */
  def valueDriftMonitorOf(cells: DataFrame,
      boundary: String = "2024-01-16"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = graft.Checkpoints.checkpointLazy(
      cells.groupBy(col("day"), col("event_type"), col("b"))
        .agg(sum(col("n")).as("n"))
        .withColumn("pre", col("day") < lit(boundary).cast("timestamp")))
    val grid = daily.select(col("day")).distinct()
      .crossJoin(daily.select(col("event_type"), col("b")).distinct())
    val wCum = Window.partitionBy(col("event_type"), col("b"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(daily.select(col("day"), col("event_type"), col("b"),
        when(col("pre"), col("n")).otherwise(0L).as("dn1"),
        when(!col("pre"), col("n")).otherwise(0L).as("dn2")),
        Seq("day", "event_type", "b"), "left")
      .na.fill(0L, Seq("dn1", "dn2"))
      .withColumn("n1", sum(col("dn1")).over(wCum))
      .withColumn("n2", sum(col("dn2")).over(wCum))
      // a bucket joins the test only once it has mass — batch parity
      .filter(col("n1") + col("n2") > 0L)
    val wDay = Window.partitionBy(col("day"), col("event_type"))
    val d1 = col("n1").cast("double")
    val d2 = col("n2").cast("double")
    val dN1 = col("nn1").cast("double")
    val dN2 = col("nn2").cast("double")
    val num = (d1 * dN2 - d2 * dN1) * (d1 * dN2 - d2 * dN1)
    val term = when(col("nn1") === 0L || col("nn2") === 0L, 0.0)
      .otherwise(num / (dN1 * dN2 * (d1 + d2)))
    cum
      .withColumn("nn1", sum(col("n1")).over(wDay))
      .withColumn("nn2", sum(col("n2")).over(wDay))
      .withColumn("term", term)
      .groupBy(col("day"), col("event_type"))
      .agg(max(col("nn1")).as("n_pre"), max(col("nn2")).as("n_post"),
        count(lit(1)).as("n_buckets"),
        graft.Det.dsum(col("term")).as("chi2"))
      .select(col("day"), col("event_type"), col("n_pre"), col("n_post"),
        col("n_buckets"), col("chi2"),
        when(col("chi2") > 12.592, 1L).otherwise(0L).as("drift_flag"))
      .orderBy("day", "event_type")
  }

  /** Stage 1 of q350's live twin — finalized per-minute event-type
    * cells: (minute, type) counts emitted once the watermark closes the
    * minute (plain windowed count, Append mode — the [[dailyValueCells]]
    * posture: no keyed user state; the distribution IS the aggregate).
    * The cell topic is minutes × types — calendar-bounded, the unit
    * batch q350's Fano reads.
    */
  def minuteCells(events: DataFrame, timeCol: String, typeCol: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), "1 minute").as("w"),
        col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("w").getField("start").as("mi"), col("event_type"), col("c"))

  /** Stage 2 of q350's live twin: the running burstiness pager over the
    * stage-1 minute-cell topic — per finalized day × event_type, batch
    * q350's Fano index (variance-to-mean of per-minute counts over the
    * DENSE minute grid) of the CUMULATIVE prefix: a day-D row equals
    * batch q350 over events with minute-day ≤ D (the spec pins it, the
    * [[valueDriftMonitorOf]] replay posture). q92's live windows flag
    * WHICH windows burst as they close; this is the one-number
    * dispersion monitor that says whether a type has gone bursty AT ALL
    * — the drift/burst/heterogeneity live-monitor family's last member.
    *
    * Scale shape: the cell topic is calendar-bounded; the daily moment
    * relation (days × types) carries everything. The one
    * unpartitioned window — the running global minute span — runs over
    * the |days|-sized relation (bounded at ~365 rows/year at ANY corpus
    * scale; same posture as batch q350's single span row), and the m·Σc²
    * moment identity means empty minutes are never materialized.
    */
  def burstinessMonitorOf(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = graft.Checkpoints.checkpointLazy(
      cells.groupBy(col("mi"), col("event_type"))
        .agg(sum(col("c")).as("c"))
        .withColumn("day", date_trunc("day", col("mi"))))
    // per-(day, type) finalized moments; zeros (absent types) join via
    // the day × type grid so every finalized day reports every type
    // seen so far (batch parity: a type present in the prefix reports)
    val dm = daily.groupBy(col("day"), col("event_type"))
      .agg(sum(col("c")).as("dsc"), sum(col("c") * col("c")).as("dscc"),
        count(lit(1)).as("dact"))
    val grid = daily.select(col("day")).distinct()
      .crossJoin(daily.select(col("event_type")).distinct())
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(dm, Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("dsc", "dscc", "dact"))
      .withColumn("sc", sum(col("dsc")).over(wCum))
      .withColumn("scc", sum(col("dscc")).over(wCum))
      .withColumn("active_minutes", sum(col("dact")).over(wCum))
      .filter(col("sc") > 0L)
    // running global minute span per finalized day — |days|-sized
    val spanDaily = daily.groupBy(col("day"))
      .agg(min(col("mi")).as("dmin"), max(col("mi")).as("dmax"))
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val span = spanDaily
      .withColumn("m",
        ((unix_timestamp(max(col("dmax")).over(wDays)) -
          unix_timestamp(min(col("dmin")).over(wDays))) / lit(60L))
          .cast("long").+(lit(1L)))
      .select(col("day"), col("m"))
    val fano = (col("m").cast("double") * col("scc").cast("double") -
      col("sc").cast("double") * col("sc").cast("double")) /
      (col("m").cast("double") * col("sc").cast("double"))
    cum.join(broadcast(span), "day")
      .select(col("day"), col("event_type"), col("m").as("m_minutes"),
        col("active_minutes"), col("sc").as("n_events"),
        (col("sc").cast("double") / col("m").cast("double")).as("mean"),
        fano.as("fano"),
        when(fano > 1.5, 1L).otherwise(0L).as("bursty_flag"))
      .orderBy("day", "event_type")
  }
}
