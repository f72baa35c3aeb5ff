package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** The core Structured Streaming operators over the sharded-stream
  * envelope (SURVEY.md §2.2 streaming row): schema-on-read payload
  * decode (`decodeJson`); event-time windows with a watermark
  * (`tumblingAgg`, `slidingAgg`, `sessionAgg`); watermark dedup
  * (`dedupWithinWatermark`); the stream-static join (`enrich`);
  * stream-stream interval joins (inner, left outer, full outer); and
  * arbitrary stateful processing (`closedSessions`, `shardProgress`).
  * Batch twins of the window/dedup/session ops are oracle-verified in
  * `graft.ops.Events`; the streaming forms are covered by StreamOpsSpec
  * and EndToEndStreamSpec.
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
}
