package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamOpsSpec extends AnyFunSuite with SparkTestSession {

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minutes / 60}%02d:${minutes % 60}%02d:00")

  private def runToSink(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable()
    finally q.stop()
  }

  test("tumblingAgg matches its batch twin semantics") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Double)](spark)
    input.addData((ts(5), 1.0), (ts(20), 2.0), (ts(65), 4.0), (ts(70), 8.0))
    val out = StreamOps.tumblingAgg(
      input.toDF().toDF("ts", "value"), "ts", "1 hour", "10 minutes", "value")
    runToSink(out, "tumbling_sink", OutputMode.Complete)
    val rows = spark.table("tumbling_sink")
      .select($"window_start", $"n_events", $"sum_value")
      .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq == Seq((ts(0), 2L, 3.0), (ts(60), 2L, 12.0)))
  }

  test("slidingAgg assigns an event to every overlapping window") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Double)](spark)
    // events at :05 and :35 — 1h windows sliding every 30m:
    //   :05 → windows starting 23:30 and 00:00; :35 → 00:00 and 00:30
    input.addData((ts(5), 1.0), (ts(35), 2.0))
    val out = StreamOps.slidingAgg(
      input.toDF().toDF("ts", "value"), "ts", "1 hour", "30 minutes",
      "10 minutes", "value")
    runToSink(out, "sliding_sink", OutputMode.Complete)
    val rows = spark.table("sliding_sink")
      .select($"window_start", $"n_events", $"sum_value")
      .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq == Seq(
      (Timestamp.valueOf("2023-12-31 23:30:00"), 1L, 1.0),
      (ts(0), 2L, 3.0),
      (ts(30), 1L, 2.0)))
  }

  test("sessionAgg groups events within the gap into one session") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    // user 1: events at 0,10,25 min (one session: gaps < 15m), then 60 (new)
    input.addData((ts(0), 1L), (ts(10), 1L), (ts(25), 1L), (ts(60), 1L))
    // advance the watermark far enough to close all sessions
    input.addData((ts(600), 99L))
    val out = StreamOps.sessionAgg(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id", "15 minutes", "0 seconds")
    runToSink(out, "session_sink", OutputMode.Append)
    val rows = spark.table("session_sink")
      .filter($"user_id" === 1L)
      .select($"session_start", $"session_end", $"n_events")
      .as[(Timestamp, Timestamp, Long)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq ==
      Seq((ts(0), ts(40), 3L), (ts(60), ts(75), 1L)))
  }

  test("dedupWithinWatermark drops repeated keys") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    input.addData((ts(0), 1L, "a"), (ts(1), 1L, "a"), (ts(2), 2L, "b"),
      (ts(3), 1L, "a"))
    val out = StreamOps.dedupWithinWatermark(
      input.toDF().toDF("ts", "user_id", "event_type"),
      "ts", "1 hour", Seq("user_id", "event_type"))
    runToSink(out, "dedup_sink")
    val rows = spark.table("dedup_sink").select($"user_id", $"event_type")
      .as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a"), (2L, "b")))
  }

  test("enrich performs a broadcast stream-static join") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    input.addData((ts(0), 1L), (ts(1), 2L), (ts(2), 7L))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("c_id", "tier")
    val out = StreamOps.enrich(input.toDF().toDF("ts", "user_id"), dim,
      "user_id", "c_id")
    runToSink(out, "enrich_sink")
    val rows = spark.table("enrich_sink").select($"user_id", $"tier")
      .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(rows == Seq((1L, Some("gold")), (2L, Some("silver")), (7L, None)))
  }

  test("intervalJoin matches stream-stream pairs within the window only") {
    import spark.implicits._
    val views = MemoryStream[(Timestamp, Long)](spark)
    val buys = MemoryStream[(Timestamp, Long)](spark)
    // user 1: view@0 → buy@30 (inside 1h) and buy@90 (outside)
    // user 2: buy@10 with no prior view
    views.addData((ts(0), 1L))
    buys.addData((ts(30), 1L), (ts(90), 1L), (ts(10), 2L))
    val out = StreamOps.intervalJoin(
      views.toDF().toDF("v_ts", "v_user"), buys.toDF().toDF("b_ts", "b_user"),
      "v_ts", "b_ts", "v_user", "b_user", "1 HOUR", "0 seconds")
    runToSink(out, "ssj_sink")
    val rows = spark.table("ssj_sink").select($"v_user", $"b_ts")
      .as[(Long, Timestamp)].collect().toSeq
    assert(rows == Seq((1L, ts(30))))
  }

  test("leftOuterIntervalJoin emits unmatched lefts as nulls once the watermark passes") {
    import spark.implicits._
    val views = MemoryStream[(Timestamp, Long)](spark)
    val buys = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamOps.leftOuterIntervalJoin(
      views.toDF().toDF("v_ts", "v_user"), buys.toDF().toDF("b_ts", "b_user"),
      "v_ts", "b_ts", "v_user", "b_user", "1 HOUR", "0 seconds")
    spark.sql("DROP TABLE IF EXISTS lssj_sink")
    val q = out.writeStream.format("memory").queryName("lssj_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: view@0 matched by buy@30; user 2: view@5, no buy ever
      views.addData((ts(0), 1L), (ts(5), 2L))
      buys.addData((ts(30), 1L))
      q.processAllAvailable()
      // the null-extended row for user 2 may only appear after the
      // watermark (min over both sides) passes view-time + interval —
      // push both sides far past it
      views.addData((ts(600), 99L))
      buys.addData((ts(600), 99L))
      q.processAllAvailable()
      views.addData((ts(1200), 99L))
      buys.addData((ts(1200), 99L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("lssj_sink")
      .filter($"v_user" < 99L)
      .select($"v_user", $"b_ts")
      .as[(Long, Option[Timestamp])].collect().toSeq.sortBy(_._1)
    assert(rows == Seq((1L, Some(ts(30))), (2L, None)))
  }

  test("intervalJoin self-joins one stream without renaming its columns") {
    // the natural funnel shape: ONE decoded stream filtered two ways,
    // keys and time columns sharing names on both sides — the join
    // condition must use dataset-qualified refs or every shared column
    // is ambiguous at analysis time
    import spark.implicits._
    val ev = MemoryStream[(Timestamp, Long, String)](spark)
    val df = ev.toDF().toDF("ts", "user_id", "kind")
    val out = StreamOps.intervalJoin(
      df.filter($"kind" === "view"), df.filter($"kind" === "buy"),
      "ts", "ts", "user_id", "user_id", "1 HOUR", "0 seconds")
    ev.addData((ts(0), 1L, "view"), (ts(30), 1L, "buy"), (ts(10), 2L, "buy"))
    runToSink(out, "selfj_sink")
    assert(spark.table("selfj_sink").count() == 1)
  }

  test("fullOuterIntervalJoin emits both sides' unmatched rows as nulls") {
    import spark.implicits._
    val views = MemoryStream[(Timestamp, Long)](spark)
    val buys = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamOps.fullOuterIntervalJoin(
      views.toDF().toDF("v_ts", "v_user"), buys.toDF().toDF("b_ts", "b_user"),
      "v_ts", "b_ts", "v_user", "b_user", "1 HOUR", "0 seconds")
    spark.sql("DROP TABLE IF EXISTS fssj_sink")
    val q = out.writeStream.format("memory").queryName("fssj_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: view@0 matched by buy@30 (inner row, emitted eagerly)
      // user 2: view@5 with no buy ever  → null-extended LEFT row
      // user 3: buy@10 with no view ever → null-extended RIGHT row
      views.addData((ts(0), 1L), (ts(5), 2L))
      buys.addData((ts(30), 1L), (ts(10), 3L))
      q.processAllAvailable()
      // outer rows trail the watermark by window + delay — push both
      // sides far past every candidate interval
      views.addData((ts(600), 99L))
      buys.addData((ts(600), 99L))
      q.processAllAvailable()
      views.addData((ts(1200), 99L))
      buys.addData((ts(1200), 99L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fssj_sink")
      .filter(coalesce($"v_user", $"b_user") < 99L)
      .select($"v_user", $"b_user", $"b_ts")
      .as[(Option[Long], Option[Long], Option[Timestamp])]
      .collect().toSeq.sortBy(r => r._1.orElse(r._2))
    assert(rows == Seq(
      (Some(1L), Some(1L), Some(ts(30))),
      (Some(2L), None, None),
      (None, Some(3L), Some(ts(10)))))
  }

  test("closedSessions emits on gap-crossing and on event-time timeout") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamOps.closedSessions(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gapMinutes = 15, watermarkDelay = "0 seconds").toDF()
    spark.sql("DROP TABLE IF EXISTS sessions_sink")
    val q = out.writeStream.format("memory").queryName("sessions_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 0,10 (one session), then 60 → crosses the 15m gap
      input.addData((ts(0), 1L), (ts(10), 1L))
      q.processAllAvailable()
      input.addData((ts(60), 1L))
      q.processAllAvailable()
      // advance the watermark far enough to time out the open session
      input.addData((ts(600), 99L))
      q.processAllAvailable()
      input.addData((ts(1200), 99L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_sink")
      .filter($"user_id" === 1L)
      .select($"session_start", $"session_end", $"n_events")
      .as[(Timestamp, Timestamp, Long)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq == Seq((ts(0), ts(10), 2L), (ts(60), ts(60), 1L)))
  }

  test("closedSessions: a late event opens its own earlier session, not the open one") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamOps.closedSessions(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gapMinutes = 15, watermarkDelay = "2 hours").toDF()
    spark.sql("DROP TABLE IF EXISTS late_sessions_sink")
    val q = out.writeStream.format("memory").queryName("late_sessions_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // session opens at 2:00; a late event at 1:30 (within the 2h
      // watermark) is 30m earlier — beyond the gap, so it must become
      // its own session, not inflate the 2:00 one
      input.addData((ts(120), 1L))
      q.processAllAvailable()
      input.addData((ts(90), 1L))
      q.processAllAvailable()
      // an event at 1:40 bridges nothing (1:30 +15m = 1:45 ≥ 1:40 → joins
      // the 1:30 session; 2:00 − 1:40 = 20m > gap → stays separate)
      input.addData((ts(100), 1L))
      q.processAllAvailable()
      // close everything
      input.addData((ts(600), 99L)); q.processAllAvailable()
      input.addData((ts(1200), 99L)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_sessions_sink")
      .filter($"user_id" === 1L)
      .select($"session_start", $"session_end", $"n_events")
      .as[(Timestamp, Timestamp, Long)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq == Seq((ts(90), ts(100), 2L), (ts(120), ts(120), 1L)))
  }

  test("closedSessions: an event bridges two open intervals into one session") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = StreamOps.closedSessions(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gapMinutes = 15, watermarkDelay = "2 hours").toDF()
    spark.sql("DROP TABLE IF EXISTS bridge_sessions_sink")
    val q = out.writeStream.format("memory").queryName("bridge_sessions_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // two disjoint intervals (1:00 and 1:25, 25m apart), then a late
      // 1:12 event within gap of both — all three become ONE session
      input.addData((ts(60), 1L), (ts(85), 1L))
      q.processAllAvailable()
      input.addData((ts(72), 1L))
      q.processAllAvailable()
      input.addData((ts(600), 99L)); q.processAllAvailable()
      input.addData((ts(1200), 99L)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("bridge_sessions_sink")
      .filter($"user_id" === 1L)
      .select($"session_start", $"session_end", $"n_events")
      .as[(Timestamp, Timestamp, Long)].collect().sortBy(_._1.getTime)
    assert(rows.toSeq == Seq((ts(60), ts(85), 3L)))
  }

  test("shardProgress tracks per-shard counts and max sequence across batches") {
    import spark.implicits._
    val input = MemoryStream[(String, String, String)](spark)
    val env = input.toDF().toDF("stream", "shard_id", "sequence_number")
    val out = StreamOps.shardProgress(env).toDF()
    spark.sql("DROP TABLE IF EXISTS progress_sink")
    val q = out.writeStream.format("memory").queryName("progress_sink")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(("events", "shard-0", "3"), ("events", "shard-0", "1"),
        ("events", "shard-1", "7"))
      q.processAllAvailable()
      input.addData(("events", "shard-0", "9"))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("progress_sink")
      .groupBy($"stream", $"shard_id")
      .agg(max($"n_records").as("n"), max($"max_sequence").as("m"))
      .as[(String, String, Long, Long)].collect().toSeq.sorted
    assert(last == Seq(("events", "shard-0", 3L, 9L), ("events", "shard-1", 1L, 7L)))
  }
}
