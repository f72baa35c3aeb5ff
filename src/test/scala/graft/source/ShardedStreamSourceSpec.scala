package graft.source

import java.nio.file.Files

import graft.SparkTestSession
import graft.source.ShardedStreamLog.LogRecord
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end semantics of the kinesumer-style source: discovery, start
  * positions, incremental batches, checkpoint resume, per-batch caps,
  * resharding with closed-shard drain (the reference's integration suite,
  * `/root/reference/kinesumer_test.go:30-316`, re-expressed for Spark).
  * Sink is parquet (supports checkpoint recovery, unlike the memory sink).
  */
class ShardedStreamSourceSpec extends AnyFunSuite with SparkTestSession {

  private def rec(seq: Long, pk: String = "pk", ms: Long = 1700000000000L) =
    LogRecord(seq, pk, ms, s"payload-$seq".getBytes("UTF-8"))

  // ~290-byte lines whose sequences step by 1–7 (never dense), with
  // 3-byte UTF-8 characters in the key, so byte offsets differ from
  // character offsets, and arrival times rising with the sequence
  private def gapped(rnd: scala.util.Random, from: Long, n: Int): Seq[LogRecord] =
    Iterator.iterate(from)(_ + 1 + rnd.nextInt(7)).take(n).map(s =>
      LogRecord(s, s"키-$s", 1700000000000L + s, Array.fill(200)('z'.toByte))).toSeq

  private def freshDirs(): (String, String, String) =
    (Files.createTempDirectory("sslog").toString,
      Files.createTempDirectory("ssck").toString,
      Files.createTempDirectory("ssout").toString)

  private def runOnce(root: String, ck: String, out: String,
      streams: String = "events", maxPerShard: Long = 2000L,
      startPos: String = "trim_horizon"): Unit = {
    val q = spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", root)
      .option("streams", streams)
      .option("startingPosition", startPos)
      .option("maxRecordsPerShardPerBatch", maxPerShard)
      .load()
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  private def outRows(out: String): Seq[(String, String, Long)] = {
    import spark.implicits._
    val hasData = new java.io.File(out).listFiles() != null &&
      new java.io.File(out).listFiles().exists(_.getName.endsWith(".parquet"))
    if (!hasData) Seq.empty
    else spark.read.parquet(out)
      .select($"stream", $"shard_id", $"sequence_number".cast("long"))
      .as[(String, String, Long)].collect().toSeq.sorted
  }

  test("reads all records across streams and shards from trim_horizon") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec(_)))
    ShardedStreamLog.append(root, "events", "shard-1", (0L to 2L).map(rec(_)))
    ShardedStreamLog.append(root, "clicks", "shard-0", (10L to 11L).map(rec(_)))
    runOnce(root, ck, out, streams = "events,clicks")
    val rows = outRows(out)
    assert(rows.size == 10)
    assert(rows.count(_._1 == "events") == 8)
    assert(rows.count(_._1 == "clicks") == 2)
  }

  test("startingPosition=latest skips the backlog, then picks up appends") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 99L).map(rec(_)))
    runOnce(root, ck, out, startPos = "latest")
    assert(outRows(out).isEmpty, "latest start must skip existing records")
    ShardedStreamLog.append(root, "events", "shard-0", (100L to 104L).map(rec(_)))
    runOnce(root, ck, out) // same checkpoint → resumes after seq 99
    assert(outRows(out).map(_._3) == (100L to 104L))
  }

  test("checkpoint resume is exactly-once across restarts") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec(_)))
    runOnce(root, ck, out)
    assert(outRows(out).size == 10)
    // restart with more data: only the new records appear (no replay)
    ShardedStreamLog.append(root, "events", "shard-0", (10L to 14L).map(rec(_)))
    runOnce(root, ck, out)
    val rows = outRows(out)
    assert(rows.size == 15, s"expected 15 distinct rows, got ${rows.size}")
    assert(rows.map(_._3) == (0L to 14L))
  }

  test("per-shard admission cap splits the backlog into multiple batches") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 24L).map(rec(_)))
    runOnce(root, ck, out, maxPerShard = 10L)
    assert(outRows(out).map(_._3) == (0L to 24L))
    // ≥3 committed batches (10+10+5): offset log has entries 0,1,2
    val batches = new java.io.File(s"$ck/offsets").list()
    assert(batches != null && batches.count(!_.startsWith(".")) >= 3,
      s"expected ≥3 micro-batches, saw ${batches.mkString(",")}")
  }

  test("reshard: closed shard drains fully, new shards read from origin") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec(_)))
    runOnce(root, ck, out)
    assert(outRows(out).size == 5)
    // reshard: close shard-0 with an unread tail, open shard-1/shard-2
    ShardedStreamLog.append(root, "events", "shard-0", (5L to 7L).map(rec(_)))
    ShardedStreamLog.closeShard(root, "events", "shard-0")
    ShardedStreamLog.append(root, "events", "shard-1", (0L to 1L).map(rec(_)))
    ShardedStreamLog.append(root, "events", "shard-2", (0L to 2L).map(rec(_)))
    runOnce(root, ck, out)
    val rows = outRows(out)
    // the closed shard's tail (5,6,7) must NOT be lost (reference bug §2.3)
    assert(rows.filter(_._2 == "shard-0").map(_._3) == (0L to 7L))
    assert(rows.filter(_._2 == "shard-1").map(_._3) == (0L to 1L))
    assert(rows.filter(_._2 == "shard-2").map(_._3) == (0L to 2L))
  }

  test("startingPosition=at_sequence resumes after the given per-shard sequences") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec(_)))
    ShardedStreamLog.append(root, "events", "shard-1", (0L to 4L).map(rec(_)))
    // AFTER_SEQUENCE_NUMBER parity (kinesumer.go:716-720): shard-0 resumes
    // after seq 6; shard-1 is absent from the map → trim_horizon, so a
    // reshard between checkpoint export and restart loses nothing
    runOnce(root, ck, out, startPos = """at_sequence:{"events":{"shard-0":6}}""")
    val rows = outRows(out)
    assert(rows.filter(_._2 == "shard-0").map(_._3) == (7L to 9L))
    assert(rows.filter(_._2 == "shard-1").map(_._3) == (0L to 4L))
  }

  test("startingPosition=at_sequence start is overlap-free with checkpoint resume") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec(_)))
    runOnce(root, ck, out, startPos = """at_sequence:{"events":{"shard-0":4}}""")
    assert(outRows(out).map(_._3) == (5L to 9L))
    // restart with the SAME checkpoint and a stale positional option: the
    // checkpoint must win (no replay of 5..9), new records appear once
    ShardedStreamLog.append(root, "events", "shard-0", (10L to 12L).map(rec(_)))
    runOnce(root, ck, out, startPos = """at_sequence:{"events":{"shard-0":4}}""")
    assert(outRows(out).map(_._3) == (5L to 12L))
  }

  test("startingPosition=at_timestamp starts at the first record at-or-after the timestamp") {
    val (root, ck, out) = freshDirs()
    val t0 = 1700000000000L
    // arrival times non-decreasing per shard (Kinesis contract)
    ShardedStreamLog.append(root, "events", "shard-0",
      (0L to 9L).map(i => rec(i, ms = t0 + i * 1000)))
    ShardedStreamLog.append(root, "events", "shard-1",
      (0L to 3L).map(i => rec(i, ms = t0 + i * 10000)))
    runOnce(root, ck, out, startPos = s"at_timestamp:${t0 + 5000}")
    val rows = outRows(out)
    assert(rows.filter(_._2 == "shard-0").map(_._3) == (5L to 9L))
    assert(rows.filter(_._2 == "shard-1").map(_._3) == (1L to 3L))
  }

  test("startingPosition=at_timestamp accepts ISO-8601 and handles all-past/all-future shards") {
    val (root, ck, out) = freshDirs()
    val t0 = java.time.Instant.parse("2023-11-14T22:13:20Z").toEpochMilli
    assert(t0 == 1700000000000L) // the spec's fixed arrival time
    ShardedStreamLog.append(root, "events", "all-past",
      (0L to 4L).map(i => rec(i, ms = t0 - 10000 + i)))
    ShardedStreamLog.append(root, "events", "all-future",
      (0L to 4L).map(i => rec(i, ms = t0 + 10000 + i)))
    runOnce(root, ck, out, startPos = "at_timestamp:2023-11-14T22:13:20Z")
    val rows = outRows(out)
    // every record of the all-past shard predates the timestamp → none;
    // the all-future shard starts from its origin
    assert(rows.filter(_._2 == "all-past").isEmpty)
    assert(rows.filter(_._2 == "all-future").map(_._3) == (0L to 4L))
  }

  test("invalid startingPosition fails fast with the supported-mode list") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    val e = intercept[Exception] {
      runOnce(root, ck, out, startPos = "earliest")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("startingPosition")),
      s"expected a startingPosition parse error, got: $e")
  }

  test("envelope schema matches the kinesumer record contract") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    runOnce(root, ck, out)
    val df = spark.read.parquet(out)
    assert(df.schema.fieldNames.toSeq ==
      Seq("stream", "shard_id", "sequence_number", "partition_key",
        "approx_arrival", "data"))
    val row = df.collect().head
    assert(new String(row.getAs[Array[Byte]]("data"), "UTF-8") == "payload-0")
    assert(row.getAs[java.sql.Timestamp]("approx_arrival").getTime == 1700000000000L)
  }

  test("source throughput: a 100k-record backlog drains above 10k records/s") {
    val (root, ck, out) = freshDirs()
    for (sh <- 0 until 4)
      ShardedStreamLog.append(root, "events", s"shard-$sh",
        (0L until 25000L).map(rec(_)))
    val t0 = System.nanoTime()
    runOnce(root, ck, out, maxPerShard = 5000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(outRows(out).size == 100000)
    info(f"drained 100k records in $secs%.1f s (${100000 / secs}%.0f records/s)")
    // measured ~60k records/s on an idle 4-thread session (recorded in
    // README, vs the reference's 10k/s-per-shard ceiling). The assertion
    // is deliberately loose — it guards against O(history) regressions,
    // not machine load; the O(new data) property itself is asserted
    // deterministically by the bytesScanned spec below.
    assert(100000 / secs > 2000, f"throughput ${100000 / secs}%.0f rec/s too low")
  }

  test("incremental log: a tail append costs O(new data), not O(history)") {
    val (root, _, _) = freshDirs()
    // ~2.4 MB backlog of 20k records
    val payload = "x" * 64
    ShardedStreamLog.append(root, "events", "shard-0",
      (0L until 20000L).map(i =>
        LogRecord(i, "pk", 1700000000000L, (payload + i).getBytes("UTF-8"))))
    // warm: index the backlog once (full scan is expected here)
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 19999L)
    assert(ShardedStreamLog.read(root, "events", "shard-0", 19989L, 19999L).size == 10)
    val before = ShardedStreamLog.bytesScanned.get()
    // small tail: maxSequence + read must parse only new bytes plus at most
    // one checkpoint span (64 KiB), never the ~2.4 MB history
    ShardedStreamLog.append(root, "events", "shard-0", (20000L to 20009L).map(rec(_)))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 20009L)
    val got = ShardedStreamLog.read(root, "events", "shard-0", 19999L, 20009L).toSeq
    assert(got.map(_.sequenceNumber) == (20000L to 20009L))
    val delta = ShardedStreamLog.bytesScanned.get() - before
    assert(delta < 150000L,
      s"re-scanned $delta bytes for a ~1 KB tail over a ~2.4 MB history")
  }

  test("append monotonicity guard sees past a record line larger than the tail window") {
    val root = Files.createTempDirectory("sslog").toString
    // one record whose base64 payload alone exceeds the 64 KiB tail
    // window: lastSequence must grow the window rather than report an
    // empty log, so a non-monotone append is still rejected
    val big = LogRecord(10L, "pk", 1700000000000L, Array.fill(100 * 1024)('x'.toByte))
    ShardedStreamLog.append(root, "events", "shard-0", Seq(big))
    intercept[IllegalArgumentException] {
      ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(5L)))
    }
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(11L)))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 11L)
  }

  test("recreated shard file at same-or-larger size does not inherit the stale index") {
    val root = Files.createTempDirectory("sslog").toString
    ShardedStreamLog.append(root, "events", "shard-0", (100L to 104L).map(rec(_)))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 104L)
    // delete and recreate the shard with different, lower-sequence records
    // and an equal-or-larger file — size alone cannot detect this
    val dir = java.nio.file.Paths.get(root, "events", "shard-0")
    dir.toFile.listFiles().foreach(_.delete())
    Files.deleteIfExists(dir)
    ShardedStreamLog.append(root, "events", "shard-0",
      (1L to 9L).map(i => LogRecord(i, "pk", 1700000000000L,
        Array.fill(64)('y'.toByte))))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 9L)
    val got = ShardedStreamLog.read(root, "events", "shard-0", -1L, Long.MaxValue)
      .map(_.sequenceNumber).toSeq
    assert(got == (1L to 9L))
  }

  test("atomic-rename append (new inode, same log) keeps the incremental index") {
    // crash-safe producers append by write-temp-then-rename, which moves
    // the inode every batch; the identity protocol must spot-probe the
    // scan frontier and KEEP the index, not reset into an O(history)
    // rescan per trigger
    val root = Files.createTempDirectory("sslog").toString
    val payload = "x" * 64
    ShardedStreamLog.append(root, "events", "shard-0",
      (0L until 20000L).map(i =>
        LogRecord(i, "pk", 1700000000000L, (payload + i).getBytes("UTF-8"))))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 19999L)
    val before = ShardedStreamLog.bytesScanned.get()
    // rename-producer append: copy to temp, append there, atomic replace
    val f = java.nio.file.Paths.get(root, "events", "shard-0", "records.tsv")
    val tmp = f.resolveSibling("records.tsv.tmp")
    Files.copy(f, tmp)
    ShardedStreamLog.append(root, "events", "shard-0", (20000L to 20009L).map(rec(_)))
    val appended = Files.readAllBytes(f)
    Files.write(tmp, java.util.Arrays.copyOfRange(appended, (Files.size(tmp)).toInt,
      appended.length), java.nio.file.StandardOpenOption.APPEND)
    Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 20009L)
    val delta = ShardedStreamLog.bytesScanned.get() - before
    assert(delta < 150000L,
      s"inode change on an unchanged log re-scanned $delta bytes (index was reset)")
  }

  test("recreated file with identical sequences but shifted offsets resets the index") {
    // the frontier spot-probe must catch a recreate whose head bytes AND
    // sequence set match but whose record boundaries moved (different
    // payload sizes): the (offset → sequence) map the index stores is
    // invalid for such a file
    val root = Files.createTempDirectory("sslog").toString
    ShardedStreamLog.append(root, "events", "shard-0",
      (0L to 9L).map(i => LogRecord(i, "pk", 1700000000000L,
        Array.fill(64)('a'.toByte))))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 9L)
    val dir = java.nio.file.Paths.get(root, "events", "shard-0")
    dir.toFile.listFiles().foreach(_.delete())
    Files.deleteIfExists(dir)
    // same head record (seq 0, same payload) so head bytes match; later
    // records grow, shifting every boundary after the first
    ShardedStreamLog.append(root, "events", "shard-0",
      LogRecord(0L, "pk", 1700000000000L, Array.fill(64)('a'.toByte)) +:
        (1L to 9L).map(i => LogRecord(i, "pk", 1700000000000L,
          Array.fill(200)('b'.toByte))))
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 9L)
    val got = ShardedStreamLog.read(root, "events", "shard-0", -1L, Long.MaxValue)
    assert(got.map(_.data.length).toSet == Set(64, 200),
      "reads served from a stale index after an offset-shifting recreate")
  }

  test("countRange equals the read size on gapped sequences at every kind of bound") {
    val root = Files.createTempDirectory("sslog").toString
    val f = java.nio.file.Paths.get(root, "events", "shard-0", "records.tsv")
    val rnd = new scala.util.Random(11)
    // sequences starting an index interval: the first record, then the
    // first record at least 64 KiB past the previous checkpoint
    def checkpointSeqs(): Seq[Long] = {
      var pos = 0L
      var last = -65536L
      // one char per byte, so a line's length is its byte count
      new String(Files.readAllBytes(f), "ISO-8859-1").split("\n").toSeq.flatMap { l =>
        val ck = if (pos - last >= 65536) { last = pos; Some(l.takeWhile(_ != '\t').toLong) } else None
        pos += l.length + 1
        ck
      }
    }
    def count(a: Long, b: Long) = ShardedStreamLog.countRange(root, "events", "shard-0", a, b)
    def readSize(a: Long, b: Long) = ShardedStreamLog.read(root, "events", "shard-0", a, b).size
    def agree(bounds: Seq[Long]): Unit =
      for (a <- bounds; b <- bounds if a <= b)
        assert(count(a, b) == readSize(a, b), s"countRange($a, $b)")

    val written = gapped(rnd, 10L, 900)
    ShardedStreamLog.append(root, "events", "shard-0", written)
    assert(Files.size(f) > 200000L)
    val recs = ShardedStreamLog.read(root, "events", "shard-0", -1L, Long.MaxValue).toIndexedSeq
    assert(recs.map(r => (r.sequenceNumber, r.partitionKey, r.arrivalEpochMs, r.data.toSeq)) ==
      written.map(r => (r.sequenceNumber, r.partitionKey, r.arrivalEpochMs, r.data.toSeq)))
    var seqs = recs.map(_.sequenceNumber)
    val cks = checkpointSeqs()
    assert(cks.size >= 4, s"expected several index checkpoints: $cks")
    val head = seqs.last
    val gap = seqs.indices.find(i => seqs(i + 1) - seqs(i) >= 2).get
    val midInterval = seqs((seqs.indexOf(cks(1)) + seqs.indexOf(cks(2))) / 2)
    agree(Seq(-1L, 5L, cks(1), cks(2) - 1, cks(3), seqs(gap) + 1, midInterval,
      head, head + 1000, Long.MaxValue))
    // every rank, on and between sequences, against the in-memory truth
    for (s <- seqs; b <- Seq(s - 1, s))
      assert(count(-1L, b) == seqs.count(_ <= b), s"rank of $b")
    // the AT_TIMESTAMP start against the in-memory list, at and between
    // arrivals, before the first and past the last
    for (ts <- Seq(0L, recs.head.arrivalEpochMs, recs(gap).arrivalEpochMs + 1,
        1700000000000L + midInterval, recs.last.arrivalEpochMs, recs.last.arrivalEpochMs + 1))
      assert(ShardedStreamLog.seqBeforeTimestamp(root, "events", "shard-0", ts) ==
        recs.filter(_.arrivalEpochMs < ts).lastOption.fold(-1L)(_.sequenceNumber), s"at $ts")
    // a rank scans sequence prefixes over at most one index interval
    val scanned0 = ShardedStreamLog.bytesScanned.get()
    count(-1L, midInterval)
    assert(ShardedStreamLog.bytesScanned.get() - scanned0 <= 65536L + 2 * 300L)

    // a further append advances the index: new checkpoints, new head
    ShardedStreamLog.append(root, "events", "shard-0", gapped(rnd, head + 3L, 400))
    seqs = ShardedStreamLog.read(root, "events", "shard-0", -1L, Long.MaxValue)
      .map(_.sequenceNumber).toIndexedSeq
    val cks2 = checkpointSeqs()
    assert(cks2.size > cks.size, s"the index did not advance: $cks2")
    val head2 = seqs.last
    assert(count(head, head2) == 400L)
    agree(Seq(-1L, midInterval, head, head + 1, cks2.last, head2, head2 + 1))
  }

  test("maxRecordsPerShardPerBatch counts records: on gapped shards every batch but the last carries the limit") {
    val (root, ck, _) = freshDirs()
    val rnd = new scala.util.Random(3)
    val small = gapped(rnd, 4L, 23).map(_.sequenceNumber)
    ShardedStreamLog.append(root, "events", "shard-0", small.map(rec(_)))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", root)
      .option("streams", "events")
      .option("maxRecordsPerShardPerBatch", 5L)
      .load()
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val got = df.select("sequence_number").collect().map(_.getString(0).toLong).toSeq
        batches.synchronized { batches += id -> got.sorted }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must stop on its own")
    val served = batches.synchronized(batches.toSeq).sortBy(_._1).map(_._2).filter(_.nonEmpty)
    assert(served.map(_.size) == Seq(5, 5, 5, 5, 3), s"batch sizes: ${served.map(_.size)}")
    assert(served.flatten == small)

    // planning alone on a 64 KiB+ gapped shard: each capped range crosses
    // index checkpoints somewhere, and still holds exactly the limit
    val big = gapped(rnd, 7L, 900).map(_.sequenceNumber)
    ShardedStreamLog.append(root, "deep", "shard-0", big.map(rec(_)))
    val mb = new ShardedStreamMicroBatch(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root, "streams", "deep", "maxRecordsPerShardPerBatch", "5")))
    def at(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.asInstanceOf[ShardedStreamOffset].positions("deep")("shard-0")
    var cur = mb.initialOffset()
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var end = mb.latestOffset(cur, mb.getDefaultReadLimit)
    while (at(end) > at(cur)) {
      sizes += big.count(s => s > at(cur) && s <= at(end))
      cur = end
      end = mb.latestOffset(cur, mb.getDefaultReadLimit)
    }
    assert(at(cur) == big.last)
    assert(sizes.size == 180 && sizes.forall(_ == 5), s"range sizes: ${sizes.distinct}")
  }

  test("append rejects a partition key holding a tab or a line break") {
    val root = Files.createTempDirectory("sslog").toString
    val f = java.nio.file.Paths.get(root, "events", "shard-0", "records.tsv")
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0L), rec(1L)))
    val size = Files.size(f)
    for (key <- Seq("a\nb", "x\ty", "c\rd")) {
      val e = intercept[IllegalArgumentException] {
        ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(2L), rec(3L, key)))
      }
      assert(e.getMessage.contains("events/shard-0") &&
        e.getMessage.contains(key.replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")),
        e.getMessage)
      assert(Files.size(f) == size, s"key ${key.map(_.toInt)} wrote bytes before it was rejected")
    }
    assert(ShardedStreamLog.maxSequence(root, "events", "shard-0") == 1L)
    assert(ShardedStreamLog.read(root, "events", "shard-0", -1L, Long.MaxValue)
      .map(_.sequenceNumber).toSeq == Seq(0L, 1L))
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(2L, "키")))
    assert(ShardedStreamLog.read(root, "events", "shard-0", 1L, 2L).map(_.partitionKey).toSeq == Seq("키"))
  }

  test("trigger planning stays sub-second at 5k shards") {
    // latestOffset lists shards and head-probes each per trigger; the probe
    // is an O(1) incremental size check once warm and runs in parallel
    // (ShardedStreamLog.maxSequences), so planning must stay flat in shard
    // count — measured here at 5k shards, ~1000× the reference's test
    // topology
    val (root, _, _) = freshDirs()
    for (i <- 0 until 5000)
      ShardedStreamLog.append(root, "events", f"shard-$i%04d", Seq(rec(0), rec(1)))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root, "streams", "events"))
    val mb = new ShardedStreamMicroBatch(opts)
    val limit = mb.getDefaultReadLimit
    val start = mb.initialOffset()
    // warm trigger: first probe indexes every shard once (O(history), paid once)
    val warm = mb.latestOffset(start, limit)
    // steady-state trigger: list + probe + plan with nothing new appended
    val t0 = System.nanoTime()
    val end = mb.latestOffset(warm, limit)
    val parts = mb.planInputPartitions(warm, end)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(parts.isEmpty, "no new data → no partitions planned")
    info(f"steady-state trigger planning over 5000 shards: $secs%.3f s")
    assert(secs < 1.0, f"trigger planning took $secs%.2f s at 5k shards")
    // a trigger with fresh data on every shard must also plan sub-second
    // once the per-shard tail is indexed incrementally
    for (i <- 0 until 5000)
      ShardedStreamLog.append(root, "events", f"shard-$i%04d", Seq(rec(2)))
    val t1 = System.nanoTime()
    val end2 = mb.latestOffset(end, limit)
    val parts2 = mb.planInputPartitions(end, end2)
    val secs2 = (System.nanoTime() - t1) / 1e9
    assert(parts2.length == 5000, s"expected 5000 planned slices, got ${parts2.length}")
    info(f"hot trigger planning (1 new record x 5000 shards): $secs2%.3f s")
    assert(secs2 < 1.0, f"hot trigger planning took $secs2%.2f s at 5k shards")
  }

  test("split lineage: children are planned only after the parent's tail drains") {
    // extends the reference's reshard test (`kinesumer_test.go:255-316`)
    // with the ordering Kinesis actually contracts (ParentShardId): no
    // child record in a batch at or before the parent's last record. The
    // reference ignores lineage (`kinesumer.go:314` TODO).
    val (root, _, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "parent", (0L to 9L).map(rec(_)))
    ShardedStreamLog.splitShard(root, "events", "parent", Seq("child-0", "child-1"))
    ShardedStreamLog.append(root, "events", "child-0", (0L to 3L).map(rec(_)))
    ShardedStreamLog.append(root, "events", "child-1", (0L to 2L).map(rec(_)))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root, "streams", "events",
        "maxRecordsPerShardPerBatch", "4"))
    val mb = new ShardedStreamMicroBatch(opts)
    val limit = mb.getDefaultReadLimit
    var cur = mb.initialOffset()
    var parentDoneBatch = -1
    var childFirstBatch = Int.MaxValue
    var served = Map.empty[String, Long].withDefaultValue(-1L)
    for (batch <- 0 until 8) {
      val end = mb.latestOffset(cur, limit)
      mb.planInputPartitions(cur, end).map(_.asInstanceOf[ShardedStreamPartition])
        .foreach { p =>
          served += p.shard -> math.max(served(p.shard), p.untilSeq)
          if (p.shard == "parent" && p.untilSeq == 9L) parentDoneBatch = batch
          if (p.shard.startsWith("child")) childFirstBatch = math.min(childFirstBatch, batch)
        }
      cur = end
    }
    // the 10-record parent drains over batches 0..2 (cap 4); children must
    // first appear strictly AFTER the batch that served the parent's tail
    assert(parentDoneBatch >= 0, "parent tail was never planned")
    assert(childFirstBatch > parentDoneBatch,
      s"child planned in batch $childFirstBatch, parent tail in $parentDoneBatch")
    // nothing lost on either side of the ordering gate
    assert(served("parent") == 9L && served("child-0") == 3L && served("child-1") == 2L)
  }

  test("merge lineage: the child waits for BOTH parents; restart mid-reshard keeps the gate") {
    val (root, _, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "p0", (0L to 7L).map(rec(_)))
    ShardedStreamLog.append(root, "events", "p1", (0L to 1L).map(rec(_)))
    ShardedStreamLog.mergeShards(root, "events", Seq("p0", "p1"), "m0")
    ShardedStreamLog.append(root, "events", "m0", (0L to 2L).map(rec(_)))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root, "streams", "events",
        "maxRecordsPerShardPerBatch", "4"))
    def shardsIn(mb: ShardedStreamMicroBatch,
        start: org.apache.spark.sql.connector.read.streaming.Offset,
        end: org.apache.spark.sql.connector.read.streaming.Offset): Set[String] =
      mb.planInputPartitions(start, end)
        .map(_.asInstanceOf[ShardedStreamPartition].shard).toSet
    val mb1 = new ShardedStreamMicroBatch(opts)
    val limit = mb1.getDefaultReadLimit
    val o0 = mb1.initialOffset()
    val o1 = mb1.latestOffset(o0, limit)
    // batch 0: p1 drains fully (2 ≤ cap), p0 only to seq 3 — m0 must wait
    assert(shardsIn(mb1, o0, o1) == Set("p0", "p1"))
    // WAL-restart mid-reshard: a FRESH MicroBatchStream resuming from the
    // checkpointed offset must re-apply the same ordering (the gate reads
    // only start offsets + on-disk lineage, never planner memory)
    val mb2 = new ShardedStreamMicroBatch(opts)
    val o1r = ShardedStreamOffset.fromJson(o1.asInstanceOf[ShardedStreamOffset].json())
    val o2 = mb2.latestOffset(o1r, limit)
    assert(shardsIn(mb2, o1r, o2) == Set("p0"), "m0 must stay gated after restart")
    val o3 = mb2.latestOffset(o2, limit)
    // p0's tail (seq 7) was served in the o2 batch; m0 is released only now
    assert(shardsIn(mb2, o2, o3) == Set("m0"))
    val endPos = o3.asInstanceOf[ShardedStreamOffset].positions("events")
    assert(endPos("p0") == 7L && endPos("p1") == 1L && endPos("m0") == 2L)
  }

  test("split lineage end-to-end: batch ordering holds through a running query") {
    val (root, ck, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "parent", (0L to 6L).map(rec(_)))
    ShardedStreamLog.splitShard(root, "events", "parent", Seq("c0"))
    ShardedStreamLog.append(root, "events", "c0", (0L to 4L).map(rec(_)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", root)
      .option("streams", "events")
      .option("maxRecordsPerShardPerBatch", 3)
      .load()
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select("shard_id", "sequence_number").collect()
          .map(r => (id, r.getString(0), r.getString(1).toLong))
        seen.synchronized { seen ++= rows }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val all = seen.synchronized(seen.toSeq)
    val parentTailBatch = all.filter(_._2 == "parent").map(_._1).max
    val childBatches = all.filter(_._2 == "c0").map(_._1)
    assert(childBatches.nonEmpty && childBatches.min > parentTailBatch,
      s"child first at batch ${childBatches.min}, parent tail at $parentTailBatch")
    assert(all.filter(_._2 == "parent").map(_._3).sorted == (0L to 6L))
    assert(all.filter(_._2 == "c0").map(_._3).sorted == (0L to 4L))
  }

  test("lineage declarations are immutable and self-referencing lineage is rejected") {
    val (root, _, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "a", Seq(rec(0)))
    ShardedStreamLog.splitShard(root, "events", "a", Seq("b"))
    assert(ShardedStreamLog.parents(root, "events", "b") == Seq("a"))
    assert(ShardedStreamLog.parents(root, "events", "a").isEmpty)
    // re-declaring the same lineage is idempotent; a different one is not
    ShardedStreamLog.declareParents(root, "events", "b", Seq("a"))
    intercept[IllegalArgumentException] {
      ShardedStreamLog.declareParents(root, "events", "b", Seq("z"))
    }
    intercept[IllegalArgumentException] {
      ShardedStreamLog.declareParents(root, "events", "c", Seq("c"))
    }
  }

  test("closed shard rejects further appends") {
    val (root, _, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    ShardedStreamLog.closeShard(root, "events", "shard-0")
    intercept[IllegalArgumentException] {
      ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(1)))
    }
  }

  test("Trigger.AvailableNow drains the backlog in capped batches, then self-terminates") {
    val (root, ck, out) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 24L).map(rec(_)))
    val q = spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", root)
      .option("streams", "events")
      .option("maxRecordsPerShardPerBatch", 10L)
      .load()
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must stop on its own")
    assert(outRows(out).map(_._3) == (0L to 24L))
    // the drain still honors the per-shard admission cap: 10+10+5 → ≥3 batches
    val batches = new java.io.File(s"$ck/offsets").list()
    assert(batches != null && batches.count(!_.startsWith(".")) >= 3,
      s"expected a multi-batch capped drain, saw ${batches.mkString(",")}")
  }

  test("AvailableNow: mid-drain split terminates; deferred data is exactly-once, parent before child") {
    // the backfill contract under a live reshard: the AvailableNow run
    // drains exactly the records that existed at query start (over several
    // capped batches), ignores the tail + child shards a mid-drain split
    // creates, and STOPS; a later run picks those up exactly-once with the
    // lineage gate still ordering parent tail strictly before child heads.
    val (root, ck, _) = freshDirs()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 39L).map(rec(_)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val didSplit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = (df: org.apache.spark.sql.DataFrame, id: Long) => {
      val rows = df.select("shard_id", "sequence_number").collect()
        .map(r => (id, r.getString(0), r.getString(1).toLong))
      seen.synchronized { seen ++= rows }
      if (id == 1L && didSplit.compareAndSet(false, true)) {
        // mid-drain: a post-start tail, then a split with child data
        ShardedStreamLog.append(root, "events", "shard-0", (40L to 44L).map(rec(_)))
        ShardedStreamLog.splitShard(root, "events", "shard-0", Seq("shard-1", "shard-2"))
        ShardedStreamLog.append(root, "events", "shard-1", (0L to 2L).map(rec(_)))
        ShardedStreamLog.append(root, "events", "shard-2", (0L to 1L).map(rec(_)))
      }
      ()
    }
    def stream() = spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", root)
      .option("streams", "events")
      .option("maxRecordsPerShardPerBatch", 10L)
      .load()
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch(sink)
    val q1 = stream().trigger(Trigger.AvailableNow()).start()
    assert(q1.awaitTermination(120000),
      "AvailableNow must terminate despite the mid-drain reshard")
    val run1 = seen.synchronized(seen.toSeq)
    assert(run1.map(r => (r._2, r._3)).sorted ==
      (0L to 39L).map(("shard-0", _)).sorted,
      "run 1 must serve exactly the query-start snapshot, nothing after it")
    // run 2 (a normal incremental run over the SAME checkpoint) drains the
    // deferred tail first, then the children — no replays, no losses
    val q2 = stream().trigger(Trigger.ProcessingTime(50)).start()
    try q2.processAllAvailable() finally q2.stop()
    val all = seen.synchronized(seen.toSeq)
    assert(all.map(r => (r._2, r._3)).sorted == (
      (0L to 44L).map(("shard-0", _)) ++
        (0L to 2L).map(("shard-1", _)) ++ (0L to 1L).map(("shard-2", _))).sorted,
      "across both runs every record is served exactly once")
    val run2 = all.drop(run1.size)
    val parentTailBatch = run2.filter(_._2 == "shard-0").map(_._1).max
    val childFirstBatch =
      run2.filter(r => r._2 == "shard-1" || r._2 == "shard-2").map(_._1).min
    assert(childFirstBatch > parentTailBatch,
      s"children first at batch $childFirstBatch, parent tail at $parentTailBatch")
  }
}
