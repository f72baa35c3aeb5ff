package graft.api

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkTestSession
import graft.source.{LocalCheckpointFileManager, ShardedStreamLog}
import graft.source.ShardedStreamLog.LogRecord
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The reference's end-to-end client behavior (`kinesumer_test.go:30-316`)
  * through the migration-facing API.
  */
class ConsumerGroupSpec extends AnyFunSuite with SparkTestSession {

  private def rec(seq: Long) =
    LogRecord(seq, s"pk$seq", 1700000000000L + seq, s"data-$seq".getBytes("UTF-8"))

  private def newEnv(): (String, String) =
    (Files.createTempDirectory("cg-log").toString,
      Files.createTempDirectory("cg-ck").toString)

  test("consume delivers all records; restart under same app resumes exactly-once") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val seen = new ConcurrentLinkedQueue[Long]()
    val cfg = ConsumerConfig(app = "app1", logRoot = root, checkpointRoot = ck)

    val cg = new ConsumerGroup(spark, cfg)
    cg.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    cg.processAllAvailable()
    cg.close()
    assert(seen.asScala.toSeq.sorted == (0L to 9L))

    // new client instance, same app → resumes after the checkpoint
    ShardedStreamLog.append(root, "events", "shard-0", (10L to 14L).map(rec))
    val cg2 = new ConsumerGroup(spark, cfg)
    cg2.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    cg2.processAllAvailable()
    cg2.close()
    assert(seen.asScala.toSeq.sorted == (0L to 14L), "no replay, no loss")
  }

  test("drain backfills exactly-once and a later start tails after it") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 24L).map(rec))
    val seen = new ConcurrentLinkedQueue[Long]()
    val batches = new ConcurrentLinkedQueue[Long]()
    val cfg = ConsumerConfig(app = "bf1", logRoot = root, checkpointRoot = ck,
      scanLimit = 10L)
    val cg = new ConsumerGroup(spark, cfg)
    val p1 = cg.drain(Seq("events")) { (df, id) =>
      batches.add(id)
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    // the backlog drained in scanLimit-capped batches, then stopped
    assert(seen.asScala.toSeq.sorted == (0L to 24L))
    assert(batches.asScala.toSet.size >= 3, s"capped drain: $batches")
    // the progress surface agrees with what the callback saw, across
    // the capped multi-batch drain
    assert(p1.records == Map("events" -> 25L), s"progress: $p1")
    assert(p1.shards == Map("events" -> 1L), s"progress: $p1")
    assert(p1.batches >= 3L, s"progress: $p1")
    // a second drain with nothing new is a no-op (exactly-once)
    val p2 = cg.drain(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    assert(seen.asScala.toSeq.sorted == (0L to 24L), "no replay")
    assert(p2.totalRecords == 0L && p2.records == Map("events" -> 0L),
      s"a caught-up drain reports zero drained records: $p2")
    // the tailing start picks up exactly the post-drain appends
    ShardedStreamLog.append(root, "events", "shard-0", (25L to 29L).map(rec))
    cg.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    cg.processAllAvailable()
    cg.close()
    assert(seen.asScala.toSeq.sorted == (0L to 29L), "backfill-then-tail")
  }

  test("a drain failure signals ONCE: thrown to the caller, not also enqueued in errors()") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec))
    val cg = new ConsumerGroup(spark, ConsumerConfig(app = "bf-fail",
      logRoot = root, checkpointRoot = ck))
    val thrown = intercept[Exception] {
      cg.drain(Seq("events")) { (df, _) =>
        df.count()
        throw new RuntimeException("boom: drain batch failure")
      }
    }
    assert(thrown.getMessage != null)
    // the failure already reached the caller via the throw; errors()
    // stays the listener-only channel (start()-mode queries) — a caller
    // that catches AND polls must not see the same failure twice
    Thread.sleep(500) // give a late listener event the chance to misfire
    assert(cg.errors().isEmpty,
      "drain failure must not be double-signaled through errors()")
    cg.close()
  }

  test("drain backfills MULTIPLE streams; per-stream snapshots are independent") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "s1", "shard-0", (0L to 11L).map(rec))
    ShardedStreamLog.append(root, "s2", "shard-0", (100L to 103L).map(rec))
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg = new ConsumerGroup(spark, ConsumerConfig(app = "bf2",
      logRoot = root, checkpointRoot = ck, scanLimit = 5L))
    val p1 = cg.drain(Seq("s1", "s2")) { (df, _) =>
      df.select("stream", "sequence_number").collect()
        .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))
    }
    assert(seen.asScala.toSeq.sorted ==
      ((0L to 11L).map(("s1", _)) ++ (100L to 103L).map(("s2", _))).sorted,
      "both streams drain to their own query-start heads")
    assert(p1.records == Map("s1" -> 12L, "s2" -> 4L), s"progress: $p1")
    assert(p1.shards == Map("s1" -> 1L, "s2" -> 1L), s"progress: $p1")
    // scanLimit counts records: s1 takes 5+5+2 and s2's four records fit
    // in its first batch (not 20 empty batches of sequence distance 5)
    assert(p1.batches <= 3L, s"progress: $p1")
    // a tail appended AFTER the drain belongs to the next run only
    ShardedStreamLog.append(root, "s2", "shard-0", (104L to 105L).map(rec))
    val p2 = cg.drain(Seq("s1", "s2")) { (df, _) =>
      df.select("stream", "sequence_number").collect()
        .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))
    }
    assert(p2.records == Map("s1" -> 0L, "s2" -> 2L),
      s"per-stream progress distinguishes caught-up from drained: $p2")
    assert(seen.asScala.count(_._1 == "s1") == 12, "s1 must not replay")
    assert(seen.asScala.toSeq.filter(_._1 == "s2").map(_._2).sorted ==
      (100L to 105L), "s2 drains exactly the new tail")
  }

  // ~290-byte records whose sequences step by 1–7
  private def gapped(rnd: scala.util.Random, from: Long, n: Int): Seq[LogRecord] =
    Iterator.iterate(from)(_ + 1 + rnd.nextInt(7)).take(n).map(s =>
      LogRecord(s, s"pk$s", 1700000000000L + s, Array.fill(200)('g'.toByte))).toSeq

  test("a second drain resumes mid-file on a gapped 64 KB+ shard and reports exactly the new tail") {
    val (root, ck) = newEnv()
    val rnd = new scala.util.Random(5)
    val first = gapped(rnd, 3L, 600)
    ShardedStreamLog.append(root, "events", "shard-0", first)
    assert(Files.size(java.nio.file.Paths.get(root, "events", "shard-0", "records.tsv")) > 65536L)
    val seen = new ConcurrentLinkedQueue[Long]()
    val cg = new ConsumerGroup(spark, ConsumerConfig(app = "bf-gap",
      logRoot = root, checkpointRoot = ck, scanLimit = 250L))
    val collect: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.select("sequence_number").collect().foreach(r => seen.add(r.getString(0).toLong))
    val p1 = cg.drain(Seq("events"))(collect)
    assert(p1.records == Map("events" -> 600L) && p1.shards == Map("events" -> 1L), s"progress: $p1")
    assert(p1.batches >= 2L, s"capped drain: $p1")
    // the resume point (the old head) now lies mid-file, below the new head
    val tail = gapped(rnd, first.last.sequenceNumber + 2L, 250)
    ShardedStreamLog.append(root, "events", "shard-0", tail)
    seen.clear()
    val p2 = cg.drain(Seq("events"))(collect)
    assert(seen.asScala.toSeq.sorted == tail.map(_.sequenceNumber), "the second drain reads the tail only")
    assert(p2.records == Map("events" -> 250L) && p2.shards == Map("events" -> 1L), s"progress: $p2")
    cg.close()
  }

  test("drain progress does not depend on the callback reading its frame") {
    val (root, ck) = newEnv()
    val rnd = new scala.util.Random(9)
    ShardedStreamLog.append(root, "s1", "shard-0", gapped(rnd, 0L, 40))
    ShardedStreamLog.append(root, "s1", "shard-1", gapped(rnd, 50L, 25))
    ShardedStreamLog.append(root, "s2", "shard-0", (100L to 103L).map(rec))
    val cg = new ConsumerGroup(spark, ConsumerConfig(app = "bf-ignore",
      logRoot = root, checkpointRoot = ck, scanLimit = 15L))
    val p = cg.drain(Seq("s1", "s2"))((_, _) => ())
    assert(p.records == Map("s1" -> 65L, "s2" -> 4L), s"progress: $p")
    assert(p.shards == Map("s1" -> 2L, "s2" -> 1L), s"progress: $p")
    assert(p.batches >= 2L, s"progress: $p")
    cg.close()
  }

  test("refresh swaps the stream set at runtime (Refresh parity)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "s1", "shard-0", (0L to 2L).map(rec))
    ShardedStreamLog.append(root, "s2", "shard-0", (100L to 102L).map(rec))
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "app2", logRoot = root, checkpointRoot = ck))
    cg.start(Seq("s1")) { (df, _) =>
      df.select("stream", "sequence_number").collect()
        .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))
    }
    cg.processAllAvailable()
    assert(seen.asScala.map(_._1).toSet == Set("s1"))
    cg.refresh(Seq("s2"))
    cg.processAllAvailable()
    cg.close()
    val byStream = seen.asScala.toSeq.groupBy(_._1)
    assert(byStream("s1").map(_._2).sorted == (0L to 2L))
    assert(byStream("s2").map(_._2).sorted == (100L to 102L))
  }

  private def collectInto(seen: ConcurrentLinkedQueue[(String, Long)]): (DataFrame, Long) => Unit =
    (df, _) => df.select("stream", "sequence_number").collect()
      .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))

  private def byStream(seen: ConcurrentLinkedQueue[(String, Long)]): Map[String, Seq[Long]] =
    seen.asScala.toSeq.groupBy(_._1).map { case (st, rs) => st -> rs.map(_._2).sorted }

  test("a stream dropped by refresh and added back resumes at its position (s1, s2, then s1 and s2)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "s1", "shard-0", (0L to 2L).map(rec))
    ShardedStreamLog.append(root, "s2", "shard-0", (100L to 102L).map(rec))
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "readd-refresh", logRoot = root, checkpointRoot = ck))
    try {
      cg.start(Seq("s1"))(collectInto(seen))
      cg.processAllAvailable()
      cg.refresh(Seq("s2"))
      cg.processAllAvailable()
      // s1 grows while it is out of the set
      ShardedStreamLog.append(root, "s1", "shard-0", (3L to 4L).map(rec))
      cg.refresh(Seq("s1", "s2"))
      cg.processAllAvailable()
    } finally cg.close()
    val got = byStream(seen)
    assert(got("s1") == (0L to 4L), s"s1 must be delivered exactly once: ${got("s1")}")
    assert(got("s2") == (100L to 102L), s"s2: ${got("s2")}")
  }

  test("a stream left out of a drain keeps its position (drain s1, s2, then s1)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "s1", "shard-0", (0L to 2L).map(rec))
    ShardedStreamLog.append(root, "s2", "shard-0", (100L to 102L).map(rec))
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "readd-drain", logRoot = root, checkpointRoot = ck))
    try {
      assert(cg.drain(Seq("s1"))(collectInto(seen)).records == Map("s1" -> 3L))
      assert(cg.drain(Seq("s2"))(collectInto(seen)).records == Map("s2" -> 3L))
      ShardedStreamLog.append(root, "s1", "shard-0", (3L to 4L).map(rec))
      val p3 = cg.drain(Seq("s1"))(collectInto(seen))
      assert(p3.records == Map("s1" -> 2L), s"the third drain moves s1's new tail only: $p3")
    } finally cg.close()
    val got = byStream(seen)
    assert(got("s1") == (0L to 4L), s"s1 must be delivered exactly once: ${got("s1")}")
    assert(got("s2") == (100L to 102L), s"s2: ${got("s2")}")
  }

  test("lag() throws, naming the checkpoint, when the offset WAL cannot be read") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec))
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "lag-corrupt", logRoot = root, checkpointRoot = ck))
    try {
      cg.start(Seq("events")) { (df, _) => df.count(); () }
      cg.processAllAvailable()
      assert(cg.lag() == Map(("events", "shard-0") -> 0L))
      // the latest committed batch's offsets file, next to its commit
      val main = s"$ck/lag-corrupt/main"
      val last = new java.io.File(s"$main/commits").list()
        .flatMap(n => scala.util.Try(n.toLong).toOption).max
      Files.write(java.nio.file.Paths.get(s"$main/offsets/$last"), "not a wal entry".getBytes("UTF-8"))
      val e = intercept[IllegalStateException](cg.lag())
      assert(e.getMessage.contains(s"$main/offsets"), e.getMessage)
    } finally cg.close()
  }

  test("start twice without refresh fails; refresh before start fails") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "app3", logRoot = root, checkpointRoot = ck))
    intercept[IllegalStateException] { cg.refresh(Seq("events")) }
    cg.start(Seq("events")) { (_, _) => () }
    intercept[IllegalArgumentException] { cg.start(Seq("events")) { (_, _) => () } }
    cg.close()
  }

  test("errors() surfaces query failures (Errors channel parity, lossless)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0), rec(1)))
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "app-err", logRoot = root, checkpointRoot = ck))
    cg.start(Seq("events")) { (df, _) =>
      df.count() // force evaluation
      throw new RuntimeException("boom: application batch failure")
    }
    // the query may fail before or during this call; either way the
    // listener captures the failure — errors() below is the real check
    try cg.processAllAvailable() catch { case _: Exception => () }
    var tries = 0
    var errs = cg.errors()
    while (errs.isEmpty && tries < 150) { Thread.sleep(100); errs = cg.errors(); tries += 1 }
    assert(errs.exists(_.contains("boom")), s"captured: $errs")
    cg.close()
  }

  test("lag() reports backlog before processing and zero after drain") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    ShardedStreamLog.append(root, "events", "shard-1", (0L to 4L).map(rec))
    // gapped sequences: lag counts records, not sequence distance
    ShardedStreamLog.append(root, "events", "shard-2", (10L to 100L by 10L).map(rec))
    // a wide trigger interval keeps the background query from racing the
    // append→lag() window below (with the default 100 ms cadence a trigger
    // could commit the new records before lag() reads lastProgress)
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "lagapp", logRoot = root, checkpointRoot = ck,
        scanIntervalMs = 2000L))
    assert(cg.lag().isEmpty, "no lag map before start")
    try {
      cg.start(Seq("events")) { (df, _) => df.count(); () }
      cg.processAllAvailable()
      val drained = cg.lag()
      assert(drained == Map(("events", "shard-0") -> 0L, ("events", "shard-1") -> 0L,
        ("events", "shard-2") -> 0L),
        s"drained consumer must report zero lag: $drained")
      // new records arrive but no trigger has committed them yet… the
      // backlog surfaces immediately via the incremental index
      ShardedStreamLog.append(root, "events", "shard-0", (10L to 14L).map(rec))
      ShardedStreamLog.append(root, "events", "shard-2", Seq(110L, 120L).map(rec))
      val behind = cg.lag()
      assert(behind(("events", "shard-0")) == 5L, s"expected 5 records behind, got $behind")
      assert(behind(("events", "shard-2")) == 2L,
        s"expected 2 unread records on the gapped shard, got $behind")
      cg.processAllAvailable()
      assert(cg.lag().values.forall(_ == 0L))
    } finally cg.close()
  }

  test("multi-app isolation: concurrent groups namespace WAL and lag by app (statemodel pk-prefix parity)") {
    // the reference namespaces ALL state by app (`statemodel.go:24-26,
    // 35-37,55-57` pk prefixes): two groups with different app names over
    // the SAME log + checkpoint root must hold independent WALs and
    // non-interfering lag, and a group REUSING an app name shares that
    // app's WAL (resume, not replay)
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val seenA = new ConcurrentLinkedQueue[Long]()
    val seenB = new ConcurrentLinkedQueue[Long]()
    val cgA = new ConsumerGroup(spark, ConsumerConfig("appA", root, ck))
    val cgB = new ConsumerGroup(spark, ConsumerConfig("appB", root, ck))
    cgA.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seenA.add(r.getString(0).toLong))
    }
    cgB.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seenB.add(r.getString(0).toLong))
    }
    cgA.processAllAvailable()
    cgB.processAllAvailable()
    assert(seenA.asScala.toSeq.sorted == (0L to 9L))
    assert(seenB.asScala.toSeq.sorted == (0L to 9L))
    // one WAL per app on disk
    assert(new java.io.File(s"$ck/appA/main/offsets").isDirectory)
    assert(new java.io.File(s"$ck/appB/main/offsets").isDirectory)
    // B stops; a tail lands; only A advances — and each group's lag
    // reports ITS OWN committed progress, not the other's
    cgB.close()
    ShardedStreamLog.append(root, "events", "shard-0", (10L to 14L).map(rec))
    cgA.processAllAvailable()
    assert(cgA.lag().values.sum == 0L, "A drained the tail")
    assert(seenA.asScala.toSeq.sorted == (0L to 14L))
    assert(seenB.asScala.toSeq.sorted == (0L to 9L), "stopped B must not see the tail")
    cgA.close()
    // same app name → same WAL: resumes after B's committed point with
    // neither replay nor loss (A's further progress must not bleed in)
    val cgB2 = new ConsumerGroup(spark, ConsumerConfig("appB", root, ck))
    cgB2.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seenB.add(r.getString(0).toLong))
    }
    cgB2.processAllAvailable()
    cgB2.close()
    assert(seenB.asScala.toSeq.sorted == (0L to 14L),
      "same-app restart must resume B's own WAL exactly-once")
  }

  test("multi-app isolation: manual-commit mark stores are per-app") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec))
    val mc = Some(CommitConfig(auto = false))
    val cgC = new ConsumerGroup(spark, ConsumerConfig("appC", root, ck, commit = mc))
    val cgD = new ConsumerGroup(spark, ConsumerConfig("appD", root, ck, commit = mc))
    cgC.start(Seq("events"))((_, _) => ())
    cgD.start(Seq("events"))((_, _) => ())
    cgC.processAllAvailable()
    cgD.processAllAvailable()
    cgC.markRecord("events", "shard-0", 2L)
    cgC.commit()
    cgD.markRecord("events", "shard-0", 4L)
    cgD.commit()
    cgC.close()
    cgD.close()
    // independent mark stores, one directory per app
    assert(cgC.committedMarks() == Map("events" -> Map("shard-0" -> 2L)))
    assert(cgD.committedMarks() == Map("events" -> Map("shard-0" -> 4L)))
    assert(new java.io.File(s"$ck/appC/manual").isDirectory)
    assert(new java.io.File(s"$ck/appD/manual").isDirectory)
  }

  test("empty app name is rejected (config validation parity)") {
    intercept[IllegalArgumentException] {
      ConsumerConfig(app = "", logRoot = "/tmp", checkpointRoot = "/tmp")
    }
  }

  test("soak: 100+ triggers with mid-run reshard and refresh — bounded WAL, exactly-once") {
    // the long-haul twin of the short E2E cases: a consumer that lives
    // through ≥100 micro-batches, a reshard (closed shard + two new ones)
    // at one-third, and a Refresh stream-set swap at two-thirds, must
    //   (a) deliver every record exactly once across all of it,
    //   (b) keep the checkpoint WAL O(retain), not O(triggers), and
    //   (c) keep draining closed-shard tails (reference bug §2.3) at soak
    //       length, not just in the 2-trigger reshard case
    val (root, ck) = newEnv()
    val retainKey = "spark.sql.streaming.minBatchesToRetain"
    val prev = spark.conf.getOption(retainKey)
    spark.conf.set(retainKey, "2")
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg = new ConsumerGroup(spark,
      ConsumerConfig(app = "soak", logRoot = root, checkpointRoot = ck,
        scanIntervalMs = 10L))
    try {
      var next = 0L
      def push(stream: String, shard: String): (String, Long) = {
        val s = next; next += 1
        ShardedStreamLog.append(root, stream, shard, Seq(rec(s)))
        (stream, s)
      }
      val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      expected += push("events", "shard-0")
      cg.start(Seq("events")) { (df, _) =>
        df.select("stream", "sequence_number").collect()
          .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))
      }
      cg.processAllAvailable()
      // phase 1: 40 triggers on the original topology
      (1 to 40).foreach { _ =>
        expected += push("events", "shard-0")
        cg.processAllAvailable()
      }
      // phase 2: reshard — close shard-0 WITH an unread tail, fan out to
      // shard-1/shard-2, 30 more triggers
      expected += push("events", "shard-0") // tail lands, then the close
      ShardedStreamLog.closeShard(root, "events", "shard-0")
      (1 to 30).foreach { i =>
        expected += push("events", if (i % 2 == 0) "shard-1" else "shard-2")
        cg.processAllAvailable()
      }
      // phase 3: Refresh swaps in a second stream mid-run; 30 more triggers
      expected += push("clicks", "shard-0")
      cg.refresh(Seq("events", "clicks"))
      cg.processAllAvailable()
      (1 to 30).foreach { i =>
        expected += push(if (i % 2 == 0) "clicks" else "events",
          if (i % 2 == 0) "shard-0" else "shard-1")
        cg.processAllAvailable()
      }
      assert(cg.errors().isEmpty, s"soak surfaced errors: ${cg.errors()}")
      // exactly-once: every appended record seen once, nothing else
      val got = seen.asScala.toSeq.sorted
      assert(got == expected.toSeq.sorted,
        s"soak lost or replayed records: got ${got.size}, expected ${expected.size}")
      // ≥100 committed micro-batches across both incarnations, yet the
      // WAL stays O(retain): Spark purges entries older than retain(2)
      // after every batch (same contract WalCompactionSpec pins short-run)
      def walIds(sub: String): Seq[Long] = {
        val dir = new java.io.File(s"$ck/soak/main", sub)
        Option(dir.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => scala.util.Try(f.getName.toLong).toOption).sorted
      }
      val offsets = walIds("offsets")
      val commits = walIds("commits")
      assert(offsets.max >= 100, s"expected ≥100 batches, saw max id ${offsets.max}")
      assert(offsets.size <= 5, s"offsets WAL grew unbounded: ${offsets.size} entries")
      assert(commits.size <= 5, s"commits WAL grew unbounded: ${commits.size} entries")
    } finally {
      cg.close()
      prev match {
        case Some(v) => spark.conf.set(retainKey, v)
        case None => spark.conf.unset(retainKey)
      }
    }
  }

  private val stockManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** `manager` None: no manager named, so a new ConsumerGroup installs its own. */
  private def withManager[T](manager: Option[String])(body: => T): T =
    withSessionConf(LocalCheckpointFileManager.ConfKey, manager)(body)

  private def drainInto(cg: ConsumerGroup, seen: ConcurrentLinkedQueue[Long]): DrainProgress =
    cg.drain(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }

  private def crcFiles(ck: String): Seq[String] =
    Seq("offsets", "commits").flatMap { sub =>
      Option(new java.io.File(s"$ck/main", sub).list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".crc"))
    }

  /** One checkpoint, written by `first` then resumed by `second`: every
    * record is delivered exactly once. Returns the .crc files the first
    * half left in the offset WAL and the commit log.
    */
  private def resumeAcross(first: Option[String], second: Option[String]): Seq[String] = {
    val (root, ck) = newEnv()
    val cfg = ConsumerConfig(app = "switch", logRoot = root, checkpointRoot = ck,
      scanLimit = 4L)
    val seen = new ConcurrentLinkedQueue[Long]()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val crcs = withManager(first) {
      val cg = new ConsumerGroup(spark, cfg)
      try assert(drainInto(cg, seen).totalRecords == 10L) finally cg.close()
      crcFiles(s"$ck/switch")
    }
    ShardedStreamLog.append(root, "events", "shard-0", (10L to 14L).map(rec))
    withManager(second) {
      val cg = new ConsumerGroup(spark, cfg)
      try {
        assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
          second.getOrElse(classOf[LocalCheckpointFileManager].getName))
        assert(drainInto(cg, seen).records == Map("events" -> 5L))
        // and a tailing start on the same checkpoint sees only what is new
        ShardedStreamLog.append(root, "events", "shard-0", (15L to 16L).map(rec))
        cg.start(Seq("events")) { (df, _) =>
          df.select("sequence_number").collect()
            .foreach(r => seen.add(r.getString(0).toLong))
        }
        cg.processAllAvailable()
      } finally cg.close()
    }
    assert(seen.asScala.toSeq.sorted == (0L to 16L), "no replay, no loss")
    crcs
  }

  test("a checkpoint written by the stock manager resumes exactly-once under the local one") {
    val crcs = resumeAcross(first = Some(stockManager), second = None)
    assert(crcs.nonEmpty, "the stock manager's checksum files are in the checkpoint")
  }

  test("a checkpoint written by the local manager resumes exactly-once under the stock one") {
    val crcs = resumeAcross(first = None, second = Some(stockManager))
    assert(crcs.isEmpty, s"the local manager writes no checksum files: $crcs")
  }

  test("a drain starts no processes for its checkpoint") {
    // counts the processes whose stack passes through a checkpoint file
    // manager or ConsumerGroup; Spark's own clean-up of a query's artifact
    // directory (rm -rf) passes through neither and is not counted
    def processStarts(body: => Unit): Seq[String] = {
      val recording = new jdk.jfr.Recording()
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      try body finally recording.stop()
      val file = Files.createTempFile("drain", ".jfr")
      try {
        recording.dump(file)
        val events = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
        events.flatMap { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          if (frames.exists(f => f.contains("CheckpointFileManager") || f.startsWith("graft.api.")))
            Some(s"${e.getString("command")} at ${frames.take(12).mkString(" < ")}")
          else None
        }
      } finally {
        recording.close()
        Files.deleteIfExists(file)
      }
    }
    def drainTwoShards(app: String): Unit = {
      val (root, ck) = newEnv()
      Seq("shard-0", "shard-1").foreach { sh =>
        ShardedStreamLog.append(root, "events", sh, (0L to 8L).map(rec))
      }
      val cg = new ConsumerGroup(spark, ConsumerConfig(app = app, logRoot = root,
        checkpointRoot = ck, scanLimit = 3L))
      try {
        val p = cg.drain(Seq("events"))((df, _) => df.count())
        assert(p.records == Map("events" -> 18L) && p.batches == 3L, s"progress: $p")
      } finally cg.close()
    }
    val ours = withManager(None)(processStarts(drainTwoShards("no-procs")))
    assert(ours.isEmpty, s"checkpoint writes started processes:\n${ours.mkString("\n")}")
    // the recording does see them where they happen: without Hadoop's
    // native library, the stock manager shells out for chmod and readlink
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      val stock = withManager(Some(stockManager))(processStarts(drainTwoShards("stock-procs")))
      assert(stock.nonEmpty, "the stock manager's process starts are visible to the recording")
    }
  }
}
