package graft.api

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkTestSession
import graft.source.ShardedStreamLog
import graft.source.ShardedStreamLog.LogRecord
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The reference's OPT-IN at-least-once commit surface —
  * `MarkRecord`/`Commit`/`CommitConfig` (`kinesumer.go:746-804,85-95`) —
  * whose contract is REPLAY-SINCE-LAST-COMMIT: a restart resumes after
  * the last committed mark, re-delivering everything since, with the app
  * (not the engine WAL) owning the durable resume point. The default
  * `commit = None` mode keeps the exactly-once WAL (ConsumerGroupSpec).
  */
class ManualCommitSpec extends AnyFunSuite with SparkTestSession {

  private def rec(seq: Long) =
    LogRecord(seq, s"pk$seq", 1700000000000L + seq, s"data-$seq".getBytes("UTF-8"))

  private def newEnv(): (String, String) =
    (Files.createTempDirectory("mc-log").toString,
      Files.createTempDirectory("mc-ck").toString)

  private def drain(cg: ConsumerGroup, seen: ConcurrentLinkedQueue[Long],
      streams: Seq[String], markUpTo: Option[Long]): Unit = {
    cg.start(streams) { (df, _) =>
      df.select("stream", "shard_id", "sequence_number").collect().foreach { r =>
        val seq = r.getString(2).toLong
        seen.add(seq)
        markUpTo.foreach(lim =>
          if (seq <= lim) cg.markRecord(r.getString(0), r.getString(1), seq))
      }
    }
    cg.processAllAvailable()
  }

  test("restart replays everything after the last committed mark") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val cfg = ConsumerConfig(app = "mc1", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))

    val seen1 = new ConcurrentLinkedQueue[Long]()
    val cg1 = new ConsumerGroup(spark, cfg)
    // the app consumes all 10 but declares only 0..4 consumed
    drain(cg1, seen1, Seq("events"), markUpTo = Some(4L))
    cg1.commit()
    cg1.close()
    assert(seen1.asScala.toSeq.sorted == (0L to 9L))
    assert(cg1.committedMarks() == Map("events" -> Map("shard-0" -> 4L)))

    // restart: records 5..9 were processed but never marked — the
    // reference contract re-delivers them (at-least-once, app-owned
    // resume point), where the WAL mode would not
    val seen2 = new ConcurrentLinkedQueue[Long]()
    val cg2 = new ConsumerGroup(spark, cfg)
    drain(cg2, seen2, Seq("events"), markUpTo = None)
    cg2.close()
    assert(seen2.asScala.toSeq.sorted == (5L to 9L),
      "replay must start AFTER the last committed mark, not after the last processed batch")
  }

  test("without any commit a restart replays from the horizon") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 5L).map(rec))
    val cfg = ConsumerConfig(app = "mc2", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))

    val seen1 = new ConcurrentLinkedQueue[Long]()
    val cg1 = new ConsumerGroup(spark, cfg)
    drain(cg1, seen1, Seq("events"), markUpTo = None)
    cg1.close()
    assert(seen1.asScala.toSeq.sorted == (0L to 5L))

    val seen2 = new ConcurrentLinkedQueue[Long]()
    val cg2 = new ConsumerGroup(spark, cfg)
    drain(cg2, seen2, Seq("events"), markUpTo = None)
    cg2.close()
    assert(seen2.asScala.toSeq.sorted == (0L to 5L), "uncommitted work replays in full")
  }

  test("commit merges over prior commits per shard (partial marks keep old positions)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 3L).map(rec))
    ShardedStreamLog.append(root, "events", "shard-1", (100L to 103L).map(rec))
    val cfg = ConsumerConfig(app = "mc3", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    val cg = new ConsumerGroup(spark, cfg)
    cg.start(Seq("events")) { (_, _) => () }
    cg.processAllAvailable()
    cg.markRecord("events", "shard-0", 3L)
    cg.markRecord("events", "shard-1", 101L)
    cg.commit()
    // second commit marks only shard-1: shard-0 must keep its checkpoint
    // (the reference's per-shard DynamoDB updates never clear siblings)
    cg.markRecord("events", "shard-1", 103L)
    cg.commit()
    cg.markRecord("events", "shard-0", 3L)
    cg.commit()
    cg.close()
    assert(cg.committedMarks() ==
      Map("events" -> Map("shard-0" -> 3L, "shard-1" -> 103L)))
    // the mark store keeps the latest version and one older
    val versions = new java.io.File(s"$ck/mc3/manual/marks").list().toSeq
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted
    assert(versions == Seq(1L, 2L), s"versions after three commits: $versions")
  }

  test("commit with nothing marked is a no-op (len(checkpoints)==0 parity)") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    val cfg = ConsumerConfig(app = "mc4", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    val cg = new ConsumerGroup(spark, cfg)
    cg.start(Seq("events")) { (_, _) => () }
    cg.processAllAvailable()
    cg.commit()
    cg.close()
    assert(cg.committedMarks().isEmpty)
  }

  test("auto ticker commits marks without an explicit Commit call") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val cfg = ConsumerConfig(app = "mc5", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = true, intervalMs = 100L)))
    val cg = new ConsumerGroup(spark, cfg)
    val seen = new ConcurrentLinkedQueue[Long]()
    drain(cg, seen, Seq("events"), markUpTo = Some(9L))
    // ≈ commitPeriodically: the ticker persists within ~intervalMs
    val deadline = System.nanoTime() + 10_000_000_000L
    while (cg.committedMarks().isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(cg.committedMarks() == Map("events" -> Map("shard-0" -> 9L)))
    cg.close()

    ShardedStreamLog.append(root, "events", "shard-0", (10L to 12L).map(rec))
    val seen2 = new ConcurrentLinkedQueue[Long]()
    val cg2 = new ConsumerGroup(spark, cfg)
    drain(cg2, seen2, Seq("events"), markUpTo = None)
    cg2.close()
    assert(seen2.asScala.toSeq.sorted == (10L to 12L))
  }

  test("markRecord on an unconsumed stream reports through errors(), never throws") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", Seq(rec(0)))
    val cfg = ConsumerConfig(app = "mc6", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    val cg = new ConsumerGroup(spark, cfg)
    cg.start(Seq("events")) { (_, _) => () }
    cg.markRecord("other", "shard-0", 1L)
    val errs = cg.errors()
    assert(errs.exists(_.contains("not consuming stream 'other'")), errs.toString)
    cg.close()
  }

  test("lag() in manual mode reads the app-committed marks before the first trigger") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 9L).map(rec))
    val cfg = ConsumerConfig(app = "mc8", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    val cg1 = new ConsumerGroup(spark, cfg)
    cg1.start(Seq("events")) { (_, _) => () }
    cg1.processAllAvailable()
    cg1.markRecord("events", "shard-0", 4L)
    cg1.commit()
    cg1.close()
    // restart; batch 0 is held open on a latch so lastProgress stays
    // null — lag() must fall back to the APP's committed marks (the
    // durable resume point here), not the absent main WAL (which would
    // report the whole log as backlog)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val cg2 = new ConsumerGroup(spark, cfg)
    cg2.start(Seq("events")) { (_, _) =>
      gate.await(20, java.util.concurrent.TimeUnit.SECONDS); () }
    try {
      assert(cg2.lag() == Map(("events", "shard-0") -> 5L),
        "pre-first-trigger lag must measure from the committed mark (seq 4)")
    } finally {
      gate.countDown()
      cg2.close()
    }
  }

  test("refresh in manual mode does not rewind (Refresh keeps its position, only restarts replay)") {
    // the reference's Refresh keeps in-memory shard iterators — a
    // stream-set swap never re-delivers; only a PROCESS restart replays
    // since the last commit (kinesumer.go:817-831)
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec))
    val cfg = ConsumerConfig(app = "mc9", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    val seen = new ConcurrentLinkedQueue[Long]()
    val cg = new ConsumerGroup(spark, cfg)
    cg.start(Seq("events")) { (df, _) =>
      df.select("sequence_number").collect()
        .foreach(r => seen.add(r.getString(0).toLong))
    }
    cg.processAllAvailable()
    assert(seen.asScala.toSeq.sorted == (0L to 4L))
    // no commit before the refresh — the carry, not the commit, must
    // hold the position
    cg.refresh(Seq("events"))
    ShardedStreamLog.append(root, "events", "shard-0", (5L to 6L).map(rec))
    cg.processAllAvailable()
    cg.close()
    assert(seen.asScala.toSeq.sorted == (0L to 6L),
      s"refresh must neither replay nor lose records: ${seen.asScala.toSeq.sorted}")
  }

  test("a refresh that adds a stream holding a committed mark resumes after that mark") {
    val (root, ck) = newEnv()
    ShardedStreamLog.append(root, "events", "shard-0", (0L to 4L).map(rec))
    ShardedStreamLog.append(root, "clicks", "shard-0", (100L to 104L).map(rec))
    val cfg = ConsumerConfig(app = "mc10", logRoot = root, checkpointRoot = ck,
      commit = Some(CommitConfig(auto = false)))
    // a first run consumes both streams and commits a mark on each
    val cg1 = new ConsumerGroup(spark, cfg)
    cg1.start(Seq("events", "clicks")) { (_, _) => () }
    cg1.processAllAvailable()
    cg1.markRecord("events", "shard-0", 4L)
    cg1.markRecord("clicks", "shard-0", 101L)
    cg1.commit()
    cg1.close()
    // the next run starts on events alone, then a refresh adds clicks
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val cg2 = new ConsumerGroup(spark, cfg)
    cg2.start(Seq("events")) { (df, _) =>
      df.select("stream", "sequence_number").collect()
        .foreach(r => seen.add((r.getString(0), r.getString(1).toLong)))
    }
    cg2.processAllAvailable()
    cg2.refresh(Seq("events", "clicks"))
    cg2.processAllAvailable()
    cg2.close()
    assert(seen.asScala.toSeq.sorted == (102L to 104L).map(("clicks", _)),
      s"clicks must resume after its committed mark (101): ${seen.asScala.toSeq.sorted}")
    // the refresh made no checkpoint of its own, and close dropped the
    // start's: only the mark store is left
    assert(new java.io.File(s"$ck/mc10/manual").list().toSeq == Seq("marks"))
  }

  test("manual-commit APIs require the opt-in mode") {
    val (root, ck) = newEnv()
    val cfg = ConsumerConfig(app = "mc7", logRoot = root, checkpointRoot = ck)
    val cg = new ConsumerGroup(spark, cfg)
    intercept[IllegalArgumentException] { cg.markRecord("events", "shard-0", 0L) }
    intercept[IllegalArgumentException] { cg.commit() }
  }
}
