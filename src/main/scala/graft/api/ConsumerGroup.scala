package graft.api

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import graft.source.{LocalCheckpointFileManager, ShardedStreamOffset}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, OffsetSeq, OffsetSeqLog}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Configuration parity with the reference's `kinesumer.Config`
  * (`/root/reference/kinesumer.go:120-170`), mapped to Spark:
  *
  *   - `app`       — consumer-group name; namespaces the checkpoint store
  *                   (≈ the DynamoDB table keyed by app,
  *                   `/root/reference/statemodel.go:17-57`)
  *   - `logRoot`   — sharded-stream log root (the Kinesis data plane)
  *   - `checkpointRoot` — offset store root (≈ the DynamoDB state store;
  *                   here the Structured Streaming offset WAL and commit
  *                   log, written by [[graft.source.LocalCheckpointFileManager]]:
  *                   `java.nio` on a local file system, Spark's stock manager
  *                   elsewhere. A session that sets
  *                   `spark.sql.streaming.checkpointFileManagerClass` itself
  *                   keeps its own manager.)
  *   - `scanLimit` — at most this many records per shard per micro-batch,
  *                   gapped sequences too (≈ `Config.ScanLimit`, default 2000)
  *   - `scanIntervalMs` — trigger cadence (≈ `Config.ScanInterval`)
  *   - `startFromLatest` — `LATEST` vs `TRIM_HORIZON` start
  *                   (≈ `GetShardIterator` mode, `kinesumer.go:706-729`)
  *
  * NOT carried over (documented divergences, SURVEY.md §7.4):
  * `ClientID`/aliveness/leader election — the Spark driver is the single
  * planner, so there is no client-side group membership; `EFOMode` —
  * push transport has no micro-batch analog.
  *
  * Carried over as an OPT-IN: `MarkRecord`/`Commit`/`CommitConfig`
  * (`kinesumer.go:746-804`, `kinesumer.go:85-95`). The DEFAULT
  * (`commit = None`) keeps the offset WAL's transactional per-batch
  * commit — exactly-once source progress, a strict upgrade over the
  * reference's periodic commit. `commit = Some(CommitConfig(...))`
  * switches to the reference's at-least-once semantics for consumers
  * that RELY on replay-since-last-commit (side-effecting apps that
  * dedupe downstream and want the app — not the engine — to own the
  * durable resume point): the app marks consumed records with
  * [[ConsumerGroup.markRecord]], [[ConsumerGroup.commit]] persists the
  * marks (or a ticker does, when `auto` — `commitPeriodically`,
  * `kinesumer.go:731-744`), and a restart resumes AFTER the last
  * COMMITTED mark per (stream, shard), re-delivering everything since —
  * exactly the reference's replay window.
  */
final case class CommitConfig(auto: Boolean = true, intervalMs: Long = 5000L)

/** What a [[ConsumerGroup.drain]] actually moved: per-stream drained
  * record counts, per-stream distinct shards that yielded ≥ 1 record,
  * and the micro-batch count. Streams that were fully caught-up report
  * 0 — the caller can tell an empty backlog from a failed drain (which
  * throws / lands in [[ConsumerGroup.errors]] instead). Records and
  * shards are computed once per drain from the committed offsets before
  * and after it, ranked by the log's index — not by reading the batches,
  * so they do not depend on what the callback does with its frame.
  */
final case class DrainProgress(
    records: Map[String, Long],
    shards: Map[String, Long],
    batches: Long) {
  def totalRecords: Long = records.values.sum
}

final case class ConsumerConfig(
    app: String,
    logRoot: String,
    checkpointRoot: String,
    scanLimit: Long = 2000L,
    scanIntervalMs: Long = 100L,
    startFromLatest: Boolean = false,
    commit: Option[CommitConfig] = None) {
  require(app.nonEmpty, "app must be set") // ≈ kinesumer.go:189-193
}

/** The kinesumer client surface on Spark (SURVEY.md §3): `consume` is the
  * record channel, `refresh` the runtime stream swap, `close` the shutdown.
  *
  * Spark's offset logs are the only place a group keeps positions. Under
  * `<checkpointRoot>/<app>/`:
  *
  *   - `main/` — the default mode's checkpoint, shared by [[start]],
  *     [[refresh]] and [[drain]]: the offset WAL (`offsets/`) and the
  *     commit log (`commits/`). Each batch records every stream the group
  *     has consumed, so a stream dropped by a refresh or a drain keeps its
  *     position.
  *   - `manual/spark-<uuid>/` — manual-commit mode: the checkpoint of one
  *     [[start]], kept across its refreshes and deleted by [[close]].
  *   - `manual/marks/` — manual-commit mode: the committed marks, one
  *     batch of a Spark `OffsetSeqLog` per [[commit]] (version N is file
  *     `N`); the latest version and one older are kept.
  */
class ConsumerGroup(spark: SparkSession, cfg: ConsumerConfig) {

  type BatchFn = (DataFrame, Long) => Unit

  /** The running query, its stream set, its callback and its checkpoint. */
  private final class Running(val query: StreamingQuery, val streams: Seq[String],
      val onBatch: BatchFn, val checkpoint: String)

  @volatile private var active: Option[Running] = None

  // ≈ the reference's lossy 1-slot error channel (`kinesumer.go:833-844`,
  // K2 in SURVEY §2) — except nothing is dropped: failures of this app's
  // query are captured (listener + direct harvest, deduped by runId) and
  // drained on demand.
  private val errorQueue = new ConcurrentLinkedQueue[String]()
  private val owned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val reported =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach { msg =>
        if (owned.contains(e.runId) && reported.add(e.runId)) errorQueue.add(msg)
      }
  }
  spark.streams.addListener(listener)

  // Spark's plug-in point for checkpoint storage: the WAL, the commit log
  // and the manual-commit marks go through LocalCheckpointFileManager
  // unless the session (or its Hadoop conf) already names a manager
  if (spark.sessionState.newHadoopConf().get(LocalCheckpointFileManager.ConfKey) == null)
    spark.conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)

  // covers the race where the query fails before/without the listener event
  private def harvest(): Unit = active.foreach { cur =>
    cur.query.exception.foreach { e =>
      if (reported.add(cur.query.runId)) errorQueue.add(e.getMessage)
    }
  }

  /** Drain captured query failures — `Errors()` parity, without the
    * reference's drop-when-full behavior.
    */
  def errors(): Seq[String] = {
    harvest()
    // per-element drain: an error enqueued concurrently is either taken
    // now or left intact for the next call — never discarded
    Iterator.continually(errorQueue.poll()).takeWhile(_ != null).toSeq
  }

  /** Lazy streaming envelope of the given streams — the analog of the
    * record channel returned by `Consume` (`kinesumer.go:346-370`); attach
    * any sink/transformation.
    */
  def consume(streams: Seq[String]): DataFrame = consumeFrom(streams, startPosition)

  private def startPosition = if (cfg.startFromLatest) "latest" else "trim_horizon"

  private def consumeFrom(streams: Seq[String], startingPosition: String): DataFrame = {
    require(streams.nonEmpty, "at least one stream")
    spark.readStream
      .format("graft.source.ShardedStreamProvider")
      .option("path", cfg.logRoot)
      .option("streams", streams.mkString(","))
      .option("startingPosition", startingPosition)
      .option("maxRecordsPerShardPerBatch", cfg.scanLimit)
      .load()
  }

  // ------------------------------------------------------------------
  // Manual-commit (at-least-once) parity mode — active iff cfg.commit is
  // set. ≈ k.offsets / MarkRecord / Commit (`kinesumer.go:146,746-804`).

  /** The app's un-committed consume marks, per (stream, shard) —
    * OVERWRITE semantics like the reference's `offsets.Store`
    * (`kinesumer.go:764`): the resume point is whatever was marked last,
    * not a max (marking out of order moves it backwards there too).
    */
  private val marks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
  private var ticker: Option[java.util.concurrent.ScheduledExecutorService] = None

  /** `MarkRecord` (`kinesumer.go:746-764`): declare `sequenceNumber` of
    * (stream, shardId) consumed. Durable only after [[commit]]. A mark
    * on a stream this consumer is not consuming is reported through
    * [[errors]] and ignored — the reference's `ErrInvalidStream` path
    * (`sendOrDiscardError`, here lossless).
    */
  def markRecord(stream: String, shardId: String, sequenceNumber: Long): Unit = {
    require(cfg.commit.nonEmpty,
      "markRecord requires the manual-commit mode (ConsumerConfig.commit)")
    if (!active.exists(_.streams.contains(stream)))
      errorQueue.add(s"markRecord: not consuming stream '$stream'")
    else marks.put((stream, shardId), sequenceNumber)
  }

  /** `Commit` (`kinesumer.go:766-792`): persist the current marks MERGED
    * over the last committed positions (the reference's per-shard
    * DynamoDB updates leave unmarked shards at their old checkpoint).
    * No-op when nothing was marked since the last call — the reference's
    * `len(checkpoints) == 0` early return. Durability: each commit is the
    * next batch of the mark store, a Spark offset log (the WAL's own
    * format and atomic publish), so a crash mid-commit leaves the
    * previous commit intact; a version another writer published since
    * this commit read the store fails the commit instead of being
    * overwritten.
    */
  def commit(): Unit = synchronized {
    require(cfg.commit.nonEmpty,
      "commit requires the manual-commit mode (ConsumerConfig.commit)")
    if (!marks.isEmpty) {
      import scala.jdk.CollectionConverters._
      val snapshot = marks.asScala.toMap
      val fresh = snapshot.groupBy(_._1._1).map { case (stream, m) =>
        stream -> m.map { case ((_, shard), seq) => shard -> seq }.toMap
      }
      val log = new OffsetSeqLog(spark, marksDir)
      val version = log.getLatestBatchId()
      val prev = positionsAt(marksDir, version)
      val merged = (prev.keySet ++ fresh.keySet).map { stream =>
        stream -> (prev.getOrElse(stream, Map.empty) ++
          fresh.getOrElse(stream, Map.empty))
      }.toMap
      val next = version.fold(0L)(_ + 1)
      if (!log.add(next, OffsetSeq.fill(ShardedStreamOffset(merged))))
        throw new IllegalStateException(
          s"commit: version $next of the mark store $marksDir was written by another committer")
      // bounded history: the latest is the checkpoint, one older kept as
      // the crash-window fallback
      log.purge(next - 1)
      // remove ONLY what this commit persisted (value-conditional remove):
      // a markRecord landing between the snapshot and here — the app's
      // foreachBatch thread racing the auto-commit ticker — replaces the
      // value and survives for the NEXT commit. A plain clear() would drop
      // it, silently regressing the durable resume point behind the app's
      // last mark; the reference never deletes offsets (`kinesumer.go:764`
      // Store-only), so its commit point can't regress either.
      snapshot.foreach { case (k, v) => marks.remove(k, v) }
    }
  }

  private def mainCk = s"${cfg.checkpointRoot}/${cfg.app}/main"
  private def manualDir = s"${cfg.checkpointRoot}/${cfg.app}/manual"
  private def marksDir = s"$manualDir/marks"

  private def exists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Last committed per-(stream, shard) positions; empty before the
    * first [[commit]]. A metadata log's constructor creates its
    * directory, so this read of the mark store opens it only once it
    * exists, and so does [[committedPositions]] for a commit log.
    */
  private[api] def committedMarks(): Map[String, Map[String, Long]] =
    positionsAt(marksDir,
      if (exists(marksDir)) new OffsetSeqLog(spark, marksDir).getLatestBatchId() else None)

  /** End positions of the latest batch in the commit log of the checkpoint
    * at `ck`, per (stream, shard); empty before its first commit. This is
    * the durable committed progress: [[drain]] counts what it moved from
    * it, and [[lag]] measures from it.
    */
  private def committedPositions(ck: String): Map[String, Map[String, Long]] = {
    val commits = s"$ck/commits"
    positionsAt(s"$ck/offsets",
      if (exists(commits)) new CommitLog(spark, commits).getLatestBatchId() else None)
  }

  /** The positions that batch `batch` of the offset log at `dir` records
    * (the query's one source); empty for no batch. Spark's own
    * `OffsetSeqLog` reads the file through Hadoop paths, so URI-style
    * checkpoint locations (file:/, hdfs://, s3a://) work too. A batch that
    * cannot be read throws, naming the log.
    */
  private def positionsAt(dir: String, batch: Option[Long]): Map[String, Map[String, Long]] =
    batch.fold(Map.empty[String, Map[String, Long]]) { n =>
      try new OffsetSeqLog(spark, dir).get(n).flatMap(_.offsets.flatten.headOption)
        .fold(Map.empty[String, Map[String, Long]])(o => ShardedStreamOffset.fromJson(o.json).positions)
      catch {
        case NonFatal(e) => throw new IllegalStateException(
          s"cannot read batch $n of the offset log $dir: ${e.getMessage}", e)
      }
    }

  /** Start consuming with a per-batch callback (≈ the application loop
    * draining the record channel). Offsets are committed per batch under
    * the app's checkpoint namespace — restart resumes after the last
    * committed sequence (`AFTER_SEQUENCE_NUMBER` semantics,
    * `kinesumer.go:716-718`). SOURCE progress is exactly-once; the
    * callback is AT-LEAST-ONCE across crashes: a batch whose side
    * effects ran but whose commit was not yet recorded re-runs on
    * restart with the SAME batchId — `onBatch` must be idempotent per
    * batchId (the standard foreachBatch contract; still a strict
    * upgrade over the reference's periodic-commit replay window, which
    * re-delivers with no dedup handle at all).
    */
  def start(streams: Seq[String])(onBatch: BatchFn): StreamingQuery = synchronized {
    require(active.isEmpty, "consumer already started; use refresh() to change streams")
    // Manual-commit mode: the APP's commit — not the engine's offset
    // WAL — owns the durable resume point, so each start gets a FRESH
    // Spark checkpoint and begins AFTER the last committed mark
    // (`AFTER_SEQUENCE_NUMBER`, `kinesumer.go:716-718`); everything
    // since the last Commit re-delivers — the reference's replay window.
    val ck =
      if (cfg.commit.isEmpty) mainCk
      else s"$manualDir/spark-${java.util.UUID.randomUUID()}"
    val q = run(streams, ck, onBatch)
    // ≈ commitPeriodically (`kinesumer.go:731-744`): CommitConfig.auto
    // commits the marks on a ticker; manual (`auto = false`) leaves
    // Commit to the app
    cfg.commit.filter(_.auto).foreach { cc =>
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, s"${cfg.app}-commit-ticker")
          t.setDaemon(true)
          t
        })
      // a failed tick is reported, not thrown: a throwing task would
      // silently cancel every later tick
      ex.scheduleAtFixedRate(
        () => try commit() catch {
          case NonFatal(e) => errorQueue.add(s"commit: ${e.getMessage}")
        },
        cc.intervalMs, cc.intervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      ticker = Some(ex)
    }
    q
  }

  /** Start the consuming query of `streams` on the checkpoint at `ck` and
    * make it the active one. The start position applies only while the
    * checkpoint holds no batch: Spark asks a source for its initial offset
    * once per checkpoint.
    */
  private def run(streams: Seq[String], ck: String, onBatch: BatchFn): StreamingQuery = {
    val committed = if (cfg.commit.isEmpty) Map.empty[String, Map[String, Long]] else committedMarks()
    val pos =
      if (committed.nonEmpty) "at_sequence:" + ShardedStreamOffset(committed).json()
      else startPosition
    val q = consumeFrom(streams, pos).writeStream
      .queryName(s"${cfg.app}-consumer")
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(cfg.scanIntervalMs))
      .foreachBatch { (df: DataFrame, batchId: Long) => onBatch(df, batchId) }
      .start()
    owned.add(q.runId)
    active = Some(new Running(q, streams, onBatch, ck))
    q
  }

  /** Backfill-then-stop: consume everything available RIGHT NOW in
    * capped batches, invoke `onBatch` per micro-batch, and return when
    * the backlog is drained — `Trigger.AvailableNow` over the SAME
    * exactly-once checkpoint namespace [[start]] uses, so a subsequent
    * `start` tails exactly after the drained records (the
    * backfill-then-tail deployment). Streams outside `streams` keep their
    * positions in that checkpoint, so a later drain or start that names
    * one again resumes where it stopped. Records appended after the drain
    * begins — including shards created by a mid-drain reshard — are
    * left for the next run, with the parent→child lineage gate intact
    * (see `ShardedStreamSource.prepareForTriggerAvailableNow`). Blocks
    * up to `timeoutMs`; a drain that cannot finish in time is stopped
    * and reported rather than left running. Default-commit mode only:
    * in manual-commit parity mode the app's marks own the resume point
    * and "drained" has no engine-side meaning.
    *
    * Returns per-stream progress — records drained, distinct shards
    * that yielded data, micro-batch count. The reference's only
    * observability is the lossy error channel (`kinesumer.go:833-844`);
    * a backfill operator needs the positive signal too ("drained 0
    * records" and "drain failed" are different states). The batches of
    * one drain cover one contiguous sequence range per shard, so the
    * counts come from the offset WAL's committed positions before and
    * after the drain, each range counted by the log's index
    * ([[graft.source.ShardedStreamLog.countRange]]): no Spark job and no
    * read of its own. Progress is a success-path return value; a
    * throwing callback fails the query and the exception propagates.
    *
    * The callback frame is handed over as [[start]] hands it, not
    * persisted: every action on it re-reads the batch's log slice, so a
    * callback that acts on `df` more than once persists it itself (the
    * standard `foreachBatch` contract).
    */
  def drain(streams: Seq[String], timeoutMs: Long = 600000L)(
      onBatch: BatchFn): DrainProgress = synchronized {
    require(active.isEmpty, "consumer already started; drain() is a standalone backfill")
    require(cfg.commit.isEmpty,
      "drain() requires the default exactly-once commit mode")
    // drain means BACKFILL: on a first-ever run start from the origin
    // regardless of cfg.startFromLatest (which would initialize the
    // fresh checkpoint at the live heads, drain zero records, and
    // permanently mark the backlog consumed — the opposite of this
    // method's contract). Once a checkpoint exists it wins, as always.
    val before = committedPositions(mainCk)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = consumeFrom(streams, "trim_horizon").writeStream
      .queryName(s"${cfg.app}-drain")
      .option("checkpointLocation", mainCk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        batches.incrementAndGet()
        onBatch(df, batchId)
      }
      .start()
    // the drain query is deliberately never OWNED: drain() propagates
    // any failure to the caller itself (awaitTermination throws), so an
    // errors() enqueue — the async listener can fire before any
    // post-hoc dedup mark here — would signal the same failure twice to
    // a caller that both catches and polls. The owned-filter keeps
    // errors() the listener channel for start()-mode queries only, and
    // leaves no per-drain runId state behind.
    try {
      if (!q.awaitTermination(timeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"drain of ${streams.mkString(",")} did not finish in ${timeoutMs} ms")
      }
    } finally if (q.isActive) q.stop()
    // each shard's (committed before, committed after] range, counted by
    // the log's index, shards in parallel like the head probes
    import scala.collection.parallel.CollectionConverters._
    val after = committedPositions(mainCk)
    val counts = streams.map { st =>
      val from = before.getOrElse(st, Map.empty[String, Long])
      st -> after.getOrElse(st, Map.empty[String, Long]).toSeq.par.map {
        case (sh, until) => graft.source.ShardedStreamLog.countRange(
          cfg.logRoot, st, sh, from.getOrElse(sh, -1L), until)
      }.seq.filter(_ > 0)
    }
    DrainProgress(
      records = counts.map { case (st, c) => st -> c.sum }.toMap,
      shards = counts.map { case (st, c) => st -> c.size.toLong }.toMap,
      batches = batches.get())
  }

  /** Swap the consumed stream set at runtime — `Refresh`
    * (`kinesumer.go:817-831`): pause-the-world, swap, restart on the SAME
    * checkpoint, in both commit modes. The offset log keeps every stream's
    * position: a stream in both sets goes on where it was, a dropped
    * stream keeps its position, and a stream added back resumes there. A
    * stream the checkpoint has never held reads from its shards' origin.
    * In manual-commit mode a refresh therefore does not rewind, as the
    * reference's Refresh keeps its in-memory shard iterators (only a
    * PROCESS restart replays since the last commit); a stream whose
    * committed marks were in the store when [[start]] ran resumes after
    * its mark. A batch in flight at the swap re-runs (at-least-once, the
    * foreachBatch contract). The auto-commit ticker keeps running.
    */
  def refresh(streams: Seq[String]): StreamingQuery = synchronized {
    val cur = active.getOrElse(throw new IllegalStateException("consumer not started"))
    cur.query.stop()
    awaitQuietly(cur.query)
    run(streams, cur.checkpoint, cur.onBatch)
  }

  private def stopTicker(): Unit = {
    ticker.foreach(_.shutdownNow())
    ticker = None
  }

  /** Block until all currently-available records are processed (test aid —
    * the reference's tests poll with timeouts instead).
    */
  def processAllAvailable(): Unit = active.foreach(_.query.processAllAvailable())

  /** Consumer lag per (stream, shard): the number of records after the
    * last COMMITTED batch's end offset — the monitoring metric the
    * reference left as an open TODO (`kinesumer.go:128`; Kinesis exposes
    * the analogous MillisBehindLatest). Reads the committed end offset
    * from the running query's offset log on disk and counts the records
    * above it from the log's incremental index
    * (`ShardedStreamLog.countRange`) — O(new bytes plus one index
    * interval), driver-side only. Sequences need not be dense, so this is
    * a record count, not a sequence distance; shards never read yet
    * report every record, and a not-yet-started consumer reports an empty
    * map. Before the query's first commit a manual-mode consumer measures
    * from the app's committed marks, where it resumes. An offset log that
    * cannot be read throws, naming it: it is not reported as backlog.
    */
  def lag(): Map[(String, String), Long] = active match {
    case None => Map.empty
    case Some(cur) =>
      val wal = committedPositions(cur.checkpoint)
      val committed = if (wal.isEmpty && cfg.commit.nonEmpty) committedMarks() else wal
      import scala.collection.parallel.CollectionConverters._
      cur.streams.flatMap { stream =>
        val shards = graft.source.ShardedStreamLog.listShards(cfg.logRoot, stream).keys
        val done = committed.getOrElse(stream, Map.empty)
        // parallel per-shard count: a sequential loop would make this
        // monitoring call linear in shard count
        shards.toSeq.par.map { shard =>
          (stream, shard) -> graft.source.ShardedStreamLog.countRange(
            cfg.logRoot, stream, shard, done.getOrElse(shard, -1L), Long.MaxValue)
        }.seq
      }.toMap
  }

  /** `Close` (`kinesumer.go:846-869`): stop the query; offsets are already
    * durable, so shutdown needs no drain/sleep dance.
    */
  def close(): Unit = synchronized {
    active.foreach { cur => cur.query.stop(); awaitQuietly(cur.query) }
    harvest()
    stopTicker()
    // ≈ the reference's Close waiting out the last sync job
    // (`kinesumer.go:866-867`): marks made before shutdown are committed
    if (cfg.commit.nonEmpty && !marks.isEmpty) commit()
    // a manual-mode checkpoint is never resumed (each start makes a fresh
    // one), so it goes with its query
    if (cfg.commit.nonEmpty) active.foreach { cur =>
      val p = new Path(cur.checkpoint)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      catch { case NonFatal(_) => () } // best-effort GC
    }
    active = None
    spark.streams.removeListener(listener)
  }

  // a failed query's exception is delivered through errors(), not rethrown
  // from shutdown (≈ the reference's Close never throws, kinesumer.go:846-869)
  private def awaitQuietly(q: StreamingQuery): Unit =
    try q.awaitTermination()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
}
