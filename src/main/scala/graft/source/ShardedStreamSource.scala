package graft.source

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Spark DataSource V2 micro-batch source with kinesumer semantics over the
  * local sharded stream log (SURVEY.md §7.1.3) — the one genuinely CUSTOM
  * component; everything the reference hand-rolls as a consumer group
  * collapses into the engine:
  *
  *   - shard discovery per trigger ≈ `listShards` + leader shard-cache sync
  *     (`/root/reference/kinesumer.go:305-344`, `syncleader.go:15-29`)
  *   - offset = map(stream → shard → sequence), checkpointed by the offset
  *     WAL ≈ the DynamoDB checkpoint table (`statemodel.go:48-57`) — but
  *     transactional per batch, so exactly-once source progress instead of
  *     the reference's at-least-once manual/periodic commit
  *   - start positions `latest` / `trim_horizon` /
  *     `at_sequence:{"stream":{"shard":lastReadSeq}}` /
  *     `at_timestamp:<epochMs|ISO-8601>` ≈ the GetShardIterator modes
  *     LATEST / TRIM_HORIZON / AFTER_SEQUENCE_NUMBER / AT_TIMESTAMP
  *     (`kinesumer.go:706-729`) — positional restarts without a Spark
  *     checkpoint dir; once a checkpoint exists it wins (exactly-once
  *     resume, no overlap with the positional start)
  *   - per-shard `maxRecordsPerShardPerBatch` ≈ `scanLimit`
  *     (`kinesumer.go:29`): records per shard per batch, not sequence distance
  *   - one InputPartition per (stream, shard) per batch ≈ the per-shard
  *     consume goroutine (`kinesumer.go:615-622`)
  *   - closed shards drain to their last record and only then stop being
  *     planned — fixing the reference's closed-shard tail loss
  *     (SURVEY.md §2.3)
  *   - shard lineage: a child shard created by a split/merge
  *     (`ShardedStreamLog.splitShard`/`mergeShards`) is not served until
  *     every parent's tail is drained — the Kinesis
  *     ParentShardId/AdjacentParentShardId ordering contract the
  *     reference leaves as a TODO (`kinesumer.go:314`)
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.source.ShardedStreamProvider")
  *     .option("path", root).option("streams", "events,clicks")
  *     .option("startingPosition", "trim_horizon")
  *     .option("maxRecordsPerShardPerBatch", 2000)
  *     .load()
  * }}}
  */
object ShardedStreamSource {
  /** The kinesumer record envelope (`/root/reference/kinesumer.go:97-102`). */
  val Schema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("shard_id", StringType, nullable = false),
    StructField("sequence_number", StringType, nullable = false),
    StructField("partition_key", StringType, nullable = true),
    StructField("approx_arrival", TimestampType, nullable = true),
    StructField("data", BinaryType, nullable = true)))
}

class ShardedStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sharded-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardedStreamSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardedStreamTable()
}

class ShardedStreamTable extends Table with SupportsRead {
  override def name(): String = "sharded-stream"
  override def schema(): StructType = ShardedStreamSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardedStreamScan(options)
    }
}

class ShardedStreamScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = ShardedStreamSource.Schema
  override def description(): String =
    s"sharded-stream(path=${options.get("path")}, streams=${options.get("streams")})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedStreamMicroBatch(options)
}

/** Offset: last-read sequence per (stream, shard); -1 = nothing read. */
case class ShardedStreamOffset(positions: Map[String, Map[String, Long]]) extends Offset {
  override def json(): String = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(positions)
  }
}

object ShardedStreamOffset {
  def fromJson(s: String): ShardedStreamOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    ShardedStreamOffset(
      org.json4s.jackson.Serialization.read[Map[String, Map[String, Long]]](s))
  }
}

/** Parsed `startingPosition` option — the GetShardIterator mode family the
  * reference resolves at `/root/reference/kinesumer.go:706-729`. Applies
  * only when the query has no checkpoint yet (Spark calls `initialOffset`
  * exactly once per checkpoint lifetime), so a positional start can never
  * overlap a checkpoint resume.
  */
private[source] sealed trait StartPosition
private[source] object StartPosition {
  case object TrimHorizon extends StartPosition
  case object Latest extends StartPosition
  /** Resume AFTER the given last-read sequence per (stream, shard) —
    * AFTER_SEQUENCE_NUMBER. Shards absent from the map start at
    * trim_horizon (a reshard between checkpoint export and restart must
    * not skip a new shard's records).
    */
  final case class AtSequence(after: Map[String, Map[String, Long]]) extends StartPosition
  /** First record with `approx_arrival >= epochMs` — AT_TIMESTAMP. */
  final case class AtTimestamp(epochMs: Long) extends StartPosition

  def parse(raw: String): StartPosition = {
    val v = raw.trim
    val lower = v.toLowerCase(java.util.Locale.ROOT)
    if (lower == "trim_horizon") TrimHorizon
    else if (lower == "latest") Latest
    else if (lower.startsWith("at_sequence:"))
      AtSequence(ShardedStreamOffset.fromJson(v.substring("at_sequence:".length)).positions)
    else if (lower.startsWith("at_timestamp:")) {
      val ts = v.substring("at_timestamp:".length).trim
      val ms =
        if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
        else java.time.Instant.parse(ts).toEpochMilli
      AtTimestamp(ms)
    } else throw new IllegalArgumentException(
      s"startingPosition '$raw' is not one of: latest, trim_horizon, " +
        "at_sequence:{\"stream\":{\"shard\":seq}}, at_timestamp:<epochMs|ISO-8601>")
  }
}

class ShardedStreamMicroBatch(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val root: String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "option 'path' is required")
    p
  }
  private val streams: Seq[String] = {
    val s = options.get("streams")
    require(s != null && s.nonEmpty, "option 'streams' is required")
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }
  private val startPosition: StartPosition =
    StartPosition.parse(options.getOrDefault("startingposition", "trim_horizon"))
  // records per shard per batch; parity with the reference's
  // defaultScanLimit (kinesumer.go:29)
  private val maxPerShard: Long =
    options.getLong("maxrecordspershardperbatch", 2000L)
  require(maxPerShard > 0, s"option 'maxRecordsPerShardPerBatch' must be positive: $maxPerShard")

  override def initialOffset(): Offset = {
    // an at_sequence map keeps the streams outside this query's set too,
    // so a later refresh that adds one resumes at its position
    val after = startPosition match {
      case StartPosition.AtSequence(m) => m
      case _ => Map.empty[String, Map[String, Long]]
    }
    ShardedStreamOffset(after ++ streams.map { s =>
      val shards = ShardedStreamLog.listShards(root, s).map(_._1)
      s -> (startPosition match {
        case StartPosition.TrimHorizon => shards.map(_ -> -1L).toMap
        case StartPosition.Latest => ShardedStreamLog.maxSequences(root, s, shards)
        case StartPosition.AtSequence(_) =>
          val m = after.getOrElse(s, Map.empty[String, Long])
          shards.map(sh => sh -> m.getOrElse(sh, -1L)).toMap
        case StartPosition.AtTimestamp(ms) =>
          ShardedStreamLog.seqsBeforeTimestamp(root, s, shards.toSeq, ms)
      })
    })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** `Trigger.AvailableNow` support (the standard backfill trigger —
    * "drain everything available at query start, then stop"): Spark calls
    * this once before the first trigger; the head sequence of every shard
    * discovered RIGHT NOW is snapshotted, and for the rest of the run
    * [[latestOffset(Offset,ReadLimit)*]] never plans past the snapshot —
    * so the drain still honors `maxRecordsPerShardPerBatch` across as
    * many batches as the backlog needs, then makes no further progress
    * and the engine terminates the query. Records appended after query
    * start — including records of shards CREATED mid-drain by a reshard
    * (absent from the snapshot, clamped to no-advance) — are left for
    * the next run; the parent→child lineage gate below keeps operating
    * on the live log, so a mid-drain split can still release a child
    * only after its parent's tail is fully consumed, and a child whose
    * parent cannot finish draining within the snapshot simply stays
    * gated until a later run. The snapshot is driver-side state, not
    * checkpoint state: a restarted query re-prepares its own snapshot,
    * which is exactly AvailableNow's restart contract.
    */
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(streams.map { s =>
      s -> ShardedStreamLog.maxSequences(root, s, ShardedStreamLog.listShards(root, s).map(_._1))
    }.toMap)
  }

  @volatile private var availableNowCap: Option[Map[String, Map[String, Long]]] = None

  /** Progress-reporting hook: under AvailableNow, the prepared snapshot
    * (the offset the drain converges to); otherwise the offset the LAST
    * `latestOffset` planning pass produced — never a fresh
    * shard-list/head-probe sweep of its own (this is called once per
    * micro-batch for metrics, right after planning already swept the
    * log; duplicating that I/O on the hot driver path buys nothing).
    * Null until the first planning pass — "unknown", the interface's
    * documented default.
    */
  override def reportLatestOffset(): Offset = availableNowCap match {
    case Some(cap) => ShardedStreamOffset(cap)
    case None => lastPlanned.orNull
  }

  @volatile private var lastPlanned: Option[ShardedStreamOffset] = None

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[ShardedStreamOffset].positions
    // streams outside this query's set keep their positions unchanged: the
    // offset log is the one record of a stream dropped by a refresh or a
    // drain, and a query that adds it back resumes there
    val planned = ShardedStreamOffset(startPos ++ streams.map { s =>
      val known = startPos.getOrElse(s, Map.empty[String, Long])
      val discovered = ShardedStreamLog.listShards(root, s)
      val maxSeqs = ShardedStreamLog.maxSequences(root, s, discovered.map(_._1))
      // AvailableNow clamp: a shard may not advance past its snapshotted
      // head; a shard with no snapshot entry (created after prepare) may
      // not advance at all this run
      val capS = availableNowCap.map(_.getOrElse(s, Map.empty[String, Long]))
      def servedHead(sh: String): Long = capS match {
        case Some(c) => math.min(maxSeqs(sh), c.getOrElse(sh, -1L))
        case None => maxSeqs(sh)
      }
      // parent→child ordering on reshard (the Kinesis lineage contract;
      // the reference ignores lineage outright — `kinesumer.go:314` TODO):
      // a child shard's offset may only advance once EVERY parent still
      // present in the log is closed AND fully consumed as of this batch's
      // START offsets. A parent that drains within THIS batch therefore
      // releases its children at the NEXT trigger — parent-tail and
      // child-head records can never land in the same or out-of-order
      // batches. A parent absent from discovery was GC'd after draining
      // (vanished shards keep their checkpoint entry below, so it cannot
      // simply be "not yet seen"). Restart-safe: the gate reads only the
      // checkpointed start offsets, so a WAL resume mid-reshard re-applies
      // the same ordering.
      def parentDrained(p: String): Boolean =
        discovered.get(p) match {
          case None => true
          case Some(closed) => closed && known.getOrElse(p, -1L) >= maxSeqs(p)
        }
      val next = discovered.map { case (sh, _) =>
        // unknown (newly discovered) shards read from the beginning, so a
        // reshard never loses records (unlike the reference — SURVEY §2.3)
        val from = known.getOrElse(sh, -1L)
        val released = ShardedStreamLog.parents(root, s, sh).forall(parentDrained)
        val head = servedHead(sh)
        // the limit counts records (kinesumer's GetRecords Limit): a range
        // no wider in sequences than the limit needs no index walk
        sh -> (if (!released) from
               else if (head - from <= maxPerShard) math.max(from, head)
               else math.max(from, math.min(head,
                 ShardedStreamLog.nthSequenceAfter(root, s, sh, from, maxPerShard))))
      }.toMap
      // shards that vanished from disk keep their checkpoint entry
      s -> (known ++ next)
    })
    lastPlanned = Some(planned)
    planned
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startPos = start.asInstanceOf[ShardedStreamOffset].positions
    val endPos = end.asInstanceOf[ShardedStreamOffset].positions
    endPos.toSeq.sortBy(_._1).flatMap { case (s, shards) =>
      shards.toSeq.sorted.flatMap { case (sh, endSeq) =>
        val startSeq = startPos.getOrElse(s, Map.empty[String, Long]).getOrElse(sh, -1L)
        if (endSeq > startSeq)
          Some(ShardedStreamPartition(root, s, sh, startSeq, endSeq): InputPartition)
        else None
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardedStreamReaderFactory

  override def deserializeOffset(json: String): Offset = ShardedStreamOffset.fromJson(json)

  override def commit(end: Offset): Unit = {} // offset WAL is the checkpoint store

  override def stop(): Unit = {}
}

/** One (stream, shard, (after, until]) slice — the task unit, mirroring the
  * reference's one-goroutine-per-shard consume loop.
  */
case class ShardedStreamPartition(
    root: String,
    stream: String,
    shard: String,
    afterSeq: Long,
    untilSeq: Long) extends InputPartition

class ShardedStreamReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardedStreamPartition]
    new PartitionReader[InternalRow] {
      private val it =
        ShardedStreamLog.read(p.root, p.stream, p.shard, p.afterSeq, p.untilSeq)
      private var current: ShardedStreamLog.LogRecord = _
      override def next(): Boolean = {
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow = InternalRow(
        UTF8String.fromString(p.stream),
        UTF8String.fromString(p.shard),
        UTF8String.fromString(current.sequenceNumber.toString),
        UTF8String.fromString(current.partitionKey),
        current.arrivalEpochMs * 1000L,
        current.data)
      override def close(): Unit = {}
    }
  }
}
