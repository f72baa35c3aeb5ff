package graft.source

import java.nio.charset.StandardCharsets
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.Base64
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The on-disk sharded stream log — this environment's stand-in for the
  * Kinesis data plane (zero egress). Layout:
  *
  * {{{
  *   <root>/<stream>/<shardId>/records.tsv   append-only record log
  *   <root>/<stream>/<shardId>/_CLOSED       marker: shard is closed (resharded)
  * }}}
  *
  * Each record line: `seq \t partitionKey \t arrivalEpochMs \t base64(data)`,
  * written only by [[append]] and read only through [[RecordCursor]], which
  * holds the rule for what a record line is. Sequence numbers are
  * monotonically increasing per shard — the analog of the Kinesis
  * per-shard `SequenceNumber` the reference checkpoints
  * (`/root/reference/statemodel.go:40-45`). A closed shard keeps its tail
  * readable until drained — unlike the reference, which filters closed
  * shards out before reading and can drop their tails
  * (`/root/reference/kinesumer.go:305-344`, bug noted in SURVEY §2.3).
  */
object ShardedStreamLog {

  final case class LogRecord(
      sequenceNumber: Long,
      partitionKey: String,
      arrivalEpochMs: Long,
      data: Array[Byte])

  private def shardDir(root: String, stream: String, shard: String): Path =
    Paths.get(root, stream, shard)

  private def recordsFile(root: String, stream: String, shard: String): Path =
    shardDir(root, stream, shard).resolve("records.tsv")

  /** Append records to a shard (creating it on first use). Test/dev writer.
    * Enforces the per-shard sequence-monotonicity invariant that the
    * incremental index's checkpoint seek and early-stop reads rely on.
    */
  def append(root: String, stream: String, shard: String, records: Seq[LogRecord]): Unit = {
    val dir = shardDir(root, stream, shard)
    Files.createDirectories(dir)
    require(!Files.exists(dir.resolve("_CLOSED")), s"shard $stream/$shard is closed")
    val seqs = records.map(_.sequenceNumber)
    require(seqs.zip(seqs.drop(1)).forall { case (a, b) => a < b },
      s"append to $stream/$shard must be strictly sequence-ascending")
    // a tab or line break in a key would shift or split the record's line
    val badKey = records.iterator.map(_.partitionKey)
      .find(k => k != null && k.exists(c => c == '\t' || c == '\n' || c == '\r'))
    require(badKey.isEmpty, s"append to $stream/$shard: partition key '" +
      badKey.get.replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r") +
      "' holds a tab or line break")
    // O(1) invariant check: the last line of a monotone log holds its max
    // (a full maxSequence/advance here would parse the whole history on a
    // fresh writer JVM)
    val prevMax = lastSequence(recordsFile(root, stream, shard))
    require(seqs.isEmpty || seqs.head > prevMax,
      s"append to $stream/$shard must start after current max sequence $prevMax")
    val lines = records.map { r =>
      s"${r.sequenceNumber}\t${r.partitionKey}\t${r.arrivalEpochMs}\t" +
        Base64.getEncoder.encodeToString(r.data)
    }
    Files.write(recordsFile(root, stream, shard),
      (lines.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Close a shard (no further appends) — the resharding analog. */
  def closeShard(root: String, stream: String, shard: String): Unit = {
    val dir = shardDir(root, stream, shard)
    Files.createDirectories(dir)
    Files.write(dir.resolve("_CLOSED"), Array.emptyByteArray,
      StandardOpenOption.CREATE)
  }

  // -------------------------------------------------------------------
  // Shard lineage. Kinesis shards carry ParentShardId/AdjacentParentShardId
  // set at creation and immutable for the shard's lifetime; a consumer
  // honoring the service contract must not serve a child's records until
  // every parent's tail is drained. The reference ignores lineage entirely
  // (`/root/reference/kinesumer.go:314` TODO — it can lose closed-shard
  // tails outright, SURVEY §2.3); here lineage is a `_PARENTS` marker file
  // (one parent shard id per line) written when a reshard creates the
  // child, and the source's offset planner enforces the ordering.

  /** Record `shard` as the child of `parents` (split: one parent; merge:
    * two). Lineage is immutable — a second declaration must agree.
    */
  def declareParents(root: String, stream: String, shard: String,
      parents: Seq[String]): Unit = {
    require(parents.nonEmpty && !parents.contains(shard),
      s"shard $stream/$shard lineage must name other shards")
    val dir = shardDir(root, stream, shard)
    Files.createDirectories(dir)
    val f = dir.resolve("_PARENTS")
    if (Files.exists(f)) {
      val prior = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
      require(prior == parents,
        s"shard $stream/$shard lineage already declared as $prior")
    } else
      Files.write(f, parents.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE)
  }

  /** Split `parent` into `children`: close the parent, create the children
    * with lineage — the UpdateShardCount/SplitShard analog.
    */
  def splitShard(root: String, stream: String, parent: String,
      children: Seq[String]): Unit = {
    closeShard(root, stream, parent)
    children.foreach(declareParents(root, stream, _, Seq(parent)))
  }

  /** Merge `parents` into `child`: close both parents, create the child
    * with two-parent lineage — the MergeShards analog.
    */
  def mergeShards(root: String, stream: String, parents: Seq[String],
      child: String): Unit = {
    parents.foreach(closeShard(root, stream, _))
    declareParents(root, stream, child, parents)
  }

  /** Cached lineage lookups: lineage is set at shard creation and
    * immutable (the Kinesis contract declareParents enforces), so a
    * positive result never changes; a shard seen WITHOUT lineage stays
    * parentless for its lifetime too — recreating a shard dir under a
    * live consumer is outside the log's contract (the index layer
    * already only best-efforts that case). The cache keeps per-trigger
    * planning at zero lineage stat calls after the first discovery even
    * at 10k shards.
    */
  private val lineageCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Parent shard ids of `shard` (empty for an original shard). */
  def parents(root: String, stream: String, shard: String): Seq[String] = {
    val dir = shardDir(root, stream, shard)
    lineageCache.computeIfAbsent(dir.toAbsolutePath.toString, _ => {
      val f = dir.resolve("_PARENTS")
      if (!Files.exists(f)) Seq.empty
      else new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
    })
  }

  /** Discover a stream's shards, sorted — shard discovery ≈ the reference's
    * paginated ListShards (`/root/reference/kinesumer.go:305-344`), except
    * closed shards stay visible so their tails can drain.
    */
  def listShards(root: String, stream: String): SortedMap[String, Boolean] = {
    val dir = Paths.get(root, stream)
    if (!Files.isDirectory(dir)) SortedMap.empty
    else {
      val entries = Files.list(dir).iterator().asScala
        .filter(Files.isDirectory(_))
        .map(p => p.getFileName.toString -> Files.exists(p.resolve("_CLOSED")))
        .toSeq
      SortedMap(entries: _*)
    }
  }

  /** Sequence number of the file's last record line (its max, since the
    * log is monotone), or -1 for a missing/empty file — reads only the
    * file tail.
    */
  private def lastSequence(f: Path): Long = {
    if (!Files.exists(f)) return -1L
    val size = Files.size(f)
    // Grow the tail window from 4 KiB until it holds a complete record line
    // (or covers the whole file): a single record line larger than the
    // window must not read as "no records" (returning -1 would let
    // append's monotonicity guard pass silently).
    var window = 0L
    var last = -1L
    while (last < 0 && window < size) {
      window = math.min(size, math.max(4096L, window * 2))
      // a window inside the file may start inside a line: step over it
      Using.resource(new RecordCursor(f, size - window, size)) { c =>
        if (window == size || c.skipLine()) while (c.next()) last = c.seq
      }
    }
    last
  }

  // -------------------------------------------------------------------
  // The record-line reader: every read of a shard file walks one cursor,
  // which holds the line format's rules in one place.
  //   - A line ends at '\n'. A line crossing the caller's size snapshot (or
  //     the end of the file) is a concurrent partial append: the cursor
  //     stops before it, never parsing it (a truncated base64 payload can
  //     decode "successfully" into corrupt data).
  //   - A record line starts with one or more ASCII digits, its sequence
  //     number, and a '\t' (append's guard admits only sequences ≥ 0). Any
  //     other complete line is stepped over.
  //   - Offsets count bytes. Every byte stepped over joins [[bytesScanned]].
  //   - Key and payload are decoded only for a caller that asks.
  // It reads in chunks of up to 64 KiB, never past `limit`.

  private final class RecordCursor(f: Path, from: Long, limit: Long) extends AutoCloseable {
    private val ch = FileChannel.open(f, StandardOpenOption.READ)
    private var buf = new Array[Byte](math.max(1L, math.min(64L * 1024, limit - from)).toInt)
    private var bufOff = from // file offset of buf(0)
    private var filled = 0 // bytes of buf read from the file
    private var pos = 0 // start of the first line not yet stepped over
    // the current record line is buf[start, nl), its first tab at tab1
    private var start, nl, tab1 = 0
    /** Sequence number of the current record line. */
    var seq: Long = -1L

    /** Byte offset of the current record line. */
    def offset: Long = bufOff + start

    /** Byte offset just past the last line stepped over. */
    def end: Long = bufOff + pos

    /** Step to the next record line; false once no complete line is left. */
    def next(): Boolean = {
      while (true) {
        val e = newline()
        if (e < 0) return false
        val s = pos
        pos = e + 1
        var i = s
        var v = 0L
        while (i < e && buf(i) >= '0' && buf(i) <= '9') { v = v * 10 + (buf(i) - '0'); i += 1 }
        if (i > s && buf(i) == '\t') { start = s; nl = e; tab1 = i; seq = v; return true }
      }
      false
    }

    /** Step over one line, record or not; false when none is complete. */
    def skipLine(): Boolean = { val e = newline(); if (e >= 0) pos = e + 1; e >= 0 }

    def arrivalMs: Long = { val t2 = tabAfter(tab1); arrival(t2, tabAfter(t2)) }

    def record: LogRecord = {
      val t2 = tabAfter(tab1)
      val t3 = tabAfter(t2)
      val data = Base64.getDecoder.decode(ByteBuffer.wrap(buf, t3 + 1, nl - t3 - 1))
      LogRecord(seq, new String(buf, tab1 + 1, t2 - tab1 - 1, StandardCharsets.UTF_8),
        arrival(t2, t3), java.util.Arrays.copyOf(data.array, data.limit))
    }

    def close(): Unit = { bytesScanned.addAndGet(end - from); ch.close() }

    private def arrival(t2: Int, t3: Int): Long =
      java.lang.Long.parseLong(new String(buf, t2 + 1, t3 - t2 - 1, StandardCharsets.US_ASCII))

    private def tabAfter(t: Int): Int = {
      var j = t + 1
      while (j < nl && buf(j) != '\t') j += 1
      if (j == nl) throw new IllegalStateException(
        s"record line at byte $offset of $f has fewer than four fields")
      j
    }

    /** Index in buf of the '\n' ending the line at `pos`, reading on as
      * needed; -1 when that line is not complete before the limit.
      */
    private def newline(): Int = {
      var i = pos
      while (true) {
        while (i < filled) { if (buf(i) == '\n') return i; i += 1 }
        // move the unread bytes to the buffer's head (doubling it when one
        // line fills it), then read on
        System.arraycopy(buf, pos, buf, 0, filled - pos)
        bufOff += pos; filled -= pos; i -= pos; pos = 0
        if (filled == buf.length)
          buf = java.util.Arrays.copyOf(buf, math.min(buf.length * 2L, Int.MaxValue - 8L).toInt)
        val want = math.min(buf.length - filled, limit - bufOff - filled)
        val n = if (want <= 0) -1 else ch.read(ByteBuffer.wrap(buf, filled, want.toInt), bufOff + filled)
        if (n <= 0) return -1
        filled += n
      }
      -1
    }
  }

  // -------------------------------------------------------------------
  // Incremental index. The log is append-only with per-shard monotone
  // sequence numbers, so each JVM (driver or executor) keeps, per file, the
  // byte position scanned so far, the max sequence seen, the record count,
  // and sparse (sequence, byte offset, ordinal) checkpoints every
  // [[IndexEveryBytes]]. A trigger's `maxSequence` then costs O(new bytes)
  // instead of O(history); `read` seeks to the nearest checkpoint ≤ afterSeq
  // and stops at the first record > untilSeq, `countRange` ranks a bound
  // from the same checkpoint, and `nthSequenceAfter` walks from the
  // checkpoint at or below an ordinal — never rescanning full history.

  private val IndexEveryBytes: Long = 64L * 1024

  /** The record at byte `offset`; `ordinal` records precede it. */
  private final case class Checkpoint(seq: Long, offset: Long, ordinal: Long)

  private final class ShardIndex {
    var scannedBytes: Long = 0L
    var maxSeq: Long = -1L
    // records parsed so far — the ordinal of the next record
    var records: Long = 0L
    // first bytes of the file when first scanned — identity signal to
    // catch a file that was deleted and recreated at equal-or-larger size
    // (size alone would keep the stale index and yield wrong reads)
    var identity: Array[Byte] = null
    // ascending in every field; the first record always gets one
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[Checkpoint]
    // byte offset + sequence of the LAST record parsed — the identity
    // spot-probe target: matching here means the file agrees with the
    // index at the scan frontier, not merely at the head
    var lastRecOff: Long = -1L
    var lastRecSeq: Long = -1L
    def reset(): Unit = {
      scannedBytes = 0L; maxSeq = -1L; records = 0L
      identity = null
      lastRecOff = -1L
      lastRecSeq = -1L
      checkpoints.clear()
    }
  }

  private val IdentityBytes = 64

  /** First `min(IdentityBytes, size)` bytes of the file; empty when the
    * file vanished under a concurrent delete (→ identity mismatch →
    * reset next trigger, instead of killing the streaming query).
    */
  private def headBytes(f: Path, size: Long): Array[Byte] = {
    val n = math.min(size, IdentityBytes.toLong).toInt
    if (n <= 0) return Array.emptyByteArray
    try {
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(n)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        java.util.Arrays.copyOf(buf.array(), buf.position())
      } finally ch.close()
    } catch { case _: java.nio.file.NoSuchFileException => Array.emptyByteArray }
  }

  /** Sequence number of the record line starting at byte `off`, or -1 if
    * there is none (including a concurrent-delete race) — an O(1)
    * spot-probe used to re-verify a file's logical identity without
    * rescanning it.
    */
  private def seqAt(f: Path, off: Long): Long =
    try {
      Using.resource(new RecordCursor(f, off, Files.size(f))) { c =>
        if (c.next() && c.offset == off) c.seq else -1L
      }
    } catch { case _: java.nio.file.NoSuchFileException => -1L }

  /** Whether `f` is (still) the log this index was built from: the head
    * bytes captured at first scan must be unchanged AND the record at
    * the SCAN FRONTIER (the last record the index parsed) must still
    * start with the sequence captured there — one small read at a
    * known offset per trigger. A recreated file that diverges anywhere
    * before the frontier shifts its record boundaries, so it would have
    * to reproduce that exact (offset, sequence) coincidence under
    * monotone sequences to slip through.
    *
    * Deliberately CONTENT-ONLY — no filesystem identity signals:
    * creation time is unusable (on Linux, Java reports mtime where birth
    * time is missing, and appends move mtime), and the inode fileKey is
    * both too weak (ext4 hands a recreated file the lowest free inode,
    * often the just-deleted one — equal inode proves nothing) and too
    * strong (crash-safe producers append by write-temp-then-atomic-
    * rename, moving the inode on every batch — a reset per append would
    * silently degrade them to O(history) rescans per trigger).
    */
  private def sameLogicalFile(f: Path, idx: ShardIndex, size: Long): Boolean = {
    val headOk = idx.identity == null ||
      java.util.Arrays.equals(idx.identity,
        headBytes(f, math.min(size, idx.identity.length.toLong)))
    headOk && idx.lastRecOff >= 0 && seqAt(f, idx.lastRecOff) == idx.lastRecSeq
  }

  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, ShardIndex]()

  /** Total bytes parsed from shard files in this JVM — observability hook
    * for the O(new-data) per-trigger invariant (spec-asserted).
    */
  val bytesScanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Advance the file's index over any newly appended bytes (O(new data));
    * rebuilds from scratch only if the file shrank (recreate/truncate).
    */
  private def advance(f: Path): ShardIndex = {
    val idx = indexes.computeIfAbsent(
      f.toAbsolutePath.toString, _ => new ShardIndex)
    idx.synchronized {
      val size = if (Files.exists(f)) Files.size(f) else 0L
      if (size < idx.scannedBytes) idx.reset()
      // same-or-larger size is not proof of the same file: a shard dir
      // deleted and recreated within one JVM must not inherit the stale
      // index — see sameLogicalFile for the identity protocol (head
      // bytes + scan-frontier spot-probe)
      else if (idx.scannedBytes > 0 && !sameLogicalFile(f, idx, size))
        idx.reset()
      if (size > idx.scannedBytes) {
        if (idx.scannedBytes == 0) idx.identity = headBytes(f, size)
        // a shard deleted between the size snapshot and this open (a
        // non-atomic recreate in flight) resets instead of killing the
        // streaming query; the next trigger sees the new file — POSIX
        // keeps an already-open fd readable, so only the open can race
        try Using.resource(new RecordCursor(f, idx.scannedBytes, size)) { c =>
          while (c.next()) {
            val pos = c.offset
            if (c.seq > idx.maxSeq) idx.maxSeq = c.seq
            idx.lastRecOff = pos
            idx.lastRecSeq = c.seq
            if (idx.checkpoints.isEmpty || pos - idx.checkpoints.last.offset >= IndexEveryBytes)
              idx.checkpoints += Checkpoint(c.seq, pos, idx.records)
            idx.records += 1
          }
          // the cursor stopped after the last complete line: a line
          // crossing the size snapshot is left for the next advance
          idx.scannedBytes = c.end
        } catch { case _: java.nio.file.NoSuchFileException => idx.reset() }
      }
      idx
    }
  }

  /** Highest sequence number currently in a shard, or -1 if empty.
    * Incremental: parses only bytes appended since the last call.
    */
  def maxSequence(root: String, stream: String, shard: String): Long = {
    val f = recordsFile(root, stream, shard)
    if (!Files.exists(f)) -1L else advance(f).maxSeq
  }

  /** Head-probe MANY shards in parallel (driver-side, I/O-bound): each
    * probe is an independent incremental tail scan, and the per-file
    * index is lock-striped (ConcurrentHashMap + per-index synchronized),
    * so distinct shards never serialize on each other. A sequential loop
    * makes the caller linear in shard count — fine at 5 shards, a stall
    * at 10k — so trigger planning goes through here.
    */
  def maxSequences(
      root: String, stream: String, shards: Iterable[String]): Map[String, Long] = {
    import scala.collection.parallel.CollectionConverters._
    shards.par.map(sh => sh -> maxSequence(root, stream, sh)).toMap.seq
  }

  /** The `afterSeq` whose `(afterSeq, ∞)` read yields exactly the records
    * with `arrivalEpochMs >= tsMs` — the AT_TIMESTAMP iterator analog
    * (`/root/reference/kinesumer.go:706-729` resolves the same family of
    * start positions against GetShardIterator). Arrival times are taken as
    * non-decreasing per shard (the Kinesis approximate-arrival contract);
    * position is resolved ONCE at query start, after which progress is
    * purely sequence-based, so this single O(shard history) streaming pass
    * never recurs per trigger. Returns -1 when the first record already
    * qualifies (or the shard is empty), and the shard's max sequence when
    * none does (start at head).
    */
  def seqBeforeTimestamp(root: String, stream: String, shard: String, tsMs: Long): Long = {
    val f = recordsFile(root, stream, shard)
    if (!Files.exists(f)) return -1L
    Using.resource(new RecordCursor(f, 0L, Files.size(f))) { c =>
      var prevSeq = -1L
      while (c.next() && c.arrivalMs < tsMs) prevSeq = c.seq
      prevSeq
    }
  }

  /** [[seqBeforeTimestamp]] over many shards in parallel — same flat-in-
    * shard-count posture as [[maxSequences]].
    */
  def seqsBeforeTimestamp(root: String, stream: String,
      shards: Iterable[String], tsMs: Long): Map[String, Long] = {
    import scala.collection.parallel.CollectionConverters._
    shards.par.map(sh => sh -> seqBeforeTimestamp(root, stream, sh, tsMs)).toMap.seq
  }

  /** Number of records with sequence in (afterSeq, untilSeq] — what
    * `read(afterSeq, untilSeq).size` returns, without reading payloads.
    * Sequences ascend but need not be dense, so the count is a difference
    * of ranks (records ≤ bound), never `untilSeq - afterSeq`. A bound
    * below the first record or at/above the indexed head costs nothing;
    * any other bound scans sequence prefixes from the nearest checkpoint
    * below it, at most one index interval.
    */
  def countRange(root: String, stream: String, shard: String,
      afterSeq: Long, untilSeq: Long): Long = {
    val f = recordsFile(root, stream, shard)
    if (untilSeq <= afterSeq || !Files.exists(f)) 0L
    else {
      val idx = advance(f)
      rank(f, idx, untilSeq) - rank(f, idx, afterSeq)
    }
  }

  /** Sequence of the `n`-th record (n ≥ 1) after `afterSeq`, or the
    * indexed head when fewer than `n` follow it: where a batch of at most
    * `n` records ends. Ranks `afterSeq`, then walks from the checkpoint at
    * or below the wanted ordinal — at most two index intervals of scanning.
    */
  private[source] def nthSequenceAfter(root: String, stream: String, shard: String,
      afterSeq: Long, n: Long): Long = {
    val f = recordsFile(root, stream, shard)
    if (!Files.exists(f)) return -1L
    val idx = advance(f)
    val want = rank(f, idx, afterSeq) + n - 1
    val (total, head, ck, frontier) = idx.synchronized {
      (idx.records, idx.maxSeq, idx.checkpoints.findLast(_.ordinal <= want).orNull, idx.scannedBytes)
    }
    if (want >= total || ck == null) head
    else Using.resource(new RecordCursor(f, ck.offset, frontier)) { c =>
      var ordinal = ck.ordinal - 1
      while (ordinal < want && c.next()) ordinal += 1
      if (ordinal == want) c.seq else head
    }
  }

  /** Records with sequence ≤ `seq` among those `idx` has indexed. */
  private def rank(f: Path, idx: ShardIndex, seq: Long): Long = {
    val (total, head, ck, frontier) = idx.synchronized {
      (idx.records, idx.maxSeq, idx.checkpoints.findLast(_.seq <= seq).orNull, idx.scannedBytes)
    }
    if (seq >= head) total
    else if (ck == null) 0L
    // a record above `seq` exists before the frontier (seq < head), so
    // the frontier only guards against a concurrent index reset
    else Using.resource(new RecordCursor(f, ck.offset, frontier)) { c =>
      var n = ck.ordinal
      while (c.next() && c.seq <= seq) n += 1
      n
    }
  }

  /** Read records with sequence in (afterSeq, untilSeq], ordered by seq.
    * Seeks to the last index checkpoint ≤ afterSeq and stops at the first
    * record past untilSeq (sequences are monotone in the file), so a batch
    * read costs O(slice + checkpoint granularity), not O(history); only the
    * requested slice is materialized.
    */
  def read(root: String, stream: String, shard: String,
      afterSeq: Long, untilSeq: Long): Iterator[LogRecord] = {
    val f = recordsFile(root, stream, shard)
    if (!Files.exists(f)) Iterator.empty
    else {
      val idx = advance(f)
      val startPos = idx.synchronized {
        idx.checkpoints.findLast(_.seq <= afterSeq).fold(0L)(_.offset)
      }
      // the committed size snapshot: the cursor never parses a line
      // crossing it (a concurrent partial append). Records come in sequence
      // order by construction: append() enforces per-shard monotonicity,
      // which the checkpoint seek and the early stop already rely on
      Using.resource(new RecordCursor(f, startPos, Files.size(f))) { c =>
        val out = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
        while (c.next() && c.seq <= untilSeq) if (c.seq > afterSeq) out += c.record
        out.iterator
      }
    }
  }
}
