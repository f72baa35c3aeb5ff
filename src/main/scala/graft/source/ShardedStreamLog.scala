package graft.source

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.Base64
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** The on-disk sharded stream log — this environment's stand-in for the
  * Kinesis data plane (zero egress). Layout:
  *
  * {{{
  *   <root>/<stream>/<shardId>/records.tsv   append-only record log
  *   <root>/<stream>/<shardId>/_CLOSED       marker: shard is closed (resharded)
  * }}}
  *
  * Each record line: `seq \t partitionKey \t arrivalEpochMs \t base64(data)`.
  * Sequence numbers are monotonically increasing per shard — the analog of
  * the Kinesis per-shard `SequenceNumber` the reference checkpoints
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

  def isClosed(root: String, stream: String, shard: String): Boolean =
    Files.exists(shardDir(root, stream, shard).resolve("_CLOSED"))

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

  /** Sequence number of the file's last complete line (its max, since the
    * log is monotone), or -1 for a missing/empty file — reads only the
    * file tail.
    */
  private def lastSequence(f: Path): Long = {
    if (!Files.exists(f)) return -1L
    val size = Files.size(f)
    if (size == 0) return -1L
    // Grow the tail window until it holds a complete line (or covers the
    // whole file): a single record line larger than the initial window —
    // a base64 payload past ~48 KB — must not read as "no records"
    // (returning -1 would let append's monotonicity guard pass silently).
    // The window is capped below Int.MaxValue: ByteBuffer.allocate takes
    // an int, so a > 2 GiB file with no parseable line in its tail must
    // give up rather than request a negative-sized buffer.
    val maxWindow = math.min(size, (Int.MaxValue - 8).toLong)
    var window = math.min(maxWindow, 64L * 1024)
    while (true) {
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      val tail = try {
        ch.position(size - window)
        val buf = java.nio.ByteBuffer.allocate(window.toInt)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        new String(buf.array(), 0, buf.position(), StandardCharsets.UTF_8)
      } finally ch.close()
      // last complete (newline-terminated) line wins; append always writes
      // a trailing \n, so only a concurrent partial append lacks one. The
      // final split element is that partial tail (or "" after \n) — drop
      // it; the first may be clipped by the window start — drop it too
      // unless the window covers the whole file.
      val lines = tail.split("\n", -1).dropRight(1)
      val complete = if (window < size) lines.drop(1) else lines
      val found = complete.reverseIterator
        .find(l => l.nonEmpty && l.indexOf('\t') > 0)
        .map(l => l.substring(0, l.indexOf('\t')).toLong)
      found match {
        case Some(seq) => return seq
        case None if window >= maxWindow => return -1L
        case None => window = math.min(maxWindow, window * 2)
      }
    }
    -1L // unreachable
  }

  // -------------------------------------------------------------------
  // Incremental index. The log is append-only with per-shard monotone
  // sequence numbers, so each JVM (driver or executor) keeps, per file, the
  // byte position scanned so far, the max sequence seen, the record count,
  // and sparse (sequence → byte offset, ordinal) checkpoints every
  // [[IndexEveryBytes]]. A trigger's `maxSequence` then costs O(new bytes)
  // instead of O(history); `read` seeks to the nearest checkpoint ≤ afterSeq
  // and stops at the first record > untilSeq, and `countRange` ranks a
  // bound from the same checkpoint — never rescanning full history.

  private val IndexEveryBytes: Long = 64L * 1024

  private final class ShardIndex {
    var scannedBytes: Long = 0L
    var maxSeq: Long = -1L
    // records parsed so far — the ordinal of the next record
    var records: Long = 0L
    var lastCkptBytes: Long = -IndexEveryBytes
    // first bytes of the file when first scanned — identity signal to
    // catch a file that was deleted and recreated at equal-or-larger size
    // (size alone would keep the stale index and yield wrong reads)
    var identity: Array[Byte] = null
    // (sequence of the record starting at byte offset, byte offset, its
    // ordinal = records before it); the first record always gets one
    val checkpoints = new java.util.ArrayList[Array[Long]]()
    // byte offset + sequence of the LAST record parsed — the identity
    // spot-probe target: matching here means the file agrees with the
    // index at the scan frontier, not merely at the head
    var lastRecOff: Long = -1L
    var lastRecSeq: Long = -1L
    def reset(): Unit = {
      scannedBytes = 0L; maxSeq = -1L; records = 0L; lastCkptBytes = -IndexEveryBytes
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

  /** Parse the sequence number of the record starting at byte `off`, or
    * -1 if there is none (including a concurrent-delete race) — an O(1)
    * spot-probe used to re-verify a file's logical identity without
    * rescanning it.
    */
  private def seqAt(f: Path, off: Long): Long =
    try {
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        ch.position(off)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          java.nio.channels.Channels.newInputStream(ch), StandardCharsets.UTF_8), 256)
        val line = in.readLine()
        if (line == null) -1L
        else {
          val tab = line.indexOf('\t')
          if (tab > 0)
            try line.substring(0, tab).toLong
            catch { case _: NumberFormatException => -1L }
          else -1L
        }
      } finally ch.close()
    } catch { case _: java.nio.file.NoSuchFileException => -1L }

  /** Whether `f` is (still) the log this index was built from: the head
    * bytes captured at first scan must be unchanged AND the record at
    * the SCAN FRONTIER (the last record the index parsed) must still
    * start with the sequence captured there — one ~256-byte read at a
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
        val ch = try java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
        catch { case _: java.nio.file.NoSuchFileException => idx.reset(); return idx }
        try {
          ch.position(idx.scannedBytes)
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            java.nio.channels.Channels.newInputStream(ch),
            StandardCharsets.UTF_8), 1 << 16)
          var pos = idx.scannedBytes
          var line = in.readLine()
          var stop = false
          while (line != null && !stop) {
            val lineBytes = line.getBytes(StandardCharsets.UTF_8).length + 1L
            // a line crossing the size snapshot is a concurrent partial
            // append — leave it for the next advance
            if (pos + lineBytes > size) stop = true
            else {
              if (line.nonEmpty) {
                val tab = line.indexOf('\t')
                if (tab > 0) {
                  val seq = line.substring(0, tab).toLong
                  if (seq > idx.maxSeq) idx.maxSeq = seq
                  idx.lastRecOff = pos
                  idx.lastRecSeq = seq
                  if (pos - idx.lastCkptBytes >= IndexEveryBytes) {
                    idx.checkpoints.add(Array(seq, pos, idx.records))
                    idx.lastCkptBytes = pos
                  }
                  idx.records += 1
                }
              }
              pos += lineBytes
              bytesScanned.addAndGet(lineBytes)
              line = in.readLine()
            }
          }
          idx.scannedBytes = pos
        } finally ch.close()
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
    * at 10k — so every many-shard caller (trigger planning, lag) goes
    * through here.
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
    val size = Files.size(f)
    val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
    try {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        java.nio.channels.Channels.newInputStream(ch),
        StandardCharsets.UTF_8), 1 << 16)
      var pos = 0L
      var prevSeq = -1L
      var line = in.readLine()
      while (line != null) {
        val lineBytes = line.getBytes(StandardCharsets.UTF_8).length + 1L
        // a line crossing the size snapshot is a concurrent partial append
        if (pos + lineBytes > size) return prevSeq
        if (line.nonEmpty) {
          val parts = line.split("\t", 4)
          if (parts.length >= 3) {
            val seq = parts(0).toLong
            if (parts(2).toLong >= tsMs) return prevSeq
            prevSeq = seq
          }
        }
        pos += lineBytes
        line = in.readLine()
      }
      prevSeq
    } finally ch.close()
  }

  /** [[seqBeforeTimestamp]] over many shards in parallel — same flat-in-
    * shard-count posture as [[maxSequences]].
    */
  def seqsBeforeTimestamp(root: String, stream: String,
      shards: Iterable[String], tsMs: Long): Map[String, Long] = {
    import scala.collection.parallel.CollectionConverters._
    shards.par.map(sh => sh -> seqBeforeTimestamp(root, stream, sh, tsMs)).toMap.seq
  }

  /** The last index checkpoint with sequence ≤ `seq`, or null when `seq`
    * lies below the shard's first record. Caller holds `idx`'s lock.
    */
  private def checkpointAtOrBelow(idx: ShardIndex, seq: Long): Array[Long] = {
    var ck: Array[Long] = null
    var i = 0
    while (i < idx.checkpoints.size && idx.checkpoints.get(i)(0) <= seq) {
      ck = idx.checkpoints.get(i); i += 1
    }
    ck
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

  /** Records with sequence ≤ `seq` among those `idx` has indexed. */
  private def rank(f: Path, idx: ShardIndex, seq: Long): Long = {
    val (total, head, ck, frontier) = idx.synchronized {
      (idx.records, idx.maxSeq, checkpointAtOrBelow(idx, seq), idx.scannedBytes)
    }
    if (seq >= head) total
    else if (ck == null) 0L
    else {
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        ch.position(ck(1))
        val in = new java.io.BufferedInputStream(
          java.nio.channels.Channels.newInputStream(ch), 1 << 16)
        var pos = ck(1)
        var n = ck(2)
        var done = false
        // per line: parse the leading sequence, skip to '\n'. A record
        // above `seq` exists before the frontier (seq < head), so the
        // frontier only guards against a concurrent index reset
        while (!done && pos < frontier) {
          var s = 0L
          var digits = 0
          var b = in.read()
          while (b >= '0' && b <= '9') {
            s = s * 10 + (b - '0'); digits += 1; pos += 1; b = in.read()
          }
          val isRecord = b == '\t' && digits > 0
          while (b != '\n' && b != -1) { pos += 1; b = in.read() }
          if (b == -1) done = true
          else {
            pos += 1
            if (isRecord) { if (s > seq) done = true else n += 1 }
          }
        }
        bytesScanned.addAndGet(pos - ck(1))
        n
      } finally ch.close()
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
        val ck = checkpointAtOrBelow(idx, afterSeq)
        if (ck == null) 0L else ck(1)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[LogRecord]
      // snapshot the committed size: a line crossing it is a concurrent
      // partial append — never parse it (a truncated base64 payload can
      // decode "successfully" into corrupt data)
      val size = Files.size(f)
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        ch.position(startPos)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          java.nio.channels.Channels.newInputStream(ch),
          StandardCharsets.UTF_8), 1 << 16)
        var pos = startPos
        var line = in.readLine()
        var done = false
        while (line != null && !done) {
          val lineBytes = line.getBytes(StandardCharsets.UTF_8).length + 1L
          if (pos + lineBytes > size) done = true
          else {
            if (line.nonEmpty) {
              bytesScanned.addAndGet(lineBytes)
              val parts = line.split("\t", 4)
              val seq = parts(0).toLong
              if (seq > untilSeq) done = true
              else if (seq > afterSeq)
                out += LogRecord(seq, parts(1), parts(2).toLong,
                  Base64.getDecoder.decode(parts(3)))
            }
            pos += lineBytes
            if (!done) line = in.readLine()
          }
        }
      } finally ch.close()
      // records are in sequence order by construction: append() enforces
      // per-shard monotonicity, which the checkpoint seek and the early
      // stop above already rely on
      out.iterator
    }
  }
}
