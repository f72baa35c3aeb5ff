package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.{col, crc32}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.api.{ConsumerConfig, ConsumerGroup}
import graft.source.{ShardedStreamLog, ShardedStreamMicroBatch}
import graft.source.ShardedStreamLog.LogRecord

/** Inputs of the stream workloads: payload bytes are a pure function of
  * (seed, shard, sequence), so the checker regenerates them instead of
  * trusting anything read back from the log. A record's partition key is
  * its index in the order the producer appended it.
  */
final class Payloads(seed: Long, minLen: Int, maxLen: Int) {
  def bytes(shard: String, seq: Long): Array[Byte] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (shard.hashCode.toLong << 32) ^ seq)
    val b = new Array[Byte](minLen + r.nextInt(maxLen - minLen + 1))
    r.nextBytes(b)
    b
  }
  def crc(shard: String, seq: Long): Long = {
    val c = new CRC32
    c.update(bytes(shard, seq))
    c.getValue
  }
}

/** The application side: `onBatch` collects each micro-batch
  * (shard, sequence, partition key, payload CRC), notes when it arrived and
  * then runs `after`, the tail's producer, if one is set.
  */
final class Sink(ctx: Ctx, val queryName: String) {
  final case class Callback(batch: Long, startMs: Double, endMs: Double, records: Int,
      afterEndMs: Double)
  @volatile var after: Option[() => Unit] = None
  val delivered = ArrayBuffer.empty[Delivery]
  /** (record index, arrival nanoTime) per delivered record. */
  val arrivals = ArrayBuffer.empty[(Int, Long)]
  val callbacks = ArrayBuffer.empty[Callback]

  def onBatch(df: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    val rows = Listeners.withGroup(ctx.spark, "cb") {
      df.select(col("shard_id"), col("sequence_number"), col("partition_key"),
        crc32(col("data"))).collect()
    }
    val t1 = System.nanoTime()
    synchronized {
      rows.foreach { r =>
        delivered += Delivery(batchId, r.getString(0), r.getString(1).toLong, r.getLong(3))
        arrivals += ((r.getString(2).toInt, t1))
      }
    }
    after.foreach(_())
    val t2 = System.nanoTime()
    synchronized(callbacks += Callback(batchId, t0 / 1e6, t1 / 1e6, rows.length, t2 / 1e6))
  }

  def count: Int = synchronized(delivered.size)
}

/** Shared pieces of the two stream workloads. */
abstract class StreamWorkload(ctx: Ctx) {
  val stream: String
  val payloads: Payloads
  val appendMs = ArrayBuffer.empty[Double]

  /** An untraced append is one the caller accounts for itself. */
  def append(root: String, shard: String, recs: Seq[LogRecord], traced: Boolean = true): Unit = {
    val t0 = System.nanoTime()
    if (traced) ctx.trace.span("log", "append")(ShardedStreamLog.append(root, stream, shard, recs))
    else ShardedStreamLog.append(root, stream, shard, recs)
    appendMs.synchronized(appendMs += (System.nanoTime() - t0) / 1e6)
  }

  def record(shard: String, seq: Long, index: Int, arrivalMs: Long): LogRecord =
    LogRecord(seq, index.toString, arrivalMs, payloads.bytes(shard, seq))

  def consumer(root: String, app: String): ConsumerGroup =
    new ConsumerGroup(ctx.spark, ConsumerConfig(app, root, ctx.work.resolve("ck").toString))

  /** Direct timed calls into the log and source layers on this workload's
    * log: shard listing, head probes, full reads, and five full plans
    * (`latestOffset` and `planInputPartitions`) from trim horizon.
    */
  def probeLayers(root: String, m: Manifest, res: Result): Unit = {
    val out = res.layers
    def med(n: Int)(f: => Unit): Double =
      Stats.median((1 to n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 })
    val shards = ShardedStreamLog.listShards(root, stream).keys.toSeq
    out("log.list_shards_ms") = med(5)(ctx.trace.span("log", "listShards")(
      ShardedStreamLog.listShards(root, stream)))
    out("log.max_sequences_ms") = med(5)(ctx.trace.span("log", "maxSequences")(
      ShardedStreamLog.maxSequences(root, stream, shards)))
    val stored = shards.map(sh => Paths.get(root, stream, sh, "records.tsv"))
      .filter(Files.exists(_)).map(Files.size).sum
    val readMs = med(3)(ctx.trace.span("log", "read")(shards.foreach { sh =>
      ShardedStreamLog.read(root, stream, sh, -1L, Long.MaxValue).size
    }))
    out("log.read_mb_per_s") = stored / 1e6 / (readMs / 1e3)
    val payloadBytes = m.seqs.map { case (sh, xs) => xs.map(payloads.bytes(sh, _).length.toLong).sum }.sum
    out("log.stored_bytes_per_payload_byte") = stored.toDouble / payloadBytes
    out("log.append_ms") = Stats.median(appendMs.toSeq)
    val mb = new ShardedStreamMicroBatch(new CaseInsensitiveStringMap(
      Map("path" -> root, "streams" -> stream).asJava))
    val start = mb.initialOffset()
    val steps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val end = ctx.trace.span("source", "latestOffset")(
        mb.latestOffset(start, ReadLimit.allAvailable()))
      val t1 = System.nanoTime()
      val parts = ctx.trace.span("source", "planInputPartitions")(mb.planInputPartitions(start, end))
      val t2 = System.nanoTime()
      if (parts.isEmpty) res.fail(Seq("the source planned no partitions from trim horizon"))
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    out("source.latest_offset_ms") = Stats.median(steps.map(_._1))
    out("source.plan_ms") = Stats.median(steps.map(_._2))
  }

  /** Engine and api figures of the traced triggers, plus derived spans for
    * each trigger's phases, placed under the span `parentOf(query name)`.
    */
  def engineLayers(progress: Seq[Batch], sinks: Seq[Sink], parentOf: String => Int,
      out: mutable.Map[String, Seq[Double]]): Unit = {
    val phases = Seq("latestOffset", "walCommit", "getBatch", "setOffsetRange",
      "queryPlanning", "addBatch", "commitOffsets")
    val cbs = sinks.flatMap(s => s.callbacks.map(c => (s, c)))
    progress.foreach { b =>
      val d = b.durations
      def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, Nil) :+ v
      add("engine.trigger_ms", d.getOrElse("triggerExecution", 0L).toDouble)
      add("engine.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
      add("engine.query_planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      add("engine.wal_commit_ms", d.getOrElse("walCommit", 0L).toDouble)
      add("engine.commit_offsets_ms", d.getOrElse("commitOffsets", 0L).toDouble)
      val cb = cbs.find { case (s, c) => s.queryName == b.name && c.batch == b.batchId }.map(_._2)
      cb.foreach { c =>
        add("api.on_batch_ms", c.endMs - c.startMs)
        add("api.batch_overhead_ms", d.getOrElse("addBatch", 0L) - (c.afterEndMs - c.startMs))
      }
      val group = s"${b.name}/batch-${b.batchId}"
      val t0 = b.startWallMs - ctx.trace.wallOffsetMs
      val trig = ctx.trace.derived(parentOf(b.name), "engine", "trigger", group, t0,
        t0 + d.getOrElse("triggerExecution", 0L))
      var cursor = t0
      phases.filter(d.contains).foreach { ph =>
        val id = ctx.trace.derived(trig, if (ph == "latestOffset") "source" else "engine",
          ph, group, cursor, cursor + d(ph))
        if (ph == "addBatch") cb.foreach { c =>
          ctx.trace.derived(id, "app", "onBatch", group, c.startMs, c.endMs)
          // the tail's producer appends its next slice from the callback
          if (c.afterEndMs - c.endMs > 0.1)
            ctx.trace.derived(id, "log", "produce", group, c.endMs, c.afterEndMs)
        }
        cursor += d(ph)
      }
    }
  }
}

/** `drain-deep`: a few deep shards drained again and again by
  * `ConsumerGroup.drain`, each drain under a fresh consumer-group name so
  * it reads the whole backlog from trim horizon.
  */
final class DrainDeep(ctx: Ctx) extends StreamWorkload(ctx) {
  val stream = "deep"
  val payloads = new Payloads(ctx.seed, 200, 400)
  val shards: Seq[String] = (0 until 8).map(i => f"shard-$i%04d")
  val perShard = 6250
  val chunk = 1000
  val warmDrains = 3
  private val drainSpans = mutable.Map.empty[String, Int]

  def synthesize(root: String): Manifest = {
    shards.zipWithIndex.foreach { case (sh, si) =>
      (0 until perShard by chunk).foreach { from =>
        append(root, sh, (from until math.min(from + chunk, perShard)).map(s =>
          record(sh, s, si * perShard + s, 1700000000000L + s)))
      }
    }
    Manifest(shards.map(_ -> (0L until perShard.toLong)).toMap, Map.empty)
  }

  def run(res: Result): Unit = {
    val synth = (0 until 3).map { r =>
      val root = ctx.work.resolve(s"log-$r").toString
      val t0 = System.nanoTime()
      val m = synthesize(root)
      ((System.nanoTime() - t0) / 1e9, root, m)
    }
    synth.init.foreach { case (_, root, _) => Main.deleteTree(Paths.get(root)) }
    val (_, root, manifest) = synth.last
    res.setup("synthesis_s") = Stats.median(synth.map(_._1))
    var n = 0
    final case class Run(seconds: Double, startMs: Double, sink: Sink)
    def drainOnce(): Run = {
      n += 1
      val app = s"drain-$n"
      val cg = consumer(root, app)
      val sink = new Sink(ctx, s"$app-drain")
      val t0 = System.nanoTime()
      val p = ctx.trace.span("api", "drain", app) {
        drainSpans(sink.queryName) = ctx.trace.current
        cg.drain(Seq(stream))(sink.onBatch)
      }
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] $app: ${manifest.total} records in $s%.3f s, ${sink.callbacks.size} batches")
      cg.close()
      val errs = Checks.deliveries(manifest, sink.delivered.toSeq, payloads.crc) ++
        Seq(
          (p.records(stream), manifest.total, "records"),
          (p.shards(stream), shards.size.toLong, "shards"),
          (p.batches, sink.callbacks.size.toLong, "batches")
        ).collect { case (got, want, what) if got != want => s"DrainProgress $what $got != $want" }
      res.fail(errs.map(e => s"$app: $e"))
      Run(s, t0 / 1e6, sink)
    }
    val w0 = System.nanoTime()
    (1 to warmDrains).foreach(_ => drainOnce())
    res.setup("warmup_s") = (System.nanoTime() - w0) / 1e9

    val rates = Map(false -> ArrayBuffer.empty[Double], true -> ArrayBuffer.empty[Double])
    val latencies = ArrayBuffer.empty[Double]
    val tracedSinks = ArrayBuffer.empty[Sink]
    var scanned = 0L
    val m0 = System.nanoTime()
    var unit = 0
    while ((System.nanoTime() - m0) / 1e9 < ctx.seconds || (ctx.traced && unit < 2)) {
      val traced = ctx.tracedUnit(unit)
      val b0 = ShardedStreamLog.bytesScanned.get()
      val r = ctx.withTracing(traced)(drainOnce())
      res.attempted += manifest.total
      rates(traced) += manifest.total / r.seconds
      if (traced) {
        tracedSinks += r.sink
        scanned += ShardedStreamLog.bytesScanned.get() - b0
      }
      if (traced == ctx.traced)
        r.sink.callbacks.foreach(c => latencies ++= Iterator.fill(c.records)(c.endMs - r.startMs))
      unit += 1
    }
    res.e2e("throughput_per_s") = Stats.median(rates(ctx.traced).toSeq)
    res.latency(latencies.toSeq)

    // backfill-then-tail: a consumer started on the drained checkpoint
    // must report zero lag, before and after its first trigger
    val cg = consumer(root, s"drain-$n")
    cg.start(Seq(stream))((_, _) => ())
    val lagMs = ArrayBuffer.empty[Double]
    def lag(): Long = {
      val t0 = System.nanoTime()
      val l = ctx.trace.span("api", "lag")(cg.lag())
      lagMs += (System.nanoTime() - t0) / 1e6
      l.values.sum
    }
    val before = lag()
    cg.processAllAvailable()
    val after = lag(); lag()
    cg.close()
    if (before != 0 || after != 0) res.fail(Seq(s"lag after drain: $before before first trigger, $after after"))

    if (ctx.traced) {
      val l = res.layers
      ctx.withTracing(true)(probeLayers(root, manifest, res))
      Listeners.settle(ctx.spark)
      val names = tracedSinks.map(_.queryName).toSet
      val prog = ctx.progress.all.filter(b => names.contains(b.name))
      val per = mutable.Map.empty[String, Seq[Double]]
      engineLayers(prog, tracedSinks.toSeq, drainSpans, per)
      per.foreach { case (k, v) => l(k) = Stats.median(v) }
      val records = tracedSinks.map(_.count.toLong).sum
      l("engine.batches") = prog.size.toDouble / tracedSinks.size
      l("log.bytes_scanned_per_record") = scanned.toDouble / records
      ctx.counterLayers(l, prog.size, records)
      l("api.lag_call_ms") = Stats.median(lagMs.toSeq)
      l("api.lag_records_end") = after.toDouble
      l("trace.overhead_pct") = 100 * (Stats.median(rates(false).toSeq) / Stats.median(rates(true).toSeq) - 1)
    }
  }
}

/** `tail-wide`: about a thousand shallow shards tailed by
  * `ConsumerGroup.start` at its default trigger, fed by a closed-loop
  * producer: as soon as the application has received every record appended
  * so far, its callback appends the next slice of records, scattered across
  * the shards, so each trigger plans, reads and delivers one slice and the
  * delivered rate is the consumer's own capacity. A few shards split
  * partway through the window, and their traffic moves to the children.
  */
final class TailWide(ctx: Ctx) extends StreamWorkload(ctx) {
  val stream = "wide"
  val payloads = new Payloads(ctx.seed, 50, 150)
  val base: IndexedSeq[String] = (0 until 1024).map(i => f"shard-$i%04d")
  /** Records per slice: about two per shard, on about 880 distinct shards. */
  val slice = 2048
  val warmSeconds = 6
  val splits = 4

  private val seqs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]
  private val parents = mutable.Map.empty[String, Seq[String]]
  def manifest: Manifest = seqs.synchronized(Manifest(seqs.map { case (k, v) => k -> v.toList }.toMap, parents.toMap))

  def synthesize(root: String): Manifest = {
    seqs.clear(); parents.clear()
    base.zipWithIndex.foreach { case (sh, i) =>
      append(root, sh, Seq(record(sh, 0L, -1 - i, 1700000000000L)))
      seqs(sh) = ArrayBuffer(0L)
    }
    manifest
  }

  /** One slice of the producer: when its append started, how long the
    * append took, when its last record arrived and over how many triggers.
    */
  final class Slice(val window: Boolean, val traced: Boolean, val startNs: Long) {
    var appendNs = 0L
    var endNs = 0L
    var triggers = 0
    def ms: Double = (endNs - startNs) / 1e6
  }

  def run(res: Result): Unit = {
    val synth = (0 until 3).map { r =>
      val root = ctx.work.resolve(s"log-$r").toString
      val t0 = System.nanoTime()
      synthesize(root)
      ((System.nanoTime() - t0) / 1e9, root)
    }
    synth.init.foreach { case (_, root) => Main.deleteTree(Paths.get(root)) }
    val root = synth.last._2
    res.setup("synthesis_s") = Stats.median(synth.map(_._1))

    val rnd = new SplittableRandom(ctx.seed)
    val children = mutable.Map.empty[String, Seq[String]]
    val next = mutable.Map.empty[String, Long]
    seqs.keys.foreach(sh => next(sh) = 1L)
    /** Per record index: the nanoTime its slice's append started. */
    val appendedAt = ArrayBuffer.empty[Long]
    val slices = ArrayBuffer.empty[Slice]
    var appended = base.size.toLong
    var (warm0, win0, winSlices) = (0L, 0L, 0)
    var scannedMid = 0L
    var midWallMs = Long.MaxValue
    @volatile var finished = false
    val sink = new Sink(ctx, "tail-consumer")
    val w0 = System.nanoTime()

    // the producer, run in the application's callback after each batch
    def produce(): Unit = if (!finished) {
      slices.lastOption.foreach(_.triggers += 1)
      if (sink.count >= appended) {
        val now = System.nanoTime()
        slices.lastOption.foreach(_.endNs = now)
        if (slices.isEmpty) warm0 = now
        if (win0 == 0L && now - warm0 >= warmSeconds * 1000000000L) {
          win0 = now
          res.setup("warmup_s") = (now - w0) / 1e9
        }
        val elapsed = if (win0 == 0L) 0L else now - win0
        if (win0 != 0L && elapsed >= ctx.seconds * 1000000000L && winSlices > splits) finished = true
        else {
          if (ctx.traced && win0 != 0L && !ctx.trace.on && elapsed >= ctx.seconds * 500000000L) {
            midWallMs = System.currentTimeMillis()
            scannedMid = ShardedStreamLog.bytesScanned.get()
            ctx.setTracing(true)
          }
          val s = new Slice(win0 != 0L, ctx.trace.on, now)
          if (s.window) {
            if (winSlices >= 1 && winSlices <= splits) {
              val free = base.filterNot(children.contains)
              val p = free(rnd.nextInt(free.size))
              val cs = Seq(p + "a", p + "b")
              ShardedStreamLog.splitShard(root, stream, p, cs)
              children(p) = cs
              seqs.synchronized { cs.foreach { c => seqs(c) = ArrayBuffer.empty; parents(c) = Seq(p) } }
              cs.foreach(c => next(c) = 0L)
            }
            winSlices += 1
          }
          val wallMs = (now / 1e6 + ctx.trace.wallOffsetMs).toLong
          val recs = (0 until slice).map { _ =>
            val b = base(rnd.nextInt(base.size))
            val sh = children.get(b).map(cs => cs(rnd.nextInt(cs.size))).getOrElse(b)
            val seq = next(sh)
            next(sh) = seq + 1
            appendedAt += now
            sh -> record(sh, seq, appendedAt.size - 1, wallMs)
          }
          recs.groupBy(_._1).foreach { case (sh, rs) =>
            append(root, sh, rs.map(_._2), traced = false)
            seqs.synchronized(seqs(sh) ++= rs.map(_._2.sequenceNumber))
          }
          s.appendNs = System.nanoTime() - now
          appended += slice
          slices += s
        }
      }
    }

    sink.after = Some(() => produce())
    val cg = consumer(root, "tail")
    cg.start(Seq(stream))(sink.onBatch)
    val until = System.nanoTime() + (warmSeconds + ctx.seconds + 60) * 1000000000L
    while (!finished && System.nanoTime() < until) Thread.sleep(5)
    if (!finished) {
      res.fail(Seq(s"${appended - sink.count} records not delivered; the producer stalled"))
      res.setup.getOrElseUpdate("warmup_s", (System.nanoTime() - w0) / 1e9)
    }
    cg.processAllAvailable()
    val scanned = ShardedStreamLog.bytesScanned.get() - scannedMid
    val lagMs = ArrayBuffer.empty[Double]
    def lag(): Long = {
      val t0 = System.nanoTime()
      val l = ctx.trace.span("api", "lag")(cg.lag())
      lagMs += (System.nanoTime() - t0) / 1e6
      l.values.sum
    }
    val lagEnd = lag(); lag(); lag()
    cg.close()
    if (lagEnd != 0) res.fail(Seq(s"lag after the tail drained: $lagEnd"))
    res.fail(Checks.deliveries(manifest, sink.delivered.toSeq, payloads.crc))

    // the measured slices: the window's, or in a traced run its traced half
    val measured = slices.filter(s => s.window && s.traced == ctx.traced && s.endNs != 0L).toSeq
    res.attempted += measured.size.toLong * slice
    res.e2e("throughput_per_s") = slice / (Stats.median(measured.map(_.ms)) / 1e3)
    System.err.println("[graftbench] window slices (ms, traced): " +
      slices.filter(_.window).map(s => f"${s.ms}%.0f${if (s.traced) "t" else ""}").mkString(" "))
    res.detail("slices") = measured.size
    res.detail("slice_triggers_max") = measured.map(_.triggers).maxOption.getOrElse(0).toDouble
    val from = measured.headOption.map(_.startNs).getOrElse(Long.MaxValue)
    val lat = sink.arrivals.collect { case (i, t) if i >= 0 && appendedAt(i) >= from =>
      (t - appendedAt(i)) / 1e6 }
    res.latency(lat.toSeq)

    if (ctx.traced) {
      val l = res.layers
      ctx.withTracing(true)(probeLayers(root, manifest, res))
      Listeners.settle(ctx.spark)
      val prog = ctx.progress.all.filter(b => b.name == sink.queryName && b.startWallMs >= midWallMs)
      val per = mutable.Map.empty[String, Seq[Double]]
      engineLayers(prog, Seq(sink), _ => 0, per)
      per.foreach { case (k, v) => l(k) = Stats.median(v) }
      l("engine.batches") = prog.size.toDouble
      l("log.bytes_scanned_per_record") = scanned.toDouble / lat.size
      ctx.counterLayers(l, prog.size, prog.map(_.rows).sum)
      l("api.lag_call_ms") = Stats.median(lagMs.toSeq)
      l("api.lag_records_end") = lagEnd.toDouble
      l("log.append_slice_ms") = Stats.median(measured.map(_.appendNs / 1e6))
      val untraced = slices.filter(s => s.window && !s.traced && s.endNs != 0L).map(_.ms).toSeq
      l("trace.overhead_pct") = 100 * (Stats.median(measured.map(_.ms)) / Stats.median(untraced) - 1)
    }
  }
}
