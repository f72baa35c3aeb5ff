package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans and listener counters for a traced run.
  *
  * A span is recorded by the benchmark's own code around each call into a
  * layer (`log`, `source`, `engine`, `api`, `ops`, plus `app` for the
  * benchmark's own callback). Spans that the engine times itself (the
  * per-trigger phases of a `StreamingQueryProgress`) are added as derived
  * spans, laid out in the engine's phase order inside the trigger. Spans of
  * one batch or query share a `group`. Nothing is written until [[json]].
  */
final class Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      group: String, startMs: Double, endMs: Double, derived: Boolean)

  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  private def nowMs: Double = System.nanoTime() / 1e6
  /** Offset from this JVM's monotonic clock to wall-clock ms. */
  val wallOffsetMs: Double = System.currentTimeMillis() - nowMs

  def span[T](layer: String, name: String, group: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet().toInt
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get().tail)
        add(Span(id, parent, layer, name, group, t0, nowMs, derived = false))
      }
    }

  /** Id of the innermost open span on this thread (0 at top level). */
  def current: Int = stack.get().headOption.getOrElse(0)

  def derived(parent: Int, layer: String, name: String, group: String,
      startMs: Double, endMs: Double): Int = {
    val id = nextId.incrementAndGet().toInt
    add(Span(id, parent, layer, name, group, startMs, endMs, derived = true))
    id
  }

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN || a > ce) {
          if (!cs.isNaN) total += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (!cs.isNaN) total += ce - cs
      total
    }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => (s.endMs - s.startMs) - covered(s)).sum
    }
  }

  def json: Seq[Map[String, Any]] = all.sortBy(_.startMs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "group" -> s.group, "start_ms" -> (s.startMs + wallOffsetMs),
      "end_ms" -> (s.endMs + wallOffsetMs), "derived" -> s.derived)
  }
}

/** Spark listener counters, attributed by the `graftbench.group` local
  * property (or the job group a streaming query sets) of the job that ran
  * them, so events delivered late by the asynchronous listener bus still
  * land in the right bucket.
  */
final class Counters extends SparkListener {
  final class Bucket {
    val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong()
    val shuffleRead, shuffleWrite, spill, stageTasks = new AtomicLong()
  }
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  def bucket(g: String): Bucket = buckets.computeIfAbsent(g, _ => new Bucket)
  def groups: Seq[String] = buckets.keySet().asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val g = p.flatMap(x => Option(x.getProperty("graftbench.group")))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    e.stageIds.foreach(stageGroup.put(_, g))
    val b = bucket(g)
    b.jobs.incrementAndGet()
    b.stageTasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bucket(stageGroup.getOrDefault(e.stageInfo.stageId, "other")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = bucket(stageGroup.getOrDefault(e.stageId, "other"))
    b.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      b.runMs.addAndGet(m.executorRunTime)
      b.cpuNs.addAndGet(m.executorCpuTime)
      b.gcMs.addAndGet(m.jvmGCTime)
      b.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      b.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      b.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One executed trigger of a streaming query, as its progress event reports it. */
final case class Batch(name: String, batchId: Long, startWallMs: Long,
    rows: Long, durations: Map[String, Long])

/** Per-trigger progress of the streaming queries. */
final class Progress extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) batches.synchronized {
      batches += Batch(p.name, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d)
    }
  }
  def all: Seq[Batch] = batches.synchronized(batches.toList)
}

object Listeners {
  /** Wait until the listener bus has delivered every posted event. */
  def settle(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def withGroup[T](spark: SparkSession, g: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("graftbench.group")
    sc.setLocalProperty("graftbench.group", g)
    try body finally sc.setLocalProperty("graftbench.group", prev)
  }
}
