package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** What one run found; `run.py` turns it into the benchmark's result line. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  /** Figures kept in the results file only. */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  def fail(errs: Seq[String]): Unit = errors.synchronized(errors ++= errs)

  /** Per-record delivery latency: its median and 99th percentile go to the
    * results file and, traced, to the `app` layer's metrics.
    */
  def latency(ms: Seq[Double]): Unit = {
    val (p50, p99) = (Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.99))
    detail("latency_p50_ms") = p50
    detail("latency_p99_ms") = p99
    detail("latency_samples") = ms.size
    layers("app.latency_p50_ms") = p50
    layers("app.latency_p99_ms") = p99
  }
}

/** Run-wide state: the session, the workload seed and length, and the
  * tracing switch. In a traced run the measured units alternate untraced
  * and traced, starting untraced, so the run can report its own tracing
  * overhead; per-layer figures come from the traced units only.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path) {
  val trace = new Trace
  val progress = new Progress
  val counters = new Counters

  def tracedUnit(unit: Int): Boolean = traced && unit % 2 == 1

  def setTracing(on: Boolean): Unit = synchronized {
    if (on != trace.on) {
      if (on) {
        spark.sparkContext.addSparkListener(counters)
        spark.streams.addListener(progress)
      } else {
        Listeners.settle(spark)
        spark.sparkContext.removeSparkListener(counters)
        spark.streams.removeListener(progress)
      }
      trace.on = on
    }
  }

  def withTracing[T](on: Boolean)(body: => T): T = {
    setTracing(on)
    try body finally setTracing(false)
  }

  /** Engine-side task counters of the traced stream triggers, per batch. */
  def counterLayers(l: mutable.Map[String, Double], batches: Int, records: Long): Unit = {
    val bs = counters.groups.filterNot(_ == "ops").map(counters.bucket)
    def perBatch(x: Double): Double = x / batches
    l("engine.tasks") = perBatch(bs.map(_.tasks.get).sum.toDouble)
    l("engine.task_run_ms") = perBatch(bs.map(_.runMs.get).sum.toDouble)
    l("engine.task_cpu_ms") = perBatch(bs.map(_.cpuNs.get).sum / 1e6)
    l("engine.gc_ms") = perBatch(bs.map(_.gcMs.get).sum.toDouble)
    val cb = counters.bucket("cb")
    l("source.partitions_per_batch") = cb.stageTasks.get.toDouble / cb.jobs.get
    l("source.records_per_partition") = records.toDouble / cb.stageTasks.get
  }
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--tables DIR]`. Writes the run's findings as JSON
  * to FILE and, traced, its spans beside it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = new Result
    res.setup("session_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, traced, work)
    res.fail(Checks.selfTest().map(e => s"check self-test: $e"))
    opt("workload") match {
      case "drain-deep" => new DrainDeep(ctx).run(res)
      case "tail-wide" => new TailWide(ctx).run(res)
      case "ops-hot" => new Ops(ctx, opt("tables")).run(res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.setTracing(false)
    if (traced) {
      val self = ctx.trace.selfMs
      self.foreach { case (layer, ms) => res.layers(s"self.${layer}_ms") = ms }
      res.layers("jvm.peak_heap_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      Files.writeString(Paths.get(opt("out") + ".spans.json"), json(Map(
        "spans" -> ctx.trace.json, "self_ms" -> self,
        "overhead_pct" -> res.layers.get("trace.overhead_pct"))))
    }
    Files.writeString(Paths.get(opt("out")), json(Map(
      "attempted" -> res.attempted, "failed" -> res.failed, "errors" -> res.errors.toList,
      "e2e" -> res.e2e.toMap, "layers" -> res.layers.toMap, "setup" -> res.setup.toMap,
      "detail" -> res.detail.toMap,
      "spark_version" -> spark.version, "cpus" -> cpus)))
    spark.stop()
  }

  def json(v: Any): String = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
}
