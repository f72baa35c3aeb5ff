package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Checkpoints, SparkEntry}

/** `ops-hot`: passes over a fixed list of registered queries with DuckDB
  * oracles. Each query is built, run to a noop sink and its graft-owned
  * checkpoints released, as `graft.Bench` times it. The warm-up pass writes
  * each result as parquet for the oracle check that `run.py` makes.
  */
final class Ops(ctx: Ctx, tablesDir: String) {
  val names: Seq[String] = Seq(
    "q02_filter_project", "q317_brand_crossshop", "q155_markov_eval",
    "q144_copurchase_pagerank", "q190_hits_bipartite", "q204_frequent_triples",
    "q126_repeated_spans", "q146_containment_join", "q181_gram_matrix",
    "q333_top_ngram_fraction", "q149_pixel_decode")

  private val planningMs = new java.util.concurrent.atomic.AtomicLong()
  private val planning = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  def run(res: Result): Unit = {
    val spark = ctx.spark
    val fns = SparkEntry.queries
    val outDir = Files.createDirectories(ctx.work.resolve("ops_out"))
    val w0 = System.nanoTime()
    names.foreach { n =>
      try {
        val df = fns(n)(spark, tablesDir)
        try df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(n).toString)
        finally Checkpoints.release(df)
      } catch { case e: Exception => res.fail(Seq(s"$n warm-up: ${e.getMessage}")) }
    }
    res.setup("warmup_s") = (System.nanoTime() - w0) / 1e9
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"), Main.json(oracles))

    val times = Map(false -> mutable.Map.empty[String, ArrayBuffer[Double]],
      true -> mutable.Map.empty[String, ArrayBuffer[Double]])
    val releaseMs = ArrayBuffer.empty[Double]
    var passes = 0
    var tracedPasses = 0
    val m0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - m0) / 1e9 < ctx.seconds ||
        (ctx.traced && passes < 2)) {
      val traced = ctx.tracedUnit(passes)
      if (traced) { spark.listenerManager.register(planning); tracedPasses += 1 }
      ctx.withTracing(traced)(Listeners.withGroup(spark, "ops")(names.foreach { n =>
        val t0 = System.nanoTime()
        try ctx.trace.span("ops", n, s"pass-$passes") {
          val df = fns(n)(spark, tablesDir)
          df.write.format("noop").mode("overwrite").save()
          val r0 = System.nanoTime()
          ctx.trace.span("ops", "Checkpoints.release")(Checkpoints.release(df))
          if (traced) releaseMs += (System.nanoTime() - r0) / 1e6
        } catch { case e: Exception =>
          res.failed += 1
          System.err.println(s"[graftbench] $n failed: ${e.getMessage}")
        }
        times(traced).getOrElseUpdate(n, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      }))
      if (traced) spark.listenerManager.unregister(planning)
      res.attempted += names.size
      passes += 1
    }
    val medians = times(ctx.traced).map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    val perQuery = names.map(medians)
    names.foreach(n => res.detail(s"$n.s") = medians(n))
    res.e2e("throughput_per_s") = names.size / perQuery.sum

    if (ctx.traced) {
      val l = res.layers
      names.foreach(n => l(s"ops.$n.s") = medians(n))
      val b = ctx.counters.bucket("ops")
      def per(x: Double): Double = x / tracedPasses
      l("ops.planning_ms") = per(planningMs.get.toDouble)
      l("ops.jobs") = per(b.jobs.get.toDouble)
      l("ops.stages") = per(b.stages.get.toDouble)
      l("ops.tasks") = per(b.tasks.get.toDouble)
      l("ops.shuffle_read_bytes") = per(b.shuffleRead.get.toDouble)
      l("ops.shuffle_write_bytes") = per(b.shuffleWrite.get.toDouble)
      l("ops.spill_bytes") = per(b.spill.get.toDouble)
      l("ops.executor_cpu_s") = per(b.cpuNs.get / 1e9)
      l("ops.gc_s") = per(b.gcMs.get / 1e3)
      l("ops.release_ms") = per(releaseMs.sum)
      val untraced = names.map(n => Stats.median(times(false)(n).toSeq)).sum
      l("trace.overhead_pct") = 100 * (perQuery.sum / untraced - 1)
    }
  }
}
