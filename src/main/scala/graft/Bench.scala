package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-contract batch bench: every registered query at
  * `SPARK_GRAFT_SF_DIR`, timed as the minimum of `SPARK_GRAFT_REPS` runs.
  * It prints one JSON line, `{"metric":"total",...,"queries":{...}}`, as
  * its last stdout line, writes the same line to `SPARK_GRAFT_BENCH_OUT`
  * (default `BENCH_ROUND.json`) and appends it to the journal
  * `SPARK_GRAFT_BENCH_HISTORY` (default `BENCH_HISTORY.jsonl`).
  * `SPARK_GRAFT_ONLY=q01_...,q02_...` times a subset.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    Checkpoints.requireFreezes("graft.Bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val cpus = Session.defaultCpus
    val spark = Session.local("graft-bench", cpus)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warm-up (untimed, failures ignored): every query once at the
    // smallest scale factor, so classloading, codegen and JIT are hot
    // before the timed pass and the timed numbers measure the plans.
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { case (_, fn) => scala.util.Try(run(spark, fn, warmDir)) }
    else spark.range(1000).selectExpr("sum(id)").collect()
    val results = names.map { case (name, fn) =>
      name -> minOfReps(reps)(run(spark, fn, sfDir))
    }.toMap
    val bootId = scala.util.Try(Files.readString(
      Paths.get("/proc/sys/kernel/random/boot_id")).trim).getOrElse("")
    val line = contractLine(results, reps, cpus, bootId, sfDir, System.currentTimeMillis())
    // the file survives a driver log tail that truncates the line
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_ROUND.json"))
    val history = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl"))
    try Files.writeString(out, line + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write bench artifact: $e") }
    if (journaled(out, history))
      try Files.writeString(history, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not append bench history: $e") }
    println(line)
    spark.stop()
  }

  /** One timed run as every harness runs a query: build, write to the noop
    * sink (the complete plan executes; a bare count() would let Catalyst
    * prune final sorts and projections), then release the query's
    * snapshots, so no rep pins storage that perturbs later timings.
    */
  private def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): Unit = {
    val df = fn(spark, dir)
    try df.write.format("noop").mode("overwrite").save()
    finally Checkpoints.release(df)
  }

  /** Seconds of the fastest of `reps` runs of `body`, or the first
    * failure: the minimum estimates the plan's cost without transient
    * host interference.
    */
  def minOfReps(reps: Int)(body: => Unit): Either[Throwable, Double] = {
    require(reps > 0, s"SPARK_GRAFT_REPS must be positive: $reps")
    try Right((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min)
    catch { case e: Throwable => Left(e) }
  }

  /** The contract line. A failed query reads -1, never a time, and its
    * message lands in `errors`; `total` sums the successful queries.
    */
  def contractLine(results: Map[String, Either[Throwable, Double]], reps: Int,
      cpus: Int, bootId: String, sf: String, ts: Long): String = {
    val times = results.map { case (k, r) => k -> r.getOrElse(-1.0) }
    // quotes, backslashes and control characters cannot break the JSON
    val errors = results.collect { case (k, Left(e)) =>
      k -> e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200) }
    def obj(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = times.values.filter(_ >= 0).sum
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","timing":"min_of_reps",""" +
      s""""reps":$reps,"n_queries":${results.size},"n_errors":${errors.size},""" +
      s""""cpus":$cpus,"boot_id":"$bootId","ts":$ts,""" +
      s""""queries":${obj(times.map { case (k, v) => k -> f3(v) })},""" +
      s""""errors":${obj(errors.map { case (k, v) => k -> s""""$v"""" })},"sf":"$sf"}"""
  }

  /** Three decimals under any default locale (a comma decimal separator
    * would break the JSON); ms resolution keeps the 351-query line short
    * enough for the driver's log-tail capture. Failures stay -1.
    */
  def f3(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Whether a run that writes its artifact to `out` belongs in the
    * journal at `history`: only when the artifact lies in the journal's
    * own directory tree. Local iterations that send the artifact out of
    * the repo (`/tmp/x.json`) stay out; `./BENCH_SELF.json` goes in.
    */
  def journaled(out: Path, history: Path): Boolean = {
    val h = history.toAbsolutePath.normalize
    out.toAbsolutePath.normalize.startsWith(Option(h.getParent).getOrElse(h.getRoot))
  }
}
