package graft

/** Plan-inspection tool: print the formatted physical plan of one or more
  * registered queries (and optionally execute them with per-query wall
  * timing). The local twin of reading the Spark UI's SQL tab — used when
  * a BENCH regression needs the plan, not another end-to-end number.
  *
  * Usage: `runMain graft.Explain <sfDir> <q1,q2,...> [--run]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <q1,q2,...> [--run]")
    val (sfDir, names) = (args(0), args(1).split(",").toSet)
    val run = args.contains("--run")
    val spark = Session.local("graft-explain")
    SparkEntry.queries.filter { case (n, _) => names.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        val df = fn(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        if (run) {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          println(f"[explain] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    spark.stop()
  }
}
