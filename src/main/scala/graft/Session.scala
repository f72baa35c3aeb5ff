package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder of the mains (`Bench`, `Verify`,
  * `Explain`, `Smoke`, `ScaleUp`) and the test suite, so that the timed,
  * the verified and the tested session are configured alike.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI and log
    * level WARN. The codegen cache holds the whole query surface's
    * generated classes: Spark's default of 100 entries thrashes on a
    * 351-query session, and timed queries then pay recompilation.
    */
  def local(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
