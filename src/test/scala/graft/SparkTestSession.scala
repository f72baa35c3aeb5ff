package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs. */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the session conf `key` set to `value` (None: unset),
    * then restores the session's own setting.
    */
  def withSessionConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
