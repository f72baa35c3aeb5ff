package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs: 4 cpus on every host, so the
  * specs' partitioning does not follow the machine.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local("graft-test", cpus = 4)
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.spark

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
