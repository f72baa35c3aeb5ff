package graft

/** t1 smoke twin: runs the flagship `SparkEntry.entry` and prints its row
  * count (driver checks rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
