package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with SparkTestSession {

  private val d = "/root/testdata/sf0.001"

  test("registerViews exposes the corpus to literal spark.sql") {
    // child session: the 10 table-named temp views (and the nanos conf)
    // must not leak into the shared session other suites resolve against
    val s = spark.newSession()
    Tables.registerViews(s, d)
    val viaSql = s.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_quantity) AS BIGINT) AS q
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaDf = Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("q"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql == viaDf)
    // the events view must carry the nanos→micros timestamp handling —
    // a bare parquet read of events.ts throws PARQUET_TYPE_ILLEGAL
    val ev = s.sql(
      "SELECT COUNT(*) AS n FROM events WHERE ts IS NOT NULL").head.getLong(0)
    assert(ev > 0)
  }

  /** Spark jobs `body` starts on this thread, told apart by job group. A
    * sentinel job run after it is awaited, so every job event of `body`
    * has reached the listener before the count is read.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(f: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(sentinel), "the sentinel job never reached the listener")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of a table starts no Spark job") {
    val s = spark.newSession()
    assert(jobsDuring(Tables(s, d, "lineitem")) >= 1,
      "a first read must infer the footer schema with a job — test premise broken")
    assert(jobsDuring(Tables(s, d, "lineitem")) == 0)
    assert(Tables(s, d, "lineitem").count() == spark.read.parquet(s"$d/lineitem.parquet").count())
  }

  test("a table rewritten at the same path with different columns is inferred again") {
    import spark.implicits._
    val s = spark.newSession()
    val dir = Files.createTempDirectory("tables-rewrite")
    // a directory table as Spark writes it, and a one-file table as the
    // corpus ships, each rewritten with a column more
    def writeDir(df: DataFrame, to: Path): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(to.toString)
    def writeFile(df: DataFrame, to: Path): Unit = {
      val tmp = dir.resolve("tmp")
      writeDir(df, tmp)
      val part = Files.list(tmp).iterator.asScala.find(_.toString.endsWith(".parquet")).get
      Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
    }
    for ((name, write) <- Seq[(String, (DataFrame, Path) => Unit)](
        "asdir" -> writeDir, "asfile" -> writeFile)) {
      val path = dir.resolve(s"$name.parquet")
      write(Seq(1L, 2L).toDF("a"), path)
      assert(Tables(s, dir.toString, name).columns.toSeq == Seq("a"))
      assert(Tables(s, dir.toString, name).columns.toSeq == Seq("a"))
      write(Seq((3L, "x")).toDF("a", "b"), path)
      val again = Tables(s, dir.toString, name)
      assert(again.columns.toSeq == Seq("a", "b"), s"$name kept its stale schema")
      assert(again.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((3L, "x")))
    }
  }

  test("two reads of one table self-join without ambiguity") {
    val s = spark.newSession()
    val (a, b) = (Tables(s, d, "part"), Tables(s, d, "part"))
    val ids = (x: DataFrame) => x.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty, "a cached read must still get fresh attribute ids")
    val viaTables = a.join(b, a("p_brand") === b("p_brand") && a("p_partkey") < b("p_partkey"))
      .count()
    val (ra, rb) = (s.read.parquet(s"$d/part.parquet"), s.read.parquet(s"$d/part.parquet"))
    val bare = ra.join(rb, ra("p_brand") === rb("p_brand") && ra("p_partkey") < rb("p_partkey"))
      .count()
    assert(viaTables == bare && bare > 0)
  }

  test("a child session without the nanos conf reads TIMESTAMP(NANOS) events like its parent") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    // an events table whose ts is TIMESTAMP(NANOS), as some fixture sets
    // carry it; Spark itself cannot write one
    val dir = Files.createTempDirectory("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val stamps = Seq(1L -> 1700000000123456789L, 2L -> 1700000360987654321L)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString), new Configuration()))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try stamps.foreach { case (id, ns) => writer.write(rows.newGroup().append("id", id).append("ts", ns)) }
    finally writer.close()
    def micros(ss: SparkSession): Seq[(Long, Long)] = {
      val ev = Tables(ss, dir.toString, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      ev.select(col("id"), unix_micros(col("ts"))).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val want = stamps.map { case (id, ns) => (id, ns / 1000) }
    val parent = spark.newSession()
    intercept[Exception](parent.read.parquet(dir.resolve("events.parquet").toString).collect())
    assert(micros(parent) == want) // the parent infers (and caches) first
    val child = parent.newSession()
    assert(!child.conf.getOption(nanos).contains("true"), "test premise: a fresh child conf")
    assert(micros(child) == want)
    assert(micros(child) == want) // the child's own cached schema
  }
}
