package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class CheckpointsSpec extends AnyFunSuite with SparkTestSession {

  private val d = "/root/testdata/sf0.001"

  private def checkpointRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head

  test("release frees the executor storage behind an eager localCheckpoint") {
    import spark.implicits._
    val df = Checkpoints.checkpoint(Seq(1, 2, 3).toDF("x"))
    assert(df.count() == 3)
    // the checkpoint's backing RDD is persisted outside the plan cache —
    // Dataset.unpersist would not see it; Checkpoints.release must
    val id = checkpointRddId(df)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "localCheckpoint did not register a persistent RDD — test premise broken")
    Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "release left the checkpointed RDD pinned")
    // idempotent: releasing an already-released frame is a no-op
    Checkpoints.release(df)
  }

  test("release leaves checkpoints this library did not create untouched") {
    import spark.implicits._
    // a caller-managed checkpoint embedded in a plan must survive release:
    // unpersisting every reachable LogicalRDD leaf would sever storage the
    // caller still depends on
    val theirs = Seq(4, 5).toDF("x").localCheckpoint(true)
    assert(theirs.count() == 2)
    val id = checkpointRddId(theirs)
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Checkpoints.release(theirs)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "release unpersisted a checkpoint it does not own")
    assert(theirs.count() == 2)
    theirs.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a SHARED memo's checkpoint survives consumer releases; releaseShared frees it") {
    import spark.implicits._
    // the memoized build-once shape (LPA labels, the ANN index): the
    // first consumer's harness-level release must not tear the shared
    // storage down under the next consumer (the q157
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND regression) — not through the
    // consumer plan's leaves, and not through the consumer query's own
    // snapshot set when the memo is first built inside that query
    var memo: org.apache.spark.sql.DataFrame = null
    val consumerQuery = Checkpoints.owning("consumer") { (_, _) =>
      memo = Checkpoints.shared(Checkpoints.checkpoint(Seq(7, 8).toDF("x")))
      memo.select(org.apache.spark.sql.functions.col("x") * 2)
    }
    val consumer = consumerQuery(spark, "")
    val id = checkpointRddId(memo)
    assert(persisted.contains(id) && Checkpoints.sharedIds.contains(id))
    Checkpoints.release(consumer) // a per-query harness release
    assert(persisted.contains(id),
      "consumer release tore down a shared checkpoint")
    assert(consumer.count() == 2, "the shared relation must still be readable")
    Checkpoints.releaseShared(memo) // the memo's evict path
    assert(!persisted.contains(id), "releaseShared left the shared checkpoint")
    assert(!Checkpoints.sharedIds.contains(id) && !Checkpoints.ownedIds.contains(id))
  }

  test("the shared LPA assignment survives a consumer-level release (q157 regression)") {
    graft.ops.Graph.lpaEvict(spark, d)
    val q157 = graft.SparkEntry.queries("q157_label_propagation")
    val first = q157(spark, d)
    val n1 = first.count()
    Checkpoints.release(first) // what Verify/Bench now do per query
    val second = q157(spark, d)
    assert(second.count() == n1,
      "the second consumer must still read the memoized assignment")
    Checkpoints.release(second)
    graft.ops.Graph.lpaEvict(spark, d)
  }

  test("the shared ANN index survives a consumer-level release (q277 then q278)") {
    graft.llm.Similarity.annSharedEvict(spark, d)
    val before = Checkpoints.sharedIds
    val first = SparkEntry.queries("q277_pq_adc_topk")(spark, d)
    val memoIds = Checkpoints.sharedIds -- before
    assert(memoIds.nonEmpty, "the index build must own its snapshots")
    assert(first.count() > 0)
    Checkpoints.release(first) // what Verify/Bench do per query
    assert(memoIds.subsetOf(persisted),
      s"q277's release freed the shared index's snapshots ${memoIds -- persisted}")
    val second = SparkEntry.queries("q278_pq_adc_recall_gate")(spark, d)
    assert(second.count() > 0,
      "the second consumer must still read the memoized index")
    Checkpoints.release(second)
    assert(memoIds.subsetOf(persisted))
    graft.llm.Similarity.annSharedEvict(spark, d)
    assert((memoIds & persisted).isEmpty, "evicting the index must free its snapshots")
  }

  test("a nested build's snapshots join the enclosing query's set") {
    import spark.implicits._
    val inner = Checkpoints.owning("inner") { (s, _) =>
      Checkpoints.checkpointLazy(s.range(3).toDF("x")).select(($"x" + 1).as("y"))
    }
    val outer = Checkpoints.owning("outer") { (s, d) =>
      // a later freeze hides the inner snapshot from the returned plan
      Checkpoints.checkpointLazy(inner(s, d)).select(($"y" * 2).as("z"))
    }
    val before = Checkpoints.ownedIds
    val df = outer(spark, "")
    val created = Checkpoints.ownedIds -- before
    assert(created.size == 2, s"expected the inner and the outer snapshot: $created")
    assert(df.count() == 3)
    assert(created.subsetOf(persisted))
    Checkpoints.release(df)
    assert((created & persisted).isEmpty && (created & Checkpoints.ownedIds).isEmpty,
      s"the outer release left ${created & persisted} persisted")
  }

  test("concurrent builds on one session own only their own snapshots") {
    import spark.implicits._
    // both builds collect at once: each registers a snapshot, waits for
    // the other to register one, then freezes again
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val build = Checkpoints.owning("concurrent") { (s, _) =>
      val a = Checkpoints.checkpointLazy(s.range(10).toDF("x"))
      barrier.await()
      val b = Checkpoints.checkpointLazy(a.select(($"x" + 1).as("x")))
      barrier.await()
      b.select(($"x" * 2).as("x"))
    }
    val before = Checkpoints.ownedIds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (dfA, dfB) =
      try {
        val task = new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = build(spark, "")
        }
        val (fa, fb) = (pool.submit(task), pool.submit(task))
        (fa.get(60, java.util.concurrent.TimeUnit.SECONDS),
          fb.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
    val created = Checkpoints.ownedIds -- before
    assert(created.size == 4, s"expected two snapshots per build: $created")
    assert(dfA.count() == 10 && dfB.count() == 10)
    Checkpoints.release(dfA)
    val left = created & persisted & Checkpoints.ownedIds
    assert(left.size == 2 && left.contains(checkpointRddId(dfB)),
      s"A's release must free exactly A's two snapshots; left $left of $created")
    assert(dfB.count() == 10)
    Checkpoints.release(dfB)
    assert((created & persisted).isEmpty)
  }

  test("Bench and Verify refuse to start with the freeze escape hatch set") {
    val e = intercept[IllegalStateException](
      Checkpoints.requireFreezes("graft.Verify", Map("SPARK_GRAFT_NO_FREEZE" -> "1")))
    assert(e.getMessage.contains("graft.Verify"))
    Checkpoints.requireFreezes("graft.Bench", Map.empty)
    Checkpoints.requireFreezes("graft.Bench", Map("SPARK_GRAFT_NO_FREEZE" -> "0"))
  }

  test("every registered query's release frees every snapshot its build made") {
    // each query as the harnesses run it: build, noop write, release.
    // A snapshot that feeds a later freeze is unreachable from the
    // result plan, so only the query's own snapshot set can free it;
    // ids held by shared memos (LPA labels, the ANN index) are exempt
    def named[T](name: String)(body: => T): T =
      try body catch { case e: Exception => fail(s"$name failed", e) }
    val registered = scala.collection.mutable.Map.empty[String, Int]
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = Checkpoints.ownedIds
      val df = named(name)(fn(spark, d))
      registered(name) = Checkpoints.registeredBy(df)
      val created = Checkpoints.ownedIds -- before
      if (created.isEmpty) None
      else {
        named(name)(df.write.format("noop").mode("overwrite").save())
        Checkpoints.release(df)
        val leaked = created.filter(id =>
          Checkpoints.ownedIds.contains(id) || persisted.contains(id)) --
          Checkpoints.sharedIds
        if (leaked.isEmpty) None else Some(name -> leaked)
      }
    }
    graft.ops.Graph.lpaEvict(spark, d)
    graft.llm.Similarity.annSharedEvict(spark, d)
    assert(leaks.isEmpty, s"snapshots left after release: ${leaks.mkString(", ")}")
    // the snapshot high-water guard: no registered build goes over it
    val over = registered.filter(_._2 > Checkpoints.HighWater)
    assert(over.isEmpty, s"builds over the high-water ${Checkpoints.HighWater}: " +
      over.toSeq.sortBy(-_._2).mkString(", "))
  }

  test("a build over the snapshot high-water logs one WARN naming its query") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val capture = new AbstractAppender("high-water", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val logger = LogManager.getLogger("graft.Checkpoints").asInstanceOf[Logger]
    logger.addAppender(capture)
    def build(n: Int) = Checkpoints.owning(s"q_build_of_$n") { (s, _) =>
      (1 to n).foldLeft(s.range(4).toDF("x"))((df, _) => Checkpoints.checkpointLazy(df))
    }
    val (atBound, over) =
      try (build(Checkpoints.HighWater)(spark, ""), build(Checkpoints.HighWater + 1)(spark, ""))
      finally logger.removeAppender(capture)
    assert(Checkpoints.registeredBy(atBound) == Checkpoints.HighWater)
    assert(Checkpoints.registeredBy(over) == Checkpoints.HighWater + 1)
    val warned = seen.asScala.toSeq
    assert(warned.size == 1 && warned.head.startsWith("WARN") &&
      warned.head.contains(s"q_build_of_${Checkpoints.HighWater + 1}"), warned.toString)
    Checkpoints.release(atBound)
    Checkpoints.release(over)
  }
}
