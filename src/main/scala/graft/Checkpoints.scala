package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Creation + release tooling for `Dataset.localCheckpoint` storage, eager
  * ([[checkpoint]]) and lazy ([[checkpointLazy]]).
  *
  * `localCheckpoint` persists an internal RDD that `Dataset.unpersist`
  * does not see (unpersist consults the plan cache only), so iterative
  * algorithms and checkpoint-returning operators would otherwise pin
  * every checkpoint in executor storage until session end.
  *
  * Ownership contract: [[release]] frees ONLY checkpoints created through
  * [[checkpoint]] or [[checkpointLazy]]. A plan can legitimately embed
  * OTHER persisted `LogicalRDD` leaves (a caller's cached
  * `createDataFrame` source, a checkpoint the caller manages itself) —
  * unpersisting every reachable leaf would silently sever storage this
  * library does not own, so graft-created checkpoint RDD ids are tracked
  * and everything else is left untouched.
  *
  * Query ownership: a registered query's build runs under [[owning]]
  * (`SparkEntry.queries` wraps every `QueryDef.run`), which records every
  * snapshot the build creates — including ones a later freeze hides from
  * the returned plan (a sweep that feeds the next sweep's lazy snapshot)
  * — and binds that set to the returned frame. One [[release]] of that
  * frame frees them all; no call site keeps its own release duty beyond
  * an optional early free that bounds a loop's high-water. Shared
  * build-once relations are built under [[shared]] instead, so no
  * consumer query ever owns (and frees) them.
  */
object Checkpoints {

  /** RDD ids of checkpoints this library created and has not yet freed. */
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** RDD ids built under [[shared]]: exempt from [[release]] (a consumer
    * plan reaches them as leaves) until the memo's [[releaseShared]].
    */
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** The snapshots registered by the build running on this thread, or
    * null outside any [[owning]]/[[shared]] build. Thread-local, so
    * concurrent builds on one session never collect each other's.
    */
  private val collector = new ThreadLocal[ArrayBuffer[RDD[_]]]

  /** Snapshots each owner built, keyed by the owner's identity (a
    * query's returned frame, a shared memo's handle). Weak keys: an owner
    * dropped without release does not pin its entry.
    */
  private val builtBy = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, Seq[RDD[_]]]())

  /** Plan-dump escape hatch (round 17): with SPARK_GRAFT_NO_FREEZE=1 both
    * checkpoint flavors return their input unchanged, so `graft.Explain`
    * can print the FULL upstream plan that normally hides behind a frozen
    * `Scan ExistingRDD` leaf (the q114 barrier-removal evidence gap —
    * r16's committed plan pair started AT the freeze). Plan inspection
    * only: freezes are correctness-bearing for the two-pass operators
    * (RangePartitioner boundary pinning), so benches and verification
    * refuse to start with it set ([[requireFreezes]]).
    */
  private def noFreeze(env: collection.Map[String, String]): Boolean =
    env.get("SPARK_GRAFT_NO_FREEZE").contains("1")

  /** Stop a timing or correctness harness before it starts when the
    * freeze escape hatch is set: its results would be silently wrong.
    */
  def requireFreezes(harness: String,
      env: collection.Map[String, String] = sys.env): Unit =
    if (noFreeze(env))
      throw new IllegalStateException(
        s"$harness refuses to run with SPARK_GRAFT_NO_FREEZE=1: freezes are " +
          "correctness-bearing; the hatch is for graft.Explain plan dumps only")

  /** Eager `localCheckpoint` whose backing RDD is registered as
    * graft-owned — the only checkpoints [[release]] will free. All graft
    * operators (CC rounds, globalRowNumber's frozen ranges) checkpoint
    * through here.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (noFreeze(sys.env)) ds else register(ds.localCheckpoint(true))

  /** LAZY `localCheckpoint` (graft-owned like [[checkpoint]]): the
    * snapshot materializes during the FIRST job that computes it
    * instead of a dedicated eager pass — correct for ANY first action,
    * because Spark's local-checkpoint finalization backfills partitions
    * a partial action skipped (`LocalRDDCheckpointData.doCheckpoint`
    * runs a fill-in job over missing partitions before truncating
    * lineage). Use when the caller immediately runs a job over the
    * result anyway (the two-pass operators' cell aggregation): the
    * materialization rides that job for free. Until a first job runs,
    * the freeze guarantee is pending — callers must not interleave
    * other consumers before their first action.
    */
  def checkpointLazy[T](ds: Dataset[T]): Dataset[T] =
    if (noFreeze(sys.env)) ds else register(ds.localCheckpoint(false))

  private def register[T](ck: Dataset[T]): Dataset[T] = {
    val building = collector.get()
    ck.queryExecution.analyzed.foreach {
      case r: LogicalRDD =>
        owned.add(r.rdd.id)
        if (building != null) building += r.rdd
      case _ => ()
    }
    ck
  }

  /** Run `build` with its own collector; returns what it built and
    * every snapshot registered meanwhile. A `nested` build also hands its
    * snapshots to the enclosing build's collector.
    */
  private def collecting[T](nested: Boolean)(build: => T): (T, Seq[RDD[_]]) = {
    val outer = collector.get()
    val mine = ArrayBuffer.empty[RDD[_]]
    collector.set(mine)
    try (build, mine.toSeq)
    finally {
      collector.set(outer)
      if (nested && outer != null) outer ++= mine
    }
  }

  /** Wrap a query builder so the frame it returns owns every snapshot
    * its build created: [[release]] of that exact frame frees them all.
    */
  def owning(run: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val (df, built) = collecting(nested = true)(run(s, d))
    if (built.nonEmpty) builtBy.put(df, built)
    df
  }

  /** Build a shared build-once relation (a memo served to many queries)
    * under its own owner: its snapshots never join an enclosing query's
    * set and survive every consumer's [[release]], until the memo's
    * evict path calls [[releaseShared]] on the returned handle.
    */
  def shared[T <: AnyRef](build: => T): T = {
    val (memo, built) = collecting(nested = false)(build)
    val live = built.filter(r => owned.contains(r.id))
    live.foreach(r => pinned.add(r.id))
    builtBy.put(memo, live)
    memo
  }

  /** Free every snapshot a [[shared]] build made — the memo's evict
    * path (idempotent).
    */
  def releaseShared(memo: AnyRef): Unit =
    Option(builtBy.remove(memo)).foreach(_.foreach { r =>
      pinned.remove(r.id)
      free(r)
    })

  /** Frees the executor storage behind every graft-owned checkpoint,
    * eager or lazy, reachable from `df`'s plan (its `LogicalRDD` leaves),
    * plus — when `df` is a frame a registered query returned — every
    * snapshot its build created ([[owning]]). Non-owned persisted leaves
    * and [[shared]] ones are deliberately not touched. Call once the data
    * has been consumed — any later action on a plan referencing the
    * checkpoint would fail or recompute from nothing. Idempotent:
    * releasing an already-released frame is a no-op.
    */
  def release(df: Dataset[_]): Unit = {
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => free(r.rdd)
      case _ => ()
    }
    Option(builtBy.remove(df)).foreach(_.foreach(free))
  }

  /** Ids of the snapshots this library still owns (leak checks). */
  private[graft] def ownedIds: Set[Int] = owned.asScala.toSet

  /** Ids of the snapshots shared memos hold (leak checks). */
  private[graft] def sharedIds: Set[Int] = pinned.asScala.toSet

  private def free(rdd: RDD[_]): Unit =
    if (!pinned.contains(rdd.id) && owned.remove(rdd.id)) rdd.unpersist(false)
}
