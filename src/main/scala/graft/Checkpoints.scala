package graft

import org.apache.spark.sql.Dataset

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
  */
object Checkpoints {

  /** RDD ids of checkpoints this library created and has not yet freed. */
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Plan-dump escape hatch (round 17): with SPARK_GRAFT_NO_FREEZE=1 both
    * checkpoint flavors return their input unchanged, so `graft.Explain`
    * can print the FULL upstream plan that normally hides behind a frozen
    * `Scan ExistingRDD` leaf (the q114 barrier-removal evidence gap —
    * r16's committed plan pair started AT the freeze). Plan inspection
    * only: freezes are correctness-bearing for the two-pass operators
    * (RangePartitioner boundary pinning), so benches and verification
    * must never set it.
    */
  private def noFreeze: Boolean =
    sys.env.get("SPARK_GRAFT_NO_FREEZE").contains("1")

  /** Deferred mid-loop releases (round 17): snapshots freed only when
    * their OWNER's checkpoint leaf is released. Loop operators (q144's
    * rank sweeps, q196's relaxations) previously kept EAGER per-sweep
    * checkpoints solely so they could release the predecessor as soon as
    * the successor materialized; with LAZY sweep freezes nothing has
    * materialized mid-loop, so predecessors are instead registered here
    * against the loop's FINAL frozen frame and drained by the caller's
    * normal end-of-query [[release]]. Keyed per owner (not a global
    * drain) so concurrent queries on one session cannot free each
    * other's pending snapshots.
    */
  private val dependents = new java.util.concurrent.ConcurrentHashMap[
    Int, List[org.apache.spark.rdd.RDD[_]]]()

  /** RDD ids of SHARED checkpoints (memoized build-once relations — the
    * LPA label assignment, the composed ANN index) that a consumer-level
    * [[release]] must not tear down: the first consumer's release would
    * otherwise kill the storage every later consumer's plan references
    * (observed as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in q157 when the
    * Verify harness began releasing per query). Pinned ids are freed
    * only through [[releasePinned]] — the owning cache's evict path.
    */
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Mark every graft-owned checkpoint leaf reachable from `ds` as
    * shared/pinned — exempt from [[release]] until [[releasePinned]].
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD
        if owned.contains(r.rdd.id) => pinned.add(r.rdd.id); ()
      case _ => ()
    }
    ds
  }

  /** Unpin and free the graft-owned checkpoints reachable from `ds` —
    * the shared-relation owner's evict path (idempotent).
    */
  def releasePinned(ds: Dataset[_]): Unit = {
    ds.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        pinned.remove(r.rdd.id); ()
      case _ => ()
    }
    release(ds)
  }

  /** Eager `localCheckpoint` whose backing RDD is registered as
    * graft-owned — the only checkpoints [[release]] will free. All graft
    * operators (CC rounds, globalRowNumber's frozen ranges) checkpoint
    * through here.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (noFreeze) ds else register(ds.localCheckpoint(true))

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
    if (noFreeze) ds else register(ds.localCheckpoint(false))

  /** Tie `victims`' graft-owned snapshots to `owner`'s: when [[release]]
    * frees one of `owner`'s checkpoint leaves, the victims are freed in
    * the same sweep. Used by loop operators whose per-sweep freezes are
    * lazy — the predecessor snapshots must outlive the loop (nothing is
    * materialized until the first consumer job) but die with the final
    * frame. Returns `owner` for chaining; a no-op when `owner` carries no
    * graft-owned leaf (e.g. under SPARK_GRAFT_NO_FREEZE).
    */
  def releaseWith[T](owner: Dataset[T], victims: Seq[Dataset[_]]): Dataset[T] = {
    val vRdds = victims.flatMap(_.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD
        if owned.contains(r.rdd.id) => r.rdd
    }).toList
    if (vRdds.nonEmpty) {
      val oid = owner.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD
          if owned.contains(r.rdd.id) => r.rdd.id
      }.headOption
      oid.foreach(id => dependents.merge(id, vRdds, (a, b) => a ++ b))
    }
    owner
  }

  private def register[T](ck: Dataset[T]): Dataset[T] = {
    ck.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => owned.add(r.rdd.id)
      case _ => ()
    }
    ck
  }

  /** Frees the executor storage behind every graft-owned checkpoint,
    * eager or lazy, reachable from `df`'s plan (its `LogicalRDD` leaves),
    * together with the snapshots registered through [[releaseWith]]
    * against any leaf it frees (transitively); non-owned persisted
    * leaves and pinned ones are deliberately not touched. Call once
    * the data has been consumed — any later action on a plan referencing
    * the checkpoint would fail or recompute from nothing. Idempotent:
    * releasing an already-released frame is a no-op.
    */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD
        if !pinned.contains(r.rdd.id) && owned.remove(r.rdd.id) =>
        r.rdd.unpersist(false)
        drainDependents(r.rdd.id)
      case _ => ()
    }

  /** Free the deferred victims registered against a just-released owner
    * (transitively — a victim may itself own deferred victims).
    */
  private def drainDependents(id: Int): Unit =
    Option(dependents.remove(id)).foreach(_.foreach { rdd =>
      if (!pinned.contains(rdd.id) && owned.remove(rdd.id)) {
        rdd.unpersist(false)
        drainDependents(rdd.id)
      }
    })
}
