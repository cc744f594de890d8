package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lifecycle helper for `localCheckpoint`-materialized frames.
  *
  * `localCheckpoint` truncates lineage and parks the data as storage
  * blocks that ContextCleaner only reclaims after the wrapping RDD is
  * garbage-collected — in a long-lived session that runs many queries,
  * superseded checkpoints accumulate and degrade every later job (the
  * round-2 bench measured 3-10x inflation on trailing queries). Iterative
  * operators must release each round's blocks once the next round is
  * materialized.
  */
object Materialize {

  // RDDs that GRAFT ITSELF persisted as internal materializations
  // (withRowId's persist-before-count): weakly held so entries vanish
  // with their RDD, identity-keyed (RDD does not override equals).
  // releaseCheckpoint may free these when it finds them in a released
  // frame's lineage — and ONLY these, so a caller-persisted RDD shared
  // with other queries is never unpersisted behind the caller's back.
  private val ownedPersists: java.util.Set[org.apache.spark.rdd.RDD[_]] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], java.lang.Boolean]()))

  private[graft] def registerOwnedPersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    ownedPersists.add(rdd)

  /** Materialize `df` once as a graft-owned MEMORY_AND_DISK persist and
    * return a frame reading those blocks — the internal-materialization
    * primitive behind Tfidf's tf table.
    *
    * Unlike `spark.createDataFrame(df.rdd, df.schema)` (the r15 shape),
    * the round-trip stays at the `InternalRow` layer
    * (`queryExecution.toRdd` + [[org.apache.spark.sql.graft.DataFrameBridge]]):
    * the external-Row codec that `Dataset.rdd` inserts converts every
    * field of every row TWICE (serialize on persist-write, deserialize
    * on every downstream read) purely to cross a storage boundary the
    * rows never actually leave. Rows are defensively `copy()`d before
    * the persist — plan output reuses per-partition row buffers.
    *
    * Unlike `localCheckpoint`, LINEAGE IS KEPT: an evicted or released
    * block recomputes from the plan instead of failing (the property
    * [[releaseOwned]]'s recompute contract and the TfidfSpec release
    * pin rely on). NOT eager by itself — the caller decides which
    * action warms it (Tfidf folds N in the same action), because a cold
    * persist under one action's concurrent subtrees races (AQE
    * schedules independent stages in parallel).
    */
  private[graft] def persistInternal(df: DataFrame): DataFrame = {
    val internal = df.queryExecution.toRdd.map(_.copy())
    internal.persist(StorageLevel.MEMORY_AND_DISK)
    registerOwnedPersist(internal)
    org.apache.spark.sql.graft.DataFrameBridge
      .internalCreateDataFrame(df.sparkSession, internal, df.schema)
  }

  /** Free the storage blocks behind a `localCheckpoint`ed frame, plus
    * any graft-owned internal persist ([[registerOwnedPersist]] — e.g.
    * withRowId's persist-before-count, which sits in the lineage BEHIND
    * the result's LogicalRDD leaf and is otherwise only reclaimed when
    * driver GC collects the wrapping RDD; executor block usage is
    * invisible to driver heap pressure, so a long-lived session must be
    * able to release eagerly).
    *
    * ONLY call this when `df` (and every frame derived from it) will
    * never be evaluated again: local checkpoints have no lineage to
    * recompute from, so a released frame is unrecoverable by design —
    * and EVERY persisted LogicalRDD leaf in the lineage is freed,
    * INCLUDING ones the caller (or a fitted model) still needs. A
    * KnnClassifierModel transform result carries the model's
    * checkpointed train set as exactly such a leaf; releasing the
    * result through here kills the model (round-16 finding; PipelineSpec
    * pins it). For a result that merely CONTAINS
    * graft-internal persists, use [[releaseOwned]], which frees only
    * registry members and can never break anything else.
    * (Graft-owned persists DO keep lineage — releasing them trades
    * storage for a recompute on later evaluation.)
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    release(df, includeCheckpointLeaves = true)

  /** Free ONLY the graft-owned internal persists
    * ([[registerOwnedPersist]]: withRowId's persist-before-count,
    * Tfidf's tf table) reachable from
    * `df`'s lineage. Safe on any frame at any time: never touches a
    * caller persist or a model's localCheckpoint, and owned persists
    * keep lineage, so a later evaluation of `df` recomputes instead of
    * failing. This is the right release for the RESULT of an operator
    * that materialized something internally; [[releaseCheckpoint]] is
    * for a checkpointed frame that is itself terminal.
    */
  def releaseOwned(df: DataFrame): Unit =
    release(df, includeCheckpointLeaves = false)

  private def release(df: DataFrame, includeCheckpointLeaves: Boolean): Unit = {
    // iterative lineage walk (a long iterative-algorithm lineage can be
    // thousands of RDDs deep; recursion would overflow the stack)
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val stack = scala.collection.mutable.ArrayDeque.empty[org.apache.spark.rdd.RDD[_]]
    def releaseOwnedWalk(root: org.apache.spark.rdd.RDD[_]): Unit = {
      stack.append(root)
      while (stack.nonEmpty) {
        val r = stack.removeLast()
        if (seen.add(r.id)) {
          if (ownedPersists.contains(r) &&
              r.getStorageLevel != StorageLevel.NONE)
            r.unpersist(blocking = false)
          r.dependencies.foreach(d => stack.append(d.rdd))
        }
      }
    }
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD =>
        if (includeCheckpointLeaves &&
            lr.rdd.getStorageLevel != StorageLevel.NONE)
          lr.rdd.unpersist(blocking = false)
        releaseOwnedWalk(lr.rdd)
      case _ => ()
    }
  }

  /** Whether `df`'s Catalyst size estimate can be TRUSTED for a
    * broadcast decision. FILE relations carry real on-disk byte counts
    * and LocalRelations are literal rows; a persisted LogicalRDD has a
    * measured size ([[storageBytes]]). Anything else — `Range` under a
    * generator projection, a non-persisted RDD scan — reports a
    * width-blind estimate that can undercount payload columns by orders
    * of magnitude, so callers must treat the frame as NOT broadcastable
    * rather than gamble on it.
    *
    * "File" is checked, not assumed (same narrowing as
    * [[graft.ingest.SeriesIngest.stableForRowId]]'s round-16 fix, in
    * the other size-driven planner decision): a v1 `LogicalRelation`
    * qualifies only when it wraps a `HadoopFsRelation` and a v2
    * `DataSourceV2ScanRelation` only when its scan is a `FileScan` —
    * the LEAF CLASSES also cover JDBC and arbitrary connector reads,
    * whose `sizeInBytes` is connector-supplied and can under-report by
    * any factor (a lying connector estimate would let [[fitsBroadcast]]
    * replicate an oversized side to every executor). Non-file leaves
    * fail closed: the join plans partitioned instead.
    */
  def estimateTrusted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall {
      case lr: LogicalRDD => lr.rdd.getStorageLevel != StorageLevel.NONE
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        sr.scan.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileScan]
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }

  /** The block manager's MEASURED byte size of a frame whose leaves are
    * persisted RDDs (localCheckpoint / cache), or None when no leaf is
    * persisted.
    *
    * Catalyst stats systematically UNDERESTIMATE checkpointed frames:
    * `LogicalRDD` preserves the pre-materialization plan's estimate,
    * which cannot see the width of generated or deserialized payload
    * columns (a 561-double series column estimated from `range(n)` stats
    * reports ~16 bytes/row against ~4.5 KB/row materialized). Size-driven
    * plan decisions (broadcast-vs-partitioned pair joins) must use
    * the measured size, or they will broadcast an arbitrarily large
    * train side at scale.
    */
  def storageBytes(df: DataFrame): Option[BigInt] = storage(df).map(_._1)

  /** [[storageBytes]], with whether the measurement is the frame's
    * size: the plan only filters, unions and selects columns of
    * persisted RDDs, each with all of its partitions in the block
    * manager. A partial persist (partitions evicted or never computed)
    * under-measures, and so does any operator that can emit more than
    * it reads (a join, an explode, an expression that builds a column).
    * One walk of the storage info answers both.
    */
  def storage(df: DataFrame): Option[(BigInt, Boolean)] = {
    val plan = df.queryExecution.optimizedPlan
    val persisted = plan.collectLeaves().collect {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE => lr.rdd.id
    }
    if (persisted.isEmpty) None
    else {
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      val found = persisted.map(id => infos.find(_.id == id))
      Some((found.map(_.fold(BigInt(0))(i => BigInt(i.memSize) + BigInt(i.diskSize))).sum,
        narrows(plan) && found.forall(_.exists(i => i.numCachedPartitions == i.numPartitions))))
    }
  }

  private def narrows(plan: LogicalPlan): Boolean = plan match {
    case Project(list, child) =>
      list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } && narrows(child)
    case Filter(_, child) => narrows(child)
    case u: Union => u.children.forall(narrows)
    case lr: LogicalRDD => lr.rdd.getStorageLevel != StorageLevel.NONE
    case _ => false
  }
}
