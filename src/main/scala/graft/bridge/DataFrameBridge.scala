package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal accessor for the (`private[sql]`)
  * `SparkSession.internalCreateDataFrame`: wraps an `RDD[InternalRow]`
  * as a DataFrame WITHOUT the external-Row codec that
  * `createDataFrame(RDD[Row], schema)` inserts (a per-row, per-field
  * catalyst converter projection on every read). Graft's internal
  * materializations ([[graft.core.Materialize.persistInternal]]) round
  * a frame through a persisted RDD purely as a storage boundary — the
  * rows never leave Tungsten format, so paying the external codec both
  * directions is pure overhead. Same pattern Spark itself uses inside
  * `Dataset.checkpoint`/`localCheckpoint`.
  *
  * Caller contract: the rows must be OWNED copies (`_.copy()` before
  * persist) — plan output reuses per-partition row buffers, and
  * persisting uncopied rows caches one mutated buffer N times.
  */
object DataFrameBridge {
  def internalCreateDataFrame(spark: SparkSession,
      rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark match {
      case classic: org.apache.spark.sql.classic.SparkSession =>
        classic.internalCreateDataFrame(rdd, schema)
      case other =>
        // fail with a routable message, not a ClassCastException deep
        // inside an operator: a Connect (or other non-classic) session
        // has no driver-side RDD layer to materialize into
        throw new UnsupportedOperationException(
          "graft internal materialization (persistInternal/withRowId) " +
            "requires a classic SparkSession with a driver-side RDD " +
            s"layer; got ${other.getClass.getName} (Spark Connect " +
            "sessions cannot host graft-owned persists)")
    }

  /** A frame over a graft logical node (`private[sql]` `Dataset.ofRows`). */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame = spark match {
    case classic: org.apache.spark.sql.classic.SparkSession =>
      org.apache.spark.sql.classic.Dataset.ofRows(classic, plan)
    case other => throw new UnsupportedOperationException(
      s"graft logical operators need a classic SparkSession; got ${other.getClass.getName}")
  }
}
