package org.apache.spark.ml.graft

import org.apache.spark.ml.param.Params
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter}
import org.apache.spark.sql.SparkSession

/** Accessors for the `private[ml]` persistence helpers, so graft's
  * Estimator/Model wrappers serialize metadata in the EXACT format
  * `Pipeline.load` expects (same bridge pattern as
  * [[org.apache.spark.sql.graft.RegistryBridge]]). Public-API
  * alternatives (`DefaultParamsWritable`) cover params-only stages; a
  * model that must also persist a DataFrame (graft's KNN model IS its
  * training set — the ALSModel precedent) needs the metadata half of
  * that machinery standalone.
  */
object MlReadWriteBridge {

  /** Write `path/metadata` (class, uid, params JSON) for `instance`. */
  def saveMetadata(instance: Params, path: String, spark: SparkSession): Unit =
    DefaultParamsWriter.saveMetadata(instance, path, spark)

  /** Read back the uid recorded in `path/metadata`, validating the
    * stored class name.
    */
  def loadUid(path: String, spark: SparkSession, expectedClassName: String): String =
    DefaultParamsReader.loadMetadata(path, spark, expectedClassName).uid

  /** Set every param recorded in `path/metadata` onto `instance`
    * (which must already carry the stored uid), except those named in
    * `skipParams`.
    */
  def loadAndSetParams(instance: Params, path: String, spark: SparkSession,
      expectedClassName: String, skipParams: List[String]): Unit =
    DefaultParamsReader.loadMetadata(path, spark, expectedClassName)
      .getAndSetParams(instance, Some(skipParams))
}
