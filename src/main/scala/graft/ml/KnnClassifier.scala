package graft.ml

import graft.core.KnnParams
import graft.operators.Knn
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.graft.MlReadWriteBridge
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Shared Params for [[KnnClassifier]] and [[KnnClassifierModel]] — the
  * `org.apache.spark.ml` veneer over [[graft.core.KnnParams]]
  * (SURVEY §7.1's "KnnClassifier (Estimator-ish)"; the reference
  * declares its approach as "MLlib + custom transformers", so the
  * engine's KNN should be usable INSIDE an MLlib `Pipeline` next to
  * `VectorAssembler`, not only through [[graft.operators.Knn]]).
  *
  * Every knob mirrors a [[KnnParams]] field (same names, same
  * defaults); as there, no Param picks the pair-join plan — [[Knn]]
  * chooses it from measured sizes. `featuresCol` accepts BOTH an MLlib
  * `Vector` (the `VectorAssembler` output — the q37 surface) and an
  * `array` of any numeric type (the engine's native series form — the
  * q10 surface).
  */
private[ml] trait KnnClassifierParams extends Params {

  final val k = new IntParam(this, "k", "neighbor count (>= 1)",
    ParamValidators.gtEq(1))
  final val distance = new Param[String](this, "distance",
    "euclidean | sqdist | manhattan | dtw | fastdtw | cosine",
    ParamValidators.inArray(Array(
      "euclidean", "sqdist", "manhattan", "dtw", "fastdtw", "cosine")))
  final val band = new IntParam(this, "band",
    "Sakoe-Chiba band for exact DTW; -1 = unconstrained",
    (v: Int) => v >= -1)
  final val radius = new IntParam(this, "radius", "FastDTW radius (>= 0)",
    ParamValidators.gtEq(0))
  final val excludeZeroDistance = new BooleanParam(this, "excludeZeroDistance",
    "drop zero-distance (self-match) neighbors")
  final val lbPruning = new BooleanParam(this, "lbPruning",
    "PAA-ranked candidate cascade for dtw/fastdtw (the scale path): a " +
      "ranker, not a lower bound, so results equal exact KNN only when " +
      "candidateFactor * k covers the true neighbours")
  final val candidateFactor = new IntParam(this, "candidateFactor",
    "pruned candidates kept per test point = factor * k",
    ParamValidators.gtEq(1))
  final val featuresCol = new Param[String](this, "featuresCol",
    "features column: MLlib Vector or array of numerics")
  final val labelCol = new Param[String](this, "labelCol",
    "label column (cast to double)")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output prediction column (double)")
  final val idCol = new Param[String](this, "idCol",
    "optional UNIQUE id column in transform input; when set, transform " +
      "correlates predictions through it directly — no internal row-id " +
      "materialization (empty = assign internal row ids). Contract: ids " +
      "must be unique and non-null — rows sharing an id are merged into " +
      "ONE vote group (silently wrong predictions), rows with a null id " +
      "are never matched by the join-back (null prediction); set " +
      "validateIdCol to assert uniqueness per transform")
  final val validateIdCol = new BooleanParam(this, "validateIdCol",
    "assert the idCol contract per transform (throw on duplicate ids, " +
      "warn on null ids) at the cost of one extra aggregate over the " +
      "input. A Param, so the assertion persists through " +
      "MLWriter/MLReader with the model like idCol does (an inference " +
      "service loading a saved model keeps it). Ignored without idCol")

  setDefault(k -> 1, distance -> "euclidean",
    band -> -1, radius -> 1, excludeZeroDistance -> true,
    lbPruning -> false, candidateFactor -> 4,
    featuresCol -> "features", labelCol -> "label",
    predictionCol -> "prediction", idCol -> "", validateIdCol -> false)

  private[ml] def knnParams: KnnParams = KnnParams(
    k = $(k), distance = $(distance),
    excludeZeroDistance = $(excludeZeroDistance), radius = $(radius),
    band = $(band), lbPruning = $(lbPruning),
    candidateFactor = $(candidateFactor))

  /** `featuresCol` as `array<double>` — `vector_to_array` for the
    * MLlib `Vector` form, a cast for the native array form.
    */
  private[ml] def seriesColumn(schema: StructType): Column = {
    val dt = schema($(featuresCol)).dataType
    dt match {
      case v if v == SQLDataTypes.VectorType =>
        vector_to_array(col($(featuresCol)))
      case ArrayType(_: NumericType, _) =>
        col($(featuresCol)).cast(ArrayType(DoubleType))
      case other => throw new IllegalArgumentException(
        s"featuresCol '${$(featuresCol)}' must be an MLlib Vector or an " +
          s"array of numerics, got ${other.catalogString}")
    }
  }

  private[ml] def validateAndTransformSchema(schema: StructType,
      fitting: Boolean): StructType = {
    seriesColumn(schema) // validates featuresCol presence + type
    if (fitting) {
      val lt = schema($(labelCol)).dataType
      require(lt.isInstanceOf[NumericType],
        s"labelCol '${$(labelCol)}' must be numeric, got ${lt.catalogString}")
    }
    if (!fitting && $(idCol).nonEmpty) {
      val it = schema($(idCol)).dataType // throws if the column is absent
      require(!it.isInstanceOf[MapType],
        s"idCol '${$(idCol)}' must be an equi-joinable type, got ${it.catalogString}")
    }
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column ${$(predictionCol)} already exists")
    StructType(schema.fields :+
      StructField($(predictionCol), DoubleType, nullable = true))
  }
}

/** KNN classification as an `org.apache.spark.ml.Estimator`, usable
  * inside a `Pipeline` (e.g. downstream of `VectorAssembler`). A lazy
  * learner: `fit` canonicalizes and MATERIALIZES the training set
  * (`localCheckpoint`) — there is no other training step — and
  * `transform` runs [[Knn.classify]] against it, so every scale
  * property of the underlying operator (measured-size broadcast
  * decision, prune cascade, partitioned-cartesian degrade) carries
  * over unchanged.
  *
  * Why fit materializes: train rows need a unique id for the
  * deterministic vote tie-break, assigned via
  * `monotonically_increasing_id` and FROZEN by the eager checkpoint —
  * a pure function of nothing but the fitted model from then on
  * (re-evaluating a nondeterministic id against live lineage on every
  * transform is the withRowId double-evaluation hazard class). The
  * checkpoint also gives the broadcast planner a MEASURED size
  * ([[graft.core.Materialize.storageBytes]]) instead of a lying
  * LogicalRDD estimate. Call [[KnnClassifierModel.release]] when done
  * with a model to free the blocks eagerly.
  *
  * Deployment constraint (`localCheckpoint` semantics): the fitted
  * training set lives ONLY as storage blocks on the executors that
  * computed it — lineage is truncated by design — so losing any of
  * those executors (preemption, dynamic-allocation scale-down, OOM
  * kill) makes the in-memory model permanently unusable, INCLUDING
  * `save()`; the failure is loud (missing block), never silent. For
  * cluster deployments: `save()` the model right after `fit` and serve
  * from `load` (the parquet under `path/data` is the durable form), or
  * keep executor allocation static for the model's lifetime
  * (`spark.dynamicAllocation.enabled=false`).
  */
class KnnClassifier(override val uid: String)
    extends Estimator[KnnClassifierModel] with KnnClassifierParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("graft_knnc"))

  def setK(value: Int): this.type = set(k, value)
  def setDistance(value: String): this.type = set(distance, value)
  def setBand(value: Int): this.type = set(band, value)
  def setRadius(value: Int): this.type = set(radius, value)
  def setExcludeZeroDistance(value: Boolean): this.type = set(excludeZeroDistance, value)
  def setLbPruning(value: Boolean): this.type = set(lbPruning, value)
  def setCandidateFactor(value: Int): this.type = set(candidateFactor, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setIdCol(value: String): this.type = set(idCol, value)
  def setValidateIdCol(value: Boolean): this.type = set(validateIdCol, value)

  override def fit(dataset: Dataset[_]): KnnClassifierModel = {
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val train = df
      .select(monotonically_increasing_id().as("train_id"),
        seriesColumn(df.schema).as("train_series"),
        col($(labelCol)).cast(DoubleType).as("label"))
      .localCheckpoint() // eager: ids frozen, size measured
    copyValues(new KnnClassifierModel(uid, train)).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, fitting = true)

  override def copy(extra: ParamMap): KnnClassifier = defaultCopy(extra)
}

object KnnClassifier extends DefaultParamsReadable[KnnClassifier] {
  override def load(path: String): KnnClassifier = super.load(path)
}

/** Fitted KNN model: the canonicalized, checkpointed training set plus
  * the params. `transform` appends `predictionCol` (majority-vote
  * label, [[Knn.classify]] semantics: votes desc, then best rank, then
  * smallest label) to the input, preserving every input column.
  *
  * Inference-scale knob: set `idCol` to a UNIQUE, NON-NULL key of the
  * transform input to correlate predictions through the caller's own
  * column — the input plan stays declarative (columnar scan, pushdown,
  * no RDD round-trip and no per-call input materialization). Duplicate
  * ids merge distinct rows into one vote group (wrong predictions);
  * null ids surface with a null prediction; `setValidateIdCol(true)`
  * (a Param — it persists with a saved model) asserts the contract per
  * transform. The input is referenced twice (classification +
  * join-back) and recomputes per reference — `cache()` it when its
  * upstream is expensive.
  * Without `idCol`, transform assigns an internal row id, which
  * materializes the input once per call when its lineage is not
  * provably re-evaluation-stable; in a long-lived session, free that
  * materialization eagerly with
  * `graft.core.Materialize.releaseOwned(result)` once the result
  * is consumed (it releases only graft-owned persists, and the frame
  * stays evaluable — it recomputes).
  *
  * Persistence ([[MLWritable]]): params via the standard metadata
  * format, the training set as parquet under `path/data` — the
  * ALSModel pattern for models that ARE a DataFrame. `load` re-reads
  * the parquet, so the frozen train ids round-trip exactly and a
  * loaded model predicts row-for-row identically.
  */
class KnnClassifierModel private[ml] (
    override val uid: String,
    private[graft] val train: DataFrame)
    extends Model[KnnClassifierModel] with KnnClassifierParams
    with MLWritable {

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setIdCol(value: String): this.type = set(idCol, value)
  def setValidateIdCol(value: Boolean): this.type = set(validateIdCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    // Fail fast with a routable message: the row-id path below calls
    // df.rdd, which on a streaming frame dies deep inside the ingest
    // layer with an opaque "Queries with streaming sources must be
    // executed with writeStream.start()" AnalysisException.
    if (dataset.isStreaming)
      throw new UnsupportedOperationException(
        "KnnClassifierModel.transform does not support streaming input; " +
          "use graft.streaming.StreamingClassify.classifyStream1NN " +
          "(stream-static broadcast KNN) on the streaming side")
    transformSchema(dataset.schema)
    val df = dataset.toDF()
    val userId = $(idCol).nonEmpty
    // The correlation key. A user-supplied UNIQUE id keeps the input
    // plan fully declarative — no RDD round-trip, no withRowId persist
    // (at inference scale the internal id materializes the WHOLE input
    // per transform call), columnar scan + pushdown preserved on the
    // join-back left side.
    // Otherwise withRowId (not a bare monotonic id): the id-annotated
    // frame is referenced TWICE below — once feeding classify, once as
    // the join-back left side — and withRowId's persist-before-count
    // makes both references read ONE materialization, so the ids they
    // see are identical even when the input lineage sits downstream of
    // a shuffle (the double-evaluation hazard class). On such an input
    // withRowId logs its once-per-JVM Exchange warning; here the id is
    // an EPHEMERAL correlation key dropped before the result surfaces,
    // so run-to-run id stability (what the warning protects) is not
    // required — only the within-evaluation consistency the persist
    // provides. (Provably re-evaluation-stable inputs — file-scan-rooted,
    // Exchange-free — skip the persist inside withRowId itself; both
    // references then recompute identically by construction.)
    val (frame, idName) =
      if (userId) (df, $(idCol))
      else (graft.ingest.SeriesIngest.withRowId(df, KnnClassifierModel.RowId),
        KnnClassifierModel.RowId)
    if (userId && $(validateIdCol)) validateIds(frame)
    val test = frame.select(col(idName).as("test_id"),
      seriesColumn(frame.schema).as("test_series"))
    val preds = Knn.classify(train, test, knnParams)
      .select(col("test_id").as(KnnClassifierModel.PredId),
        col("predicted_label").as($(predictionCol)))
    // merge hint: both sides are O(|input|) frames whose stats estimates
    // are untrustworthy (post-aggregate, LogicalRDD-rooted) — an
    // unhinted join lets Catalyst build-broadcast an arbitrarily large
    // side (the r12 build-side audit class). Sort-merge exchanges each
    // side once and replicates nothing. Left join: a row that produced
    // no prediction (e.g. all-null series, or a null user id — the
    // equality is null-rejecting) keeps its place with a null
    // prediction. An equality condition rather than a USING join keeps
    // the input's column order without selecting its columns by name,
    // which would fail on inputs with duplicate column names.
    val out = frame.hint("merge")
      .join(preds, col(idName) === col(KnnClassifierModel.PredId), "left")
      .drop(KnnClassifierModel.PredId)
    if (userId) out else out.drop(idName)
  }

  /** The idCol contract, checked with one aggregate over the input:
    * DUPLICATE ids are merged by [[Knn.classify]]'s per-test_id vote
    * group (distinct rows pool their neighbour candidates into one
    * top-k), producing silently WRONG predictions, so they throw; NULL
    * ids only lose their prediction, so they warn.
    */
  private def validateIds(frame: DataFrame): Unit = {
    val c = frame.agg(
      count(col($(idCol))).as("cnt"),
      count_distinct(col($(idCol))).as("dst"),
      count(lit(1)).as("total")).head()
    require(c.getLong(0) == c.getLong(1),
      s"idCol '${$(idCol)}' is not unique: ${c.getLong(0)} non-null " +
        s"rows over ${c.getLong(1)} distinct ids — duplicate ids " +
        "merge distinct rows into one vote group and produce wrong " +
        "predictions")
    if (c.getLong(2) > c.getLong(0))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"idCol '${$(idCol)}': ${c.getLong(2) - c.getLong(0)} rows " +
          "carry a null id and will surface with a null prediction")
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, fitting = false)

  override def copy(extra: ParamMap): KnnClassifierModel =
    copyValues(new KnnClassifierModel(uid, train), extra).setParent(parent)

  /** Free the checkpointed training blocks. The model (and anything
    * derived from its transforms) must not be used afterwards.
    */
  def release(): Unit = graft.core.Materialize.releaseCheckpoint(train)

  override def write: MLWriter = new KnnClassifierModel.Writer(this)
}

object KnnClassifierModel extends MLReadable[KnnClassifierModel] {

  private val className = classOf[KnnClassifierModel].getName

  // internal transform columns: the row id and the predictions' key
  private val RowId = "__graft_knn_test_id"
  private val PredId = "__graft_knn_pred_id"

  // Params of older releases: a model saved then carries them in its
  // metadata (every default is written), and loading must skip them
  private val RetiredParams = List("strategy", "cacheInput")

  private[ml] class Writer(instance: KnnClassifierModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      MlReadWriteBridge.saveMetadata(instance, path, sparkSession)
      instance.train.write.parquet(new Path(path, "data").toString)
    }
  }

  private class Reader extends MLReader[KnnClassifierModel] {
    override def load(path: String): KnnClassifierModel = {
      val uid = MlReadWriteBridge.loadUid(path, sparkSession, className)
      val data = sparkSession.read.parquet(new Path(path, "data").toString)
      val model = new KnnClassifierModel(uid, data)
      MlReadWriteBridge.loadAndSetParams(model, path, sparkSession, className,
        RetiredParams)
      model
    }
  }

  override def read: MLReader[KnnClassifierModel] = new Reader

  override def load(path: String): KnnClassifierModel = super.load(path)
}
