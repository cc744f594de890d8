package graft

import graft.core.KnnParams
import graft.ml.{KnnClassifier, KnnClassifierModel}
import graft.operators.Knn
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The MLlib `Estimator`/`Model` veneer (round-13 directive #3: the
  * reference's declared approach is "MLlib + custom transformers", so
  * the engine's KNN must run INSIDE a real `Pipeline` — the q37
  * `VectorAssembler` surface feeding the q10 classify surface — with
  * `MLWritable` persistence that round-trips row-for-row).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic synth with NO distance ties: every series is a
    * distinct point on a noisy two-class manifold, so the predicted
    * label is independent of internal id assignment and the
    * wrapper-vs-operator comparison is exact.
    */
  private def synthWide(n: Int, offset: Int): DataFrame =
    spark.range(n).select(
      (col("id") + offset).as("key"),
      (col("id") % 2).cast("double").as("label"),
      (col("id") % 2 * 100 + pmod(col("id") * 37, lit(19))).cast("double").as("f1"),
      (col("id") % 2 * 100 + pmod(col("id") * 53, lit(23))).cast("double").as("f2"),
      (col("id") % 2 * 100 + pmod(col("id") * 71, lit(29)) / lit(7.0)).as("f3"))

  private val p = KnnParams(k = 5, distance = "euclidean",
    excludeZeroDistance = false)

  /** The operator-level reference run: same features, explicit ids. */
  private def directPredictions(train: DataFrame, test: DataFrame): Map[Long, Double] = {
    val tr = train.select(col("key").as("train_id"),
      array(col("f1"), col("f2"), col("f3")).as("train_series"), col("label"))
    val te = test.select(col("key").as("test_id"),
      array(col("f1"), col("f2"), col("f3")).as("test_series"))
    Knn.classify(tr, te, p).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def collectPreds(df: DataFrame): Map[Long, Double] =
    df.select("key", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def rmTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  test("KnnClassifier inside a Pipeline with VectorAssembler matches " +
      "Knn.classify row-for-row") {
    val train = synthWide(120, 0)
    val test = synthWide(40, 1000)
    val want = directPredictions(train, test)

    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("f1", "f2", "f3")).setOutputCol("features"),
      new KnnClassifier()
        .setK(5).setDistance("euclidean").setExcludeZeroDistance(false)))
    val model = pipeline.fit(train)
    val out = model.transform(test)

    // transform preserves every input column and appends prediction
    assert(out.columns.toSeq ===
      (synthWide(1, 0).columns.toSeq :+ "features") :+ "prediction")
    val got = collectPreds(out)
    assert(got.size === 40)
    assert(got === want, "pipeline predictions must equal the operator's")
    // sanity: the manifold is learnable — predictions equal true labels
    assert(got.forall { case (k, v) => v === (k % 2).toDouble })
  }

  test("PipelineModel save/load round-trips and predicts identically") {
    val train = synthWide(120, 0)
    val test = synthWide(40, 1000)
    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("f1", "f2", "f3")).setOutputCol("features"),
      new KnnClassifier()
        .setK(3).setDistance("manhattan").setExcludeZeroDistance(false)))
    val model = pipeline.fit(train)
    // the fitted train side measures small, so the pair join broadcasts
    // it — before the save and after the load alike
    val out = model.transform(test)
    assertPairPlan(out, "broadcast")
    val want = collectPreds(out)

    val dir = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    try {
      model.write.overwrite().save(dir)
      val loaded = PipelineModel.load(dir)
      val knn = loaded.stages.last.asInstanceOf[KnnClassifierModel]
      assert(knn.getOrDefault(knn.k) === 3)
      assert(knn.getOrDefault(knn.distance) === "manhattan")
      assert(knn.getOrDefault(knn.excludeZeroDistance) === false)
      val loadedOut = loaded.transform(test)
      assertPairPlan(loadedOut, "broadcast")
      val got = collectPreds(loadedOut)
      assert(got === want, "a loaded pipeline must predict row-for-row " +
        "identically (train ids round-trip through the parquet)")
    } finally rmTree(dir)
  }

  test("array featuresCol path (no assembler) + estimator save/load") {
    val train = synthWide(100, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val test = synthWide(30, 500)
      .select(col("key"),
        array(col("f1"), col("f2"), col("f3")).as("series"))

    val est = new KnnClassifier().setK(1).setDistance("sqdist")
      .setExcludeZeroDistance(false)
      .setFeaturesCol("series").setPredictionCol("pred")
    val dir = java.nio.file.Files.createTempDirectory("graft_knnc_est").toString
    try {
      est.write.overwrite().save(dir)
      val loadedEst = KnnClassifier.load(dir)
      assert(loadedEst.getOrDefault(loadedEst.distance) === "sqdist")
      assert(loadedEst.getOrDefault(loadedEst.featuresCol) === "series")
      val out = loadedEst.fit(train).transform(test)
      val got = out.select("key", "pred").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size === 30)
      assert(got.forall { case (k, v) => v === (k % 2).toDouble })
    } finally rmTree(dir)
  }

  test("schema validation: missing/mistyped features, existing output col") {
    val est = new KnnClassifier()
    val noFeatures = Seq((1L, 1.0)).toDF("key", "label")
    intercept[Exception] { est.fit(noFeatures) }
    val wrongType = Seq((1L, "abc", 1.0)).toDF("key", "features", "label")
    intercept[IllegalArgumentException] { est.fit(wrongType) }
    val clash = Seq((Array(1.0), 1.0, 0.0)).toDF("features", "label", "prediction")
    intercept[IllegalArgumentException] { est.fit(clash) }
  }

  test("transform join-back is pinned sort-merge and fit materializes " +
      "the train set") {
    val model = new KnnClassifier().setK(1).setFeaturesCol("series")
      .setExcludeZeroDistance(false)
      .fit(synthWide(50, 0).select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series")))
    // fit's localCheckpoint is the broadcast planner's measured-size
    // source AND the id freeze — a lazy/unpersisted train silently
    // reverts the strategy decision to Catalyst's lying LogicalRDD stats
    val persisted = model.train.queryExecution.analyzed.collectLeaves().exists {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }
    assert(persisted, "fit must eagerly materialize the canonicalized train set")
    val out = model.transform(synthWide(20, 500)
      .select(col("key"), array(col("f1"), col("f2"), col("f3")).as("series")))
    out.collect() // finalize the adaptive plan before inspecting it
    // flatten the final adaptive tree: executed stages appear as
    // QueryStageExec LEAVES whose wrapped plan a plain collect() never
    // descends into (the withRowId guard's AQE detection gap, measured
    // in IngestSpec)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n } ++ p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }.flatMap(flatten)
    // the join-back joins two O(|input|) LogicalRDD-rooted frames with
    // untrustworthy size estimates; the merge hint must survive AQE
    // re-planning (the r12 build-side audit class: an unhinted join here
    // lets Catalyst build-broadcast an arbitrarily large side)
    val joinBack = flatten(out.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(
          _.name == "__graft_knn_test_id")) => j
    }
    assert(joinBack.nonEmpty,
      "the prediction join-back must plan as the hinted sort-merge join")
    model.release()
  }

  test("idCol path matches the internal-id path row-for-row, skips the " +
      "per-call input materialization, and drops the RDD round-trip " +
      "(round-14 directive #2)") {
    val train = synthWide(100, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    // input DOWNSTREAM OF A SHUFFLE: the shape where the internal-id
    // path must persist the whole input (unstable lineage) — exactly
    // the cost a caller with a natural unique key shouldn't pay
    val input = synthWide(60, 500).repartition(7)
      .select(col("key"), array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(3).setFeaturesCol("series")
      .setExcludeZeroDistance(false).fit(train)

    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n } ++ p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }.flatMap(flatten)
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      flatten(p).count {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
        case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => true
        case _ => false
      }

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val modelWithId = model.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setIdCol("key")
    val outId = modelWithId.transform(input)
    val gotId = collectPreds(outId)
    val persistedAfterId = spark.sparkContext.getPersistentRDDs.keySet
    assert(persistedAfterId === persistedBefore,
      "the idCol path must not materialize the input (no new persisted RDDs)")
    assert(outId.columns.toSeq === input.columns.toSeq :+ "prediction",
      "idCol path must preserve input column order")
    // no internal row-id machinery anywhere in the executed plan
    assert(!flatten(outId.queryExecution.executedPlan)
      .exists(_.toString.contains("__graft_knn_test_id")),
      "idCol path must not reference the internal row id")

    val outDefault = model.transform(input)
    val gotDefault = collectPreds(outDefault)
    val persistedAfterDefault = spark.sparkContext.getPersistentRDDs.keySet
    assert(persistedAfterDefault !== persistedBefore,
      "the internal-id path on an unstable input persists per call — " +
        "the cost idCol exists to avoid")
    assert(gotId === gotDefault,
      "both correlation paths must predict identically")
    assert(gotId.size === 60)

    // the RDD round-trip is gone: in the idCol plan the ONLY RDD scans
    // are the model's checkpointed train side — the input subtree stays
    // declarative (codegen, pushdown), where the internal-id path scans
    // the input as an opaque ExistingRDD on both of its references
    def rddScans(p: org.apache.spark.sql.execution.SparkPlan): Int =
      flatten(p).count(_.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    val scansId = rddScans(outId.queryExecution.executedPlan)
    val scansDefault = rddScans(outDefault.queryExecution.executedPlan)
    assert(scansId < scansDefault,
      s"idCol path must drop the input's RDD scans (got $scansId vs $scansDefault)")
    // exchange counts, recorded not gated: the idCol path re-plans the
    // input's own exchanges once per reference (input evaluated twice —
    // classification + join-back — instead of materialized once; cache
    // the input if its upstream is expensive), while the internal-id
    // path pays the persist instead. Both are O(|input|) shuffles.
    info(s"exchanges: idCol=${exchanges(outId.queryExecution.executedPlan)} " +
      s"internal=${exchanges(outDefault.queryExecution.executedPlan)}; " +
      s"rdd scans: idCol=$scansId internal=$scansDefault")
    // the INFERENCE-SCALE shape: a stable (Range/file-scan-rooted)
    // input, where the internal-id path already skips its persist — the
    // idCol path must still strictly drop the RDD round-trip and plan
    // no more exchanges (the input subtree has no exchange of its own
    // to re-plan per reference)
    val stableInput = synthWide(60, 500)
      .select(col("key"), array(col("f1"), col("f2"), col("f3")).as("series"))
    val outIdStable = modelWithId.transform(stableInput)
    val outDefStable = model.transform(stableInput)
    assert(collectPreds(outIdStable) === collectPreds(outDefStable))
    // the quantity idCol must not inflate: the planner-inserted
    // (ENSURE_REQUIREMENTS) exchanges — join-back + vote machinery.
    // Plain `exchanges` also counts the pair operator's DELIBERATE
    // small-input spread (RoundRobinPartitioning REPARTITION_BY_NUM),
    // which appears in the idCol plan because the declarative test
    // frame arrives narrow where the internal path's RDD scan is
    // already wide — an O(|test|) slim-row widening knob, not join cost
    def erExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      flatten(p).count {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          s.shuffleOrigin ==
            org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
        case _ => false
      }
    val exIdS = erExchanges(outIdStable.queryExecution.executedPlan)
    val exDefS = erExchanges(outDefStable.queryExecution.executedPlan)
    assert(exIdS <= exDefS,
      s"on a stable input the idCol path must not add planner exchanges " +
        s"(got $exIdS vs $exDefS)")
    assert(rddScans(outIdStable.queryExecution.executedPlan) <
      rddScans(outDefStable.queryExecution.executedPlan),
      "idCol must drop the RDD round-trip on the stable shape too")
    info(s"stable input: ENSURE_REQUIREMENTS exchanges idCol=$exIdS " +
      s"internal=$exDefS; total " +
      s"idCol=${exchanges(outIdStable.queryExecution.executedPlan)} " +
      s"internal=${exchanges(outDefStable.queryExecution.executedPlan)}")

    // the idCol param rides the standard metadata format: a loaded
    // model must keep the declarative correlation path
    val dir = java.nio.file.Files.createTempDirectory("graft_knnc_idcol").toString
    try {
      modelWithId.write.overwrite().save(dir)
      val loaded = KnnClassifierModel.load(dir)
      assert(loaded.getOrDefault(loaded.idCol) === "key",
        "idCol must round-trip through save/load")
      assert(collectPreds(loaded.transform(input)) === gotId)
    } finally rmTree(dir)
    // free the internal-id transform's per-call persist (r16: it lives
    // on the transform result's own lineage, so release THROUGH that
    // result — a fresh withRowId over the input no longer shares it)
    graft.core.Materialize.releaseOwned(outDefault)
    graft.core.Materialize.releaseOwned(outDefStable)
    graft.ingest.SeriesIngest.resetExchangeWarning()
    model.release()
  }

  test("transform on a streaming input fails fast with a routable " +
      "message (round-14 directive #6)") {
    val train = synthWide(30, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(1).setFeaturesCol("series")
      .setExcludeZeroDistance(false).fit(train)
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .select(col("value").as("key"),
        array(col("value").cast("double")).as("series"))
    val e = intercept[UnsupportedOperationException] {
      model.transform(stream)
    }
    assert(e.getMessage.contains("StreamingClassify.classifyStream1NN"),
      s"the error must route to the streaming surface, got: ${e.getMessage}")
    model.release()
  }

  test("validateIdCol round-trips save/load; releaseOwned(result) keeps the checkpoint") {
    val train = synthWide(80, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(3).setFeaturesCol("series")
      .setExcludeZeroDistance(false).fit(train)
    // input downstream of a shuffle: the internal-id path persists it
    // (graft-owned) once per call
    val input = synthWide(40, 500).repartition(3)
      .select(col("key"), array(col("f1"), col("f2"), col("f3")).as("series"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = model.transform(input)
    val want = collectPreds(out)
    assert(want.size === 40)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore)
      .nonEmpty, "test premise: the internal-id path persists this input")
    // releaseOwned frees ONLY the graft-owned input persist — NOT the
    // model's localCheckpointed train set, which sits in the same result
    // lineage and has no lineage to recompute from (releaseCheckpoint
    // on this frame would kill the model — the round-16 finding that
    // split the two APIs)
    graft.core.Materialize.releaseOwned(out)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore)
      .isEmpty, "releaseOwned(result) must free the transform's persist")
    assert(collectPreds(out) === want,
      "a released result must recompute, not fail — and the model's " +
        "train checkpoint must have survived the release")
    // validateIdCol rides MLWriter/MLReader for real: an in-memory
    // getOrDefault check alone would miss a save/load regression (r16
    // advisory) — write a model with it set, re-read it, and predict
    // with the loaded instance
    val dir = java.nio.file.Files.createTempDirectory("graft_knnc_validate").toString
    try {
      model.copy(org.apache.spark.ml.param.ParamMap.empty)
        .setIdCol("key").setValidateIdCol(true)
        .write.overwrite().save(dir)
      val loaded = KnnClassifierModel.load(dir)
      assert(loaded.getOrDefault(loaded.validateIdCol) === true,
        "validateIdCol must round-trip through save/load — a session " +
          "conf would NOT travel with a saved model, which is why it " +
          "is a Param (r16 verdict nit)")
      assert(collectPreds(loaded.transform(input)) === want,
        "a loaded model with idCol+validateIdCol predicts identically")
      val dup = Seq((7L, Array(0.0, 0.0, 0.0)), (7L, Array(1.0, 1.0, 1.0)))
        .toDF("key", "series")
      val e = intercept[IllegalArgumentException] { loaded.transform(dup) }
      assert(e.getMessage.contains("not unique"))
    } finally rmTree(dir)
    graft.ingest.SeriesIngest.resetExchangeWarning()
    model.release()
  }

  test("loads a model saved with the retired strategy and cacheInput params") {
    val train = synthWide(60, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val test = synthWide(20, 500)
      .select(col("key"), array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(3).setFeaturesCol("series")
      .setExcludeZeroDistance(false).fit(train)
    val want = collectPreds(model.transform(test))
    val dir = java.nio.file.Files.createTempDirectory("graft_knnc_retired").toString
    try {
      model.write.overwrite().save(dir)
      // rewrite the metadata as an older release wrote it: every
      // default lands in defaultParamMap, and a caller could have set
      // both knobs explicitly
      val meta = new java.io.File(dir, "metadata")
      def inject(json: String, key: String, entries: String): String = {
        val open = s""""$key":{"""
        assert(json.contains(open), s"$key missing from $json")
        val at = json.indexOf(open) + open.length
        json.substring(0, at) + entries +
          (if (json.charAt(at) == '}') "" else ",") + json.substring(at)
      }
      val parts = meta.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      parts.foreach { f =>
        val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val old = inject(inject(json, "paramMap", """"strategy":"cartesian","cacheInput":true"""),
          "defaultParamMap", """"strategy":"auto","cacheInput":false""")
        java.nio.file.Files.write(f.toPath, old.getBytes("UTF-8"))
      }
      // the edited files no longer match their checksums
      meta.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
      val loaded = KnnClassifierModel.load(dir)
      assert(!loaded.hasParam("strategy") && !loaded.hasParam("cacheInput"))
      assert(loaded.getOrDefault(loaded.k) === 3)
      assert(collectPreds(loaded.transform(test)) === want)
    } finally rmTree(dir)
    model.release()
  }

  test("idCol contract: duplicate ids fail loudly under validateIdCol, " +
      "null ids surface with null predictions (round-15 advisory)") {
    val train = synthWide(50, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(1).setFeaturesCol("series")
      .setExcludeZeroDistance(false).setIdCol("key").fit(train)
    // null id: classified into the merged null vote group, but the
    // join-back equality is null-rejecting -> the row surfaces with a
    // NULL prediction (documented contract)
    val withNull = Seq(
      (java.lang.Long.valueOf(1L), Array(0.0, 0.0, 0.0)),
      (null.asInstanceOf[java.lang.Long], Array(1.0, 1.0, 1.0))
    ).toDF("key", "series")
    val rows = model.transform(withNull).select("key", "prediction").collect()
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(1),
      "a null-id row must surface with a null prediction")
    assert(rows.find(!_.isNullAt(0)).exists(!_.isNullAt(1)))
    // duplicate ids: silently wrong without the check (distinct rows
    // merge into one vote group) — validateIdCol turns it loud
    val dup = Seq(
      (7L, Array(0.0, 0.0, 0.0)),
      (7L, Array(1.0, 1.0, 1.0))).toDF("key", "series")
    val validating = model.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setValidateIdCol(true)
    val e = intercept[IllegalArgumentException] { validating.transform(dup) }
    assert(e.getMessage.contains("not unique"),
      s"the failure must name the breach, got: ${e.getMessage}")
    // unique + non-null input passes the validator untouched
    assert(collectPreds(validating.transform(
      Seq((1L, Array(0.0, 0.0, 0.0)), (2L, Array(1.0, 1.0, 1.0)))
        .toDF("key", "series"))).size === 2)
    // duplicate names among the other input columns: both correlation
    // paths keep the input's columns, in order, plus the prediction
    val dupColName = Seq((1L, Array(0.0, 0.0, 0.0), 1, 2))
      .toDF("key", "series", "extra", "extra")
    for (m <- Seq(model, model.copy(org.apache.spark.ml.param.ParamMap.empty)
        .setIdCol(""))) {
      val out = m.transform(dupColName)
      assert(out.columns.toSeq === Seq("key", "series", "extra", "extra", "prediction"))
      val row = out.collect().head
      assert(row.getLong(0) === 1L && !row.isNullAt(4), s"idCol='${m.getOrDefault(m.idCol)}'")
    }
    model.release()
  }

  test("model transform keeps unpredictable rows with a null prediction " +
      "and release() frees the checkpoint") {
    val train = synthWide(50, 0)
      .select(col("key"), col("label"),
        array(col("f1"), col("f2"), col("f3")).as("series"))
    val model = new KnnClassifier().setK(1).setFeaturesCol("series")
      .setExcludeZeroDistance(false).fit(train)
    // a null series produces no candidate pairs -> no prediction row;
    // the left join-back must keep the input row with prediction null
    val test = Seq(
      (1L, Array(0.0, 0.0, 0.0)),
      (2L, null.asInstanceOf[Array[Double]])).toDF("key", "series")
    val rows = model.transform(test).select("key", "prediction")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows(1L).isDefined)
    assert(rows(2L).isEmpty, "null-series row must survive with null prediction")
    model.release()
  }

  // ---- a driver-local request: measured size, one task, broadcast join-back

  /** 40 labelled series as the raw text `SeriesIngest.loadLabeledSeries`
    * reads, and local requests that are train rows plus a small offset.
    */
  private def labeledText(): DataFrame = {
    val x = (0 until 40).map(i => (0 until 16)
      .map(t => f"${math.sin(t * 0.3 + i % 3) + i * 0.001}%.6f").mkString(" "))
    val y = (0 until 40).map(i => (i % 3 + 1).toString)
    graft.ingest.SeriesIngest.loadLabeledSeries(x.toDF("value"), y.toDF("value"))
  }

  private def request(rows: Seq[(java.lang.Long, Array[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, a) =>
      org.apache.spark.sql.Row(i, Option(a).map(_.toSeq).orNull) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("series",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))

  private def initialPlan(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def series(i: Int): Array[Double] =
    Array.tabulate(16)(t => math.sin(t * 0.3 + i % 3) + i * 0.001 + 1e-4)

  test("a model fitted from loadLabeledSeries output measures as fitting: " +
      "a local request runs as one candidate task, with no exchange") {
    val model = new KnnClassifier().setK(1).setDistance("dtw").setBand(4)
      .setLbPruning(true).setFeaturesCol("series").setIdCol("id").fit(labeledText())
    try {
      // the checkpoint carries the position join's size product, far
      // past any broadcast cap; its measured size is a few KB
      assert(model.train.queryExecution.optimizedPlan.stats.sizeInBytes > (BigInt(1) << 40))
      val out = model.transform(request((0 until 4).map(i => (Long.box(i * 10L), series(i * 10)))))
      assert(candidateBuildSides(out) === Seq("none"), initialPlan(out).toString)
      assert(!initialPlan(out).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]), initialPlan(out).toString)
      assert(out.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap ===
        (0 until 4).map(i => (i * 10L) -> (i * 10 % 3 + 1).toDouble).toMap)
    } finally model.release()
  }

  test("a partially evicted persist falls back to the size estimate") {
    // the frame the classifier checkpoints, twice: the complete
    // measurement fits and the local test side takes one task; with one
    // of 4 partitions evicted the persist under-measures, so the
    // estimate (the join's size product) rules and the train side
    // streams past the broadcast test side
    val train = labeledText().select(col("row_id").as("train_id"),
      col("series").as("train_series"), col("label")).repartition(4)
    val full = train.localCheckpoint()
    val partial = train.localCheckpoint()
    val rdd = partial.queryExecution.analyzed.collectLeaves().collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.get
    org.apache.spark.storage.GraftBlocks.evict(rdd.id, 0)
    val test = request(Seq((Long.box(1L), series(1)))).select(
      col("id").as("test_id"), col("series").as("test_series"))
    val p = KnnParams(distance = "dtw", band = 4, lbPruning = true)
    try {
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).get
      assert(info.numCachedPartitions === 3 && info.numPartitions === 4)
      assert(graft.core.Materialize.storage(partial).exists(!_._2))
      assert(graft.core.Materialize.storage(full).exists(_._2))
      assert(candidateBuildSides(Knn.classify(full, test, p)) === Seq("none"))
      assert(candidateBuildSides(Knn.classify(partial, test, p)) === Seq("test"))
    } finally {
      graft.core.Materialize.releaseCheckpoint(full)
      graft.core.Materialize.releaseCheckpoint(partial)
    }
  }

  test("a join or an explode over complete persists falls back to the size estimate") {
    // two complete checkpoints: 40 series, and 3 labels. Their cross join
    // is a 120-row train side that measures as the two persists' sum,
    // and an explode has as many rows as the arrays have elements
    val ck = labeledText().select(col("row_id").as("train_id"), col("series").as("train_series"))
      .localCheckpoint()
    val labels = Seq(1.0, 2.0, 3.0).toDF("label").localCheckpoint()
    val crossed = ck.crossJoin(labels)
    val exploded = ck.select(col("train_id"), explode(col("train_series")).as("x"))
    val test = request(Seq((Long.box(1L), series(1)))).select(
      col("id").as("test_id"), col("series").as("test_series"))
    val p = KnnParams(distance = "dtw", band = 4, lbPruning = true)
    try {
      for (df <- Seq(ck, labels)) assert(graft.core.Materialize.storage(df).exists(_._2))
      for (df <- Seq(crossed, exploded)) assert(graft.core.Materialize.storage(df).exists(!_._2))
      // a cap the measured sum fits and the estimate does not: the train
      // side is past it, and the local test side is broadcast
      val measured = graft.core.Materialize.storage(crossed).get._1
      assert(BigInt(crossed.queryExecution.optimizedPlan.stats.sizeInBytes.toString) > measured)
      spark.conf.set("spark.graft.knn.broadcastFloor", s"${measured}b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", s"${measured}b")
      try assert(candidateBuildSides(Knn.classify(crossed, test, p)) === Seq("test"))
      finally {
        spark.conf.unset("spark.graft.knn.broadcastFloor")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally {
      graft.core.Materialize.releaseCheckpoint(ck)
      graft.core.Materialize.releaseCheckpoint(labels)
    }
  }

  test("a local input joins predictions back by broadcast: every row, null " +
      "series and null ids, column order and duplicate names kept; a " +
      "Parquet input and a local input past the request bound keep the merge join") {
    val model = new KnnClassifier().setK(1).setDistance("dtw").setBand(4)
      .setLbPruning(true).setFeaturesCol("series").fit(labeledText())
    def joinBack(df: DataFrame) = {
      df.collect()
      def flat(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n } ++ p.collect {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        }.flatMap(flat)
      flat(df.queryExecution.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter &&
            j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight => "broadcast"
        case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "merge"
      }
    }
    try {
      val input = request(Seq((Long.box(3L), series(3)), (Long.box(4L), null),
        (null, series(5)), (Long.box(6L), series(6))))
        .select(col("id"), lit("a").as("tag"), col("series"), lit("b").as("tag"))
      val want = Seq((Some(3L), Some(1.0)), (Some(4L), None), (None, Some(3.0)), (Some(6L), Some(1.0)))
      def rows(df: DataFrame) = df.collect().map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Double]))).toSeq
      // the internal row id and the caller's idCol: a null id is never
      // matched, so it keeps its row with a null prediction
      for ((m, nullId) <- Seq(model -> Some(3.0), model.copy(
          org.apache.spark.ml.param.ParamMap.empty).setIdCol("id") -> None)) {
        val out = m.transform(input)
        assert(out.columns.toSeq === Seq("id", "tag", "series", "tag", "prediction"))
        assert(rows(out).sortBy(_._1.getOrElse(-1L)) ===
          want.map { case (i, l) => (i, if (i.isEmpty) nullId else l) }.sortBy(_._1.getOrElse(-1L)))
        assert(joinBack(out) === Seq("broadcast"))
      }
      // a local input past the request bound keeps the merge join
      val wide = request((0 until 129).map(i => (Long.box(i.toLong), series(i))))
      assert(model.transform(wide).count() === 129)
      assert(joinBack(model.transform(wide)) === Seq("merge"))
      val dir = java.nio.file.Files.createTempDirectory("graft_knnc_parquet").toString
      try {
        input.select(col("id"), col("series")).write.mode("overwrite").parquet(dir)
        val out = model.transform(spark.read.parquet(dir))
        assert(out.count() === 4)
        assert(joinBack(out) === Seq("merge"))
      } finally rmTree(dir)
    } finally model.release()
  }
}
