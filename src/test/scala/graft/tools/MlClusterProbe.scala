package graft.tools

import graft.core.KnnParams
import graft.ml.{KnnClassifier, KnnClassifierModel}
import graft.operators.Knn
import org.apache.spark.SparkConf
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-JVM probe for the round-14 MLlib veneer ([[graft.ml.KnnClassifier]]):
  * PipelineSpec proves the wrapper single-JVM, and MINICLUSTER_r14
  * proves the 82-query surface multi-JVM — but the wrapper itself
  * (fit's `monotonically_increasing_id` + `localCheckpoint` train
  * canonicalization, transform's withRowId-annotated join-back, and the
  * `MlReadWriteBridge` persistence path) never crossed a process
  * boundary. Serialization, broadcast-lifecycle, and fetch-order bugs
  * exist only across JVMs, so the new code gets the same treatment as
  * the operators:
  *
  *  1. local[8] baseline: fit a Pipeline(VectorAssembler →
  *     KnnClassifier), save the PipelineModel, transform — canon of
  *     (key, prediction), checked against operator-level
  *     [[Knn.classify]] on the same tie-free manifold;
  *  2. two-hostname standalone cluster ([[org.apache.spark.deploy.GraftMiniCluster]],
  *     2 executor JVMs): LOAD the locally-saved model and transform
  *     (persistence written in one JVM, executed across others), then
  *     FIT a fresh pipeline on the cluster, save/load THAT, transform,
  *     and release() the fitted model;
  *  3. every canon must be bit-identical to the local baseline.
  *
  * Param shapes: the q37 surface (Vector features, euclidean k=5, the
  * broadcast plan its small train side takes) and the cartesian+DTW
  * shape (broadcasts disabled through
  * `spark.sql.autoBroadcastJoinThreshold=-1`; array plumbing through the
  * same wrapper), plus the idCol path on a plain and on a caller-cached
  * input. Every transform checks the pair join it planned. Tie-free by
  * construction (PipelineSpec's manifold), so the comparison is exact,
  * not order-free.
  *
  * Run: SPARK_DRIVER_MEM=16g sbt "Test/runMain graft.tools.MlClusterProbe"
  * Prints one PASS/FAIL line per probe; exits nonzero on any FAIL.
  */
object MlClusterProbe {

  private def synthWide(spark: SparkSession, n: Int, offset: Int): DataFrame =
    spark.range(n).select(
      (col("id") + offset).as("key"),
      (col("id") % 2).cast("double").as("label"),
      (col("id") % 2 * 100 + pmod(col("id") * 37, lit(19))).cast("double").as("f1"),
      (col("id") % 2 * 100 + pmod(col("id") * 53, lit(23))).cast("double").as("f2"),
      (col("id") % 2 * 100 + pmod(col("id") * 71, lit(29)) / lit(7.0)).as("f3"))

  private def canon(df: DataFrame): Seq[(Long, Double)] =
    df.select("key", "prediction").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq

  /** `cartesian`: run with broadcasts disabled, which plans the pair join
    * as a partitioned cartesian; otherwise the train side broadcasts.
    * `cached`: the caller `cache()`s the transform input.
    */
  private case class Shape(name: String, stage: () => KnnClassifier,
      cartesian: Boolean = false, cached: Boolean = false)
  private val shapes = Seq(
    Shape("euclid_k5_auto", () => new KnnClassifier()
      .setK(5).setDistance("euclidean").setExcludeZeroDistance(false)),
    Shape("dtw_k3_cartesian", () => new KnnClassifier()
      .setK(3).setDistance("dtw").setBand(2)
      .setExcludeZeroDistance(false), cartesian = true),
    // round-15: the user-key correlation path (no withRowId, declarative
    // join-back) — its join and param persistence must also hold across
    // process boundaries
    Shape("euclid_k5_idcol", () => new KnnClassifier()
      .setK(5).setDistance("euclidean").setExcludeZeroDistance(false)
      .setIdCol("key")),
    // a caller-cached input on the idCol path — executor-side block
    // distribution and the cached join-back must also hold across JVMs
    Shape("euclid_k5_idcol_cached", () => new KnnClassifier()
      .setK(5).setDistance("euclidean").setExcludeZeroDistance(false)
      .setIdCol("key"), cached = true))

  /** Runs `body` under the shape's confs. */
  private def planned[T](spark: SparkSession, shape: Shape)(body: => T): T =
    if (!shape.cartesian) body
    else {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

  /** Transforms the probe's test input with `model`, checking the pair
    * join planned: a CartesianProductExec for a cartesian shape, else a
    * BroadcastNestedLoopJoin.
    */
  private def transformCanon(spark: SparkSession, shape: Shape,
      model: PipelineModel): Seq[(Long, Double)] = planned(spark, shape) {
    val in = synthWide(spark, 200, 10000)
    val input = if (shape.cached) in.cache() else in
    val out = model.transform(input)
    val joins = out.queryExecution.sparkPlan.collect {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => "cartesian"
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => "broadcast"
    }
    val want = if (shape.cartesian) "cartesian" else "broadcast"
    require(joins.nonEmpty && joins.forall(_ == want),
      s"${shape.name}: expected the $want pair join, planned $joins")
    try canon(out) finally if (shape.cached) input.unpersist()
  }

  private def fitTransform(spark: SparkSession, shape: Shape,
      saveDir: String): Seq[(Long, Double)] = {
    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("f1", "f2", "f3")).setOutputCol("features"),
      shape.stage()))
    val model = pipeline.fit(synthWide(spark, 600, 0))
    model.write.overwrite().save(saveDir)
    val out = transformCanon(spark, shape, model)
    model.stages.last.asInstanceOf[KnnClassifierModel].release()
    out
  }

  private def loadTransform(spark: SparkSession, shape: Shape, dir: String): Seq[(Long, Double)] =
    transformCanon(spark, shape, PipelineModel.load(dir))

  def main(args: Array[String]): Unit = {
    var failed = List.empty[String]
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch {
        case e: Throwable =>
          println(s"[mlcluster] $name: EXCEPTION ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      println(s"[mlcluster] $name: ${if (pass) "PASS" else "FAIL"}")
      if (!pass) failed ::= name
    }

    def session(master: String, extra: SparkConf => SparkConf): SparkSession = {
      val b = SparkSession.builder().master(master)
        .config(extra(new SparkConf()))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
      val s = b.getOrCreate()
      graft.functions.GraftFunctions.register(s)
      s
    }

    val work = java.nio.file.Files.createTempDirectory("graft_mlcluster").toString

    // ---- phase 1: local[8] baseline + operator-level reference ----
    val local = session("local[8]", identity)
    local.sparkContext.setLogLevel("ERROR")
    val p = KnnParams(k = 5, distance = "euclidean", excludeZeroDistance = false)
    val want: Map[String, Seq[(Long, Double)]] = shapes.map { s =>
      s.name -> fitTransform(local, s, s"$work/local_${s.name}")
    }.toMap
    val tr = synthWide(local, 600, 0).select(col("key").as("train_id"),
      array(col("f1"), col("f2"), col("f3")).as("train_series"), col("label"))
    val te = synthWide(local, 200, 10000).select(col("key").as("test_id"),
      array(col("f1"), col("f2"), col("f3")).as("test_series"))
    val direct = Knn.classify(tr, te, p).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    check("local pipeline == Knn.classify (euclid_k5)") {
      want("euclid_k5_auto") == direct
    }
    local.stop()

    // ---- phase 2: the two-hostname standalone cluster ----
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(o => s"--add-opens $o=ALL-UNNAMED").mkString(" ")
    val masterUrl = org.apache.spark.deploy.GraftMiniCluster.start(
      new SparkConf(), Seq("runsc", "vm"), cores = 4, memoryMb = 5120)
    val cluster = session(masterUrl, _.
      set("spark.executor.memory", "4g")
      .set("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .set("spark.executor.extraJavaOptions",
        addOpens + " -Dfile.encoding=UTF-8 -Duser.timezone=UTC"))
    cluster.sparkContext.setLogLevel("ERROR")
    try {
      // both executor JVMs must be registered before any assertion runs
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (cluster.sparkContext.getExecutorMemoryStatus.size < 3 &&
          System.nanoTime() < deadline) Thread.sleep(200)
      check("two executor JVMs registered") {
        cluster.sparkContext.getExecutorMemoryStatus.size >= 3 // driver + 2
      }
      shapes.foreach { s =>
        check(s"cluster load+transform of locally-saved model (${s.name})") {
          loadTransform(cluster, s, s"$work/local_${s.name}") == want(s.name)
        }
        check(s"cluster fit+save+load+transform (${s.name})") {
          val fitted = fitTransform(cluster, s, s"$work/cluster_${s.name}")
          val reloaded = loadTransform(cluster, s, s"$work/cluster_${s.name}")
          fitted == want(s.name) && reloaded == want(s.name)
        }
      }
    } finally {
      cluster.stop()
      org.apache.spark.deploy.GraftMiniCluster.stop()
    }

    if (failed.nonEmpty) {
      println(s"[mlcluster] FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
    println("[mlcluster] all probes PASS: the MLlib veneer is " +
      "bit-identical across process boundaries, persistence round-trips " +
      "between a local writer and cluster readers, and a cluster-side fit " +
      "(monotonic ids + localCheckpoint) matches the single-JVM baseline")
  }
}
