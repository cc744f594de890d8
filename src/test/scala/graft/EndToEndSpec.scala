package graft

import graft.core.KnnParams
import graft.ingest.SeriesIngest
import graft.operators.{Evaluation, Knn}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.functions._

/** SURVEY §5.2 item 5: the reference's full lifecycle (EP1 preprocessing
  * -> EP2 Model-1 KNN -> EP3 Model-2 broadcast 1-NN -> accuracy) on
  * synthetic UCI-HAR-shaped data: raw space-separated float strings,
  * positional label zip, pivot + VectorAssembler interop, classify,
  * evaluate.
  */
class EndToEndSpec extends SparkTestBase {
  import spark.implicits._

  private val L = 16
  private val classes = 3

  private def makeRaw(n: Int, seedBase: Int): (Seq[String], Seq[String]) = {
    val rnd = new scala.util.Random(seedBase)
    val rows = (0 until n).map { i =>
      val label = i % classes
      val series = Array.tabulate(L)(t =>
        math.sin(t * 0.4 + label * 2.0) + rnd.nextGaussian() * 0.2)
      // exercise the cleaning path: double spaces + leading/trailing space
      val str = " " + series.map(v => f"$v%.6f").mkString("  ") + " "
      (str, (label + 1).toString)
    }
    (rows.map(_._1), rows.map(_._2))
  }

  test("EP1 -> EP2 -> EP3: raw strings to evaluated predictions") {
    val (trainX, trainY) = makeRaw(60, 1)
    val (testX, testY) = makeRaw(18, 1000)

    // EP1: parse + positional zip (reference Team11-Project.py:38-114)
    val train = SeriesIngest.loadLabeledSeries(trainX.toDF("value"), trainY.toDF("value"))
    val test = SeriesIngest.loadLabeledSeries(testX.toDF("value"), testY.toDF("value"))
    assert(train.count() === 60 && test.count() === 18)
    val lens = train.select(max(size(col("series"))), min(size(col("series")))).head()
    assert(lens.getInt(0) === L && lens.getInt(1) === L)

    val trainDf = train.select(col("row_id").as("train_id"),
      col("series").as("train_series"), col("label"))
    val testDf = test.select(col("row_id").as("test_id"),
      col("series").as("test_series"))
    val truth = test.select(col("row_id").as("test_id"), col("label"))

    // EP2: Model-1 shaped KNN (cartesian, partial+final top-k, vote);
    // broadcasts disabled, so the pair join is the partitioned cartesian
    val acc1 = withoutBroadcast {
      val m1 = Knn.classify(trainDf, testDf,
        KnnParams(k = 5, distance = "fastdtw"))
      assertPairPlan(m1, "cartesian")
      Evaluation.accuracy(m1.join(truth, "test_id"),
        col("predicted_label"), col("label")).head().getDouble(0)
    }
    assert(acc1 >= 0.8, s"Model-1 fastdtw accuracy $acc1")

    // EP3: Model-2 broadcast 1-NN via min_by
    val m2 = Knn.classify1NN(trainDf, testDf, KnnParams(distance = "euclidean"))
    val acc2 = Evaluation.accuracy(m2.join(truth, "test_id"),
      col("predicted_label"), col("label")).head().getDouble(0)
    assert(acc2 >= 0.8, s"Model-2 accuracy $acc2")
  }

  test("wide-pivot + VectorAssembler interop (reference M1 path)") {
    val (trainX, trainY) = makeRaw(20, 7)
    val labeled = SeriesIngest.loadLabeledSeries(trainX.toDF("value"), trainY.toDF("value"))
    val wide = SeriesIngest.pivotSeries(labeled, "series", L)
    val featureCols = (1 to L).map(i => s"feature_$i")
    assert(featureCols.forall(wide.columns.contains))
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(wide)
    val v = assembled.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size === L)
    // array path and vector path agree
    val arr = SeriesIngest.assembleSeries(wide, "series2", featureCols)
      .select("series2").head().getSeq[Double](0)
    assert(v.toArray.toSeq === arr)
  }

  test("k-sweep driver shape (reference M7): accuracy per k") {
    val (trainX, trainY) = makeRaw(40, 3)
    val (testX, testY) = makeRaw(12, 5000)
    val train = SeriesIngest.loadLabeledSeries(trainX.toDF("value"), trainY.toDF("value"))
      .select(col("row_id").as("train_id"), col("series").as("train_series"), col("label"))
    val test = SeriesIngest.loadLabeledSeries(testX.toDF("value"), testY.toDF("value"))
    val testDf = test.select(col("row_id").as("test_id"), col("series").as("test_series"))
    val truth = test.select(col("row_id").as("test_id"), col("label"))
    val accs = Seq(1, 3, 5).map { k =>
      val pred = Knn.classify(train, testDf, KnnParams(k = k, distance = "euclidean"))
      k -> Evaluation.accuracy(pred.join(truth, "test_id"),
        col("predicted_label"), col("label")).head().getDouble(0)
    }
    accs.foreach { case (k, a) => assert(a > 0.5, s"k=$k acc=$a") }
  }
}
