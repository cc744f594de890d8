package graft

import graft.core.KnnParams
import graft.functions.Kernels
import graft.operators.{Evaluation, Knn}
import org.apache.spark.sql.functions._

/** KNN against an in-memory brute-force oracle (FIXTURES.md a6): both
  * distances, k in {1,5}, and both pair-join plans — the broadcast plan
  * this small fixture takes at default confs, and the partitioned
  * cartesian forced by disabling broadcasts, each checked in the
  * physical plan.
  */
class KnnSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic fixture: 40 train / 12 test, 3 classes, length 16
  private val rnd = new scala.util.Random(42)
  private val trainData: Seq[(Long, Array[Double], Double)] =
    (1 to 40).map { i =>
      val label = (i % 3).toDouble
      val base = Array.tabulate(16)(t => math.sin(t * 0.3 + label))
      (i.toLong, base.map(_ + rnd.nextGaussian() * 0.3), label)
    }
  private val testData: Seq[(Long, Array[Double])] =
    (101 to 112).map { i =>
      val label = (i % 3).toDouble
      val base = Array.tabulate(16)(t => math.sin(t * 0.3 + label))
      (i.toLong, base.map(_ + rnd.nextGaussian() * 0.3))
    }

  private lazy val trainDf = trainData.toDF("train_id", "train_series", "label")
  private lazy val testDf = testData.map { case (i, s) => (i, s) }.toDF("test_id", "test_series")

  /** Brute-force oracle with the engine's documented tie-breaks. */
  private def bruteForce(k: Int, dist: (Array[Double], Array[Double]) => Double): Map[Long, Double] =
    testData.map { case (tid, ts) =>
      val neigh = trainData
        .map { case (id, s, l) => (dist(ts, s), id, l) }
        .filter(_._1 != 0.0)
        .sortBy(t => (t._1, t._2))
        .take(k)
        .zipWithIndex
      val votes = neigh.groupBy(_._1._3).map { case (label, g) =>
        (g.size, -g.map(_._2).min, -label) // count desc, best rank asc, label asc
      }.toSeq
      val best = votes.max
      tid -> -best._3
    }.toMap

  /** Classifies under the confs that pick `plan` ("broadcast" or
    * "cartesian") and asserts the plan taken.
    */
  private def planned(plan: String)(run: => org.apache.spark.sql.DataFrame)
      : Map[Long, Double] = {
    def go(): Map[Long, Double] = {
      val df = run
      assertPairPlan(df, plan)
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    if (plan == "cartesian") withoutBroadcast(go()) else go()
  }

  private def engine(k: Int, distance: String, plan: String = "broadcast"): Map[Long, Double] =
    planned(plan)(Knn.classify(trainDf, testDf, KnnParams(k = k, distance = distance)))

  for {
    k <- Seq(1, 5)
    (distance, fn) <- Seq[(String, (Array[Double], Array[Double]) => Double)](
      "euclidean" -> ((a, b) => Kernels.euclidean(a, b)),
      "dtw" -> ((a, b) => Kernels.dtw(a, b)))
  } test(s"classify matches brute force: k=$k $distance") {
    val expected = bruteForce(k, fn)
    assert(engine(k, distance) === expected)
  }

  test("majority-vote tie: equal votes resolved by BEST (lowest) rank, not label") {
    // Planted distances 1..4 from the origin -> ranks are exactly 1..4.
    // k=4 gives a 2-2 vote split; label 1.0 holds rank 1, label 0.0 holds
    // rank 2. The winner must be 1.0: a label-ascending fallback OR an
    // inverted (descending) best_rank comparison would both pick 0.0.
    val train = Seq(
      (1L, Array(1.0, 0.0), 1.0),
      (2L, Array(2.0, 0.0), 0.0),
      (3L, Array(3.0, 0.0), 0.0),
      (4L, Array(4.0, 0.0), 1.0)
    ).toDF("train_id", "train_series", "label")
    val test = Seq((100L, Array(0.0, 0.0))).toDF("test_id", "test_series")
    val p = KnnParams(k = 4, distance = "euclidean")
    val got = Knn.classify(train, test, p).head()
    assert(got.getDouble(1) === 1.0)
    // Same planted ties through the one-pass k sweep: k=2 is a 1-1 split
    // (rank 1 vs rank 2), k=4 the 2-2 split above — rank wins in both.
    val sw = Knn.sweepClassify(train, test, p, Seq(2, 4))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(sw === Map(2 -> 1.0, 4 -> 1.0))
  }

  test("broadcast and cartesian strategies agree") {
    val b = engine(5, "euclidean", "broadcast")
    val c = engine(5, "euclidean", "cartesian")
    assert(b === c)
  }

  test("sweepClassify: one-pass sweep matches per-k classify, scores once") {
    val ks = Seq(1, 3, 5)
    val sweep = Knn.sweepClassify(trainDf, testDf,
      KnnParams(distance = "euclidean"), ks)
    val got = sweep.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (k <- ks) {
      val perK = engine(k, "euclidean")
      assert(perK.map { case (tid, l) => (tid, k) -> l } === got.filter(_._1._2 == k),
        s"sweep diverges from classify at k=$k")
    }
    // the expensive scoring subtree must appear exactly once in the plan:
    // one join pass over the pairs, not one per swept k
    val joins = sweep.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1, s"expected 1 pair join in the sweep plan, got ${joins.size}")
  }

  test("classify1NN (Model-2 min_by path) matches k=1 window path") {
    val windowPath = engine(1, "euclidean")
    val minByPath = Knn.classify1NN(trainDf, testDf, KnnParams(distance = "euclidean"))
      .select("test_id", "predicted_label")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(minByPath === windowPath)
  }

  test("fastdtw classification runs and mostly agrees with exact dtw (k=5)") {
    val exact = engine(5, "dtw")
    val approx = engine(5, "fastdtw")
    val agree = exact.keys.count(k => exact(k) == approx(k))
    assert(agree >= exact.size - 2, s"agree=$agree of ${exact.size}")
  }

  test("pruned DTW KNN matches exact DTW KNN (banded)") {
    for (k <- Seq(1, 5)) {
      val exact = Knn.classify(trainDf, testDf,
        KnnParams(k = k, distance = "dtw", band = 4))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // band=4 over length-16 series is a 25% warp budget, where the
      // unwarped PAA ranking tracks the DTW order only loosely: length-16
      // series have NN margins of a few percent, so the 2:1 sketch needs
      // a wide margin. Budget 20 = half the 40-row train set (measured:
      // at k=1 the worst test point's true NN ranks 18th by sketch)
      val pruned = Knn.classify(trainDf, testDf,
        KnnParams(k = k, distance = "dtw", band = 4, lbPruning = true,
          coarsenFactor = 2, candidateFactor = 20))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pruned === exact, s"k=$k")
    }
  }

  test("pruned cascade: cartesian strategy == broadcast strategy == exact") {
    val exact = Knn.classify(trainDf, testDf,
      KnnParams(k = 5, distance = "dtw", band = 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // broadcast: the fused scan over the broadcast train sketches;
    // cartesian: the slim pair pass over a partitioned cartesian
    for (plan <- Seq("broadcast", "cartesian")) {
      val pruned = planned(plan)(Knn.classify(trainDf, testDf,
        KnnParams(k = 5, distance = "dtw", band = 4, lbPruning = true,
          coarsenFactor = 4)))
      assert(pruned === exact, s"plan=$plan")
    }
    // the oversize shape a fitted classifier takes: the localCheckpointed
    // train side measures over the lowered cap, the test side fits under
    // it, so the slim pair pass broadcasts the TEST side and the train
    // side streams into the graft_topk_ids heap. k=5 keeps the 20
    // candidates of the cases above; k=1 keeps all 40, because test 108's
    // DTW nearest neighbour ranks past 20 by PAA on this noisy fixture
    // (every plan misses it alike at a smaller budget)
    val exactByK = Seq(1 -> Knn.classify(trainDf, testDf,
      KnnParams(k = 1, distance = "dtw", band = 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, 5 -> exact)
    val ckTrain = trainDf.localCheckpoint()
    spark.conf.set("spark.graft.knn.broadcastFloor", "1k")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    try {
      for ((k, exactK) <- exactByK) {
        val pred = Knn.classify(ckTrain, testDf,
          KnnParams(k = k, distance = "dtw", band = 4, lbPruning = true,
            coarsenFactor = 4, candidateFactor = if (k == 1) 40 else 4))
        val bnlj = pred.queryExecution.sparkPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }
        assert(bnlj.nonEmpty &&
          bnlj.forall(_.right.output.exists(_.name == "test_id")),
          s"k=$k: expected the pair pass to broadcast the test side:\n" +
            pred.queryExecution.sparkPlan)
        assert(pred.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap === exactK,
          s"oversize k=$k")
      }
    } finally {
      spark.conf.unset("spark.graft.knn.broadcastFloor")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      graft.core.Materialize.releaseCheckpoint(ckTrain)
    }
  }

  test("PAA ranker stays exact where LB_Keogh degenerates (wide band)") {
    // the exact q26 regime at reduced n: 561-sample series, period ~57
    // (t*0.11), band 56 ~ one period — an LB_Keogh envelope spans the
    // amplitude range and every bound is ~0 (measured: 58% of
    // predictions wrong under bound-ranked selection, the regression
    // that replaced that ranker with PAA), while the 8:1 PAA sketch
    // (7 samples/block = 1/8 period) preserves phase and stays exact
    val L = 561
    // splitmix64 finalizer: well-mixed per-(id,t) noise (a fresh LCG's
    // first draw correlates with its seed, which would make the "noise" a
    // smooth function of t — a different, harder workload than q26's
    // hash-noise)
    def noise(id: Long, t: Int): Double = {
      var z = (id * 100003L + t) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      ((z >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.4
    }
    def series(id: Long): Array[Double] =
      Array.tabulate(L)(t => math.sin(t * 0.11 + (id % 6).toDouble) + noise(id, t))
    val tr = (0L until 120L).map(i => (i, series(i), (i % 6).toDouble))
    val te = (1000L until 1040L).map(i => (i, series(i)))
    val trDf = tr.toDF("train_id", "train_series", "label")
    val teDf = te.toDF("test_id", "test_series")
    val p0 = KnnParams(k = 1, distance = "dtw", band = 56, candidateFactor = 16)
    val exact = Knn.classify1NN(trDf, teDf, p0)
      .select("test_id", "predicted_label")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val paa = Knn.classify1NN(trDf, teDf,
      p0.copy(lbPruning = true, coarsenFactor = 8))
      .select("test_id", "predicted_label")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(paa === exact)
  }

  test("neighbors returns exactly k rows per test point with rank 1..k") {
    val n = Knn.neighbors(trainDf, testDf, KnnParams(k = 3, distance = "euclidean"))
    val counts = n.groupBy("test_id").agg(count(lit(1)).as("c"), max("rank").as("m"))
      .collect()
    assert(counts.length === testData.size)
    counts.foreach { r => assert(r.getLong(1) === 3L && r.getInt(2) === 3) }
  }

  test("end-to-end accuracy on separable classes is high") {
    val truth = testData.map { case (i, _) => (i, (i % 3).toDouble) }.toDF("test_id", "label")
    val pred = Knn.classify(trainDf, testDf, KnnParams(k = 5, distance = "euclidean"))
    val acc = Evaluation.accuracy(pred.join(truth, "test_id"),
      col("predicted_label"), col("label")).head().getDouble(0)
    assert(acc >= 0.8, s"accuracy $acc")
  }

  test("null series never win as neighbors (either exclusion setting)") {
    val trainWithNull = trainDf.unionByName(
      Seq((999L, null.asInstanceOf[Array[Double]], 9.0))
        .toDF("train_id", "train_series", "label"))
    for (exclude <- Seq(true, false)) {
      val n = Knn.neighbors(trainWithNull, testDf,
        KnnParams(k = 3, distance = "euclidean", excludeZeroDistance = exclude))
      assert(n.filter(col("train_id") === 999L).isEmpty, s"exclude=$exclude")
      assert(n.filter(col("dist").isNull).isEmpty, s"exclude=$exclude")
    }
  }

  test("excludeZeroDistance drops self-matches") {
    // test point identical to a train point: with exclusion the neighbor
    // must be a DIFFERENT row
    val t1 = trainData.head
    val probe = Seq((999L, t1._2)).toDF("test_id", "test_series")
    val withEx = Knn.neighbors(trainDf, probe, KnnParams(k = 1, distance = "euclidean"))
      .select("dist").head().getDouble(0)
    assert(withEx > 0.0)
    val withoutEx = Knn.neighbors(trainDf, probe,
      KnnParams(k = 1, distance = "euclidean", excludeZeroDistance = false))
      .select("dist").head().getDouble(0)
    assert(withoutEx === 0.0)
  }

  test("cosine: excludeZeroDistance excludes self-matches, keeps " +
      "orthogonal neighbors (dist is 1 - similarity)") {
    // under the old -cos mapping a self-match sat at -1.0 (kept: the
    // point voted for itself) and an orthogonal pair at -0.0 == 0.0
    // (legitimate neighbor dropped); 1-cos puts the self-match on the
    // zero the exclusion contract tests
    val train = Seq(
      (1L, Array(1.0, 0.0), 0.0),  // same direction as the probe
      (2L, Array(0.0, 1.0), 1.0)   // orthogonal to the probe
    ).toDF("train_id", "train_series", "label")
    val probe = Seq((9L, Array(2.0, 0.0))).toDF("test_id", "test_series")
    // scaled same-direction copy: cosine similarity 1 -> dist 0 ->
    // excluded; the ORTHOGONAL row (dist exactly 1.0) must win
    val nn = Knn.neighbors(train, probe, KnnParams(k = 1, distance = "cosine"))
      .select("train_id", "dist").head()
    assert(nn.getLong(0) === 2L,
      "the self-direction match must be excluded, the orthogonal row kept")
    assert(nn.getDouble(1) === 1.0, "cosine dist must be 1 - similarity")
    // without exclusion the same-direction row wins at dist 0
    val nnAll = Knn.neighbors(train, probe,
      KnnParams(k = 1, distance = "cosine", excludeZeroDistance = false))
      .select("train_id", "dist").head()
    assert(nnAll.getLong(0) === 1L)
    assert(nnAll.getDouble(1) === 0.0)
  }
}
