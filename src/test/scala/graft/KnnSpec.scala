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
    // broadcast: the candidate node over the broadcast train side;
    // cartesian: the slim pair pass over a partitioned cartesian
    for (shape <- Seq("fused", "cartesian")) {
      val pruned = inShape(shape, trainDf, testDf) { (tr, te) =>
        val df = Knn.classify(tr, te,
          KnnParams(k = 5, distance = "dtw", band = 4, lbPruning = true, coarsenFactor = 4))
        assertShape(df, shape)
        df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(pruned === exact, s"shape=$shape")
    }
    // the oversize shape a fitted classifier takes: the localCheckpointed
    // train side measures over the lowered cap, the test side fits under
    // it, so the candidate node broadcasts the TEST side and the train
    // side streams through its per-test heaps. k=5 keeps the 20
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
        assertShape(pred, "oversize")
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

  // ---- the cascade's exact phase against each test's running k-th best

  /** Neighbor rows with the distance's bits, for exact comparison. */
  private def nbRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double, Long)] =
    df.select("test_id", "train_id", "rank", "label", "dist").collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))
    }.toSeq.sorted

  private def nnRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long)] =
    df.collect().map { r =>
      (r.getLong(0), r.getDouble(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }.toSeq.sorted

  private def uses(df: org.apache.spark.sql.DataFrame, fn: String): Boolean =
    df.queryExecution.sparkPlan.exists(_.expressions.exists(_.exists(_.prettyName == fn)))

  /** `df` as a driver-local table. */
  private def localCopy(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Runs `body` on `train` and `test` in one cascade shape: "fused" (the
    * candidate node over the broadcast train side, which a small train
    * side takes; a local test side is repartitioned first, or it would
    * take the "local" shape), "local" (the checkpointed train side and
    * the test side as a local table: one task reads every train
    * partition, nothing is broadcast),
    * "oversize" (the node over the broadcast TEST side: the checkpointed
    * train side measures one byte over the cap, the small test side fits
    * under it) or "cartesian" (broadcasts disabled).
    */
  private def inShape[T](shape: String, train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame)(
      body: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => T): T = shape match {
    case "fused" => body(train, if (Knn.localRequest(test)) test.repartition(2) else test)
    case "local" =>
      // checkpointed, as a fitted classifier's train side is: measured,
      // it fits whatever its source
      val ck = train.localCheckpoint()
      try body(ck, localCopy(test)) finally graft.core.Materialize.releaseCheckpoint(ck)
    case "cartesian" => withoutBroadcast(body(train, test))
    case "oversize" =>
      val ck = train.localCheckpoint()
      val cap = s"${graft.core.Materialize.storageBytes(ck).get - 1}b"
      spark.conf.set("spark.graft.knn.broadcastFloor", cap)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", cap)
      try body(ck, test)
      finally {
        spark.conf.unset("spark.graft.knn.broadcastFloor")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        graft.core.Materialize.releaseCheckpoint(ck)
      }
  }

  /** Asserts the cascade shape `df` plans (see [[inShape]]): the
    * candidate node and the side it broadcasts, or the cartesian
    * fallback's heap aggregate. The "local" shape plans no exchange at
    * all and runs its candidate node as one task.
    */
  private def assertShape(df: org.apache.spark.sql.DataFrame, shape: String): Unit = {
    val sides = candidateBuildSides(df)
    val ok = shape match {
      case "fused" => sides.nonEmpty && sides.forall(_ == "train")
      case "local" =>
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        sides == Seq("none") &&
          !plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) &&
          plan.collect { case n: graft.operators.KnnCandidatesExec =>
            n.execute().getNumPartitions } == Seq(1)
      case "oversize" => sides.nonEmpty && sides.forall(_ == "test")
      case "cartesian" => sides.isEmpty && uses(df, "graft_topk_ids") &&
        df.queryExecution.sparkPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
    }
    assert(ok, s"expected the $shape cascade:\n${df.queryExecution.executedPlan}")
  }

  /** Asserts that the bounded cascade, in `shape`, returns exactly the
    * unpruned path's neighbors (distances bit for bit) and 1-NN answers.
    * The candidate budget covers the whole train side, so any difference
    * is the bound's.
    */
  private def assertBoundedExact(shape: String, train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, p: KnnParams): Unit = {
    val exactNb = nbRows(Knn.neighbors(train, test, p))
    val exactNn = nnRows(Knn.classify1NN(train, test, p))
    val q = p.copy(lbPruning = true, candidateFactor = 1024)
    inShape(shape, train, test) { (tr, te) =>
      val nb = Knn.neighbors(tr, te, q)
      assertShape(nb, shape)
      assert(uses(nb, "graft_dtw_bounded"))
      assert(nbRows(nb) === exactNb, s"$shape neighbors $p")
      assert(nnRows(Knn.classify1NN(tr, te, q)) === exactNn, s"$shape classify1NN $p")
    }
  }

  // duplicate train series under distinct ids, a null series and a
  // series holding a NaN on each side
  private lazy val boundTrain = trainDf.unionByName(Seq(
    (207L, trainData(6)._2, trainData(6)._3),
    (307L, trainData(6)._2, trainData(6)._3),
    (998L, null.asInstanceOf[Array[Double]], 0.0),
    (999L, trainData(0)._2.updated(5, Double.NaN), 0.0))
    .toDF("train_id", "train_series", "label"))
  private lazy val boundTest = testDf.unionByName(Seq(
    (198L, null.asInstanceOf[Array[Double]]),
    (199L, testData(0)._2.updated(3, Double.NaN)))
    .toDF("test_id", "test_series"))

  for (shape <- Seq("fused", "local", "oversize", "cartesian")) {
    test(s"bounded exact phase ($shape): k in {1, 5} equal the unpruned path bit for bit") {
      for (k <- Seq(1, 5); exclude <- Seq(true, false))
        assertBoundedExact(shape, boundTrain, boundTest,
          KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4,
            excludeZeroDistance = exclude))
    }

    test(s"bounded exact phase ($shape): self-matches under excludeZeroDistance never set the bound") {
      // the train set as the test set: each test's first-ranked candidate
      // is itself at distance 0, which must not bound the rest
      val selfTest = boundTrain.select(
        col("train_id").as("test_id"), col("train_series").as("test_series"))
      for (k <- Seq(1, 5))
        assertBoundedExact(shape, boundTrain, selfTest,
          KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4))
    }

    test(s"bounded exact phase ($shape): a tie at the bound is computed, smaller train_id wins") {
      // band 0 makes DTW the Manhattan sum, whose last DTW row holds only
      // the final cell: a tied candidate's last row sits exactly on the
      // bound. X (id 9) and Y (id 3) tie at 8, but X ranks first by PAA
      // (its offsets cancel inside each 2-block), so X sets the bound and
      // Y must still be computed to win the tie by train_id. A1..A4 sit
      // at 0.25 so that at k = 5 the tie falls on the fifth place.
      val t = Array.tabulate(16)(i => (i % 4) * 0.25)
      val x = t.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v + 0.5 else v - 0.5 }
      val y = t.map(_ + 0.5)
      val near = (0 until 4).map(j => (11L + j, t.updated(j * 4, t(j * 4) + 0.25), 2.0))
      val probe = Seq((1L, t)).toDF("test_id", "test_series")
      for ((k, extra) <- Seq(1 -> Nil, 5 -> near)) {
        val train = ((9L, x, 0.0) +: (3L, y, 1.0) +: extra)
          .toDF("train_id", "train_series", "label")
        val q = KnnParams(k = k, distance = "dtw", band = 0, coarsenFactor = 2)
        assertBoundedExact(shape, train, probe, q)
        if (shape == "fused") {
          val last = nbRows(Knn.neighbors(train, probe,
            q.copy(lbPruning = true, candidateFactor = 8))).maxBy(_._3)
          assert(last._2 === 3L && last._5 === java.lang.Double.doubleToLongBits(8.0), s"k=$k")
        }
      }
    }
  }

  test("bounded exact phase: the interpreted eval path equals the unpruned path") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      for (shape <- Seq("fused", "local", "oversize", "cartesian"); k <- Seq(1, 5))
        assertBoundedExact(shape, boundTrain, boundTest,
          KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  for (shape <- Seq("fused", "local", "oversize"))
    test(s"$shape plan: the bounded dist is projected directly over the candidate node") {
      // the running bound tightens only while a test's candidates stream
      // together in rank order, and knnbench reads the exact phase's
      // input as the row count of the counted node under the topmost
      // graft_dtw user: pin the Project directly over the node
      import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case o => o +: o.children.flatMap(nodes)
      }
      val p = KnnParams(k = 1, distance = "dtw", band = 4, lbPruning = true, coarsenFactor = 4)
      val fk = p.candidateFactor * p.k
      inShape(shape, trainDf.repartition(3), testDf) { (tr, te) =>
        val df = Knn.classify1NN(tr, te, p)
        df.collect()
        val all = nodes(df.queryExecution.executedPlan)
        val top = all.find(_.expressions.exists(_.exists(_.prettyName == "graft_dtw")))
        val node = top.flatMap(_.children.headOption).collect {
          case InputAdapter(n: graft.operators.KnnCandidatesExec) => n
        }
        assert(top.exists(_.isInstanceOf[ProjectExec]) && node.nonEmpty &&
          all.exists { case w: WholeStageCodegenExec => w.exists(_ eq top.get); case _ => false },
          s"expected Project(graft_dtw_bounded) <- candidate node in one stage:\n${all.head}")
        // train broadcast and one task: fk per test; test broadcast: fk
        // per test from each of the 3 train partitions (13 or 14 rows each)
        val perTest = if (shape == "oversize") 3 * fk else fk
        assert(node.get.metrics("numOutputRows").value === testData.size * perTest)
      }
    }

  // ---- the test-broadcast orientation: per-partition heaps, one merge

  /** A train frame with exactly these rows in each partition. */
  private def partitioned(parts: Seq[Seq[(Long, Array[Double], Double)]]) = {
    val df = spark.createDataFrame(spark.sparkContext
      .parallelize(parts, parts.size).flatMap(_.map { case (i, a, l) =>
        org.apache.spark.sql.Row(i, a.toSeq, l) }), trainDf.schema)
    assert(df.rdd.glom().collect().map(_.map(_.getLong(0)).toSeq).toSeq === parts.map(_.map(_._1)))
    df
  }

  /** [[boundTest]] as a local table, which the node broadcasts itself,
    * and repartitioned, which it broadcasts through an exchange.
    */
  private lazy val boundTestSides = Seq(boundTest.repartition(2), spark.createDataFrame(
    java.util.Arrays.asList(boundTest.collect(): _*), boundTest.schema))

  /** Neighbors and 1-NN rows of the pruned cascade in `shape`. */
  private def cascade(shape: String, train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, q: KnnParams) =
    inShape(shape, train, test) { (tr, te) =>
      val nb = Knn.neighbors(tr, te, q)
      assertShape(nb, shape)
      (nbRows(nb), nnRows(Knn.classify1NN(tr, te, q)))
    }

  test("test broadcast: 5 train partitions, k in {1, 5}, nulls and NaNs equal the cartesian fallback and the exact path") {
    val tr5 = boundTrain.repartition(5)
    for (test <- boundTestSides; k <- Seq(1, 5); cf <- Seq(2, 1024)) {
      val q = KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4,
        lbPruning = true, candidateFactor = cf)
      val cart = cascade("cartesian", tr5, test, q)
      assert(cascade("oversize", tr5, test, q) === cart, s"k=$k cf=$cf")
      if (cf == 1024) assert(cart ===
        ((nbRows(Knn.neighbors(tr5, test, q.copy(lbPruning = false))),
          nnRows(Knn.classify1NN(tr5, test, q.copy(lbPruning = false))))), s"k=$k exact")
    }
    val q = KnnParams(distance = "dtw", band = 4, lbPruning = true)
    val testChildren = boundTestSides.map(t => inShape("oversize", tr5, t) { (tr, te) =>
      val plan = Knn.neighbors(tr, te, q).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case n: graft.operators.KnnCandidatesExec => n.left.getClass.getSimpleName }
    })
    assert(testChildren === Seq(Seq("BroadcastExchangeExec"), Seq("LocalTableScanExec")))
  }

  test("test broadcast: score ties at rank fk split across partitions keep the smaller train_id") {
    // five train series tie on score (and DTW) with the probe, one
    // partition each, after one clear winner: at k = 1, fk = 2 the
    // second candidate is the tied row with the smallest id (3), whose
    // exact distance beats the winner's
    val t = Array.tabulate(16)(i => math.sin(i * 0.4))
    val tied = t.map(_ + 0.25)
    val best = t.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v + 1.0 else v - 1.0 }
    val parts = Seq(Seq((20L, best, 1.0), (9L, tied, 2.0)), Seq((5L, tied, 3.0)),
      Seq((3L, tied, 4.0)), Seq((7L, tied, 5.0)), Seq((4L, tied.map(_ + 1e-9), 6.0)))
    val train = partitioned(parts)
    val probe = Seq((1L, t)).toDF("test_id", "test_series")
    val q = KnnParams(k = 1, distance = "dtw", band = 0, coarsenFactor = 2,
      lbPruning = true, candidateFactor = 2)
    val cart = cascade("cartesian", train, probe, q)
    assert(cart._2.map(_._2) === Seq(4.0), "the tie at rank fk goes to train_id 3")
    assert(cascade("oversize", train, probe, q) === cart)
    // one task reads the five partitions in turn into one global heap
    assert(cascade("local", train, probe, q) === cart)
  }

  test("test broadcast: a partition's best-DTW survivor outside the global top-fk cannot bound the others") {
    // band 0, coarsening 2: DTW is the Manhattan sum and the sketch score
    // the sum of 2-block mean gaps. Y and A (offsets that cancel in each
    // block) score 0 and form the global top-2; X (a constant 0.5 offset)
    // scores 2 but has the smallest DTW. Partition 1 keeps {Y, X}: run
    // in (score, train_id) order Y sets the bound, and X, dropped by the
    // merge whatever its distance, cannot abandon Y. The answer among
    // the global top-2 is Y (DTW 8 < A's 16).
    val t = Array.tabulate(8)(_.toDouble)
    def alt(c: Double) = t.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v + c else v - c }
    val train = partitioned(Seq(Seq((3L, alt(2.0), 3.0)),
      Seq((1L, t.map(_ + 0.5), 1.0), (2L, alt(1.0), 2.0))))
    val probe = Seq((100L, t)).toDF("test_id", "test_series")
    val q = KnnParams(k = 1, distance = "dtw", band = 0, coarsenFactor = 2,
      lbPruning = true, candidateFactor = 2)
    val cart = cascade("cartesian", train, probe, q)
    assert(cart._2 === Seq((100L, 2.0, java.lang.Double.doubleToLongBits(8.0))))
    assert(cascade("oversize", train, probe, q) === cart)
  }

  test("test broadcast: equal to the cartesian fallback without AQE and without codegen") {
    val tr5 = boundTrain.repartition(5)
    val q = KnnParams(k = 1, distance = "dtw", band = 4, coarsenFactor = 4,
      lbPruning = true, candidateFactor = 2)
    val cart = cascade("cartesian", tr5, boundTest, q)
    for (confs <- Seq(Seq("spark.sql.adaptive.enabled" -> "false"),
        Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")); test <- boundTestSides) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(cascade("oversize", tr5, test, q) === cart, confs.toString)
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("duplicated train_id: the candidate node keeps each train row once; the cartesian fallback joins ids back (pinned)") {
    // train ids are unique for every caller (the classifier assigns
    // them); this pins what a duplicate does. The probe is train row 7
    // plus 0.001, and a second row with id 7 sits 0.02 from that row
    val dup = trainDf.unionByName(Seq((7L, trainData(6)._2.map(_ + 0.02), 9.0))
      .toDF("train_id", "train_series", "label"))
    val probe = Seq((101L, trainData(6)._2.map(_ + 0.001)), (102L, testData(1)._2))
      .toDF("test_id", "test_series")
    val q = KnnParams(k = 3, distance = "dtw", band = 4, coarsenFactor = 4,
      lbPruning = true, candidateFactor = 2)
    def run(shape: String) = inShape(shape, dup, probe) { (tr, te) =>
      val nb = Knn.neighbors(tr, te, q)
      assertShape(nb, shape)
      (nb.select("test_id", "train_id", "rank", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted,
        nnRows(Knn.classify1NN(tr, te, q.copy(k = 1))))
    }
    val exact = Knn.neighbors(dup, probe, q.copy(lbPruning = false))
      .select("test_id", "train_id", "rank", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val fused = run("fused")
    assert(fused._1 === exact)
    assert(fused._1.filter(_._1 == 101L).take(2) === Seq((101L, 7L, 1, 1.0), (101L, 7L, 2, 9.0)))
    assert(run("oversize") === fused)
    assert(run("local") === fused)
    // the fallback explodes candidate ids and joins them back by id, so
    // each selected id 7 meets both rows
    val cart = run("cartesian")
    assert(cart._1.filter(_._1 == 101L) ===
      Seq((101L, 7L, 1, 1.0), (101L, 7L, 2, 1.0), (101L, 7L, 3, 9.0)))
    assert(cart._2 === fused._2)
  }

  // ---- a local test side of at most 128 rows: one task, no exchange

  /** The candidate node's output rows of `df`, after running it. */
  private def candidateRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    df.collect()
    nodes(df.queryExecution.executedPlan).collect {
      case n: graft.operators.KnnCandidatesExec => n.metrics("numOutputRows").value
    }.sum
  }

  test("local test side: k in {1, 5}, nulls, NaNs and duplicates equal the train broadcast and the unpruned path; tests x fk exact rows; an oversize train keeps the per-partition merge") {
    val tr5 = boundTrain.repartition(5)
    for (k <- Seq(1, 5); exclude <- Seq(true, false); cf <- Seq(2, 1024)) {
      val q = KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4,
        lbPruning = true, candidateFactor = cf, excludeZeroDistance = exclude)
      val local = cascade("local", tr5, boundTest, q)
      assert(local === cascade("fused", tr5, boundTest, q), s"k=$k cf=$cf exclude=$exclude")
      if (cf == 1024) assert(local ===
        ((nbRows(Knn.neighbors(tr5, boundTest, q.copy(lbPruning = false))),
          nnRows(Knn.classify1NN(tr5, boundTest, q.copy(lbPruning = false))))),
        s"k=$k exclude=$exclude exact")
    }
    // the exact phase reads fk rows per test with a series (13 of 14),
    // not fk per train partition
    val q = KnnParams(k = 1, distance = "dtw", band = 4, coarsenFactor = 4,
      lbPruning = true, candidateFactor = 2)
    val lt = localCopy(boundTest)
    assert(candidateRows(Knn.classify1NN(tr5, lt, q)) === 13 * 2)
    assert(candidateRows(Knn.neighbors(tr5, lt, q.copy(k = 5))) === 13 * 10)
    // past the cap the train side streams in its partitions, and one
    // exchange on test_id merges their local top-fk
    inShape("oversize", tr5, lt) { (tr, te) =>
      val nb = Knn.neighbors(tr, te, q)
      assertShape(nb, "oversize")
      assert(candidateBuildSides(nb) === Seq("test"))
      assert(candidateRows(Knn.classify1NN(tr, te, q)) === 5 * 13 * 2)
    }
  }

  test("a local test side past the request bound is spread under the train broadcast") {
    val q = KnnParams(k = 1, distance = "dtw", band = 4, coarsenFactor = 4,
      lbPruning = true, candidateFactor = 2)
    def probes(n: Int) = localCopy((0 until n)
      .map(i => (i.toLong, testData(i % testData.length)._2)).toDF("test_id", "test_series"))
    inShape("local", boundTrain, probes(1)) { (ck, _) =>
      val (atBound, past) = (probes(128), probes(129))
      assert(candidateBuildSides(Knn.classify1NN(ck, atBound, q)) === Seq("none"))
      assert(candidateBuildSides(Knn.classify1NN(ck, past, q)) === Seq("train"))
      assert(nnRows(Knn.classify1NN(ck, past, q)).filter(_._1 < 128L) ===
        nnRows(Knn.classify1NN(ck, atBound, q)))
    }
  }

  test("classify at k = 1 plans one min_by aggregate and equals the rank window and vote path on ties and duplicates") {
    // train 1 and 2 tie on distance from the probe with different labels
    // (the smaller train_id wins); 4 and 5 are one series under two ids
    // and labels, at distance 0 from probe 11 (excluded or not) and tied
    // for probe 12
    val train = Seq((2L, Array(-1.0, 0.0), 0.0), (1L, Array(1.0, 0.0), 1.0),
      (5L, Array(3.0, 0.0), 2.0), (4L, Array(3.0, 0.0), 3.0), (6L, Array(3.5, 0.0), 4.0),
      (7L, null.asInstanceOf[Array[Double]], 5.0))
      .toDF("train_id", "train_series", "label")
    val probes = Seq((10L, Array(0.0, 0.0)), (11L, Array(3.0, 0.0)), (12L, Array(3.0, 0.5)),
      (13L, null.asInstanceOf[Array[Double]]), (14L, Array(Double.NaN, 0.0)))
      .toDF("test_id", "test_series")
    for (distance <- Seq("euclidean", "dtw"); exclude <- Seq(true, false); prune <- Seq(false, true)
        if !(prune && distance == "euclidean")) {
      val p = KnnParams(k = 1, distance = distance, band = 4, excludeZeroDistance = exclude,
        lbPruning = prune, coarsenFactor = 1, candidateFactor = 1024)
      val oneNN = Knn.classify(train, probes, p)
      assert(oneNN.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
      val voted = Knn.sweepClassify(train, probes, p, Seq(1))
        .select("test_id", "predicted_label")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows(oneNN) === rows(voted), s"$distance exclude=$exclude prune=$prune")
      assert(rows(oneNN)(10L) === 1.0)
      assert(rows(oneNN)(11L) === (if (exclude) 4.0 else 3.0))
      assert(rows(oneNN)(12L) === 3.0)
    }
    // and on the fixture's series with its duplicates, nulls and NaNs
    for (k1 <- Seq(KnnParams(k = 1, distance = "dtw", band = 4),
        KnnParams(k = 1, distance = "dtw", band = 4, excludeZeroDistance = false))) {
      val a = Knn.classify(boundTrain, boundTest, k1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val b = Knn.sweepClassify(boundTrain, boundTest, k1, Seq(1)).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(a === b)
    }
  }
}
