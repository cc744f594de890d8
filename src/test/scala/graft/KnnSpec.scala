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

  /** Runs `body` on `train` in one cascade shape: "fused" (the broadcast
    * scan a small train side takes) or "oversize" (slim pair scores plus
    * the heap aggregate, forced as in the oversize test above).
    */
  private def inShape[T](shape: String, train: org.apache.spark.sql.DataFrame)(
      body: org.apache.spark.sql.DataFrame => T): T = shape match {
    case "fused" => body(train)
    case "oversize" =>
      // a lower cap than the oversize test above: the tie fixture's
      // train side is under 1 KiB
      val ck = train.localCheckpoint()
      spark.conf.set("spark.graft.knn.broadcastFloor", "256b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "256b")
      try body(ck)
      finally {
        spark.conf.unset("spark.graft.knn.broadcastFloor")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        graft.core.Materialize.releaseCheckpoint(ck)
      }
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
    inShape(shape, train) { tr =>
      val nb = Knn.neighbors(tr, test, q)
      assert(uses(nb, if (shape == "fused") "graft_topk_scan" else "graft_topk_ids"),
        s"$shape: unexpected plan\n${nb.queryExecution.sparkPlan}")
      assert(uses(nb, "graft_dtw_bounded"))
      assert(nbRows(nb) === exactNb, s"$shape neighbors $p")
      assert(nnRows(Knn.classify1NN(tr, test, q)) === exactNn, s"$shape classify1NN $p")
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

  for (shape <- Seq("fused", "oversize")) {
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
      for (shape <- Seq("fused", "oversize"); k <- Seq(1, 5))
        assertBoundedExact(shape, boundTrain, boundTest,
          KnnParams(k = k, distance = "dtw", band = 4, coarsenFactor = 4))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("fused plan: the bounded dist is projected over Generate -> BroadcastHashJoin in one codegen stage") {
    // the running bound tightens only while a test's candidates stream
    // together in PAA-rank order; if a plan change scatters them, the
    // pruning would vanish silently, so pin the shape that keeps them
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = Knn.classify1NN(trainDf, testDf,
      KnnParams(k = 1, distance = "dtw", band = 4, lbPruning = true, coarsenFactor = 4))
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    // the operators one whole-stage-codegen stage fuses
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter | _: WholeStageCodegenExec => Nil
      case o => o +: o.children.flatMap(stage)
    }
    val plan = df.queryExecution.executedPlan
    val fused = nodes(plan).collect { case w: WholeStageCodegenExec => stage(w.child) }
      .filter(_.exists {
        case pr: ProjectExec =>
          pr.projectList.exists(_.exists(_.isInstanceOf[graft.functions.BoundedDtwDistance]))
        case _ => false
      })
    assert(fused.size === 1, s"expected one stage projecting the bounded dist:\n$plan")
    val ops = fused.head
    val project = ops.collectFirst { case pr: ProjectExec
      if pr.projectList.exists(_.exists(_.isInstanceOf[graft.functions.BoundedDtwDistance])) => pr }.get
    val ok = project.child match {
      case j: BroadcastHashJoinExec =>
        val streamed = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.left else j.right
        ops.contains(j) && stage(streamed).exists {
        case g: GenerateExec => ops.contains(g)
        case _ => false
      }
      case _ => false
    }
    assert(ok, s"expected Project <- BroadcastHashJoin <- Generate in one stage:\n$plan")
  }
}
