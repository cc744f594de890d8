package graft.operators

import graft.core.KnnParams
import graft.functions.SeriesFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Distributed KNN classification — the Spark-native re-expression of the
  * reference's two models:
  *
  *  - Model 1 (`Team11-Project.py:166-199`, `:347-381`): RDD
  *    `cartesian` + per-partition heap top-k + `groupByKey` + final top-k +
  *    majority vote. Here: `crossJoin` + distance expression + windowed
  *    `row_number <= k` (Spark >= 3.5 plans a partial `WindowGroupLimit`
  *    BEFORE the shuffle — the exact partial/final two-phase top-k the
  *    reference hand-built with heaps) + vote aggregate.
  *  - Model 2 (`Team11-Project.py:502-579`): driver `collect()` +
  *    broadcast variable + flatMap + `reduceByKey` min. Here:
  *    `crossJoin(broadcast(train))` + `min_by` — same semantics, no driver
  *    materialization, map-side combine for free.
  *
  * Scale: the plan is chosen from measured sizes ([[fitsBroadcast]]) and
  * from whether the test side is a [[localRequest]], never by the caller
  * (the prune cascade's orientation rule is on [[prunedCandidates]]).
  * The broadcast plan shuffles ONLY the
  * per-(test,label) partial vote counts (k rows per test point after the
  * group-limit), never the raw pair matrix. The partitioned cartesian is
  * the fallback when neither side fits the broadcast budget; for 100
  * TB-class inputs use [[SimilaritySearch]]'s LSH candidate pruning in
  * front of `classify`.
  *
  * Vote tie-break (deterministic, SURVEY §2.4 A5): highest vote count,
  * then smallest best-distance-rank within the tied labels, then smallest
  * label.
  */
object Knn {

  def distanceColumn(p: KnnParams)(a: Column, b: Column): Column = p.distance match {
    case "euclidean" => SeriesFunctions.euclidean(a, b)
    case "sqdist"    => SeriesFunctions.sqdist(a, b)
    case "manhattan" => SeriesFunctions.manhattan(a, b)
    case "dtw"       => SeriesFunctions.dtw(a, b, p.band)
    case "fastdtw"   => SeriesFunctions.fastdtw(a, b, p.radius)
    // standard cosine DISTANCE (1 - similarity), not the bare negation:
    // the ordering is the same monotone shift, but excludeZeroDistance's
    // `dist =!= 0.0` contract only works when a self-match actually
    // lands on zero — under -cos a self-match sat at -1.0 (kept: the
    // point votes for itself) while an ORTHOGONAL pair sat at -0.0,
    // which Spark's comparison equates with 0.0 (legitimate neighbors
    // silently dropped)
    case "cosine"    => lit(1.0) - SeriesFunctions.cosine(a, b)
    case other       => throw new IllegalArgumentException(s"unknown distance: $other")
  }

  /** The effective broadcast byte cap: max(autoBroadcastJoinThreshold,
    * graft floor), or None when broadcasting is disabled (threshold -1).
    * Shared by [[fitsBroadcast]] and the dedup operators' slim-frame
    * row-count gates.
    */
  private[operators] def broadcastCapBytes(
      spark: org.apache.spark.sql.SparkSession): Option[Long] = {
    val conf = spark.conf
    val floor =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.graft.knn.broadcastFloor", "64m"))
      catch { case scala.util.control.NonFatal(_) => 67108864L }
    val threshold =
      try {
        val s = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        if (s.trim.startsWith("-")) -1L
        else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
      } catch { case scala.util.control.NonFatal(_) => 10485760L }
    // -1 is Spark's documented "broadcast disabled": honor it
    if (threshold < 0) None else Some(math.max(threshold, floor))
  }

  /** Measured-size-aware broadcastability: Catalyst stats, raised to the
    * block manager's measured size for persisted (LogicalRDD) leaves —
    * the optimizer's estimate pre-dates materialization and cannot see
    * generated payload width, so the estimate-only path would happily
    * broadcast an arbitrarily large checkpointed side at scale
    * ([[graft.core.Materialize.storageBytes]]).
    *
    * A pair join replicates one side to every task EITHER way —
    * broadcast ships one copy per executor, a partitioned cartesian
    * shuffle-reads a whole side per opposite partition — so broadcast
    * wins while a side fits comfortably in executor memory. The floor is
    * deliberately higher than autoBroadcastJoinThreshold's 10 MB
    * default: that knob guards hash-join build memory, this guards a
    * replicated dense matrix (tunable via spark.graft.knn.broadcastFloor;
    * conf values may carry a byte-unit suffix, "64MB").
    */
  private[operators] def fitsBroadcast(df: DataFrame): Boolean = {
    // a streaming frame can never be the broadcast build side, and
    // evaluating optimizedPlan.stats on one throws (streaming sources
    // must execute via writeStream) — decide without touching the plan
    if (df.isStreaming) return false
    val cap = broadcastCapBytes(df.sparkSession) match {
      case Some(c) => c
      case None => return false // broadcast disabled (threshold -1)
    }
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // a LogicalRDD WITHOUT origin stats (graft's internal persists via
    // internalCreateDataFrame — unlike localCheckpoint, which carries
    // the source plan's stats through) reports the defaultSizeInBytes
    // SENTINEL (Long.MaxValue unless overridden): that estimate carries
    // no information. Ignore it.
    val sentinel = BigInt(
      try df.sparkSession.conf
        .get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString).toLong
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue })
    val informative = planBytes != sentinel
    // A complete measurement (every partition cached, and nothing above
    // the persists that can grow the frame: Materialize.storage) is the
    // size: a checkpoint's estimate can inherit a join's size product (a
    // classifier fitted on SeriesIngest.loadLabeledSeries output carries
    // 6.8e37 bytes for 33 MB of rows). Any other measurement can
    // under-measure, so an informative estimate backstops it. Unpersisted: the raw estimate
    // only when its sources make it trustworthy — an untrusted estimate
    // (generated payloads over Range, non-persisted RDD scans) means NOT
    // broadcastable, never "probably fine"
    val bytes = graft.core.Materialize.storage(df) match {
      case Some((m, complete)) => Some(if (complete || !informative) m else m.max(planBytes))
      case None =>
        if (informative && graft.core.Materialize.estimateTrusted(df)) Some(planBytes) else None
    }
    bytes.exists(_ <= BigInt(cap))
  }

  /** Whether `df` is a request-sized local table: a `LocalRelation`
    * after optimization with at most [[LocalRequestRows]] rows, such as a
    * classifier request frame. Its rows reach a task without a job.
    */
  private[graft] def localRequest(df: DataFrame): Boolean =
    !df.isStreaming && (df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.length <= LocalRequestRows
      case _ => false
    })

  /** Local test rows that one candidate task ranks faster than the
    * spread train-broadcast plan does. That plan pays a fixed cost (the
    * train broadcast and the test side's shuffle), and one task pays the
    * rank and exact work of each test alone. At the HAR shape (7352 x
    * 561 train, k = 1, DTW band 56, 4 vCPUs) one task is faster up to
    * 256 tests (0.46 against 0.61 s) and slower at 512 (0.97 against
    * 0.71 s). The fixed cost is about 160 tests' work in one task, so
    * one task wins below that however many cores the spread plan has.
    */
  private val LocalRequestRows = 128

  /** Size-driven all-pairs cross join of a (possibly projected) train
    * side against the spread test side, shared by every unpruned
    * pair-generating operator: broadcast while the train side fits an
    * executor, partitioned cartesian beyond that.
    *
    * When the train side exceeds the broadcast budget: broadcast the
    * TEST side instead if it fits (the train side then STREAMS — never
    * shuffled, never replicated per partition — the right plan when a
    * bounded query set probes a huge corpus); only when neither side
    * fits, force a true partitioned cartesian via shuffle_replicate_nl.
    * The explicit hint matters: an unhinted cross join lets Catalyst
    * pick BNLJ from its own stats, which underestimate checkpointed
    * inputs — it would silently broadcast the huge side this decision
    * just rejected.
    */
  private[operators] def crossPairs(trainSel: DataFrame, spreadTest: DataFrame): DataFrame =
    if (spreadTest.isStreaming)
      // stream-static all-pairs has exactly ONE executable plan: the
      // static side broadcast under a BroadcastNestedLoopJoin (an
      // unbounded side can be neither broadcast nor replicated into a
      // partitioned cartesian). Broadcast the train side regardless of
      // the measured-size decision — the floor protects BATCH plans
      // that have a partitioned fallback; here the alternative is an
      // AnalysisException, and a train set genuinely too big to
      // broadcast must be sharded upstream (ANN prefilter / per-class
      // split) before it meets an unbounded test stream.
      spreadTest.crossJoin(broadcast(trainSel))
    else if (fitsBroadcast(trainSel))
      spreadTest.crossJoin(broadcast(trainSel))
    else if (fitsBroadcast(spreadTest))
      trainSel.crossJoin(broadcast(spreadTest))
    else
      spreadTest.hint("shuffle_replicate_nl").crossJoin(trainSel)

  /** All (test x train) candidate pairs with distances.
    * train: (train_id, train_series, label); test: (test_id, test_series).
    */
  private def pairs(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
    val trainSel = train.select(
      col("train_id"), col("train_series"), col("label"))
    val testSel = test.select(col("test_id"), col("test_series"))
    // The stream (test) side often arrives as a handful of input splits
    // (one small parquet file = one partition = one task for the whole
    // distance loop). Spread it across the cluster before the join; the
    // distance kernels dominate, so this tiny shuffle always pays off.
    // A STREAMING test side gets an unconditional stateless repartition:
    // spread() cannot probe a micro-batch's width, each batch inherits
    // its file's split count (a single staged file = ONE task for the
    // whole pair loop — q78's measured 1.5 s single-task stage), and the
    // one-row-moved-once shuffle is always amortized by the |train| x dim
    // kernel work that row then pays.
    val spreadTest =
      if (testSel.isStreaming)
        testSel.repartition(testSel.sparkSession.sparkContext.defaultParallelism)
      else Partitioning.spread(testSel)
    val joined = crossPairs(trainSel, spreadTest)
    val distExpr = distanceColumn(p)(col("test_series"), col("train_series"))
    // When the zero-distance exclusion is on, wrap the distance in a
    // barrier(): a non-deterministic projection field cannot be inlined by
    // predicate pushdown, so the exclusion filter keeps referencing the
    // dist ATTRIBUTE and the kernel runs once per candidate pair (instead
    // of once in the join condition + once in the projection).
    // Null series yield null distances, which would sort NULLS FIRST in
    // the rank window and "win" as nearest neighbors — always drop them
    // (the exclusion predicate already rejects nulls; the plain path needs
    // the explicit isNotNull).
    val withDist = joined.withColumn("dist", SeriesFunctions.barrier(distExpr))
    if (p.excludeZeroDistance) withDist.filter(col("dist") =!= 0.0)
    else withDist.filter(col("dist").isNotNull)
  }

  /** Candidate pairs with distances: the prune cascade when `lbPruning`
    * applies (dtw/fastdtw), else every pair.
    */
  private def candidates(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame =
    if (p.lbPruning && (p.distance == "dtw" || p.distance == "fastdtw"))
      prunedCandidates(train, test, p)
    else pairs(train, test, p)

  /** Top-k neighbors per test point: (test_id, train_id, label, dist, rank). */
  def neighbors(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
    val w = Window.partitionBy(col("test_id"))
      .orderBy(col("dist"), col("train_id")) // deterministic under distance ties
    candidates(train, test, p)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= p.k)
  }

  /** Prune cascade, the DTW scale path:
    * 1. rank every pair by Manhattan distance between PAA sketches —
    *    O(n/coarsen) per pair — and keep the candidateFactor*k
    *    best-ranked per test point in a bounded heap, all inside one
    *    [[KnnCandidates]] node that broadcasts one side once;
    * 2. run the exact kernel only on those candidates, against the
    *    running k-th best: a DTW candidate stops as soon as a whole row
    *    of its cost matrix exceeds the k-th smallest exact distance
    *    already found for its test point
    *    ([[graft.functions.BoundedDtwDistance]]). The node hands it each
    *    test's candidates together, in rank order, so the first candidate
    *    usually sets a tight bound. Every candidate that can enter the
    *    top k is computed exactly, in any row order.
    *
    * The PAA ranking is not an admissible bound, but it tracks the DTW
    * ordering tightly (it is FastDTW's coarse level used as a ranker,
    * Salvador & Chan 2007 §4.1). It is not a proof either: equality with
    * the exact path holds when candidateFactor*k covers the true
    * neighbours, pinned per workload in KnnSpec and by the q25/q26/q33
    * oracles.
    *
    * The orientation follows the same measured-size decisions as the
    * unpruned path ([[fitsBroadcast]], [[crossPairs]]), in this order:
    *  - the train side fits and the test side is a [[localRequest]] (a
    *    classifier request): no exchange at all; the node reads every
    *    train partition in ONE task and keeps each test's global top-fk.
    *    This comes first: a small request would otherwise ship the whole
    *    train side in a broadcast per request. A larger local test side
    *    is spread, as below, so that every core ranks;
    *  - the train side fits (a streaming test side always takes this
    *    branch): the train side is broadcast and the spread test side
    *    streams;
    *  - the test side fits: it is broadcast, each train partition keeps
    *    its local top-fk and one exchange on test_id merges them;
    *  - neither: a partitioned cartesian of slim sketch scores into the
    *    graft_topk_ids heap aggregate.
    */
  private def prunedCandidates(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
    val trainSel = train.select(col("train_id"), col("train_series"), col("label"))
    val testSel = test.select(col("test_id"), col("test_series"))
    val fk = p.candidateFactor * p.k
    // exact phase, projected directly over the candidate rows: DTW runs
    // each test's candidates against its running k-th best; FastDTW has
    // no row-wise bound and keeps the barrier
    val distExpr =
      if (p.distance == "dtw")
        graft.functions.BoundedDtwDistance.column(col("test_id"),
          col("test_series"), col("train_series"), p.band, p.k, p.excludeZeroDistance)
      else SeriesFunctions.barrier(
        distanceColumn(p)(col("test_series"), col("train_series")))

    val trainFits = test.isStreaming || fitsBroadcast(trainSel)
    val withDist =
      if (trainFits && localRequest(testSel))
        KnnCandidates.frame(testSel, trainSel, p.coarsenFactor, fk, KnnCandidates.OneTask)
          .withColumn("dist", distExpr)
      else if (trainFits)
        KnnCandidates.frame(Partitioning.spread(testSel), trainSel, p.coarsenFactor, fk,
          KnnCandidates.TrainBroadcast).withColumn("dist", distExpr)
      else if (fitsBroadcast(testSel)) {
        // each train partition's local top-fk per test, merged by one
        // exchange on test_id. Exact: a survivor in the global top-fk
        // has only global top-fk survivors before it in its partition,
        // so the bound it ran against is valid; any other survivor is
        // dropped here whatever its distance
        val w = Window.partitionBy(col("test_id")).orderBy(col("score"), col("train_id"))
        KnnCandidates.frame(testSel, trainSel, p.coarsenFactor, fk, KnnCandidates.TestBroadcast)
          .withColumn("dist", distExpr)
          .withColumn("cand_rank", row_number().over(w))
          .filter(col("cand_rank") <= fk)
      } else {
        // Neither side fits: slim (test_id, train_id, score) rows over a
        // partitioned cartesian feed a bounded-heap AGGREGATE (the
        // reference's two-phase heap, `Team11-Project.py:180`/`:195`),
        // ONE row of candidate ids per test point. The slim candidate
        // pairs are broadcast so the train payload streams through the
        // hash join; the test-payload join is pinned to sort-merge
        // (Catalyst would otherwise build-broadcast a side from its
        // lying LogicalRDD estimate).
        // barrier() on each sketch: a single-use alias gets inlined by
        // CollapseProject, recomputing the O(n) sketch once per PAIR
        def paaSide(df: DataFrame, seriesCol: String, idCol: String, out: String) =
          df.select(col(idCol), SeriesFunctions.barrier(
            SeriesFunctions.paa(col(seriesCol), p.coarsenFactor)).as(out))
        val perTest = paaSide(Partitioning.spread(testSel), "test_series", "test_id", "sk")
          .hint("shuffle_replicate_nl")
          .crossJoin(paaSide(trainSel, "train_series", "train_id", "tsk"))
          .groupBy(col("test_id"))
          .agg(SeriesFunctions.topkIds(
            SeriesFunctions.manhattan(col("sk"), col("tsk")), col("train_id"), fk).as("cand_ids"))
        val slimPairs = perTest.select(
          col("test_id"), explode(col("cand_ids")).as("train_id"))
        trainSel
          .join(broadcast(slimPairs), "train_id")
          .join(testSel.hint("merge"), "test_id")
          .withColumn("dist", distExpr)
      }
    val filtered =
      if (p.excludeZeroDistance) withDist.filter(col("dist") =!= 0.0) else withDist
    filtered.select(col("test_id"), col("train_id"), col("label"), col("dist"))
  }

  /** Majority-vote classification: (test_id, predicted_label). At k = 1
    * the vote is the nearest neighbour's label, so it plans
    * [[classify1NN]]'s one aggregate instead of a rank window, a vote
    * aggregate and a vote window; the winner is the same, the smallest
    * (dist, train_id).
    */
  def classify(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame =
    if (p.k == 1) classify1NN(train, test, p).select(col("test_id"), col("predicted_label"))
    else {
      val votes = neighbors(train, test, p)
        .groupBy(col("test_id"), col("label"))
        .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
      val w = Window.partitionBy(col("test_id"))
        .orderBy(col("votes").desc, col("best_rank"), col("label"))
      votes
        .withColumn("vr", row_number().over(w))
        .filter(col("vr") === 1)
        .select(col("test_id"), col("label").as("predicted_label"))
    }

  /** Hyper-parameter sweep over k in ONE pass over the pair matrix — the
    * reference ran the sweep as independent notebook cells, one full
    * cartesian + rank + vote per k (`Team11-Project.py:237-322`). Every
    * swept k's top-k is a PREFIX of the k=max ranking (the rank window
    * orders by (dist, train_id), independent of k), so: rank once at
    * k = max(ks), explode each neighbor row into every swept k >= its
    * rank (a <= |ks|-wide fan-out of the already-k-bounded neighbor
    * frame, NOT of the pair matrix), and run one vote aggregation over
    * (test_id, k, label). The expensive scoring subtree appears exactly
    * once in the plan.
    *
    * Returns (test_id, k, predicted_label), one row per test point per
    * swept k, with vote semantics identical per-k to [[classify]].
    */
  def sweepClassify(train: DataFrame, test: DataFrame, p: KnnParams, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be non-empty, all >= 1")
    val nb = neighbors(train, test, p.copy(k = ks.max))
    val ksArr = array(ks.distinct.sorted.map(lit): _*)
    val votes = nb
      .select(col("test_id"), col("label"), col("rank"),
        explode(filter(ksArr, kc => kc >= col("rank"))).as("k"))
      .groupBy(col("test_id"), col("k"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy(col("test_id"), col("k"))
      .orderBy(col("votes").desc, col("best_rank"), col("label"))
    votes
      .withColumn("vr", row_number().over(w))
      .filter(col("vr") === 1)
      .select(col("test_id"), col("k"), col("label").as("predicted_label"))
  }

  /** k=1 fast path, the reference's Model 2 `reduceByKey` min-by
    * (`Team11-Project.py:546`): a single `min_by` aggregate — partial
    * (map-side) + final, no window, one shuffle of one row per test point.
    */
  def classify1NN(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
    candidates(train, test, p.copy(k = 1)).groupBy(col("test_id"))
      .agg(min_by(
        struct(col("dist"), col("train_id"), col("label")),
        struct(col("dist"), col("train_id"))).as("nn"))
      .select(col("test_id"),
        col("nn.label").as("predicted_label"),
        col("nn.dist").as("min_distance"))
  }
}
