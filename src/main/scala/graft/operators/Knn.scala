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
  * Scale: the plan is chosen from measured sizes ([[fitsBroadcast]]),
  * never by the caller. The broadcast plan shuffles ONLY the
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
    // no information, and max()-ing it in would veto every broadcast of
    // a fully-measured persisted frame. Ignore the sentinel; any other
    // estimate still raises the measured floor (a partially-evicted
    // persist under-measures, and the estimate backstops it).
    val sentinel = BigInt(
      try df.sparkSession.conf
        .get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString).toLong
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue })
    val informative = planBytes != sentinel
    // measured size when persisted; the raw estimate only when its
    // sources make it trustworthy — an untrusted estimate (generated
    // payloads over Range, non-persisted RDD scans) means NOT
    // broadcastable, never "probably fine"
    val bytes = graft.core.Materialize.storageBytes(df)
      .map(m => if (informative) m.max(planBytes) else m)
      .orElse(if (informative && graft.core.Materialize.estimateTrusted(df))
        Some(planBytes) else None)
    bytes.exists(_ <= BigInt(cap))
  }

  /** Size-driven all-pairs cross join of a (possibly projected) train
    * side against the spread test side, shared by every pair-generating
    * phase (the unpruned crossJoin AND the prune cascade's ranking +
    * payload joins): broadcast while the train side fits an executor,
    * partitioned cartesian beyond that. `broadcastTrain` carries a
    * decision the caller already made (the prune cascade decides on the
    * full train projection, then joins only its sketch).
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
  private[operators] def crossPairs(
      trainSel: DataFrame, spreadTest: DataFrame,
      broadcastTrain: Option[Boolean] = None): DataFrame =
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
    else if (broadcastTrain.getOrElse(fitsBroadcast(trainSel)))
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
    * 1. sketch each side ONCE scan-side (PAA block means);
    * 2. rank every pair by Manhattan distance between the sketches —
    *    O(n/coarsen) per pair;
    * 3. keep the candidateFactor*k best-ranked per test point via a
    *    bounded heap;
    * 4. run the exact kernel only on survivors, against the running
    *    k-th best: a DTW candidate stops as soon as a whole row of its
    *    cost matrix exceeds the k-th smallest exact distance already
    *    found for its test point
    *    ([[graft.functions.BoundedDtwDistance]]). The fused shape streams
    *    each test's candidates in rank order; the oversize shape groups
    *    them by test_id in sort-merge-join order. Every candidate that
    *    can enter the top k is computed exactly, in any row order.
    *
    * The PAA ranking is not an admissible bound, but it tracks the DTW
    * ordering tightly (it is FastDTW's coarse level used as a ranker,
    * Salvador & Chan 2007 §4.1). It is not a proof either: equality with
    * the exact path holds when candidateFactor*k covers the true
    * neighbours, pinned per workload in KnnSpec and by the q25/q26/q33
    * oracles.
    *
    * Every join here follows the same broadcast-vs-partitioned
    * decision as the unpruned path ([[fitsBroadcast]]) — when the train
    * side exceeds executor memory, the ranking join degrades to a
    * partitioned cross join instead of OOMing.
    */
  private def prunedCandidates(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
    val trainSel = train.select(col("train_id"), col("train_series"), col("label"))
    val testSel = test.select(col("test_id"), col("test_series"))
    val spreadTest = Partitioning.spread(testSel)
    // barrier() on each side's sketch: a single-use alias gets inlined
    // by CollapseProject, which would recompute the O(n) sketch once per
    // PAIR instead of once per row
    def paaSide(df: DataFrame, seriesCol: String, idCol: String, out: String) =
      df.withColumn(out, SeriesFunctions.barrier(
          SeriesFunctions.paa(col(seriesCol), p.coarsenFactor)))
        .select(col(idCol), col(out))
    val trainSketch = paaSide(trainSel, "train_series", "train_id", "tsk")
    // one stats-driven decision per query (conservative: measured on the
    // FULL train projection, reused for the smaller sketch join)
    val bcastTrain = fitsBroadcast(trainSel)
    val fk = p.candidateFactor * p.k
    // exact phase: DTW runs each test's candidates against its running
    // k-th best (both shapes deliver a test's candidates together; the
    // fused one in PAA-rank order, so the first candidate usually sets a
    // tight bound); FastDTW has no row-wise bound and keeps the barrier
    val distExpr =
      if (p.distance == "dtw")
        graft.functions.BoundedDtwDistance.column(col("test_id"),
          col("test_series"), col("train_series"), p.band, p.k, p.excludeZeroDistance)
      else SeriesFunctions.barrier(
        distanceColumn(p)(col("test_series"), col("train_series")))

    if (bcastTrain) {
      // FUSED broadcast path (r22, guide §1.2/§2.4): the train sketches
      // travel as ONE broadcast array<struct<id, sketch>> row and a
      // single expression ([[graft.functions.TopKScanIds]]) ranks every
      // train entry and selects the top-fk candidates per TEST ROW —
      // replacing the oversize shape's BroadcastNestedLoopJoin pair pass,
      // ObjectHashAggregate with its exchange and test-payload
      // SortMergeJoin (measured ~2.5 us/pair of join+aggregate machinery
      // around a ~0.1 us ranking kernel at HAR scale). Selection
      // semantics are identical — same kernel, same TopKIdsBuffer total
      // order. The test payload stays ON the row through candidate
      // selection, so the exact phase explodes in-partition at the
      // spread's parallelism with no join-back.
      val testSk = spreadTest.withColumn("sk", SeriesFunctions.barrier(
        SeriesFunctions.paa(col("test_series"), p.coarsenFactor)))
      val trainArr = trainSketch
        .agg(collect_list(struct(col("train_id"), col("tsk"))).as("tarr"))
      // barrier on cand_ids: InferFiltersFromGenerate adds a
      // size(cand_ids) > 0 predicate above this projection, and pushdown
      // through a deterministic alias would re-run the whole scan per row
      val withDist = testSk
        .crossJoin(broadcast(trainArr))
        .select(col("test_id"), col("test_series"),
          SeriesFunctions.barrier(graft.functions.TopKScanIds.column(
            col("sk"), col("tarr"), fk)).as("cand_ids"))
        .select(col("test_id"), col("test_series"),
          explode(col("cand_ids")).as("train_id"))
        .join(broadcast(trainSel), "train_id")
        .withColumn("dist", distExpr)
      val filtered =
        if (p.excludeZeroDistance) withDist.filter(col("dist") =!= 0.0)
        else withDist
      return filtered.select(
        col("test_id"), col("train_id"), col("label"), col("dist"))
    }

    // Oversize-train path: slim pair scores + bounded-heap selection (the
    // shape that never replicates or collects the train payload).
    // SLIM ranking rows: only (test_id, train_id, score) feed candidate
    // selection — payloads would put candidateCount * seriesBytes into
    // every buffer. Selection is a bounded-heap AGGREGATE (the
    // reference's two-phase heap, `Team11-Project.py:180`/`:195`), not a
    // window rank: sorting tens of millions of pair rows to keep
    // factor*k per group costs more than every ranking score combined.
    val testSketch = paaSide(spreadTest, "test_series", "test_id", "sk")
    val slimDf = crossPairs(trainSketch, testSketch, Some(bcastTrain))
      .select(col("test_id"), col("train_id"),
        SeriesFunctions.manhattan(col("sk"), col("tsk")).as("score"))
    // ONE row per test point (test_id, candidate-id array) out of the
    // heap — the exact phase joins payloads at |test| row counts, not
    // |test|*fk. Selection runs as the native TypedImperativeAggregate
    // (graft_topk_ids): primitive-array heap buffer, no per-row tuple
    // boxing or Kryo buffer codec — the typed-Aggregator twin
    // ([[BoundedTopKByScore]]) keeps identical semantics and cross-checks
    // it in KnnSpec
    val perTest = slimDf.groupBy(col("test_id"))
      .agg(SeriesFunctions.topkIds(col("score"), col("train_id"), fk).as("cand_ids"))
    // Oversize train: broadcast the SLIM (train_id, test_id)
    // candidate pairs instead — fk ids per test point, payload-free —
    // so the train payload STREAMS through the hash join, never
    // collected, never shuffled. An unhinted equi join here would let
    // Catalyst build-broadcast the train side from its lying
    // LogicalRDD estimate. The test-payload join is pinned to
    // sort-merge for the same reason (exchanges the candidate rows
    // and |test| payload rows; replicates nothing unbounded).
    val slimPairs = perTest.select(
      col("test_id"), explode(col("cand_ids")).as("train_id"))
    val withDist = trainSel
      .join(broadcast(slimPairs), "train_id")
      .join(testSel.hint("merge"), "test_id")
      .withColumn("dist", distExpr)
    val filtered =
      if (p.excludeZeroDistance) withDist.filter(col("dist") =!= 0.0) else withDist
    filtered.select(col("test_id"), col("train_id"), col("label"), col("dist"))
  }

  /** Majority-vote classification: (test_id, predicted_label). */
  def classify(train: DataFrame, test: DataFrame, p: KnnParams): DataFrame = {
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
