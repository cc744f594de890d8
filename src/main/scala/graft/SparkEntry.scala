package graft

import graft.core.KnnParams
import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{Dedup, Evaluation, Knn, SimilaritySearch}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with matching DuckDB oracle SQL where the semantics are
  * SQL-expressible (others get the driver's rows-only check and scalatest
  * golden fixtures).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    // every consumer of events.ts assumes the epoch-nanos-long contract;
    // the physical encoding varies by writer (see EventTime)
    graft.sources.EventTime.nanos(s.read.parquet(s"$dir/$name.parquet"))

  /** Globally-sorted frame with a scale-adaptive partition count:
    * `repartitionByRange(n) + sortWithinPartitions` instead of `orderBy`.
    * Same output order — the range partitioner routes by key so
    * partition-major traversal is the globally sorted sequence, and the
    * callers' sort keys are unique (doc_id; the lineitem composite key),
    * so the row sequence is fully determined either way (oracle-hash-
    * gated). The difference is the POST-sort width: an `orderBy` exchange
    * is ENSURE_REQUIREMENTS, which AQE coalesces to ~input-bytes/advisory
    * partitions — ONE partition for a small corpus — so the expensive
    * kernels projected above the sort ran near-serial at test scale (the
    * r21 self-identified gap, guide §2.5). An explicit count is not
    * coalesced; `n` derives from input bytes (floor: cluster parallelism;
    * cap: the session's shuffle-partition setting, exactly where the
    * orderBy exchange would start pre-AQE), so the kernel pass runs wide
    * at EVERY scale instead of only where the input is already big.
    */
  private def sortedWide(df: DataFrame, keys: Seq[String]): DataFrame = {
    val s = df.sparkSession
    val par = s.sparkContext.defaultParallelism.toLong
    val shuffleParts =
      try s.conf.get("spark.sql.shuffle.partitions", par.toString).toLong
      catch { case scala.util.control.NonFatal(_) => par }
    val advisory = math.max(1L,
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
      catch { case scala.util.control.NonFatal(_) => 67108864L })
    val bytes =
      try BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    val byBytes = (bytes / advisory).min(BigInt(Long.MaxValue)).toLong + 1L
    val n = math.max(par, math.min(byBytes, math.max(par, shuffleParts))).toInt
    df.repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
  }

  /** The documents corpus globally sorted by doc_id, slim (doc_id, text)
    * — the shared base of the per-document text-kernel queries (q16-q19,
    * q61, q72, q73). The sort comes FIRST so the expensive kernels ride
    * ABOVE the range exchange: with the sort last, RangePartitioning's
    * bounds-sampling pass re-executes the sort's entire shuffle-free
    * child plan, i.e. every text kernel ran TWICE per row (measured on
    * q37's identical shape: 2.0 s -> 1.4 s restructured). Projections
    * above a sort preserve its row order, so the query output is
    * byte-identical (oracle-hash-gated). [[sortedWide]] keeps the kernel
    * pass wide at every scale.
    */
  private def docsSorted(s: SparkSession, dir: String): DataFrame =
    sortedWide(t(s, dir, "documents").select(col("doc_id"), col("text")),
      Seq("doc_id"))

  /** embeddings split: even vec_id = train, odd = test (FIXTURES.md §B). */
  private def trainTest(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val e = t(s, dir, "embeddings")
    val train = e.filter(col("vec_id") % 2 === 0).select(
      col("vec_id").as("train_id"),
      col("embedding").cast("array<double>").as("train_series"),
      col("label"))
    val test = e.filter(col("vec_id") % 2 === 1).select(
      col("vec_id").as("test_id"),
      col("embedding").cast("array<double>").as("test_series"))
    val truth = e.filter(col("vec_id") % 2 === 1).select(
      col("vec_id").as("test_id"), col("label"))
    (train, test, truth)
  }

  /** Flagship: Model-1-shaped KNN classification (k=5, Euclidean) of the
    * held-out embeddings at sf0.001, evaluated against ground truth —
    * EP2+EP3 end-to-end in one Catalyst lineage.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val (train, test, truth) = trainTest(spark, dir)
    Knn.classify(train, test, KnnParams(k = 5, distance = "euclidean"))
      .join(truth, "test_id")
      .select(col("test_id"), col("predicted_label"), col("label"))
      .orderBy("test_id")
  }

  /** Deterministic HAR-shaped synthetic workload (Q26/Q31): 6 separable
    * classes (sine phase offsets) + hash-noise, sized by the sf tier
    * (sf0.1 = the reference's full 7352x2947x561). Inputs are
    * materialized once — the reference reads its inputs from Hive tables,
    * so generation is not part of the measured workload.
    */
  private val harCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()

  private def harSynth(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // ONE materialization per (session, tier), shared by q25/q26/q31 —
    // per-query checkpoints tripled the block footprint and (never being
    // released) degraded every query that ran after them in a shared
    // session (the round-2 bench defect).
    // evict entries whose session has stopped (their blocks died with
    // the session, but the map must not pin stopped-session object
    // graphs in a long-lived JVM that cycles sessions)
    {
      import scala.jdk.CollectionConverters._
      harCache.keySet.asScala.filter(_._1.sparkContext.isStopped).toList
        .foreach(harCache.remove)
    }
    val (train, testAll) = harCache.computeIfAbsent((s, dir), { _ =>
      val scale =
        if (dir.contains("sf0.1")) 1.0
        else if (dir.contains("sf0.01")) 0.1 else 0.01
      val nTrain = math.max((7352 * scale).toInt, 80)
      val nTest = math.max((2947 * scale).toInt, 30)
      val L = 561
      // native generator expression: value-identical to the declarative
      // transform(sequence(...)) form (ExpressionsSpec pins this) but one
      // codegen call per row instead of 561 interpreted lambda evaluations
      def synth(n: Int, offset: Int, idCol: String, seriesCol: String) =
        s.range(n).select(
          (col("id") + offset).as(idCol),
          pmod(col("id") + offset, lit(6)).cast("double").as("label"),
          call_function("graft_har_series", col("id") + offset, lit(L)).as(seriesCol))
      (synth(nTrain, 0, "train_id", "train_series").localCheckpoint(),
        synth(nTest, 1000000, "test_id", "test_series").localCheckpoint())
    })
    (train,
      testAll.select(col("test_id"), col("test_series")),
      testAll.select(col("test_id"), col("label")))
  }

  /** Materialize the shared inputs for `sfDir` ahead of measurement.
    * The HAR-shaped series workload reads its inputs from tables in the
    * reference (Hive, `Team11-Project.py:60-63`) — generating them is
    * setup, not workload — so Bench warms them here rather than charging
    * the one-time synthesis+checkpoint to whichever series query happens
    * to run first.
    */
  def warmup(s: SparkSession, sfDir: String): Unit = {
    GraftFunctions.register(s)
    harSynth(s, sfDir)
  }

  /** The HAR-shaped published workload (q25/q26/q31's inputs: train,
    * test, truth — sf0.1 = the reference's full 7352x2947x561) for
    * external drivers; [[KSweep]] uses it to run the reference's
    * published five-k sweep (`Team11-Project.py:237-322`) on the exact
    * Model-2 corpus rather than the embeddings table.
    */
  def harWorkload(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    GraftFunctions.register(s)
    harSynth(s, dir)
  }

  /** Release every frame this object has materialized for `s` (the HAR
    * workload inputs). Used by Bench's isolated mode; a long-lived
    * production session can call it when the series workloads are done.
    */
  /** Keys of the derived-RESULT memos (q26's prediction table, the IVF
    * centroid fits) currently held for `s`. Bench snapshots this before
    * each query's repeat loop and calls [[dropDerivedMemosExcept]]
    * between repeats, so a repeat re-measures whatever the query itself
    * computed in run 1 (q26's cascade, q28's fit) while memos that
    * PRE-DATE the query keep their suite semantics (q31 scores the
    * re-read prediction table q26 produced — the reference's shape, the
    * cascade runs once per suite). Without this, q26's 2nd/3rd runs
    * re-read 3 tasks of parquet and the median reports the cache, not
    * the cascade. Warmed INPUT materializations (harSynth) are not
    * memos of measured work and are never dropped here.
    */
  def derivedMemoKeys(s: SparkSession): Set[Any] = {
    import scala.jdk.CollectionConverters._
    (harPredCache.keySet.asScala.filter(_._1 eq s).toSet[Any]
      ++ SimilaritySearch.sessionCacheKeys(s))
  }

  /** Drop `s`'s derived-result memos except `keep` (see
    * [[derivedMemoKeys]]).
    */
  def dropDerivedMemosExcept(s: SparkSession, keep: Set[Any]): Unit = {
    import scala.jdk.CollectionConverters._
    harPredCache.keySet.asScala.filter(_._1 eq s).toList
      .filterNot(keep).foreach(harPredCache.remove)
    SimilaritySearch.dropSessionCacheExcept(s, keep)
  }

  def clearSessionCaches(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    SimilaritySearch.clearSessionCache(s)
    q28FittedCentroids.keySet.asScala.filter(_._1 eq s).toList
      .foreach(k => q28FittedCentroids.remove(k))
    harCache.keySet.asScala.filter(_._1 eq s).toList.foreach { key =>
      Option(harCache.remove(key)).foreach { case (train, testAll) =>
        graft.core.Materialize.releaseCheckpoint(train)
        graft.core.Materialize.releaseCheckpoint(testAll)
      }
    }
    // prediction-table frames pin no storage blocks (the table lives on
    // disk); dropping the map entry is enough
    harPredCache.keySet.asScala.filter(_._1 eq s).toList
      .foreach(harPredCache.remove)
  }

  /** Q26/Q31 cascade parameters: exact banded DTW (Sakoe-Chiba 10%),
    * PAA-Manhattan candidate ranking, 16x candidate margin.
    */
  private val harParams = KnnParams(distance = "dtw", band = 56,
    lbPruning = true, candidateFactor = 16, coarsenFactor = 8)

  /** Q26's prediction TABLE, materialized once per (session, tier) via
    * the reference's own I/O surface: every model run is written with
    * `saveAsTable` (`Team11-Project.py:199`, `:381`) and evaluation
    * re-reads the prediction table (`:208-227`, `:243`) — it never
    * re-runs the model. q26 pays the cascade + write exactly once; q31
    * scores the re-read frame (a parquet scan + join, not 3 s of
    * duplicated DTW work per suite run).
    *
    * Single-writer contract: the table NAME is keyed by `dir` alone, so
    * two live sessions in one JVM running q26 against the SAME dir
    * concurrently would race on the overwrite. Every current driver
    * (Bench, Verify, the gates, one shared session per test suite) is
    * single-session-per-dir; a future multi-session host must serialize
    * q26 per dir or key the table by session too.
    */
  private val harPredCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def harPredictions(s: SparkSession, dir: String): DataFrame = {
    {
      import scala.jdk.CollectionConverters._
      harPredCache.keySet.asScala.filter(_._1.sparkContext.isStopped).toList
        .foreach(harPredCache.remove)
    }
    harPredCache.computeIfAbsent((s, dir), { _ =>
      val (train, test, _) = harSynth(s, dir)
      val table = "graft_q26_predictions_" +
        dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_|_$", "")
      graft.sources.TableSink.overwriteTable(
        Knn.classify1NN(train, test, harParams)
          .select(col("test_id"), col("predicted_label")),
        table)
    })
  }

  // ------------------------------------------------------------- queries

  /** Every query gets the graft function registry installed (idempotent)
    * so custom expressions resolve regardless of which session runs it.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftFunctions.register(s); fn(s, dir)
      })
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 — scan + cast + filter + project (S1, P5, P7, P9)
    "q1_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("qty"), col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Q2 — equi inner join (J1); customer side broadcast by Catalyst
    "q2_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Q3 — windowed top-k per key (W1/W2)
    "q3_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // Q4 — grouped aggregation (A2, A7)
    "q4_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 4).as("sq"),
          round(avg(col("l_extendedprice")), 4).as("ap"),
          min(col("l_discount")).as("md"),
          max(col("l_tax")).as("mt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q5 — majority vote / mode (A5) with deterministic tie-break
    "q5_mode" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("c").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // Q6 — cross join + abs arithmetic (J4, P6)
    "q6_cross_abs" -> ((s, dir) => {
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.crossJoin(r)
        .select(col("n_name"), col("r_name"),
          abs(col("n_regionkey") - col("r_regionkey")).as("d"))
        .orderBy("n_name", "r_name")
    }),

    // Q7 — min-by / argmin (A6) via min_by aggregate
    "q7_argmin" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min_by(struct(col("value"), col("event_id")),
          struct(col("value"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"),
          col("m.value").as("mv"))
        .orderBy("user_id")
    }),

    // Q8 — accuracy evaluator shape (A7, M6): single-pass avg(when)
    "q8_accuracy" -> ((s, dir) => {
      val a = t(s, dir, "events").select(col("event_id"), col("value").as("va"))
      val b = t(s, dir, "events").select(col("event_id"), col("value").as("vb"))
      Evaluation.accuracy(a.join(b, "event_id"), col("va"), col("vb"))
    }),

    // Q9 — 1-NN Euclidean, Model-2 shape: broadcast + min_by (M2, M5, J5, A6)
    "q9_knn_eu_k1" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, _) = trainTest(s, dir)
      Knn.classify1NN(train, test, KnnParams(distance = "euclidean"))
        .select(col("test_id"), col("predicted_label"))
        .orderBy("test_id")
    }),

    // Q10 — k-NN Euclidean k=5, Model-1 shape: top-k + majority vote (M2, M4, A4, A5)
    "q10_knn_eu_k5" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, _) = trainTest(s, dir)
      Knn.classify(train, test, KnnParams(k = 5, distance = "euclidean"))
        .orderBy("test_id")
    }),

    // Q11 — KNN accuracy end-to-end (M6): predictions vs truth
    "q11_knn_accuracy" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, truth) = trainTest(s, dir)
      val pred = Knn.classify(train, test, KnnParams(k = 5, distance = "euclidean"))
      Evaluation.accuracy(pred.join(truth, "test_id"),
        col("predicted_label"), col("label"))
    }),

    // Q12 — 1-NN exact unconstrained DTW (M3) under the HASH GATE since
    // r8: test series are the REAL embeddings shifted by a per-row
    // integer offset (vec_id % 10); train series are constant runs keyed
    // by nation (value = n_nationkey, lengths 57..64, never longer than
    // the test length 64). Unconstrained DTW against a constant series
    // no longer than x has an exact closed form the oracle replays in
    // SQL: every warping path visits each x_i at least once (cost
    // |x_i - v| per visit) and the minimal path visits each exactly
    // once, so DTW(x, [v]*m) = sum_i |x_i - v| for m <= n — and that DP
    // accumulation IS the left-to-right fold, bit-identical to the
    // oracle's list_sum (m > n would interleave the forced-repeat costs
    // mid-fold, a different FP association than closed-form "+ (m-n) *
    // min", inviting ulp-level rounding-boundary flakiness in the gate;
    // the repeat branch stays covered exactly by q46's constant-constant
    // form where every association yields the same product). The engine
    // still runs the full O(n*m) DP (graft_dtw band=-1) on non-constant
    // inputs — every matrix cell computes regardless of m vs n — and the
    // gate checks the RAW DP VALUE bit-for-bit: since the fold is
    // bit-identical to the oracle's list_sum by construction, no
    // rounding is needed, and r8's round(...,6) was itself the only FP
    // hazard left (Spark's BigDecimal HALF_UP vs DuckDB's float-scaled
    // ROUND can disagree on a repr landing exactly on a 1e-6 half
    // boundary). Fully-random-pair DTW stays covered by KernelsSpec
    // brute-force parity.
    "q12_knn_dtw_k1" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = t(s, dir, "embeddings")
      val test = e.filter(col("vec_id") % 2 === 1).select(
        col("vec_id").as("test_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + pmod(col("vec_id"), lit(10)).cast("double")).as("test_series"))
      val n = t(s, dir, "nation")
      val train = n.select(
        col("n_nationkey").cast("long").as("train_id"),
        array_repeat(col("n_nationkey").cast("double"),
          (lit(57) + pmod(col("n_nationkey") * 7, lit(8))).cast("int")).as("train_series"),
        col("n_regionkey").cast("double").as("label"))
      Knn.classify1NN(train, test, KnnParams(distance = "dtw"))
        .select(col("test_id"), col("predicted_label"), col("min_distance"))
        .orderBy("test_id")
    }),

    // Q13 — k-NN FastDTW k=5 (M3, M4) under the HASH GATE: q44's
    // constant-series closed form (fastdtw == dtw == |x-y|*max(n,m) on
    // constant series at every recursion depth, KernelsSpec-pinned)
    // composed with the FULL k=5 vote pipeline (top-k + majority vote +
    // tie-break), so the plan runs graft_fastdtw through Model-1's
    // cartesian + WindowGroupLimit + vote path and DuckDB replays every
    // step. Retires the last kernel-family no_oracle (the random-vector
    // variant this replaces is the same code path — Knn.classify with
    // distance="fastdtw" — and stays covered by KnnSpec fixtures).
    "q13_knn_fastdtw_k5" -> ((s, dir) => {
      GraftFunctions.register(s)
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("key"),
        col("n_regionkey").cast("double").as("label"),
        (lit(4) + pmod(col("n_nationkey") * 7, lit(41))).cast("int").as("len"))
      val train = n.select(col("key").as("train_id"),
        array_repeat(col("key").cast("double"), col("len")).as("train_series"),
        col("label"))
      val test = n.select(col("key").as("test_id"),
        array_repeat(col("key").cast("double"), col("len")).as("test_series"))
      Knn.classify(train, test, KnnParams(k = 5, distance = "fastdtw", radius = 1))
        .orderBy("test_id")
    }),

    // Q29 — the DTW kernel under the DuckDB oracle: banded DTW with
    // band=0 on equal-length series admits only the diagonal warping
    // path, so graft_dtw(a, b, 0) == Manhattan distance — which DuckDB
    // CAN compute. Same KNN pipeline as Q10 (crossJoin -> distance ->
    // top-k -> vote), but the plan's distance expression is the real DTW
    // dynamic program; a kernel regression now fails the round gate, not
    // just scalatest.
    "q29_knn_dtw_band0" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, _) = trainTest(s, dir)
      Knn.classify(train, test, KnnParams(k = 5, distance = "dtw", band = 0))
        .orderBy("test_id")
    }),

    // Q33 — the WHOLE prune cascade under the DuckDB oracle: with band=0
    // the exact kernel is Manhattan distance (Q29's trick), so the
    // sketch ranking + bounded-heap candidate selection + exact phase
    // must reproduce the brute-force Manhattan KNN bit-for-bit for the
    // hash to match. candidateFactor is sized so the sketch ranking's
    // survivors provably contain the true top-k on this corpus (pinned
    // by the oracle itself).
    "q33_knn_pruned_band0" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, _) = trainTest(s, dir)
      // coarsen 2 / factor 48: measured-exact with a 2x budget margin on
      // this corpus (factor 24 first misses at coarsen 2)
      Knn.classify(train, test,
        KnnParams(k = 5, distance = "dtw", band = 0, lbPruning = true,
          coarsenFactor = 2, candidateFactor = 48))
        .orderBy("test_id")
    }),

    // Q25 — pruned banded DTW KNN, Model-1 shape (k=5 vote) on the HAR
    // series domain. Pruning is a TIME-SERIES technique: on structured
    // series the PAA ranking reproduces the exact result at an 8x
    // budget; on unstructured random vectors no cheap sketch predicts
    // the banded-DTW ordering (measured: >40% wrong predictions at any
    // reasonable budget), so this query runs where the operator is
    // actually sound. Classes are separable, so
    // the exact result has the closed form predicted == id % 6 — which
    // the oracle checks, making the k=5 cascade driver-verified.
    "q25_knn_dtw_pruned" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, _) = harSynth(s, dir)
      Knn.classify(train, test,
        KnnParams(k = 5, distance = "dtw", band = 8, lbPruning = true,
          candidateFactor = 8))
        .orderBy("test_id")
    }),

    // Q26 — the reference's headline workload at its published size
    // (BASELINE.md Model 2: broadcast 1-NN over 7352 train / 2947 test x
    // 561-length series, ~19 s on a Databricks cluster). Series are
    // synthesized deterministically; size scales with the sf tier
    // (sf0.1 = full HAR size). Engine plan: PAA-ranked prune cascade +
    // exact banded DTW on survivors — a strictly stronger answer than the
    // reference's approximate FastDTW, still broadcast + min_by.
    // (The 8:1 PAA sketch keeps phase at band 56 ~ one signal period,
    // where an envelope lower bound would be ~0 for every candidate —
    // KnnSpec "PAA ranker stays exact where LB_Keogh degenerates".)
    "q26_har_model2_1nn" -> ((s, dir) => {
      GraftFunctions.register(s)
      harPredictions(s, dir).orderBy("test_id")
    }),

    // Q31 — Q26's predictions scored against the synthesized ground
    // truth (M6 on the HAR workload): the classes are separable, so this
    // scalar is a deterministic semantic check on the whole DTW cascade,
    // not just a row count. Reference-faithful evaluation shape: score
    // the RE-READ prediction table (`Team11-Project.py:208-227`, `:243`)
    // — the cascade runs once per suite, not once per evaluation.
    "q31_har_accuracy" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (_, _, truth) = harSynth(s, dir)
      Evaluation.accuracy(harPredictions(s, dir).join(truth, "test_id"),
        col("predicted_label"), col("label"))
    }),

    // Q30 — the reference's actual I/O surface round-tripped: predictions
    // written with `saveAsTable` (the reference writes every model run to
    // a metastore table, `Team11-Project.py:199`, `:381`), read back with
    // `spark.table` (`:243`, `:397`), then evaluated — S1 + S3 + M6 in
    // one oracle-checked lineage.
    "q30_table_roundtrip" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, truth) = trainTest(s, dir)
      val back = graft.sources.TableSink.overwriteTable(
        Knn.classify1NN(train, test, KnnParams(distance = "euclidean"))
          .select(col("test_id"), col("predicted_label")),
        "graft_q30_predictions")
      Evaluation.accuracy(back.join(truth, "test_id"),
        col("predicted_label"), col("label"))
    }),

    // Q27 — duplicate clusters: connected components of the jaccard>=0.3
    // pair graph, min-id labels (oracle: DuckDB recursive CTE closure).
    // Edges come from the LSH generator (sum-of-bucket^2 candidate cost,
    // exact-Jaccard verified, same banding/recall math as Q22) — the
    // 100 TB shape, hash-matching the brute-force recursive-CTE oracle.
    "q27_dedup_clusters" -> ((s, dir) => {
      GraftFunctions.register(s)
      Dedup.duplicateClusters(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.3)
        .orderBy("id")
    }),

    // Q34 — scalar length-inference aggregate (SURVEY A1: the reference's
    // rdd.map(len).max() at Team11-Project.py:65, declaratively) + count
    // action shape (S4)
    "q34_series_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .agg(max(size(col("embedding"))).cast("long").as("max_len"),
          count(lit(1)).as("n"))
    }),

    // Q35 — scalable 1..N row ids (SURVEY W1: the reference's
    // single-partition row_number over orderBy(lit('A')),
    // Team11-Project.py:93-97, reimplemented as per-partition offsets).
    // After a global sort the assignment order is the sort order, so the
    // ids are deterministic and DuckDB-checkable. Also exercises P4
    // (drop column).
    "q35_rowid" -> ((s, dir) => {
      // withRowIdSorted, not withRowId(df.orderBy(...)): same sort, but
      // the SORTED form declares the determinism contract (unique key)
      // — no misuse warning — and elides the full-row persist for this
      // scan-rooted input (the r14 persist tripled q35's input bytes)
      graft.ingest.SeriesIngest.withRowIdSorted(
        t(s, dir, "nation"), Seq("n_nationkey"))
        .drop("n_comment")
        .select(col("row_id"), col("n_nationkey"), col("n_name"))
        .orderBy("row_id")
    }),

    // Q36 — equi join on a WHOLE-VECTOR key (SURVEY J2: the reference
    // joins predictions to features on equality of the 561-dim vector,
    // Team11-Project.py:218 — fragile but supported; arrays are
    // equatable join keys in both engines). Self-join match count: every
    // row matches itself plus any exact-duplicate vectors.
    "q36_vector_equality_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.as("a").join(e.as("b"), col("a.v") === col("b.v"))
        .agg(count(lit(1)).as("n"))
    }),

    // Q37 — VectorAssembler (SURVEY M1, Team11-Project.py:108-110):
    // assemble four lineitem measures into an ML vector, compute its L2
    // norm via vector_to_array — the MLlib interop path under the oracle.
    "q37_vector_assembler" -> ((s, dir) => {
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.functions.vector_to_array
      // Sort FIRST, on the slim scan, then run the assembler + norm above
      // the sort (order-preserving projections): RangePartitioning's
      // sampling pass re-executes the sort's whole shuffle-free child
      // plan, so with the sort LAST the assembler UDF + norm kernel ran
      // twice per row (measured 2.0 s vs 1.4 s restructured — guide §1.4
      // measure / §2.4 place the exchange before the expensive work, not
      // after). The sample pass now re-reads only the column-pruned scan.
      val li = sortedWide(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double"),
          col("l_extendedprice").cast("double"),
          col("l_discount").cast("double"),
          col("l_tax").cast("double")),
        Seq("l_orderkey", "l_linenumber"))
      val assembled = new VectorAssembler()
        .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .setOutputCol("features")
        // a row missing a measure has no meaningful vector: skip it
        // rather than crash the job (default "error") or NaN-poison
        // downstream distances ("keep")
        .setHandleInvalid("skip")
        .transform(li)
      // norm via the codegen dot kernel: `aggregate` (a higher-order
      // function) is interpreted per element, measurably slower at 600k
      // rows than one generated graft_dot call on the same array.
      // barrier() on the array projection: graft_dot(arr, arr) names the
      // vector_to_array UDF twice, and CollapseProject inlines a
      // deterministic single-use alias — the plan then ran the UDF twice
      // per row; the barrier keeps it a referenced attribute (one eval).
      val arr = graft.functions.SeriesFunctions.barrier(
        vector_to_array(col("features")).cast("array<double>"))
      assembled.select(col("l_orderkey"), col("l_linenumber"), arr.as("_arr"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(graft.functions.SeriesFunctions.dotProduct(
            col("_arr"), col("_arr"))), 6).as("norm"))
    }),

    // Q38 — the k hyper-parameter sweep as one declared query (SURVEY
    // M7: the reference's manual per-k notebook cells,
    // Team11-Project.py:237-322). One-pass: rank once at k=max, every
    // swept k votes on its rank prefix (Knn.sweepClassify) — the pair
    // matrix is scored once, not once per k.
    "q38_ksweep" -> ((s, dir) => {
      GraftFunctions.register(s)
      val (train, test, truth) = trainTest(s, dir)
      val preds = Knn.sweepClassify(train, test,
        KnnParams(distance = "euclidean"), Seq(1, 3, 5))
      Evaluation.groupedAccuracy(preds.join(truth, "test_id"),
        Seq(col("k")), col("predicted_label"), col("label"))
        .orderBy("k")
    }),

    // Q39 — the EP1 ingestion pipeline under the oracle (SURVEY P1, P2,
    // P5, P3: the reference's split -> clean-UDF -> cast -> pivot,
    // Team11-Project.py:38-114): raw whitespace-padded strings are built
    // from integer columns (integer rendering is engine-portable, float
    // rendering is not), parsed with the higher-order filter + cast
    // pipeline, pivoted to wide columns.
    "q39_ingest_ep1" -> ((s, dir) => {
      val raw = t(s, dir, "nation").select(col("n_name"),
        concat_ws(" ", lit(""), col("n_nationkey").cast("string"), lit(""),
          col("n_regionkey").cast("string"), lit("")).as("raw"))
      val parsed = raw.select(col("n_name"),
        graft.ingest.SeriesIngest.parseSeries(col("raw")).as("series"))
      graft.ingest.SeriesIngest.pivotSeries(parsed, "series", 2)
        .orderBy("n_name")
    }),

    // Q40 — skew-resistant salted join: replicate-right / scatter-left
    // over `salt` shards, then drop the salt — semantics identical to
    // the plain equi join (the oracle is exactly Q2's), while a hot key
    // spreads over `salt` tasks instead of melting one. This is the
    // explicit skew tool; AQE's skew-join handles the sort-merge case
    // adaptively.
    "q40_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey")
      val c = t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey")
      graft.operators.Partitioning.saltedJoin(o, c, "custkey", salt = 4)
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Q41 — co-located bucketed join (S3 + J1 at scale): both sides
    // written bucketed+sorted on the join key, re-read via spark.table,
    // joined shuffle-free (SortMergeJoin with no Exchange — asserted in
    // PartitioningSpec; here the VALUES are oracle-checked against the
    // raw tables).
    "q41_bucketed_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      graft.operators.Partitioning.writeBucketed(o, "graft_q41_orders", Seq("o_custkey"), 8)
      graft.operators.Partitioning.writeBucketed(c, "graft_q41_customer", Seq("c_custkey"), 8)
      val ob = s.table("graft_q41_orders")
      val cb = s.table("graft_q41_customer")
      ob.join(cb, ob("o_custkey") === cb("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Q42 — event sessionization via session_window (the event-time
    // session shape Structured Streaming shares with batch): events
    // within a 5-minute gap merge into one session per user. The events
    // timestamp column arrives as TIMESTAMP(NANOS) read as long
    // (nanosAsLong); second precision is used on both engines so the
    // oracle's gaps-and-islands formulation agrees exactly.
    "q42_sessionize" -> ((s, dir) => {
      // integral nanos->seconds division: a double detour (ts / 1e9)
      // cannot represent ~1.7e18 exactly and flips second boundaries
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"))
      ev.groupBy(col("user_id"), session_window(col("tss"), "5 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // Q43 — corpus vocabulary stats: explode + distinct aggregation (the
    // engine inherits distinct aggregates from Spark; a training-data
    // pipeline uses this shape for vocab sizing). countDistinct plans a
    // two-phase expand+agg — no driver-side set.
    "q43_vocab" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("vocab"),
          count(lit(1)).as("total_tokens"))
    }),

    // Q44 — FastDTW under the hash gate (SURVEY M3; the reference's
    // DEFAULT distance, Team11-Project.py:339-341): full 1-NN
    // classification (Model-2 min_by path) with graft_fastdtw over
    // CONSTANT series of data-driven varied lengths. On constant series
    // exact DTW is |x-y|*max(n,m) (minimal-cell path) and halving
    // preserves constancy, so FastDTW hits that closed form at every
    // recursion depth (KernelsSpec pins this exhaustively for lengths
    // 1..64) — which makes the whole pipeline DuckDB-replayable.
    "q44_fastdtw_1nn" -> ((s, dir) => {
      GraftFunctions.register(s)
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("key"),
        col("n_regionkey").cast("double").as("label"),
        (lit(4) + pmod(col("n_nationkey") * 7, lit(41))).cast("int").as("len"))
      val train = n.select(col("key").as("train_id"),
        array_repeat(col("key").cast("double"), col("len")).as("train_series"),
        col("label"))
      val test = n.select(col("key").as("test_id"),
        array_repeat(col("key").cast("double"), col("len")).as("test_series"))
      Knn.classify1NN(train, test, KnnParams(distance = "fastdtw", radius = 1))
        .select(col("test_id"), col("predicted_label"),
          round(col("min_distance"), 6).as("min_distance"))
        .orderBy("test_id")
    }),

    // Q46 — UNCONSTRAINED DTW (band = -1; the full-matrix recurrence,
    // q12's code path — band=0 and banded runs gate the diagonal and
    // windowed paths, this gates the unwindowed one) under the same
    // constant-series closed form as q44: exact DTW on constant series
    // is |x-y|*max(n,m) with no approximation involved.
    "q46_dtw_unconstrained_1nn" -> ((s, dir) => {
      GraftFunctions.register(s)
      val n = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("key"),
        col("n_regionkey").cast("double").as("label"),
        (lit(4) + pmod(col("n_nationkey") * 7, lit(41))).cast("int").as("len"))
      val train = n.select(col("key").as("train_id"),
        array_repeat(col("key").cast("double"), col("len")).as("train_series"),
        col("label"))
      val test = n.select(col("key").as("test_id"),
        array_repeat(col("key").cast("double"), col("len")).as("test_series"))
      Knn.classify1NN(train, test, KnnParams(distance = "dtw", band = -1))
        .select(col("test_id"), col("predicted_label"),
          round(col("min_distance"), 6).as("min_distance"))
        .orderBy("test_id")
    }),

    // Q47 — as-of join (temporal alignment, beyond the reference): every
    // click event picks up the most recent PRECEDING view event of the
    // same user. Spark-first single-shuffle shape (union + side tag +
    // running last-ignoring-nulls window — no range join, no per-key
    // explosion); the oracle replays it with a correlated LATERAL top-1.
    "q47_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.asofBackward(
        clicks, views, Seq("user_id"), "ts", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // Q49 — bounded-fanout range join (temporal correlation, beyond the
    // reference): each click event counts the error events of the same
    // user within +-10 minutes. Equi join on (key, time bucket) with
    // fanout 2 + exact post-filter — never an inequality nested loop.
    // Nanos stay integral end to end (q42's epoch_ns convention).
    "q49_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val w = 600000000000L // 10 min in nanos
      val pairs = graft.operators.RangeJoin.rangePairs(
        clicks, errors, Seq("user_id"), "ts", -w, w, Seq("event_id"))
      clicks
        .join(pairs.groupBy(col("event_id")).agg(count(lit(1)).as("n_errors")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
        .orderBy("event_id")
    }),

    // Q50 — TF-IDF top terms per document (text-analysis north star):
    // tf per (doc, term), smoothed idf from per-term document
    // frequency, corpus size as a broadcast scalar, per-doc top-3 by
    // ROUNDED tf-idf (rounding first makes the cross-engine ordering
    // exact: near-ties become ties, broken by term).
    "q50_tfidf" -> ((s, dir) => {
      graft.operators.Tfidf.topTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")
    }),

    // Q51 — multi-level aggregate via ROLLUP (beyond the reference's
    // flat groupBy): per-(flag,status) totals, per-flag subtotals, and
    // the grand total in ONE pass — Spark plans this as an Expand (each
    // input row replicated per grouping set) feeding a single hash
    // aggregate, not three scans. Ordering pins NULLS FIRST because the
    // engines' defaults differ.
    "q51_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 4).as("sq"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Q52 — grouped EXACT percentiles (quality-scoring cutoffs are
    // percentile-driven in data pipelines): median and p90 of value per
    // event type. Spark's `percentile` and DuckDB's `quantile_cont`
    // share linear-interpolation semantics; rounding absorbs the last
    // ulp of the interpolation arithmetic.
    "q52_percentiles" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // Q53 — pivot aggregation (wide per-entity feature rows from long
    // event logs — the classic feature-engineering reshape). Explicit
    // pivot values keep the plan one-pass (no distinct-scan) and the
    // output schema static.
    "q53_pivot" -> ((s, dir) => {
      // fill ONLY the pivoted count columns: an unrestricted na.fill(0)
      // also rewrites a null GROUP KEY to 0, silently merging the
      // null-user group into real user 0 (found by the relational fuzz)
      val cells = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", cells)
        .agg(count(lit(1)))
        .na.fill(0L, cells)
        .orderBy("user_id")
    }),

    // Q54 — semi + anti joins (SURVEY §2.7 named these absent from the
    // reference; they are the existence-filter shape every pipeline
    // needs): customers WITH at least one order (left semi — no
    // duplication, no payload from the right side) and WITHOUT any
    // (left anti), counted per nation.
    "q54_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val okeys = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      val withOrders = c.join(okeys, Seq("c_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("with_orders"))
      val withoutOrders = c.join(okeys, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("without_orders"))
      withOrders.join(withoutOrders, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy("c_nationkey")
    }),

    // Q55 — set operations (INTERSECT / EXCEPT, also §2.7-absent):
    // users who both click and error vs. users who only click. Spark's
    // intersect/except are the DISTINCT forms, matching SQL.
    "q55_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clickers = ev.filter(col("event_type") === "click")
        .select(col("user_id")).distinct()
      val erroring = ev.filter(col("event_type") === "error")
        .select(col("user_id"))
      clickers.intersect(erroring).withColumn("tag", lit("both"))
        .union(clickers.except(erroring).withColumn("tag", lit("click_only")))
        .orderBy("user_id", "tag")
    }),

    // Q56 — JSON scalar extraction (§2.7-absent category; semi-
    // structured props columns are universal in event pipelines):
    // pull props.k out of the JSON string, aggregate per event type.
    "q56_json" -> ((s, dir) => {
      // try_cast, not cast: under Spark 4's default ANSI mode a single
      // non-integral/malformed k ('{"k": 3.9}') would FAIL the whole
      // job instead of contributing null (found by the relational fuzz;
      // the DuckDB oracle's TRY_CAST has the same null-on-bad semantics)
      t(s, dir, "events")
        .select(col("event_type"),
          expr("try_cast(get_json_object(props, '$.k') as long)").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"),
          round(avg(col("k")), 6).as("k_avg"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // Q57 — date bucketing on the nanos timeline (§2.7 date-function
    // category, kept integral: day = ts div 86_400e9 — a double detour
    // loses whole seconds at 1e18, q42's lesson): daily event counts
    // and distinct users.
    "q57_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("epoch_day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("epoch_day")
    }),

    // Q14 — exact dedup groups (north-star: Deduplication/exact)
    "q14_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
        .orderBy("keep_id")
    }),

    // Q15 — n-gram Jaccard similarity pairs (north-star: near-dup, exact baseline)
    "q15_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // Q16 — token counting + element access (north-star: text analysis;
    // P1-P3). Kernels ride ABOVE the doc_id sort (docsSorted): with the
    // sort last, RangePartitioning's sampling pass re-executed the whole
    // shuffle-free scan+kernel child, running every text kernel twice
    // per row (guide §1.4/§2.4; same restructure as q37).
    "q16_token_count" -> ((s, dir) => {
      docsSorted(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"),
        get(TextFunctions.tokens(col("text")), lit(0)).as("first_token"))
    }),

    // Q17 — quality scoring (north-star: text analysis); kernels above
    // the sort, q16's rationale
    "q17_quality" -> ((s, dir) => {
      docsSorted(s, dir).select(col("doc_id"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.meanTokenLength(col("text")), 6).as("mean_tok_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    }),

    // Q18 — language ID heuristic (north-star: text analysis); kernel
    // above the sort, q16's rationale
    "q18_langid" -> ((s, dir) => {
      docsSorted(s, dir)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
    }),

    // Q19 — document fingerprint: portable 59-bit rotate-xor codepoint
    // fold, recomputed exactly by the DuckDB oracle
    "q19_fingerprint" -> ((s, dir) => {
      GraftFunctions.register(s)
      docsSorted(s, dir)
        .select(col("doc_id"),
          graft.functions.SeriesFunctions.charFoldFingerprint(
            TextFunctions.tokens(col("text"))).as("fp"))
    }),

    // Q20 — brute-force cosine top-k ANN baseline (north-star: similarity search)
    "q20_ann_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      SimilaritySearch.bruteForceTopK(queries, corpus, 5)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q21 — LSH-bucketed ANN (scale path; probabilistic -> rows-only,
    // recall measured in scalatest against Q20)
    "q21_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      SimilaritySearch.lshTopK(queries, corpus, 5, dim = 64, bits = 10, tables = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q28 — IVF ANN with a LIVE sampled-KMeans fit (the ivfTopK entry
    // point), under the hash gate since r8: the fit is deterministic
    // (seeded id-sorted sample, seeded fixed-iteration Lloyd), runs
    // driver-side at verify time, and [[oracleSql]] injects the captured
    // centroid array as literals into the q45-style DuckDB replay — so
    // cell assignment, probing, and the exact rerank are all checked
    // against the very centroids the plan used. q45 stays the
    // pre-fit-literal production variant; this row gates the fit path.
    "q28_ann_ivf" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      val centers = SimilaritySearch.fitOrGetCentroids(corpus, numCells = 16)
      // an empty-corpus fit has no centroid literals to replay — leave
      // the stash alone so the oracle entry degrades to rows-only
      // instead of emitting a zero-row `ctr` CTE (malformed VALUES)
      if (centers.nonEmpty) stashQ28Fit(s, dir, centers)
      SimilaritySearch.ivfTopKWithCentroids(queries, corpus, 5, centers, probes = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q45 — IVF ANN under the hash gate: same probe/rerank pipeline as
    // Q28 but against FIXED pre-fit centroids (the documented production
    // path for 100 TB — centroids fit once offline, enter the plan as
    // literals). Fully deterministic, so cell assignment, probing, and
    // the exact rerank all replay in DuckDB (q21's plane-literal
    // technique).
    "q45_ann_ivf_det" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      SimilaritySearch.ivfTopKWithCentroids(queries, corpus, 5, ivfCentroids, probes = 3)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q48 — int8-quantized ANN: quantized prefilter (top k*4 per query
    // on int8 vectors — the 8x-less-bandwidth scan at 100 TB), exact
    // full-precision rerank of survivors. Fully deterministic, so the
    // whole approximate pipeline (quantization arithmetic, prefilter
    // ranking, rerank) replays in the DuckDB oracle.
    "q48_ann_int8" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("item_id"), col("embedding").as("item_vec"))
      SimilaritySearch.int8TopK(queries, corpus, 5, rerankFactor = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q32 — multimodal -> ANN end-to-end with a REAL codec: per-doc
    // deterministic grayscale PNGs (javax.imageio encode), decoded back
    // per partition by the same JDK codec into luminance block-mean
    // features (Multimodal.realDecode — PNG is lossless, so features are
    // an exact function of the generated pixels), then IVF-indexed and
    // probed. Rows-only (gray->sRGB luminance isn't ANSI-SQL-expressible);
    // decode correctness pinned in MultimodalCodecSpec fixtures.
    "q32_multimodal_ann" -> ((s, dir) => {
      GraftFunctions.register(s)
      val media = graft.operators.Multimodal.syntheticPngTable(
        t(s, dir, "documents"))
      // materialize: the decode feeds four downstream actions (corpus
      // count, centroid fit, probe side, query side) — without this the
      // mapPartitions extraction re-runs per action
      val feats = graft.operators.Multimodal.extractFeatures(
        media, "doc_id", "content", dim = 32).localCheckpoint()
      val queries = feats.filter(col("id") % 10 === 0)
        .select(col("id").as("query_id"), col("features").as("query_vec"))
      val corpus = feats.filter(col("id") % 10 =!= 0)
        .select(col("id").as("item_id"), col("features").as("item_vec"))
      // fixed pre-fit centroids (not a KMeans fit): the whole pipeline is
      // deterministic end to end, and since r9 it's HASH-GATED — the
      // oracle derives the ground-truth features from (doc_id, block) by
      // replaying the synth's splitmix64 mixing in exact 64-bit DuckDB
      // arithmetic and looking the PNG decode up in the JDK's own
      // gray→sRGB table ([[Multimodal.pngGrayFeatureLut]], captured by
      // running the real codec round-trip per gray value), then replays
      // the IVF probe+rerank q45-style. Centers sit IN the feature cube
      // (decode emits [0,1]^32) — seeded gaussians scaled around 0.5;
      // 32 cells/4 probes keeps the probed fraction ~1/8.
      SimilaritySearch.ivfTopKWithCentroids(queries, corpus, 5, q32Centers, probes = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q32b — the AUDIO sibling of q32: deterministic 16-bit PCM WAV
    // payloads (JDK `AudioSystem.write` encoder) decoded by the real
    // `javax.sound.sampled` path in extractFeatures, then the same
    // IVF ANN. HASH-GATED since r9: PCM WAV is lossless and the decode's
    // block means are exact dyadic rationals ((sample XOR 0x8000)/65536
    // — 16-bit significands, so the sequential block sum and the float
    // narrowing are both exact), so the oracle derives the ground-truth
    // features from (doc_id, block) in closed form via the same exact
    // splitmix64 DuckDB replay as q32 and re-runs the IVF q45-style.
    "q32b_multimodal_wav" -> ((s, dir) => {
      GraftFunctions.register(s)
      val media = graft.operators.Multimodal.syntheticWavTable(
        t(s, dir, "documents"))
      val feats = graft.operators.Multimodal.extractFeatures(
        media, "doc_id", "content", dim = 32).localCheckpoint()
      val queries = feats.filter(col("id") % 10 === 0)
        .select(col("id").as("query_id"), col("features").as("query_vec"))
      val corpus = feats.filter(col("id") % 10 =!= 0)
        .select(col("id").as("item_id"), col("features").as("item_vec"))
      SimilaritySearch.ivfTopKWithCentroids(queries, corpus, 5, q32Centers, probes = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q32c — the VIDEO sibling of q32: deterministic MJPEG-in-AVI clips
    // (JPEG frames in a RIFF container — both pure JDK), container-walked
    // and frame-decoded per partition (Multimodal.sampleFrameFeatures,
    // every 2nd frame), then the per-frame features feed the same IVF
    // ANN. HASH-GATED since r10: MJPEG is lossy, but the synth frames
    // are 8x8-TILE constant, so every JPEG macroblock is DC-only and the
    // JDK round-trip is measured identity on the tile grays — the oracle
    // replays the splitmix64 (doc_id*1000003+f, tile) mixing exactly in
    // DuckDB, maps grays through the real-codec-captured
    // Multimodal.jpegGrayFeatureLut, and re-runs the IVF q45-style
    // (see q32cOracleSql; exactness pinned in StreamingMultimodalSpec).
    "q32c_multimodal_video" -> ((s, dir) => {
      GraftFunctions.register(s)
      val media = graft.operators.Multimodal.syntheticAviTable(
        t(s, dir, "documents"), frames = 6)
      val frames = graft.operators.Multimodal.sampleFrameFeatures(
        media, "doc_id", "content", everyN = 2, dim = 32).localCheckpoint()
      val queries = frames.filter(col("id") % 10 === 0 && col("frame_idx") === 0)
        .select(col("id").as("query_id"), col("features").as("query_vec"))
      val corpus = frames.filter(!(col("id") % 10 === 0 && col("frame_idx") === 0))
        .select((col("id") * 8 + col("frame_idx")).as("item_id"),
          col("features").as("item_vec"))
      SimilaritySearch.ivfTopKWithCentroids(queries, corpus, 5, q32Centers, probes = 4)
        .select(col("query_id"), col("rank"), col("item_id"))
        .orderBy("query_id", "rank")
    }),

    // Q22 — MinHash+LSH near-dup pairs at near-total-recall banding
    // (rowsPerBand=3, 32 bands: miss probability 8e-12 at jaccard 0.82 —
    // the corpus's near-dup pairs all sit >= 0.82 — and 4e-4 at 0.6;
    // verification removes every false positive), so the LSH output
    // EQUALS the brute-force Q15 result and shares its DuckDB oracle,
    // while never shuffling more than (band, bucket, id) triples.
    // rowsPerBand trades recall-at-low-j against candidate volume on the
    // SAME 96-hash signature: r=1 degenerates on homogeneous corpora
    // (one common min-shingle = one O(n) bucket), r=2 still passed 624k
    // of this corpus's 12.5M pairs to verification (mid-similarity pairs
    // collide somewhere among 48 bands), r=3 passes 21k — measured
    // identical verified output, 30x less verification work.
    "q22_minhash_pairs" -> ((s, dir) => {
      GraftFunctions.register(s)
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 2, numHashes = 96, numBands = 32, threshold = 0.3,
        roundDp = 6)
        .orderBy("id_a", "id_b")
    }),

    // Q23 — SimHash near-dup pairs with the portable 59-bit signature:
    // exact for hamming<=3 by 4x15-bit chunk banding (pigeonhole), and
    // every step — charfold token hash, xorshift finalizer, bit votes,
    // banding, hamming — is recomputed by the DuckDB oracle.
    "q23_simhash_pairs" -> ((s, dir) => {
      GraftFunctions.register(s)
      Dedup.simhashPairsPortable(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Q24 — embedding cosine near-dup pairs (north-star: dedup); the
    // operator rounds before thresholding (oracle rounding parity), so
    // the declared query IS the shape users copy — no outer re-filter
    "q24_embedding_neardup" -> ((s, dir) => {
      GraftFunctions.register(s)
      val e = t(s, dir, "embeddings")
      Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.3, roundDp = 6)
        .orderBy("id_a", "id_b")
    }),

    // Q58 — moving-window analytics (§2.5 frame-based windows): lag/
    // lead and a 7-row trailing mean per user over event time, plus a
    // running sum. One hash exchange on user_id serves every window
    // (same partitioning, one sort); rounded before output so the
    // sliding-frame float association is portable (rsum at 4 dp: the
    // running sum's error grows with prefix length).
    "q58_moving_window" -> ((s, dir) => {
      // micros, not nanos: the oracle engine reads the parquet NANOS
      // timestamps at micro precision, so the exposed instant AND the
      // window sort key must both live in micro space for parity. The
      // trailing mean uses the explicit floor-round (GapFill's lesson:
      // round(double, n) differs across engines at half-ulp boundaries
      // and x/7 lands on them); the running sum of 2 dp values stays
      // ~exact so plain rounding is safe there.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("next_v", lead(col("value"), 1).over(w))
        .withColumn("mavg7",
          floor(avg(col("value")).over(w.rowsBetween(-6, 0)) *
            lit(1000000.0) + lit(0.5)) / lit(1000000.0))
        .withColumn("rsum",
          round(sum(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // Q59 — CUBE over (returnflag, linestatus) (§2.4 grouping sets; q51
    // covers ROLLUP): one Expand + one hash-agg pass, not 4 scans. The
    // sum rounds at 2 dp — the grand-total row sums 600k doubles, whose
    // association-order error (~1e-6) must sit far inside the rounding
    // granularity (DECIMAL would be exact but the oracle driver coerces
    // decimals through float, the q56 lesson).
    "q59_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sq"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }),

    // Q60 — edit-distance near-dup pairs under (lang, length-bucket)
    // blocking with adjacent-bucket probing (north-star: dedup family;
    // complements shingle/simhash with the character-typo regime).
    // Boundary pairs (|Δlen| <= maxDist straddling a bucket edge) are
    // kept; dist is the FULL-TEXT threshold-bounded levenshtein. The
    // oracle replays the |Δbucket| <= 1 block predicate and the plain
    // kernel.
    "q60_editdist_pairs" -> ((s, dir) => {
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang"), lengthBucket = 50, maxDist = 12)
        .orderBy("id_a", "id_b")
    }),

    // Q61 — text normalization (north-star: text analysis): lowercase,
    // whitespace-collapse, stopword-strip, rejoin — the canonical form
    // fed to shingle/embedding dedup. Scan-side projection only.
    "q61_normalize" -> ((s, dir) => {
      docsSorted(s, dir)
        .select(col("doc_id"),
          TextFunctions.normalize(col("text")).as("norm_text"))
        .withColumn("n_norm_chars", length(col("norm_text")))
    }),

    // Q62 — gap-fill resampling: each user's irregular event values
    // projected onto the daily grid with linear interpolation
    // (operators.GapFill: grouped span + in-partition sequence explode +
    // two as-of windows, no join operator, no per-key loop).
    // Q62b — gap-fill EDGE cases under the oracle: a single-sample key
    // (exact grid hit vs off-grid -> no rows), a key whose span is
    // narrower than one step (no grid instant), and NEGATIVE timestamps
    // (grid bounds must use floor division — `div` truncation toward
    // zero would skip the first tick and diverge from the SQL `//`
    // oracle). The fixture is constant, so the oracle pins the exact
    // interpolated grid as literals.
    "q62b_gapfill_edges" -> ((s, dir) => {
      import s.implicits._
      val pts = Seq(
        (1L, 0L, 10.0), (1L, 250L, 20.0),   // interior grid interpolation
        (2L, 150L, 5.0),                    // single off-grid sample: no rows
        (3L, 300L, 7.0),                    // single ON-grid sample: exact hit
        (4L, 130L, 1.0), (4L, 170L, 2.0),   // span < step: no grid instant
        (5L, -250L, 0.0), (5L, -50L, 4.0)   // negative span: floor-div grid
      ).toDF("user_id", "ts", "value")
      graft.operators.GapFill.resampleLinear(
        pts, Seq("user_id"), "ts", "value", step = 100L)
        .orderBy("user_id", "ts")
    }),

    "q62_gapfill" -> ((s, dir) => {
      // micro-space instants (ts div 1000): the oracle engine reads the
      // NANOS timestamps at micro precision, and the interpolation
      // RATIO is precision-sensitive — both engines must see identical
      // sample instants, not just identical grid instants.
      graft.operators.GapFill.resampleLinear(
        t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000").as("ts"), col("value")),
        Seq("user_id"), "ts", "value", step = 86400000000L)
        .orderBy("user_id", "ts")
    }),

    // Q63 — bloom-prefiltered semi join (operators.BloomJoin): the
    // materialized-runtime-filter shape — build-side bloom aggregate,
    // foldable-literal membership probe at the probe scan, residual
    // exact semi join. Output is bit-for-bit the plain semi join; the
    // EXISTS oracle checks exactly that.
    "q63_bloom_semi" -> ((s, dir) => {
      GraftFunctions.register(s)
      graft.operators.BloomJoin.semiJoin(
        t(s, dir, "customer"),
        t(s, dir, "orders").filter(col("o_totalprice") > 300000.0),
        "c_custkey", "o_custkey", expectedItems = 100000L)
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // Q64 — deterministic stratified hash sampling (operators.Sampling):
    // membership keyed on md5(event_id), so the SAMPLE ITSELF is
    // oracle-checked — reproducible across engines, partitionings, and
    // re-runs, unlike seeded sample()/sampleBy().
    "q64_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "events"), "event_id", "event_type", sampleRates)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy("event_id")
    }),

    // Q65 — deterministic k-fold cross-validated 1-NN accuracy
    // (operators.CrossValidation): every fold evaluates in ONE pair
    // pass (the fold != fold predicate), extending the reference's
    // fixed-split evaluation loop (M6/M7 family) to rotated splits.
    "q65_kfold_cv" -> ((s, dir) => {
      GraftFunctions.register(s)
      graft.operators.CrossValidation.kfold1NNAccuracy(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", folds = 5)
        .orderBy("fold")
    }),

    // Q66 — z-order (Morton) clustering key over two quantized embedding
    // dims (operators.Partitioning.zorder2): the data-LAYOUT primitive —
    // sort 100 TB by z and min/max file stats prune BOTH dimensions.
    // Pure shift/mask arithmetic; the oracle replays every bit.
    "q66_zorder" -> ((s, dir) => {
      def q8(i: Int) = floor(least(greatest(
        (get(col("embedding"), lit(i)).cast("double") + 1.0) / 2.0 * 256.0,
        lit(0.0)), lit(255.0))).cast("long")
      t(s, dir, "embeddings")
        .select(col("vec_id"), q8(0).as("x8"), q8(1).as("y8"))
        .withColumn("z",
          graft.operators.Partitioning.zorder2(col("x8"), col("y8"), 8))
        .withColumn("zbucket", shiftright(col("z"), 6))
        .orderBy("vec_id")
    }),

    // Q67-Q70 — the Structured Streaming surface under the oracle gate
    // (streaming.StreamingOracle): each runs the REAL readStream →
    // operator → writeStream plan bounded (processAllAvailable over a
    // staged file source) and returns the sink contents, so the
    // micro-batch engine itself — stateful window agg, watermarked dedup
    // state, GroupState, stream-stream join buffers — produces the
    // oracle-checked rows. Determinism contract in StreamingOracle's doc.

    // Q67 — watermarked tumbling-window event stats, complete mode
    "q67_stream_window" -> ((s, dir) =>
      graft.streaming.StreamingOracle.windowedEventStats(s, dir)),

    // Q68 — dropDuplicatesWithinWatermark on (user_id, event_type),
    // projected to the (order-independent) key set
    "q68_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOracle.dedupDistinctKeys(s, dir)),

    // Q69 — mapGroupsWithState running per-user totals, update mode
    "q69_stream_state" -> ((s, dir) =>
      graft.streaming.StreamingOracle.runningUserStats(s, dir)),

    // Q70 — watermarked stream-stream interval join (click±30min view)
    "q70_stream_interval_join" -> ((s, dir) =>
      graft.streaming.StreamingOracle.clickViewIntervalJoin(s, dir)),

    // Q71 — online as-of enrichment via flatMapGroupsWithState
    "q71_stream_asof" -> ((s, dir) =>
      graft.streaming.StreamingOracle.asofEnrich(s, dir)),

    // Q78 — stream-static broadcast 1-NN under the oracle: the flagship
    // streaming operator (the reference's Model 2 with an unbounded test
    // side). Oracle = q9's SQL — streaming and batch must agree exactly.
    "q78_stream_knn" -> ((s, dir) =>
      graft.streaming.StreamingOracle.streamKnn(s, dir)),

    // Q72 — PII scrub pass (TextFunctions.redactPii): the C4/CCNet-style
    // cleaning every public-web pretraining corpus runs first. The
    // synthetic corpus carries no PII, so deterministic email/IP/phone
    // spans are spliced into every 3rd doc FROM doc_id — the same
    // construction replays in the oracle, so redaction output and hit
    // counts are hash-checked exactly. Three chained codegen
    // regexp_replace projections: scan-side at 100 TB, no shuffle.
    "q72_pii_redact" -> ((s, dir) => {
      val aug = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com srv 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 7, lit(256)).cast("string"),
          lit(" call 555-123-4567")))
        .otherwise(col("text"))
      docsSorted(s, dir).select(
        col("doc_id"),
        TextFunctions.redactPii(aug).as("clean_text"),
        TextFunctions.piiHits(aug, TextFunctions.emailRe).as("n_emails"),
        TextFunctions.piiHits(aug, TextFunctions.ipv4Re).as("n_ips"),
        TextFunctions.piiHits(aug, TextFunctions.phoneRe).as("n_phones"))
    }),

    // Q73 — Gopher-family repetition filters: token and word-bigram
    // repetition ratios (1 − distinct/total) plus the drop flag, via the
    // native one-pass graft_repetition kernel (exact string distinctness
    // inside whole-stage codegen; the declarative HOF form measured
    // ~0.9 ms/doc interpreted — ExpressionsSpec pins value parity).
    "q73_repetition" -> ((s, dir) => {
      GraftFunctions.register(s)
      docsSorted(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          call_function("graft_repetition", col("tk")).as("rep"))
        .select(
          col("doc_id"),
          round(get(col("rep"), lit(0)), 6).as("rep1"),
          round(get(col("rep"), lit(1)), 6).as("rep2"))
        .withColumn("flagged", col("rep2") > 0.2)
    }),

    // Q74 — CSV source round-trip: write nation as headered CSV, read it
    // back through Spark's CSV source with an explicit schema, aggregate.
    // The oracle runs on the original parquet table, so a parse/quote/
    // type defect anywhere in the CSV path breaks the hash.
    "q74_csv_source" -> ((s, dir) => {
      val n = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val stage = graft.core.TempDirs.scratch("graft_csv")
      // CsvSource carries the two source-format-fuzz fixes (multiLine
      // quote-safe record splitting, \N null marker for empty-vs-null)
      // and documents the per-FILE parse cost of the safe mode plus the
      // `splittable` opt-in for newline-free single-huge-file corpora
      // (CsvSourceSpec pins both modes). Natural partitioning: the CSV
      // source reads a directory (each part-file carries its own
      // header); a coalesce(1) staging write would serialize to one
      // task — the wrong shape at any scale.
      graft.sources.CsvSource.write(n, stage.toString)
      graft.sources.CsvSource.read(s, stage.toString, n.schema)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
        .orderBy("n_regionkey")
    }),

    // Q76 — hive-partitioned layout round-trip with partition pruning:
    // events land as event_type=<v>/ directories, the read-back filters
    // one partition value — the scan's PartitionFilters prune at the
    // DIRECTORY level before any parquet footer is read (PlanShapeSpec
    // pins the pruned-scan shape). The partition column itself is
    // reconstructed from the directory name; the oracle replays the
    // filter+aggregate on the original table.
    "q76_partitioned_prune" -> ((s, dir) => {
      val stage = graft.core.TempDirs.scratch("graft_part")
      val src = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value"), col("event_type"))
      graft.operators.Partitioning.writePartitioned(
        src, stage.toString, Seq("event_type"))
      // schema-explicit read-back: inference dies on a zero-partition
      // tree (empty source), and the reader of a partitioned dataset
      // knows its schema anyway
      graft.operators.Partitioning.readPartitioned(s, stage.toString, src.schema)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          // try_cast: under ANSI a NaN/Inf/overflow value would FAIL
          // the whole job at the double->long cast (CAST_OVERFLOW);
          // degrade to null-contributes-nothing, like the oracle's
          // TRY_CAST (found by the source-format fuzz)
          sum(expr("try_cast(round(value * 100) as long)")).as("cents"))
        .orderBy("user_id")
    }),

    // Q77 — ORC source round-trip (the other columnar format Spark ships
    // a native vectorized reader for): orders through write.orc ->
    // read.orc, aggregated under the parquet-table oracle.
    "q77_orc_source" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val stage = graft.core.TempDirs.scratch("graft_orc")
      o.write.mode("overwrite").orc(stage.toString) // natural partitioning
      s.read.schema(o.schema).orc(stage.toString)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          // integer cents: a double SUM is summation-order-sensitive in
          // its last ulps, and the oracle hash compares exact values.
          // try_cast for the same ANSI NaN/overflow hazard as q76.
          sum(expr("try_cast(round(o_totalprice * 100) as long)")).as("cents"))
        .orderBy("o_orderstatus")
    }),

    // Q75 — JSON-lines source round-trip: documents (free text exercises
    // string escaping) through write.json -> read.json(schema), then an
    // aggregate checked against the parquet-table oracle.
    "q75_jsonl_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stage = graft.core.TempDirs.scratch("graft_jsonl")
      d.write.mode("overwrite").json(stage.toString) // natural partitioning
      s.read.schema(d.schema).json(stage.toString)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // Q79 — eval-set decontamination (Decontaminate.contaminated): flag
    // training docs sharing any word 8-gram with the held-out eval split
    // (doc_id % 50 == 0) and count the distinct shared grams — the
    // benchmark-leakage hygiene pass a pretraining corpus runs before
    // shipping. Corpus grams never shuffle while the eval gram set fits
    // the broadcast budget; the oracle replays the token/gram pipeline
    // and the set-intersection count exactly.
    "q79_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.contaminated(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0))
        .orderBy("doc_id")
    })
  )

  /** Q64 strata (shared with the oracle SQL builder). */
  private val sampleRates: Map[String, Double] = Map(
    "click" -> 0.25, "view" -> 0.1, "purchase" -> 0.5,
    "error" -> 1.0, "signup" -> 0.05)

  // ---------------------------------------------------------- oracle SQL

  private val tokensSql =
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"

  /** Sign-LSH bucket expression for the q21 oracle: the SAME seeded
    * hyperplanes the engine uses ([[SimilaritySearch.hyperplanes]] is
    * deterministic), embedded as SQL literals — bucket bit i set when
    * `list_inner_product(v, plane_i) >= 0`, matching
    * [[SimilaritySearch.signBucket]]'s sequential dot product.
    */
  private def lshBucketSql(vecExpr: String, dim: Int, bits: Int, seed: Long): String =
    graft.operators.SimilaritySearch.hyperplanes(dim, bits, seed).zipWithIndex.map {
      case (p, i) =>
        val lits = p.map(java.lang.Double.toString).mkString(",")
        s"(CASE WHEN list_inner_product($vecExpr, [$lits]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Deterministic IVF centroids for q45: seeded gaussians scaled to
    * ~unit norm (java.util.Random#nextGaussian is spec-stable), shared
    * literal-for-literal between the Spark plan and the oracle SQL.
    */
  private lazy val ivfCentroids: Array[Array[Double]] =
    graft.operators.SimilaritySearch.hyperplanes(64, 8, 4242L).map(_.map(_ / 8.0))

  /** Shared IVF centers for the q32 multimodal family: seeded gaussians
    * scaled around 0.5 so they sit in the decode's [0,1]^32 feature cube
    * (32 cells / 4 probes keeps the probed fraction ~1/8). One literal
    * array feeds the Spark plan AND the q32/q32b oracles.
    */
  private lazy val q32Centers: Array[Array[Double]] =
    graft.operators.SimilaritySearch.hyperplanes(32, 32, 3232L)
      .map(_.map(x => 0.5 + 0.25 * x / math.sqrt(32.0 / 12.0)))

  /** CTE chain deriving the q32/q32b ground-truth feature vectors in
    * DuckDB: replays [[graft.operators.Multimodal.grayImageFor]]/
    * `wavFor`'s splitmix64 (id, block) mixing in EXACT 64-bit wraparound
    * arithmetic — products are taken in HUGEINT (|a*b| < 2^126, no
    * overflow), reduced mod 2^64, mapped back to the signed BIGINT
    * domain where DuckDB's `xor` matches Java's `^`, and Java's `>>>`
    * becomes division of the unsigned HUGEINT image by an exact
    * power-of-two literal. `featExpr` maps the final mixed value `z`
    * (column of CTE `zf`) to the per-block feature DOUBLE; `featFrom`
    * lets the PNG path join its gray→sRGB LUT. Emits CTEs `q`/`c`
    * (id, v) for [[ivfOracleSqlOver]]: queries are doc_id % 10 = 0,
    * mirroring the Spark side's split.
    */
  private val U64 = "18446744073709551616" // 2^64
  private val S63 = "9223372036854775808"  // 2^63

  /** Java `z >>> k` on a signed-BIGINT column z: unsigned HUGEINT image,
    * exact floor-division by 2^k, back to BIGINT.
    */
  private def splitmixUshr(k: Int): String =
    s"CAST((CASE WHEN z < 0 THEN CAST(z AS HUGEINT) + $U64 ELSE CAST(z AS HUGEINT) END) // ${1L << k} AS BIGINT)"

  /** One 64-bit wraparound stage of the splitmix64 replay: `${stage}h`
    * takes the product in HUGEINT (|a*b| < 2^126, no overflow),
    * `${stage}u` reduces mod 2^64, `$stage` maps back to the signed
    * BIGINT domain where DuckDB's `xor` agrees with Java's `^`. Carries
    * (doc_id, blk) through each stage.
    */
  private def splitmixWrap(stage: String, hExpr: String, from: String): String =
    s"""${stage}h AS (SELECT doc_id, blk, $hExpr AS h FROM $from),
        ${stage}u AS (SELECT doc_id, blk, ((h % $U64) + $U64) % $U64 AS uh FROM ${stage}h),
        $stage AS (SELECT doc_id, blk, CAST(CASE WHEN uh >= $S63 THEN uh - $U64 ELSE uh END AS BIGINT) AS z FROM ${stage}u)"""

  /** The full (doc_id, blk) -> z splitmix64 finalizer chain over a CTE
    * `grid(doc_id, blk)` — the exact-arithmetic replay of
    * [[graft.operators.Multimodal.grayImageFor]]-family mixing. Emits
    * CTE `zf(doc_id, blk, z)`.
    */
  private def splitmixZfCtes: String =
    s"""${splitmixWrap("s0",
          "CAST(doc_id AS HUGEINT) * CAST(-7046029254386353131 AS HUGEINT) + CAST(blk AS HUGEINT) * CAST(-4417276706812531889 AS HUGEINT)",
          "grid")},
        ${splitmixWrap("s1",
          s"CAST(xor(z, ${splitmixUshr(30)}) AS HUGEINT) * CAST(-4658895280553007687 AS HUGEINT)", "s0")},
        ${splitmixWrap("s2",
          s"CAST(xor(z, ${splitmixUshr(27)}) AS HUGEINT) * CAST(-7723592293110705685 AS HUGEINT)", "s1")},
        zf AS (SELECT doc_id, blk, xor(z, ${splitmixUshr(31)}) AS z FROM s2)"""

  private def mediaIvfSrcCtes(
      blocks: Int, featFrom: String, featExpr: String,
      extraCtes: String = ""): String = {
    val extra = if (extraCtes.isEmpty) "" else s"$extraCtes,"
    s"""ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
        blks AS (SELECT CAST(UNNEST(range(0, $blocks)) AS BIGINT) AS blk),
        grid AS (SELECT doc_id, blk FROM ids CROSS JOIN blks),
        $splitmixZfCtes,
        $extra
        feat AS (SELECT doc_id, blk, $featExpr AS f FROM $featFrom),
        vecs AS (SELECT doc_id, list(f ORDER BY blk) AS v FROM feat GROUP BY doc_id),
        q AS (SELECT doc_id AS id, v FROM vecs WHERE doc_id % 10 = 0),
        c AS (SELECT doc_id AS id, v FROM vecs WHERE doc_id % 10 <> 0)"""
  }

  /** q32 oracle: PNG ground-truth features via the captured JDK
    * gray→sRGB LUT (one VALUES row per gray byte — the feature is the
    * REAL codec round-trip's block mean, [[graft.operators.Multimodal.pngGrayFeatureLut]]),
    * then the exact IVF replay.
    */
  private def q32OracleSql: String = {
    val lutRows = graft.operators.Multimodal.pngGrayFeatureLut.zipWithIndex
      .map { case (d, g) => s"($g, ${java.lang.Double.toString(d)})" }
      .mkString(", ")
    ivfOracleSqlOver(
      mediaIvfSrcCtes(
        blocks = 32,
        featFrom = "zf JOIN lut ON (zf.z & 255) = lut.gv",
        featExpr = "CAST(lut.lum AS DOUBLE)",
        extraCtes = s"lut(gv, lum) AS (VALUES $lutRows)"),
      q32Centers, probes = 4)
  }

  /** q32b oracle: WAV ground-truth features in closed form — the decode
    * maps 16-bit sample s to ((s XOR 0x8000)/65536, an exact dyadic
    * rational, so block mean and float narrowing are identity — then the
    * exact IVF replay.
    */
  private def q32bOracleSql: String =
    ivfOracleSqlOver(
      mediaIvfSrcCtes(
        blocks = 32,
        featFrom = "zf",
        featExpr = "CAST(xor(z & 65535, 32768) AS DOUBLE) / CAST(65536 AS DOUBLE)"),
      q32Centers, probes = 4)

  /** q32c oracle: MJPEG ground-truth features via the captured JDK
    * JPEG round-trip LUT. MJPEG is lossy, but the synth only drives the
    * codec through its lossless subspace: every frame is 8x8-TILE
    * constant, so each JPEG macroblock is DC-only (ACs exactly zero),
    * the quantized DC entropy-codes losslessly, and the decoded tile
    * gray is a pure per-gray function of the input — measured identity,
    * captured through the real codec as
    * [[graft.operators.Multimodal.jpegGrayFeatureLut]] and pinned in
    * StreamingMultimodalSpec.
    *
    * Replay: the Spark side samples every 2nd of 6 frames (frame_idx 0,
    * 2, 4), each frame seeded `doc_id * 1000003 + f` with the splitmix64
    * mix over tile 0..3; feature dim d of 32 is an 8-pixel half-row
    * lying inside tile `(d // 16) * 2 + (d % 2)`. Queries are
    * (doc_id % 10 = 0, frame 0) keyed by doc_id; the corpus is every
    * other (doc, frame) keyed `doc_id * 8 + frame_idx` — mirroring the
    * Spark plan's split exactly. The seed doubles as the carrier of
    * (doc_id, f) through the mixing CTEs: f < 1000003 makes
    * `seed // 1000003` and `seed % 1000003` recover them losslessly.
    */
  private def q32cOracleSql: String = {
    val lutRows = graft.operators.Multimodal.jpegGrayFeatureLut.zipWithIndex
      .map { case (d, g) => s"($g, ${java.lang.Double.toString(d)})" }
      .mkString(", ")
    val srcCtes =
      s"""ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
          frs AS (SELECT CAST(UNNEST([0, 2, 4]) AS BIGINT) AS f),
          tiles AS (SELECT CAST(UNNEST(range(0, 4)) AS BIGINT) AS blk),
          grid AS (SELECT doc_id * 1000003 + f AS doc_id, blk
                   FROM ids CROSS JOIN frs CROSS JOIN tiles),
          $splitmixZfCtes,
          lut(gv, lum) AS (VALUES $lutRows),
          dims AS (SELECT CAST(UNNEST(range(0, 32)) AS BIGINT) AS d),
          dimtile AS (SELECT d, (d // 16) * 2 + (d % 2) AS t FROM dims),
          feat AS (SELECT zf.doc_id, dt.d, CAST(lut.lum AS DOUBLE) AS fv
                   FROM zf JOIN dimtile dt ON zf.blk = dt.t
                   JOIN lut ON (zf.z & 255) = lut.gv),
          vecs AS (SELECT doc_id, list(fv ORDER BY d) AS v FROM feat GROUP BY doc_id),
          q AS (SELECT doc_id // 1000003 AS id, v FROM vecs
                WHERE (doc_id // 1000003) % 10 = 0 AND doc_id % 1000003 = 0),
          c AS (SELECT (doc_id // 1000003) * 8 + (doc_id % 1000003) AS id, v FROM vecs
                WHERE NOT ((doc_id // 1000003) % 10 = 0 AND doc_id % 1000003 = 0))"""
    ivfOracleSqlOver(srcCtes, q32Centers, probes = 4)
  }

  /** Centroids q28's LIVE KMeans fit produced, captured when the query
    * runs so [[oracleSql]] can replay the probe+rerank pipeline against
    * the SAME array (fit-at-verify-time gating: Verify runs every query
    * BEFORE dumping oracle_sql.json, so the stash is populated; both
    * sides then share the literals, so the gate holds even if a future
    * fit change altered the values). Absent (query never ran / failed),
    * q28 degrades to the pre-r8 rows-only check instead of shipping a
    * wrong oracle. Keyed by (session, sfDir) like [[harPredCache]] so a
    * long-lived JVM running q28 against several dirs can't stash a fit
    * from one dir against outputs dumped from another; entries whose
    * session has stopped are swept on write.
    */
  private val q28FittedCentroids =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Array[Double]]]()

  /** Record q28's fit for (s, dir), sweeping entries of stopped sessions. */
  private def stashQ28Fit(
      s: SparkSession, dir: String, centers: Array[Array[Double]]): Unit = {
    import scala.jdk.CollectionConverters._
    q28FittedCentroids.keySet.asScala.filter(_._1.sparkContext.isStopped)
      .toList.foreach(k => q28FittedCentroids.remove(k))
    q28FittedCentroids.put((s, dir), centers)
  }

  /** The q28 oracle entry, present only when the stash is UNAMBIGUOUS:
    * every live (session, sfDir) fit holds the same centroid array
    * (trivially true in the single-dir Verify flow). Multiple divergent
    * fits in one JVM → no entry (rows-only degrade) rather than an
    * oracle that can only match one of the dumped outputs.
    */
  private def q28OracleEntry: Option[(String, String)] = {
    import scala.jdk.CollectionConverters._
    // sweep only runs at stash time, so a stopped session's fit against a
    // different dir could otherwise trip (or, worse, solely back) the
    // ambiguity check here — consider live sessions only
    q28FittedCentroids.entrySet.asScala.toList
      .filterNot(_.getKey._1.sparkContext.isStopped).map(_.getValue) match {
      case head :: rest if rest.forall(c =>
          c.length == head.length &&
            c.indices.forall(i => java.util.Arrays.equals(c(i), head(i)))) =>
        Some("q28_ann_ivf" -> ivfOracleSql(head, probes = 4))
      case _ => None
    }
  }

  /** q45/q28 shared oracle builder: fixed literal centroids -> cell
    * assignment (argmin over Euclidean distance; list_distance orders
    * identically to the engine's sqdist), probe the `probes` nearest
    * cells per query, exact cosine rerank within probed cells.
    */
  private def ivfOracleSql(centroids: Array[Array[Double]], probes: Int): String =
    ivfOracleSqlOver(
      """q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0),
         c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 <> 0)""",
      centroids, probes)

  /** [[ivfOracleSql]] generalized over the vector source: `srcCtes` must
    * define CTEs `q` and `c` with columns (id BIGINT, v DOUBLE[]) — the
    * query and corpus sides. Shared by the embeddings-backed q45/q28
    * oracles and the q32/q32b media oracles whose vectors are DERIVED in
    * SQL from the synth's closed form.
    */
  private def ivfOracleSqlOver(
      srcCtes: String, centroids: Array[Array[Double]], probes: Int): String = {
    val ctrRows = centroids.zipWithIndex.map { case (c, i) =>
      s"SELECT $i AS idx, [${c.map(java.lang.Double.toString).mkString(",")}]::DOUBLE[] AS ctr"
    }.mkString(" UNION ALL ")
    s"""WITH $srcCtes,
            ctr AS ($ctrRows),
            ca AS (SELECT id, v, idx AS cell,
                          ROW_NUMBER() OVER (PARTITION BY id ORDER BY list_distance(v, ctr), idx) AS rn
                   FROM c CROSS JOIN ctr),
            cc AS (SELECT id, v, cell FROM ca WHERE rn = 1),
            qa AS (SELECT id, v, idx AS cell,
                          ROW_NUMBER() OVER (PARTITION BY id ORDER BY list_distance(v, ctr), idx) AS rn
                   FROM q CROSS JOIN ctr),
            qc AS (SELECT id, v, cell FROM qa WHERE rn <= $probes),
            -- project the cosine SCALAR before the rank window: ordering
            -- the window by the inline expression would materialize both
            -- 32/64-dim vectors per candidate pair into the sort spill
            -- (~46 GB at the 10x rehearsal tier — measured ENOSPC);
            -- (query_id, item_id, cos) rows spill at ~1/20th that
            cand AS (SELECT qc.id AS query_id, cc.id AS item_id,
                            list_cosine_similarity(qc.v, cc.v) AS cos
                     FROM qc JOIN cc ON qc.cell = cc.cell)
       SELECT query_id, rank, item_id FROM (
         SELECT query_id, item_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, item_id) AS rank
         FROM cand) x
       WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** Portable charfold-59 token hash in DuckDB SQL (mirror of
    * [[graft.functions.CharFoldFingerprint.tokenHash59]]) — shared by the
    * q19 and q23 oracles.
    */
  private def charFoldSql(t: String): String =
    s"""list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length($t) + 1),
              i -> CAST(unicode($t[CAST(i AS INT)]) AS BIGINT))),
          (acc, c) -> xor(((acc & 18014398509481983) << 5) | (acc >> 54), c))"""

  /** KNN-accuracy pipeline SQL for one k (q11's shape, parameterized —
    * feeds the q38 sweep oracle).
    */
  private def knnAccuracySql(k: Int): String =
    s"""SELECT $k AS k,
               ROUND(AVG(CASE WHEN ABS(p.predicted_label - t.label) = 0 THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
               COUNT(*) AS n
        FROM (SELECT test_id, label AS predicted_label FROM (
                SELECT test_id, label,
                       ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
                FROM (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                      FROM (SELECT * FROM (
                              SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                                     ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                       ORDER BY list_distance(t.e, tr.e), tr.vec_id) AS rn
                              FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1) t
                              CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0) tr
                              WHERE list_distance(t.e, tr.e) <> 0) r
                            WHERE rn <= $k) topk
                      GROUP BY test_id, label) v) w
              WHERE vr = 1) p
        JOIN (SELECT vec_id, label FROM embeddings WHERE vec_id % 2 = 1) t
          ON p.test_id = t.vec_id"""

  private def shinglesSql(n: Int): String = {
    val last = n - 1
    s"""CASE WHEN len(tk) < $n THEN [array_to_string(tk, ' ')]
        ELSE list_transform(range(1, len(tk) - ${last - 1}), i -> array_to_string(tk[i:i+$last], ' ')) END"""
  }

  def oracleSql: Map[String, String] = Map(
    "q1_filter_project" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty, l_returnflag
         FROM lineitem WHERE l_discount > 0.05 ORDER BY l_orderkey, l_linenumber""",

    "q2_join" ->
      """SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",

    "q3_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q4_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sq, ROUND(AVG(l_extendedprice), 4) AS ap,
                MIN(l_discount) AS md, MAX(l_tax) AS mt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q5_mode" ->
      """SELECT user_id, event_type FROM (
           SELECT user_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn
           FROM events GROUP BY user_id, event_type) t
         WHERE rn = 1 ORDER BY user_id""",

    "q6_cross_abs" ->
      """SELECT n.n_name, r.r_name, ABS(n.n_regionkey - r.r_regionkey) AS d
         FROM nation n CROSS JOIN region r ORDER BY n.n_name, r.r_name""",

    "q7_argmin" ->
      """SELECT user_id, event_id, value AS mv FROM (
           SELECT user_id, event_id, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",

    "q8_accuracy" ->
      """SELECT ROUND(AVG(CASE WHEN ABS(a.value - b.value) = 0 THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
                COUNT(*) AS n
         FROM events a JOIN events b ON a.event_id = b.event_id""",

    "q9_knn_eu_k1" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_distance(t.e, tr.e) AS d
                        FROM test t CROSS JOIN train tr
                        WHERE list_distance(t.e, tr.e) <> 0)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label, ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
           FROM pairs) x
         WHERE rn = 1 ORDER BY test_id""",

    "q10_knn_eu_k5" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_distance(t.e, tr.e) AS d
                        FROM test t CROSS JOIN train tr
                        WHERE list_distance(t.e, tr.e) <> 0),
              topk AS (SELECT * FROM (
                         SELECT test_id, train_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM pairs) x WHERE rn <= 5),
              votes AS (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                        FROM topk GROUP BY test_id, label)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label,
                  ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
           FROM votes) v
         WHERE vr = 1 ORDER BY test_id""",

    "q11_knn_accuracy" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_distance(t.e, tr.e) AS d
                        FROM test t CROSS JOIN train tr
                        WHERE list_distance(t.e, tr.e) <> 0),
              topk AS (SELECT * FROM (
                         SELECT test_id, train_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM pairs) x WHERE rn <= 5),
              votes AS (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                        FROM topk GROUP BY test_id, label),
              pred AS (SELECT test_id, label AS predicted_label FROM (
                         SELECT test_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
                         FROM votes) v WHERE vr = 1)
         SELECT ROUND(AVG(CASE WHEN ABS(p.predicted_label - t.label) = 0 THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
                COUNT(*) AS n
         FROM pred p JOIN test t ON p.test_id = t.vec_id""",

    "q29_knn_dtw_band0" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_sum(list_transform(range(1, len(t.e) + 1),
                                 i -> abs(t.e[i] - tr.e[i]))) AS d
                        FROM test t CROSS JOIN train tr),
              nz    AS (SELECT * FROM pairs WHERE d <> 0),
              topk AS (SELECT * FROM (
                         SELECT test_id, train_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM nz) x WHERE rn <= 5),
              votes AS (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                        FROM topk GROUP BY test_id, label)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label,
                  ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
           FROM votes) v
         WHERE vr = 1 ORDER BY test_id""",

    // Q33 shares Q29's Manhattan-equivalence oracle: band=0 admits only
    // the diagonal path, and the cascade must be EXACT for the hash to
    // match — this is the driver-verified pin on the whole prune path.
    "q33_knn_pruned_band0" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_sum(list_transform(range(1, len(t.e) + 1),
                                 i -> abs(t.e[i] - tr.e[i]))) AS d
                        FROM test t CROSS JOIN train tr),
              nz    AS (SELECT * FROM pairs WHERE d <> 0),
              topk AS (SELECT * FROM (
                         SELECT test_id, train_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM nz) x WHERE rn <= 5),
              votes AS (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                        FROM topk GROUP BY test_id, label)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label,
                  ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
           FROM votes) v
         WHERE vr = 1 ORDER BY test_id""",

    // Q26/Q31: the synthetic classes are separable BY CONSTRUCTION (six
    // sine phases, noise amplitude 0.4 << the inter-phase DTW margin),
    // so exact banded 1-NN provably classifies every test row to its
    // generator class — predicted_label == test_id % 6 and accuracy 1.0.
    // The oracle encodes that closed form; the engine must reach it via
    // the real DTW cascade, so any kernel/cascade regression breaks the
    // hash. Test-set size mirrors harSynth's sf-tier branch, recovered
    // from the orders row count (1.5M * sf).
    "q26_har_model2_1nn" ->
      """WITH nt AS (SELECT CASE WHEN (SELECT COUNT(*) FROM orders) >= 150000 THEN 2947
                                 WHEN (SELECT COUNT(*) FROM orders) >= 15000 THEN 294
                                 ELSE 30 END AS n)
         SELECT 1000000 + x AS test_id, CAST((1000000 + x) % 6 AS DOUBLE) AS predicted_label
         FROM (SELECT unnest(range((SELECT n FROM nt))) AS x) ORDER BY test_id""",

    // same closed form as q26 (separable classes), k=5 vote instead of
    // 1-NN — drives the whole Model-1 prune cascade through the gate
    "q25_knn_dtw_pruned" ->
      """WITH nt AS (SELECT CASE WHEN (SELECT COUNT(*) FROM orders) >= 150000 THEN 2947
                                 WHEN (SELECT COUNT(*) FROM orders) >= 15000 THEN 294
                                 ELSE 30 END AS n)
         SELECT 1000000 + x AS test_id, CAST((1000000 + x) % 6 AS DOUBLE) AS predicted_label
         FROM (SELECT unnest(range((SELECT n FROM nt))) AS x) ORDER BY test_id""",

    "q31_har_accuracy" ->
      """SELECT CAST(1.0 AS DOUBLE) AS accuracy,
                CAST(CASE WHEN (SELECT COUNT(*) FROM orders) >= 150000 THEN 2947
                          WHEN (SELECT COUNT(*) FROM orders) >= 15000 THEN 294
                          ELSE 30 END AS BIGINT) AS n""",

    // Q30 recomputes the written-then-reread predictions: the oracle is
    // the same 1-NN pipeline evaluated directly (table round-trip is
    // value-preserving).
    "q30_table_roundtrip" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_distance(t.e, tr.e) AS d
                        FROM test t CROSS JOIN train tr
                        WHERE list_distance(t.e, tr.e) <> 0),
              pred AS (SELECT test_id, label AS predicted_label FROM (
                         SELECT test_id, label, ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM pairs) x WHERE rn = 1)
         SELECT ROUND(AVG(CASE WHEN ABS(p.predicted_label - t.label) = 0 THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
                COUNT(*) AS n
         FROM pred p JOIN test t ON p.test_id = t.vec_id""",

    "q38_ksweep" ->
      Seq(1, 3, 5).map(knnAccuracySql).mkString("", " UNION ALL ", " ORDER BY k"),

    // the salted join is value-identical to the plain equi join
    "q40_salted_join" ->
      """SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",

    "q41_bucketed_join" ->
      """SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",

    "q39_ingest_ep1" ->
      """SELECT n_name, CAST(n_nationkey AS DOUBLE) AS feature_1,
                CAST(n_regionkey AS DOUBLE) AS feature_2
         FROM nation ORDER BY n_name""",

    // gaps-and-islands == session_window for a fixed gap: sessions merge
    // iff the inter-event gap is STRICTLY below the gap (Spark's session
    // end is exclusive), so a new session starts at diff >= gap.
    // epoch_ns keeps the nanos integral; // truncates to seconds.
    // gap comparator is STRICT: Spark's session_window merges an event
    // arriving EXACTLY at lastEvent + gap (probed: events 300 s apart
    // under a "5 minutes" gap land in ONE session; 301 s splits) — a
    // >= here disagrees at the boundary. sf0.01 has no exactly-at-gap
    // pair, so the driver gate never caught it; the r9 10x rehearsal's
    // oracle run at sf0.1 did (users 812/1298 each carry a 300 s pair).
    "q42_sessionize" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS s FROM events),
              flagged AS (SELECT user_id, s,
                                 CASE WHEN s - LAG(s) OVER (PARTITION BY user_id ORDER BY s) > 300
                                      OR LAG(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
                                      THEN 1 ELSE 0 END AS new_s
                          FROM ev),
              sess AS (SELECT user_id, s,
                              SUM(new_s) OVER (PARTITION BY user_id ORDER BY s
                                               ROWS UNBOUNDED PRECEDING) AS sid
                       FROM flagged)
         SELECT user_id, MIN(s) AS session_start, COUNT(*) AS n_events
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q43_vocab" ->
      s"""WITH toks AS (SELECT unnest($tokensSql) AS tok FROM documents)
         SELECT COUNT(DISTINCT tok) AS vocab, COUNT(*) AS total_tokens FROM toks""",

    // same construction, unconstrained exact DTW (closed form is exact)
    // Q12: unconstrained DTW vs a constant series no longer than x,
    // closed form sum_i |x_i - v| (see the query's derivation comment —
    // train lengths are capped at the test length so the DP's optimal
    // path IS the left-to-right fold, bit-identical to list_sum's
    // association). The shifted-embedding x and |x_i - v| terms are
    // built from the same FP operands in the same order as the engine's
    // series, and the row carries the ROUND(...,6) distance, so the DP
    // value itself is under the hash. No zero-distance filter: x is
    // never constant, so dist > 0 on every pair.
    "q12_knn_dtw_k1" ->
      """WITH test AS (SELECT vec_id AS test_id,
                              list_transform(embedding::DOUBLE[],
                                x -> x + CAST(vec_id % 10 AS DOUBLE)) AS x
                       FROM embeddings WHERE vec_id % 2 = 1),
              train AS (SELECT CAST(n_nationkey AS BIGINT) AS train_id,
                               CAST(n_nationkey AS DOUBLE) AS v,
                               CAST(n_regionkey AS DOUBLE) AS label
                        FROM nation),
              d AS (SELECT t.test_id, tr.train_id, tr.label,
                           list_sum(list_transform(t.x, e -> abs(e - tr.v))) AS dist
                    FROM test t CROSS JOIN train tr)
         SELECT test_id, label AS predicted_label, dist AS min_distance
         FROM (SELECT test_id, label, dist,
                      ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rn
               FROM d) z
         WHERE rn = 1 ORDER BY test_id""",

    "q46_dtw_unconstrained_1nn" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS key,
                           CAST(n_regionkey AS DOUBLE) AS label,
                           4 + (n_nationkey * 7) % 41 AS len
                    FROM nation),
              pairs AS (SELECT t.key AS test_id, tr.key AS train_id, tr.label,
                               ABS(CAST(t.key - tr.key AS DOUBLE)) * GREATEST(t.len, tr.len) AS d
                        FROM n t CROSS JOIN n tr
                        WHERE t.key <> tr.key)
         SELECT test_id, label AS predicted_label, ROUND(d, 6) AS min_distance
         FROM (SELECT test_id, label, d,
                      ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
               FROM pairs) x
         WHERE rn = 1 ORDER BY test_id""",

    // q44's closed form composed with q10's vote replay: FastDTW k=5
    // fully SQL-expressible on constant series
    "q13_knn_fastdtw_k5" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS key,
                           CAST(n_regionkey AS DOUBLE) AS label,
                           4 + (n_nationkey * 7) % 41 AS len
                    FROM nation),
              pairs AS (SELECT t.key AS test_id, tr.key AS train_id, tr.label,
                               ABS(CAST(t.key - tr.key AS DOUBLE)) * GREATEST(t.len, tr.len) AS d
                        FROM n t CROSS JOIN n tr
                        WHERE t.key <> tr.key),
              topk AS (SELECT * FROM (
                         SELECT test_id, train_id, label,
                                ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
                         FROM pairs) x WHERE rn <= 5),
              votes AS (SELECT test_id, label, COUNT(*) AS votes, MIN(rn) AS best_rank
                        FROM topk GROUP BY test_id, label)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label,
                  ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, best_rank, label) AS vr
           FROM votes) v
         WHERE vr = 1 ORDER BY test_id""",

    // constant-series closed form: fastdtw == dtw == |x-y|*max(n,m)
    // (KernelsSpec pins the equality exhaustively over the length grid)
    "q44_fastdtw_1nn" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS key,
                           CAST(n_regionkey AS DOUBLE) AS label,
                           4 + (n_nationkey * 7) % 41 AS len
                    FROM nation),
              pairs AS (SELECT t.key AS test_id, tr.key AS train_id, tr.label,
                               ABS(CAST(t.key - tr.key AS DOUBLE)) * GREATEST(t.len, tr.len) AS d
                        FROM n t CROSS JOIN n tr
                        WHERE t.key <> tr.key)
         SELECT test_id, label AS predicted_label, ROUND(d, 6) AS min_distance
         FROM (SELECT test_id, label, d,
                      ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
               FROM pairs) x
         WHERE rn = 1 ORDER BY test_id""",

    // correlated LATERAL top-1 — an independent formulation of the
    // union+window as-of semantics (ties: greatest (ts, event_id) wins)
    "q47_asof_join" ->
      """SELECT l.event_id, l.user_id,
                a.event_id AS asof_event_id, a.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         LEFT JOIN LATERAL (
           SELECT r.event_id, r.value FROM events r
           WHERE r.event_type = 'view' AND r.user_id = l.user_id
             AND r.ts <= l.ts
           ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
         ) a ON true
         ORDER BY l.event_id""",

    // correlated count over the exact range predicate — the independent
    // formulation of the bucketed equi-join + post-filter
    "q49_range_join" ->
      """SELECT l.event_id, l.user_id,
                (SELECT COUNT(*) FROM events r
                 WHERE r.event_type = 'error' AND r.user_id = l.user_id
                   AND epoch_ns(r.ts) BETWEEN epoch_ns(l.ts) - 600000000000
                                          AND epoch_ns(l.ts) + 600000000000) AS n_errors
         FROM events l WHERE l.event_type = 'click' ORDER BY l.event_id""",

    "q50_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
              dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              scored AS (SELECT tf.doc_id, tf.term,
                                ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
                         FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         SELECT doc_id, rank, term, tfidf FROM (
           SELECT doc_id, term, tfidf,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
           FROM scored) t
         WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q51_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 4) AS sq
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q54_semi_anti" ->
      """SELECT c_nationkey,
                COUNT(CASE WHEN has_o THEN 1 END) AS with_orders,
                COUNT(CASE WHEN NOT has_o THEN 1 END) AS without_orders
         FROM (SELECT c_nationkey,
                      EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey) AS has_o
               FROM customer c) t
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q55_setops" ->
      """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
              erroring AS (SELECT user_id FROM events WHERE event_type = 'error')
         SELECT user_id, 'both' AS tag FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM erroring)
         UNION ALL
         SELECT user_id, 'click_only' AS tag FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM erroring)
         ORDER BY user_id, tag""",

    "q56_json" ->
      """SELECT event_type,
                CAST(SUM(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
                ROUND(AVG(TRY_CAST(props->>'k' AS BIGINT)), 6) AS k_avg,
                COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q57_daily" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS epoch_day,
                COUNT(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY epoch_day""",

    "q52_percentiles" ->
      """SELECT event_type,
                ROUND(quantile_cont(value, 0.5), 6) AS p50,
                ROUND(quantile_cont(value, 0.9), 6) AS p90,
                COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q53_pivot" ->
      """SELECT user_id,
                COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q34_series_stats" ->
      """SELECT CAST(MAX(len(embedding)) AS BIGINT) AS max_len, COUNT(*) AS n FROM embeddings""",

    "q35_rowid" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY n_nationkey) AS row_id, n_nationkey, n_name
         FROM nation ORDER BY row_id""",

    "q36_vector_equality_join" ->
      """SELECT COUNT(*) AS n FROM embeddings a JOIN embeddings b
         ON a.embedding::DOUBLE[] = b.embedding::DOUBLE[]""",

    // The WHERE mirrors VectorAssembler's handleInvalid="skip": a row
    // with ANY null measure is dropped by the Spark side, so the oracle
    // must drop it too — without this predicate the two sides agree only
    // on corpora that happen to carry no nulls in the four measures
    // (TPC-H lineitem does not; a planted-null variant is hash-pinned in
    // DegenerateCorpusSpec).
    "q37_vector_assembler" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(SQRT(0.0 + l_quantity*l_quantity + l_extendedprice*l_extendedprice
                           + l_discount*l_discount + l_tax*l_tax), 6) AS norm
         FROM lineitem
         WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
           AND l_discount IS NOT NULL AND l_tax IS NOT NULL
         ORDER BY l_orderkey, l_linenumber""",

    "q14_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY text ORDER BY keep_id""",

    "q27_dedup_clusters" ->
      s"""WITH RECURSIVE
              toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              sh AS (SELECT doc_id, list_distinct(${shinglesSql(2)}) AS sh FROM toks),
              edges AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib
                FROM sh a CROSS JOIN sh b
                WHERE a.doc_id < b.doc_id
                  AND ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE /
                            len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.3),
              und AS (SELECT ia AS src, ib AS dst FROM edges
                      UNION SELECT ib AS src, ia AS dst FROM edges),
              reach(src, dst) AS (
                SELECT src, dst FROM und
                UNION
                SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
         SELECT d.doc_id AS id,
                LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
         FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         GROUP BY d.doc_id ORDER BY id""",

    "q15_ngram_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              sh AS (SELECT doc_id, list_distinct(${shinglesSql(2)}) AS sh FROM toks)
         SELECT id_a, id_b, jaccard FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE /
                        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
           FROM sh a CROSS JOIN sh b WHERE a.doc_id < b.doc_id) p
         WHERE jaccard >= 0.3 ORDER BY id_a, id_b""",

    // Q21: the sign-LSH pipeline is fully deterministic (seeded planes,
    // exact rerank), so it IS oracle-checkable — the planes enter the SQL
    // as literals and DuckDB replays bucket assignment, the multi-table
    // candidate union, and the exact cosine rerank.
    "q21_ann_lsh" -> {
      def bucketUnion(src: String) = (0 until 4).map { tbl =>
        val b = lshBucketSql("v", dim = 64, bits = 10, seed = 42L + tbl)
        s"SELECT id, v, $tbl AS tbl, $b AS bucket FROM $src"
      }.mkString(" UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0),
              c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 <> 0),
              qb AS (${bucketUnion("q")}),
              cb AS (${bucketUnion("c")}),
              cand AS (SELECT qb.id AS query_id, cb.id AS item_id,
                              MAX(list_cosine_similarity(qb.v, cb.v)) AS cos
                       FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
                       GROUP BY qb.id, cb.id)
         SELECT query_id, rank, item_id FROM (
           SELECT query_id, item_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rank
           FROM cand) t
         WHERE rank <= 5 ORDER BY query_id, rank"""
    },

    // Q45: the pre-fit-literal IVF variant (see ivfOracleSql).
    "q45_ann_ivf_det" -> ivfOracleSql(ivfCentroids, probes = 3),

    "q32_multimodal_ann" -> q32OracleSql,

    "q32b_multimodal_wav" -> q32bOracleSql,

    "q32c_multimodal_video" -> q32cOracleSql,

    // Q22's LSH banding is full-recall and verification is exact, so its
    // result set is definitionally Q15's — same brute-force oracle.
    "q22_minhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              sh AS (SELECT doc_id, list_distinct(${shinglesSql(2)}) AS sh FROM toks)
         SELECT id_a, id_b, jaccard FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE /
                        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
           FROM sh a CROSS JOIN sh b WHERE a.doc_id < b.doc_id) p
         WHERE jaccard >= 0.3 ORDER BY id_a, id_b""",

    "q16_token_count" ->
      s"""WITH toks AS (SELECT doc_id, text, $tokensSql AS tk FROM documents)
         SELECT doc_id, len(tk) AS n_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
                tk[1] AS first_token
         FROM toks ORDER BY doc_id""",

    "q17_quality" ->
      s"""WITH toks AS (SELECT doc_id, text, $tokensSql AS tk FROM documents),
              base AS (
           SELECT doc_id,
                  len(tk) AS n,
                  list_distinct(tk) AS dt,
                  CASE WHEN len(list_distinct(tk)) = 0 THEN 0.0
                       ELSE len(list_intersect(list_distinct(tk),
                            ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this','be','are']))::DOUBLE
                            / len(list_distinct(tk)) END AS stop_ratio,
                  CASE WHEN length(text) = 0 OR text IS NULL THEN 0.0
                       ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / length(text) END AS punct_ratio,
                  CASE WHEN len(tk) = 0 THEN 0.0
                       ELSE list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk) END AS mean_tok_len
           FROM toks)
         SELECT doc_id, ROUND(stop_ratio, 6) AS stop_ratio, ROUND(punct_ratio, 6) AS punct_ratio,
                ROUND(mean_tok_len, 6) AS mean_tok_len,
                ROUND(LEAST(n / 50.0, 1.0) * 0.3 +
                      (CASE WHEN n = 0 THEN 0.0 ELSE len(dt)::DOUBLE / n END) * 0.3 +
                      LEAST(stop_ratio * 4.0, 1.0) * 0.2 + (1.0 - punct_ratio) * 0.2, 6) AS quality
         FROM base ORDER BY doc_id""",

    "q18_langid" ->
      s"""WITH toks AS (SELECT doc_id, list_distinct($tokensSql) AS dt FROM documents),
              sc AS (
           SELECT doc_id,
                  len(list_intersect(dt, ['the','and','of','to','in','is','that','for','with','it'])) AS s_en,
                  len(list_intersect(dt, ['der','die','das','und','ist','nicht','ein','zu','mit','von'])) AS s_de,
                  len(list_intersect(dt, ['el','la','los','las','y','es','en','que','un','una'])) AS s_es,
                  len(list_intersect(dt, ['le','la','les','et','est','un','une','que','dans','pour'])) AS s_fr,
                  len(list_intersect(dt, ['de5','shi4','le5','zai4','you3','wo3','ta1','zhe4','bu4','ren2'])) AS s_zh
           FROM toks)
         SELECT doc_id,
                CASE WHEN GREATEST(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
                     WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                     WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                     ELSE 'zh' END AS lang_pred
         FROM sc ORDER BY doc_id""",

    // 59-bit rotate-left-5 XOR fold, token chars then token hashes —
    // mirrors graft_charfold_fingerprint exactly (Mask54 = 2^54-1 keeps
    // every shift non-negative under DuckDB's checked arithmetic)
    "q19_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              th AS (SELECT doc_id,
                list_transform(tk, t ->
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(t) + 1),
                        i -> CAST(unicode(t[CAST(i AS INT)]) AS BIGINT))),
                    (acc, c) -> xor(((acc & 18014398509481983) << 5) | (acc >> 54), c))) AS hs
              FROM toks)
         SELECT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                  (acc, h) -> xor(((acc & 18014398509481983) << 5) | (acc >> 54), h)) AS fp
         FROM th ORDER BY doc_id""",

    // mirror of simhashPairsPortable: charfold token hash -> xorshift-59
    // finalizer -> bit votes -> 4x15-bit chunk banding -> hamming
    "q23_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              tok AS (SELECT doc_id, unnest(tk) AS t FROM toks),
              h0 AS (SELECT doc_id, ${charFoldSql("t")} AS h FROM tok),
              h1 AS (SELECT doc_id, xor(h, h >> 13) AS h FROM h0),
              h2 AS (SELECT doc_id, xor(h, (h & 1099511627775) << 19) AS h FROM h1),
              h3 AS (SELECT doc_id, xor(h, h >> 28) AS h FROM h2),
              h4 AS (SELECT doc_id, xor(h, (h & 8796093022207) << 16) AS h FROM h3),
              h5 AS (SELECT doc_id, xor(h, h >> 11) AS h FROM h4),
              hf AS (SELECT doc_id, xor(h, (h & 137438953471) << 22) AS h FROM h5),
              votes AS (SELECT doc_id, b,
                               SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
                        FROM hf CROSS JOIN (SELECT unnest(range(59)) AS b) bs
                        GROUP BY doc_id, b),
              sig0 AS (SELECT doc_id,
                              CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sig
                       FROM votes GROUP BY doc_id),
              sig AS (SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
                      FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id),
              chunks AS (SELECT doc_id, sig, c, (sig >> CAST(c * 15 AS INT)) & 32767 AS chunk
                         FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cs),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.sig AS sa, b.sig AS sb
                       FROM chunks a JOIN chunks b
                         ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""",

    "q20_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0),
              c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 <> 0)
         SELECT query_id, rank, item_id FROM (
           SELECT q.query_id, c.item_id,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.item_id) AS rank
           FROM q CROSS JOIN c) t
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // replays the quantization (round(x*127/max|v|)), the quantized
    // prefilter ranking, and the exact rerank — ties everywhere on id
    "q48_ann_int8" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 = 0),
              c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 10 <> 0),
              qq AS (SELECT query_id,
                            CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
                                 ELSE list_transform(v, x -> round(x * 127 / m)) END AS q8
                     FROM (SELECT query_id, v,
                                  list_max(list_transform(v, x -> abs(x))) AS m FROM q) t),
              cq AS (SELECT item_id,
                            CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
                                 ELSE list_transform(v, x -> round(x * 127 / m)) END AS c8
                     FROM (SELECT item_id, v,
                                  list_max(list_transform(v, x -> abs(x))) AS m FROM c) t),
              cand AS (SELECT query_id, item_id FROM (
                         SELECT qq.query_id, cq.item_id,
                                ROW_NUMBER() OVER (PARTITION BY qq.query_id
                                  ORDER BY list_cosine_similarity(qq.q8, cq.c8) DESC, cq.item_id) AS qrank
                         FROM qq CROSS JOIN cq) t
                       WHERE qrank <= 20)
         SELECT query_id, rank, item_id FROM (
           SELECT cand.query_id, cand.item_id,
                  ROW_NUMBER() OVER (PARTITION BY cand.query_id
                    ORDER BY list_cosine_similarity(q.v, c.v) DESC, cand.item_id) AS rank
           FROM cand JOIN q USING (query_id) JOIN c USING (item_id)) t
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q24_embedding_neardup" ->
      """SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
           FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id < b.vec_id) t
         WHERE cos >= 0.3 ORDER BY id_a, id_b""",

    "q58_moving_window" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_v,
                LEAD(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_v,
                FLOOR(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0 AS mavg7,
                ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS rsum
         FROM events ORDER BY user_id, ts_us, event_id""",

    "q59_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                ROUND(SUM(l_quantity), 2) AS sq
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q60_editdist_pairs" ->
      """SELECT id_a, id_b, dist FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  levenshtein(a.text, b.text) AS dist
           FROM documents a JOIN documents b
             ON a.lang = b.lang
            AND abs(LENGTH(a.text) // 50 - LENGTH(b.text) // 50) <= 1
            AND abs(LENGTH(a.text) - LENGTH(b.text)) <= 12
            AND a.doc_id < b.doc_id) t
         WHERE dist <= 12 ORDER BY id_a, id_b""",

    "q61_normalize" -> {
      val stop = TextFunctions.stopwordsEn.map("'" + _ + "'").mkString(", ")
      s"""SELECT doc_id, norm_text, LENGTH(norm_text) AS n_norm_chars FROM (
            SELECT doc_id,
                   array_to_string(list_filter($tokensSql,
                     x -> NOT list_contains([$stop], x)), ' ') AS norm_text
            FROM documents) t
          ORDER BY doc_id"""
    },

    "q62_gapfill" ->
      """WITH pts AS (
           SELECT user_id, epoch_us(ts) AS t, ROUND(AVG(value), 6) AS v
           FROM events GROUP BY user_id, epoch_us(ts)),
         bounds AS (
           SELECT user_id,
                  ((MIN(t) + 86399999999) // 86400000000) * 86400000000 AS g0,
                  (MAX(t) // 86400000000) * 86400000000 AS g1
           FROM pts GROUP BY user_id),
         grid AS (
           SELECT user_id, UNNEST(generate_series(g0, g1, 86400000000)) AS t
           FROM bounds WHERE g0 <= g1),
         j AS (
           SELECT g.user_id, g.t,
                  p.t AS prev_ts, p.v AS prev_v, n.t AS next_ts, n.v AS next_v
           FROM grid g
           LEFT JOIN LATERAL (SELECT t, v FROM pts p
             WHERE p.user_id = g.user_id AND p.t <= g.t
             ORDER BY p.t DESC LIMIT 1) p ON TRUE
           LEFT JOIN LATERAL (SELECT t, v FROM pts n
             WHERE n.user_id = g.user_id AND n.t >= g.t
             ORDER BY n.t ASC LIMIT 1) n ON TRUE)
         SELECT user_id, t AS ts,
                CASE WHEN prev_ts = t THEN prev_v
                     WHEN prev_ts IS NULL OR next_ts IS NULL THEN NULL
                     ELSE FLOOR((prev_v + (next_v - prev_v) *
                       (CAST(t - prev_ts AS DOUBLE) / CAST(next_ts - prev_ts AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 END AS value
         FROM j ORDER BY user_id, ts""",

    // the q62b fixture is constant, so the oracle pins the exact
    // expected grid: key 1 interpolates (10 + 0.4*10 = 14, 18), key 2
    // (single off-grid sample) and key 4 (span < step) emit nothing,
    // key 3 is an exact on-grid hit, key 5's NEGATIVE span floors to
    // grid {-200, -100} (truncating division would start at -100 and
    // lose the -200 tick)
    "q62b_gapfill_edges" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, CAST(ts AS BIGINT) AS ts,
                CAST(value AS DOUBLE) AS value
         FROM (VALUES
           (1, 0, 10.0), (1, 100, 14.0), (1, 200, 18.0),
           (3, 300, 7.0),
           (5, -200, 1.0), (5, -100, 3.0)) AS t(user_id, ts, value)
         ORDER BY user_id, ts""",

    "q63_bloom_semi" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
         ORDER BY c_custkey""",

    "q64_sample" -> {
      val cases = sampleRates.toSeq.sortBy(_._1).map { case (stratum, rate) =>
        s"WHEN '$stratum' THEN '${graft.operators.Sampling.hexThreshold(rate)}'"
      }.mkString(" ")
      s"""SELECT event_id, event_type, user_id FROM events
          WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) <
                CASE event_type $cases ELSE NULL END
          ORDER BY event_id"""
    },

    // null guards on BOTH sides: a null-vector pair carries no distance
    // — the engine excludes it before min_by (a null ordering field
    // would sort first and hijack every prediction), and a vectorless
    // test row keeps a NULL pred (counts incorrect via CASE...ELSE 0).
    // Without the a-side guard DuckDB's all-NULL ordering would hand
    // such rows the min-vec_id label instead.
    "q65_kfold_cv" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label, vec_id % 5 AS fold
                    FROM embeddings),
         nn AS (SELECT a.vec_id, a.fold, a.label,
                       (SELECT b.label FROM e b WHERE b.fold <> a.fold
                          AND a.v IS NOT NULL AND b.v IS NOT NULL
                        ORDER BY list_distance(a.v, b.v), b.vec_id LIMIT 1) AS pred
                FROM e a)
         SELECT fold, ROUND(AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END), 6) AS acc,
                COUNT(*) AS n
         FROM nn GROUP BY fold ORDER BY fold""",

    "q66_zorder" -> {
      val z = (0 until 8).map(i =>
        s"(((x8 >> $i) & 1) << ${2 * i}) + (((y8 >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH q AS (
            SELECT vec_id,
                   CAST(FLOOR(LEAST(GREATEST((CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0 * 256.0, 0.0), 255.0)) AS BIGINT) AS x8,
                   CAST(FLOOR(LEAST(GREATEST((CAST(embedding[2] AS DOUBLE) + 1.0) / 2.0 * 256.0, 0.0), 255.0)) AS BIGINT) AS y8
            FROM embeddings),
          qz AS (SELECT vec_id, x8, y8, $z AS z FROM q)
          SELECT vec_id, x8, y8, z, z >> 6 AS zbucket FROM qz ORDER BY vec_id"""
    },

    // Spark tumbling windows align to the epoch → s // 300 * 300
    "q67_stream_window" ->
      """SELECT (epoch_ns(ts) // 1000000000) // 300 * 300 AS window_start,
                event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS mean_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "q68_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",

    // integer-cents sum mirrors runningUserStatsCents' order-free state
    "q69_stream_state" ->
      """SELECT user_id, COUNT(*) AS events,
                SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q70_stream_interval_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
                epoch_ns(c.ts) // 1000000000 AS click_s,
                epoch_ns(v.ts) // 1000000000 AS view_s
         FROM events c JOIN events v ON c.user_id = v.user_id
         WHERE c.event_type = 'click' AND v.event_type = 'view'
           AND epoch_ns(v.ts) // 1000000000
               BETWEEN epoch_ns(c.ts) // 1000000000 - 1800
                   AND epoch_ns(c.ts) // 1000000000 + 1800
         ORDER BY click_id, view_id""",

    // latest purchase value per user as of each event's second; ties on
    // (user, second) resolve to MAX(value) — the operator's (ts, side,
    // value) processing order gives exactly this
    "q71_stream_asof" ->
      """WITH ev AS (SELECT event_id, user_id,
                            epoch_ns(ts) // 1000000000 AS s, event_type, value
                     FROM events),
              ref AS (SELECT user_id, s, MAX(value) AS value FROM ev
                      WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT e.event_id AS id, e.user_id AS key, e.s AS ts,
                (SELECT r.value FROM ref r
                 WHERE r.user_id = e.user_id AND r.s <= e.s
                 ORDER BY r.s DESC LIMIT 1) AS asof_value
         FROM ev e ORDER BY id""",

    "q72_pii_redact" -> {
      import graft.functions.TextFunctions.{emailRe, ipv4Re, phoneRe}
      s"""WITH aug AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                             '@mail.example.com srv 10.0.' ||
                             CAST(doc_id % 256 AS VARCHAR) || '.' ||
                             CAST((doc_id * 7) % 256 AS VARCHAR) ||
                             ' call 555-123-4567'
                        ELSE text END AS t
            FROM documents)
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(t,
                   '$emailRe', '<EMAIL>', 'g'),
                   '$ipv4Re', '<IP>', 'g'),
                   '$phoneRe', '<PHONE>', 'g') AS clean_text,
                 len(regexp_extract_all(t, '$emailRe')) AS n_emails,
                 len(regexp_extract_all(t, '$ipv4Re')) AS n_ips,
                 len(regexp_extract_all(t, '$phoneRe')) AS n_phones
          FROM aug ORDER BY doc_id"""
    },

    "q73_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              sh AS (SELECT doc_id, tk, ${shinglesSql(2)} AS sh2 FROM tk),
              r AS (SELECT doc_id,
                      ROUND(CASE WHEN len(tk) = 0 THEN 0.0
                                 ELSE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) END, 6) AS rep1,
                      ROUND(CASE WHEN len(sh2) = 0 THEN 0.0
                                 ELSE 1.0 - CAST(len(list_distinct(sh2)) AS DOUBLE) / len(sh2) END, 6) AS rep2
                    FROM sh)
         SELECT doc_id, rep1, rep2, rep2 > 0.2 AS flagged
         FROM r ORDER BY doc_id""",

    "q74_csv_source" ->
      """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",

    "q75_jsonl_source" ->
      """SELECT lang, COUNT(*) AS n,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                COUNT(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",

    "q76_partitioned_prune" ->
      """SELECT user_id, COUNT(*) AS n,
                CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""",

    "q77_orc_source" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
                CAST(SUM(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // identical to q9's formulation: streaming and batch 1-NN must agree
    "q78_stream_knn" ->
      """WITH train AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id % 2 = 0),
              test  AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 2 = 1),
              pairs AS (SELECT t.vec_id AS test_id, tr.vec_id AS train_id, tr.label,
                               list_distance(t.e, tr.e) AS d
                        FROM test t CROSS JOIN train tr
                        WHERE list_distance(t.e, tr.e) <> 0)
         SELECT test_id, label AS predicted_label FROM (
           SELECT test_id, label, ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn
           FROM pairs) x
         WHERE rn = 1 ORDER BY test_id""",

    // Q79: strict word 8-grams (docs under 8 tokens contribute none),
    // deduped per document on BOTH sides, so n_shared is a set-
    // intersection size — replayed as unnest + join + count.
    "q79_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(tk) - 6),
                         i -> array_to_string(tk[i:i+7], ' '))) AS gs
                FROM toks WHERE len(tk) >= 8),
              eg AS (SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 50 = 0),
              tg AS (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 50 <> 0)
         SELECT tg.doc_id, COUNT(*) AS n_shared
         FROM tg JOIN eg USING (gram)
         GROUP BY tg.doc_id ORDER BY tg.doc_id"""
  ) ++
    // Fit-at-verify-time entry: present only after q28 has run in this
    // JVM (Verify runs every query before dumping oracle_sql.json, so
    // the driver always sees it; a failed q28 or an ambiguous multi-dir
    // stash degrades to rows-only rather than shipping an oracle the
    // result can't match).
    q28OracleEntry
}
