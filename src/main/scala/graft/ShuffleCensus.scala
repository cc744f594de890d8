package graft

import org.apache.spark.sql.SparkSession

/** Noise-immune scale census: per-query BYTES moved at two scale factors.
  *
  * Wall-clock linearity (the tier100 census) shares the host with
  * unobservable tenants — same-code suite runs span 57–86 s on this box,
  * and three rounds of bench adjudication went to separating real
  * regressions from window contamination. Task-metric BYTE counters have
  * no such noise: input bytes read, shuffle bytes written/read, and spill
  * are functions of the data and the plan alone, so their sf0.01→sf0.1
  * growth ratio is a deterministic measurement of the exact thing the
  * 100 TB question asks — "is there a shuffle here that grows faster than
  * the data?".
  *
  * Each query runs once per scale in a fresh session (sorted order, so
  * session-keyed memos contribute identically on every run), drained via
  * [[org.apache.spark.graft.ListenerBridge]] before and after so the
  * async listener bus cannot attribute a previous query's task tail to
  * the next one.
  *
  * Scale classes (asserted per query in [[classOf]]):
  *  - `linear`: production-path operators whose 100 TB story is "grows
  *    with the data" — the shuffle-write ratio must stay within
  *    LINEAR_BOUND of the data growth. Between the default dirs the
  *    sf-scaled tables grow 10× (documents/events/lineitem/orders) or
  *    4× (embeddings: 500→2000 rows), so the bounds — stated against
  *    the larger growth — are conservative for embedding queries.
  *  - `quadratic`: DECLARED all-pairs baselines (brute KNN/ANN/jaccard —
  *    the oracle constructions the bucketed operators exist to avoid) and
  *    fixed-cell ANN probes (IVF at constant numCells is pairs/cells;
  *    production scales cells with corpus). Ratio recorded, bounded by
  *    QUAD_BOUND.
  *  - `fixed`: queries over tables that do NOT scale with sf (TPC-H
  *    nation/region are constant-size) or whose output is memo-table
  *    re-reads. Ratio recorded, no growth bound (a constant-input query
  *    moving 10× the bytes would still trip LINEAR_BOUND ≥ their ratio
  *    check via the report).
  *
  * Spill must be ZERO everywhere at these scales (the memlimit rehearsal
  * showed only the brute pair matrix spills, and only under a shrunk
  * heap) — any nonzero spill here is a regression.
  *
  * Output: one JSON line per query + a final summary line; the session
  * records the table as BYTESCHECK_r{N}.json.
  */
object ShuffleCensus {

  private val streaming = Set(
    "q67_stream_window", "q68_stream_dedup", "q69_stream_state",
    "q70_stream_interval_join", "q71_stream_asof", "q78_stream_knn")

  /** Declared all-pairs baselines and fixed-cell-count ANN probes.
    * q30 sits here too: the table it round-trips is materialized by a
    * brute 1-NN pass, so its byte/spill behavior is the pair matrix's
    * (q31's table comes from the CANDIDATE-BOUNDED cascade — linear).
    */
  private val quadratic = Set(
    "q9_knn_eu_k1", "q10_knn_eu_k5", "q11_knn_accuracy", "q38_ksweep",
    "q15_ngram_jaccard", "q20_ann_cosine", "q24_embedding_neardup",
    "q27_dedup_clusters", "q60_editdist_pairs",
    "q21_ann_lsh", "q22_minhash_pairs", "q23_simhash_pairs",
    "q28_ann_ivf", "q45_ann_ivf_det", "q48_ann_int8", "q32_multimodal_ann",
    "q65_kfold_cv", "q29_knn_dtw_band0", "q33_knn_pruned_band0",
    "q30_table_roundtrip")

  /** Constant-size inputs: TPC-H nation (25 rows) / region (5 rows) at
    * every sf. NOTE the HAR cascade (q25/q26/q31) is deliberately NOT
    * here: its synth series scale with the tier, and the measured
    * shuffle-write ratio (~9.9× on 10× data) proves the candidate-bounded
    * cascade moves LINEAR bytes — the flagship scale claim, now held to
    * the linear bound.
    */
  private val fixed = Set(
    "q6_cross_abs", "q13_knn_fastdtw_k5", "q44_fastdtw_1nn",
    "q46_dtw_unconstrained_1nn", "q74_csv_source")

  private def classOf(name: String): String =
    if (quadratic(name)) "quadratic"
    else if (fixed(name)) "fixed"
    else "linear"

  // 10x data growth + slack for fixed overheads amortizing oddly at the
  // small end; a linear operator at 16x is already suspicious
  private val LINEAR_BOUND = 16.0
  // 100x pairs + slack. Calibrated for ORGANICALLY scaled corpora
  // (sf0.01→sf0.1): a clone-constructed tier (scalecheck's 10× = ten
  // id-shifted COPIES of every document) puts every doc in a 10-clone
  // duplicate cluster, which inflates dup-finder candidate growth
  // quadratically in the clone count on top of the corpus growth
  // (measured: q23 simhash 312× bytes on that tier). Runs against such
  // tiers should set SPARK_GRAFT_CENSUS_REPORT=1 — violations print and
  // the exit stays 0 — and attribute the rows in the session notes.
  private val QUAD_BOUND = 130.0

  def main(args: Array[String]): Unit = {
    val (small, large) = args match {
      case Array(a, b) => (a, b)
      case _ => ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    }
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-shuffle-census")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)

    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(streaming)

    def measure(dir: String): Map[String, (Long, Long, Long, Long)] = {
      val s = spark.newSession()
      graft.functions.GraftFunctions.register(s)
      try names.map { n =>
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        listener.reset()
        SparkEntry.queries(n)(s, dir)
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        n -> ((listener.input.get, listener.shuffleWrite.get,
          listener.shuffleRead.get, listener.spill.get))
      }.toMap
      finally SparkEntry.clearSessionCaches(s)
    }

    val atSmall = measure(small)
    val atLarge = measure(large)

    def ratio(a: Long, b: Long): Double =
      if (a <= 0) (if (b <= 0) 1.0 else Double.PositiveInfinity)
      else b.toDouble / a.toDouble

    var problems = List.empty[String]
    val rows = names.map { n =>
      val (inS, swS, _, _) = atSmall(n)
      val (inL, swL, srL, spL) = atLarge(n)
      val cls = classOf(n)
      // input bytes are REPORT-ONLY: local-FS parquet reads under-report
      // through the FileSystem-statistics path (footer-sized values for
      // multi-MB scans), so the number is a floor, not a measurement.
      // Shuffle write/read come from Spark's own shuffle writers and are
      // exact.
      val rIn = ratio(inS, inL)
      val rSw = ratio(swS, swL)
      // tiny absolute volumes make ratios meaningless (a 2 KB->40 KB
      // aggregate blob is not a scale hazard); bound only above 1 MB
      val material = swL > (1L << 20)
      val bound = cls match {
        case "linear" => LINEAR_BOUND
        case "quadratic" => QUAD_BOUND
        case _ => Double.PositiveInfinity
      }
      // Spill contract is class-aware: a LINEAR/FIXED operator spilling
      // is a regression (they never have at any measured tier), while the
      // declared brute pair matrices DEGRADE BY SPILLING by design — the
      // memlimit rehearsal measured spill-not-OOM as their contract, and
      // at the id-shifted 10× tier q9/q10/q11/q29/q38/q65/q30 spill
      // 0.5–2.8 GB and complete. Recorded either way.
      val spillOk = if (cls == "quadratic") true else spL == 0L
      val ok = spillOk && (!material || rSw <= bound)
      if (!ok) problems ::= n
      f"""{"q":"$n","class":"$cls","in_small":$inS,"in_large":$inL,"r_in":${fmt(rIn)},"sw_small":$swS,"sw_large":$swL,"r_sw":${fmt(rSw)},"sr_large":$srL,"spill_large":$spL,"ok":$ok}"""
    }
    println("[")
    println(rows.mkString(",\n"))
    println("]")
    val reportOnly = sys.env.contains("SPARK_GRAFT_CENSUS_REPORT")
    println(s"""{"census":"shuffle-bytes","queries":${names.size},"problems":${problems.size},"problem_names":[${problems.sorted.map("\"" + _ + "\"").mkString(",")}],"report_only":$reportOnly,"small":"$small","large":"$large"}""")
    spark.stop()
    if (problems.nonEmpty && !reportOnly) sys.exit(1)
  }

  private def fmt(d: Double): String =
    if (d.isInfinite) "\"inf\""
    else String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
}
