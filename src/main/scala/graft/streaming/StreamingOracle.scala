package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded-replay harness that brings the Structured Streaming operators
  * under the driver's DuckDB oracle gate.
  *
  * Each runner stages a parquet table as a file-stream source, pushes it
  * through the REAL streaming operator (`readStream` → transform →
  * `writeStream`, the identical unbounded plan), runs the query to
  * completion with `processAllAvailable()`, and returns the sink contents
  * as a batch frame — so the streaming micro-batch plan itself (stateful
  * aggregation, watermarked dedup state, stream-stream join buffers) is
  * what produces the oracle-checked rows, not a batch rewrite.
  *
  * The memory sink is the bounded-verification harness only; the
  * production path swaps it for a parquet/kafka sink with byte-identical
  * upstream plans. State-size discipline at 100 TB/day lives in the
  * operators themselves ([[StreamingClassify]]): watermarked eviction for
  * dedup, time-bounded join buffers, O(1)-per-key `GroupState`.
  *
  * Determinism contract (the oracle hashes values): bounded replays run
  * the whole staged file as ONE micro-batch, so watermark-driven state
  * EVICTION never fires mid-stream — every query's output is a pure
  * function of the input set: complete-mode windowed aggregates, one
  * first-seen row per dedup key (projected to its key columns, which are
  * order-independent), final per-key state in update mode, and the full
  * match set of the interval join. Order-sensitive double sums are
  * accumulated in integer cents (exact, order-free) where emitted.
  */
object StreamingOracle {

  /** Stage `table` as a single-file parquet directory and open it as a
    * file-stream source (file sources read directories). The whole file
    * lands in one micro-batch — see the determinism contract above.
    */
  private[streaming] def stageStream(s: SparkSession, sfDir: String, table: String): DataFrame = {
    val schema = s.read.parquet(s"$sfDir/$table.parquet").schema
    val stage = graft.core.TempDirs.scratch(s"graft_so_$table")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$table.parquet"),
      stage.resolve(s"$table.parquet"))
    // normalize ts to the epoch-nanos-long contract (stateless, stream-safe)
    graft.sources.EventTime.nanos(s.readStream.schema(schema).parquet(stage.toString))
  }

  /** State-store partitions of a bounded replay: with the per-run codegen
    * recompiles gone the per-store fixed cost is the next term — the r22
    * interleaved A/B measured 8/4/2 partitions at e.g. q70 2.00/1.60/1.49 s
    * and q78 1.32/1.09/1.04 s floors; 4 keeps headroom for the 10x tier's
    * bigger single batch.
    */
  private val ReplayPartitions = 4

  /** Run a streaming frame to completion against a memory sink; returns
    * the materialized result as a batch frame.
    *
    * State-store partition count: each stateful partition carries its own
    * HDFS-backed store (a stream-stream join: FOUR per partition), and a
    * streaming query pins `spark.sql.shuffle.partitions` at first start —
    * at the bench session's 32 that is 128 store instances churning
    * checkpoint files for a bounded replay. Scoped down to
    * [[ReplayPartitions]] for the replay and restored after; an unbounded
    * production deployment sizes it to sustained key cardinality instead.
    */
  private[streaming] def runBounded(out: DataFrame, mode: String): DataFrame = {
    val s = out.sparkSession
    val qname = "graft_so_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", ReplayPartitions.toString)
    // No-data micro-batches only advance the watermark and evict state —
    // none of the replayed operators emits rows from them (inner interval
    // joins emit on arrival, dedup emits first-seen in the data batch,
    // map/flatMapGroupsWithState run NoTimeout, complete/update-mode
    // aggregates emit per data batch). Measured: the empty batch re-runs
    // the full stateful plan (~0.7-1.9 s for the interval join — state
    // scans across every store instance) for zero sink rows, so the
    // bounded replay skips it. An unbounded production deployment keeps
    // the default: there, eviction and event-time timeouts DO matter.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Artifact isolation (Spark 4) gives every streaming query's cloned
    // session its own classloader, and the codegen cache key is
    // (classloader, source) — so EVERY bounded replay recompiled its
    // entire generated-code set (measured: 14-29 Janino compiles per
    // run, ~0.5-1 s of compile + KeyLock contention inside the
    // state-store tasks; 0 compiles once disabled, batch queries always
    // hit). This engine registers no session artifacts, so the isolated
    // classloader carries nothing — scoped off for the replay, restored
    // after. An unbounded deployment amortizes the one-time compile and
    // can keep the default.
    val prevIso = s.conf.get("spark.sql.artifact.isolation.enabled", "true")
    try s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    catch { case scala.util.control.NonFatal(_) => () } // static in some builds
    try {
      val q = out.writeStream.outputMode(mode).format("memory").queryName(qname).start()
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      try s.conf.set("spark.sql.artifact.isolation.enabled", prevIso)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Move the (small, bounded) result out of the memory sink and DROP
    // the sink's temp view: the UUID-named views are unreachable by any
    // later cleanup, and each pinned its full result in the driver for
    // the session's life. The copy-out stays in Tungsten format
    // (executeCollect -> internalCreateDataFrame): the old
    // collect()/createDataFrame round-trip decoded every row to an
    // external Row and re-encoded it through per-field catalyst
    // converters — pure driver-side overhead at q71's 100k-row result
    // (guide §5: the driver should do almost no data work).
    val sink = s.table(qname)
    val schema = sink.schema
    val internal = sink.queryExecution.executedPlan.executeCollect()
    s.catalog.dropTempView(qname)
    val slices = math.max(1, math.min(
      s.sparkContext.defaultParallelism, internal.length / 5000 + 1))
    org.apache.spark.sql.graft.DataFrameBridge.internalCreateDataFrame(
      s, s.sparkContext.parallelize(internal.toIndexedSeq, slices), schema)
  }

  /** Events stream with a second-precision event-time column `ts`
    * (TIMESTAMP) alongside the raw columns. Integral nanos→seconds
    * division: a double detour cannot represent ~1.7e18 exactly (q42's
    * lesson).
    */
  private def eventStream(s: SparkSession, sfDir: String): DataFrame =
    stageStream(s, sfDir, "events")
      .withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))

  /** q67: watermarked tumbling-window event stats
    * ([[StreamingClassify.windowedEventStats]]) replayed bounded.
    * Complete mode — append would hold every window open forever in a
    * bounded run (the watermark never passes the last event).
    * Tumbling windows align to the epoch, so the oracle is
    * `s // 300 * 300`.
    */
  def windowedEventStats(s: SparkSession, sfDir: String): DataFrame = {
    val agg = StreamingClassify.windowedEventStats(eventStream(s, sfDir))
    runBounded(agg, "complete")
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"),
        // 4 decimals: the mean of arbitrary doubles is summed in different
        // orders by Spark and the oracle; fewer kept digits → fewer
        // rounding boundaries a last-ulp difference could straddle
        round(col("mean_value"), 4).as("mean_value"))
      .orderBy("window_start", "event_type")
  }

  /** q68: watermarked streaming dedup ([[StreamingClassify.dedupStream]])
    * on (user_id, event_type), projected to its key columns — the
    * first-seen payload row per key is batch-order-dependent, the key set
    * is not.
    */
  def dedupDistinctKeys(s: SparkSession, sfDir: String): DataFrame = {
    val deduped = StreamingClassify.dedupStream(
      eventStream(s, sfDir), Seq("user_id", "event_type"), "ts", "10 minutes")
    runBounded(deduped.select(col("user_id"), col("event_type")), "append")
      .orderBy("user_id", "event_type")
  }

  /** q69: stateful per-user running totals via `mapGroupsWithState`
    * (update mode → final state per key). The value sum accumulates in
    * integer cents inside the state function (exact, order-free) so the
    * emitted double is independent of row order within the group.
    */
  def runningUserStats(s: SparkSession, sfDir: String): DataFrame =
    runBounded(
      StreamingClassify.runningUserStatsCents(eventStream(s, sfDir)), "update")
      .orderBy("user_id")

  /** q70: watermarked stream-stream interval join
    * ([[StreamingClassify.intervalJoin]]): click events pick up view
    * events of the same user within ±30 minutes (wide enough that the
    * sparse sf0.001 tier still produces matches). Inner interval joins
    * emit matches as both sides arrive (the watermark bounds state, not
    * emission), so append mode yields the full match set.
    */
  def clickViewIntervalJoin(s: SparkSession, sfDir: String): DataFrame = {
    def side(tag: String, tsAs: String, idAs: String) =
      eventStream(s, sfDir) // fresh staged source per side: no stream self-join
        .filter(col("event_type") === tag)
        .select(col("event_id").as(idAs), col("user_id"), col("ts").as(tsAs))
    val joined = StreamingClassify.intervalJoin(
      side("click", "click_ts", "click_id"),
      "click_ts",
      side("view", "view_ts", "view_id"),
      "view_ts",
      "user_id", "10 minutes", "30 minutes")
    runBounded(joined, "append")
      .select(col("click_id"), col("view_id"), col("user_id"),
        unix_timestamp(col("click_ts")).as("click_s"),
        unix_timestamp(col("view_ts")).as("view_s"))
      .orderBy("click_id", "view_id")
  }

  /** q71: online as-of enrichment
    * ([[StreamingClassify.asofEnrichStream]]): every event picks up the
    * latest purchase `value` of its user with purchase ts <= event ts —
    * the online-feature-store lookup. In a single bounded batch the
    * operator's (ts, side, value) processing order makes the result
    * exactly the batch as-of semantics with max-value tie-break, which
    * is what the oracle replays.
    */
  def asofEnrich(s: SparkSession, sfDir: String): DataFrame = {
    val probes = eventStream(s, sfDir)
      .select(col("event_id").as("id"), col("user_id").as("key"), col("ts"))
    val refs = eventStream(s, sfDir) // fresh staged source: no self-union
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts"), col("value"))
    runBounded(StreamingClassify.asofEnrichStream(probes, refs), "append")
      .orderBy("id")
  }

  /** q78: the flagship streaming operator — stream-static broadcast 1-NN
    * classification ([[StreamingClassify.classifyStream1NN]]): held-out
    * embeddings arrive as a stream and classify against the static train
    * split. Same semantics as the batch q9 (the oracle IS q9's SQL);
    * update mode emits the final per-test row of the bounded batch.
    */
  def streamKnn(s: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val train = e.filter(col("vec_id") % 2 === 0).select(
      col("vec_id").as("train_id"),
      col("embedding").cast("array<double>").as("train_series"),
      col("label"))
    val stream = stageStream(s, sfDir, "embeddings")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("test_id"),
        col("embedding").cast("array<double>").as("test_series"))
    val out = StreamingClassify.classifyStream1NN(
      train, stream, graft.core.KnnParams(distance = "euclidean"))
    runBounded(out, "update")
      .select(col("test_id"), col("predicted_label"))
      .orderBy("test_id")
  }
}
