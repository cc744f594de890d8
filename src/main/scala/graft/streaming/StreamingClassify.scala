package graft.streaming

import graft.core.KnnParams
import graft.operators.Knn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming surface: classify an unbounded stream of series
  * against a static (broadcast) train set, plus windowed event analytics.
  *
  * The reference is batch-only (SURVEY §2.7); this is the natural
  * extension of its Model 2 — the broadcast train set is exactly the
  * static side Structured Streaming joins support, so [[Knn.classify1NN]]
  * and [[Knn.classify]] compose with a streaming test side unchanged
  * (stream-static joins are stateless; the per-microbatch plan is the
  * same broadcast cross join + aggregation).
  */
object StreamingClassify {

  /** Attach a streaming test frame (test_id, test_series) to a static
    * train frame: emits (test_id, predicted_label, min_distance) per
    * arriving series. 1-NN (Model-2 semantics); stateless, append-mode.
    */
  def classifyStream1NN(trainStatic: DataFrame, testStream: DataFrame, p: KnnParams): DataFrame =
    Knn.classify1NN(trainStatic, testStream, p)

  /** Windowed event-rate aggregation with watermarked late-data handling:
    * the standard streaming-analytics shape (event-time window + count +
    * mean) over the `events` table schema.
    */
  def windowedEventStats(
      events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_value"))

  /** Stateful streaming: per-user running (count, sum) via
    * `mapGroupsWithState` — the custom-state shape
    * (`KeyValueGroupedDataset` + `GroupState`) for accumulating per-key
    * aggregates across micro-batches. Works identically on batch frames
    * (state starts empty, one group pass).
    *
    * The value sum accumulates in integer cents: `mapGroupsWithState`
    * feeds each group's rows in arbitrary order, and a double sum is
    * order-sensitive in its last ulps — the integer accumulator makes the
    * emitted total an exact, order-free function of the row set (what
    * the bounded oracle replay hashes).
    */
  def runningUserStatsCents(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    // coalesce BEFORE the typed boundary: the tuple encoder's primitive
    // double field throws on NULL ("Null value appeared in non-nullable
    // field") and events.value is nullable. Contract (matches the
    // oracle's COUNT(*) + SUM-skips-NULL exactly): the row is counted,
    // a null value contributes 0.
    val typed = events
      .select(col("user_id").cast("long"),
        coalesce(col("value").cast("double"), lit(0.0)))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) => {
          var (c, cents) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, v) => c += 1; cents += math.round(v * 100) }
          state.update((c, cents))
          (uid, c, cents / 100.0)
        })
      .toDF("user_id", "events", "total_value")
  }

  /** Streaming exact dedup — the canonical ingestion op for a streaming
    * training-data pipeline: drop rows whose key columns repeat within
    * the watermark horizon (`dropDuplicatesWithinWatermark`, the
    * bounded-state form — state for a key is reclaimed once the
    * watermark passes it, so this runs forever at 100 TB/day ingest,
    * unlike unbounded `dropDuplicates` whose state grows monotonically).
    *
    * Restart caveat (measured by the `streamrecovery` rehearsal): the
    * dedup guarantee is ONE-SIDED — duplicates arriving within the
    * watermark delay of the kept row are always dropped, but arrivals
    * beyond the delay may or may not be, because physical state
    * eviction timing is not restart-invariant (a restart's no-data
    * batch evicts expired keys a single query lifetime still holds, so
    * re-arrivals can start a new kept "epoch"). Downstream consumers
    * must tolerate a key re-appearing after the delay horizon; exact
    * global dedup is the batch operator's job ([[graft.operators.Dedup]]).
    */
  def dedupStream(
      stream: DataFrame, keyCols: Seq[String],
      tsCol: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-keyed streaming dedup: key = 64-bit digest of the text
    * column (never keeps the text itself in state).
    */
  def dedupStreamByContent(
      stream: DataFrame, textCol: String,
      tsCol: String, watermark: String): DataFrame =
    dedupStream(
      stream.withColumn("_digest", xxhash64(col(textCol))),
      Seq("_digest"), tsCol, watermark)
      .drop("_digest")

  /** Watermarked stream-stream interval join (the enrichment shape —
    * e.g. correlate click and view streams per user): rows with equal
    * `key` whose event times lie within `within` of each other. The
    * watermarks plus the interval condition bound the join state on BOTH
    * sides — without the time bound a stream-stream join buffers
    * forever, which is the difference between a demo and something that
    * survives a week of 100 TB/day ingest.
    */
  def intervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      key: String, watermark: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r, expr(
      s"""l.$key = r.$key AND
          r.$rightTs >= l.$leftTs - INTERVAL $within AND
          r.$rightTs <= l.$leftTs + INTERVAL $within"""))
      .drop(r(key))
  }

  /** Online as-of enrichment — the streaming sibling of
    * [[graft.operators.AsofJoin]]: probe rows pick up the latest
    * reference value of their key with reference ts <= probe ts (the
    * online-feature-store lookup: "the feature value as of event
    * time"). Both inputs union into one side-tagged stream keyed by
    * `key`; `flatMapGroupsWithState` keeps ONLY the latest reference
    * (ts, value) per key — O(1) state per key, runs forever.
    *
    * Ordering semantics: within a micro-batch rows process in (ts,
    * side, value) order (reference first at equal ts), so a batch's own
    * reference updates are visible to its probes exactly as in the
    * batch operator; among references tied on (key, ts) the LARGEST
    * value wins deterministically (iterator order inside a group is
    * otherwise partition-dependent — an oracle-checked operator cannot
    * leave ties to shuffle luck). ACROSS batches the match is best-effort by
    * arrival: a reference row that arrives after a probe with a later
    * event time has already been emitted cannot retro-fill it — the
    * online-serving semantic, vs. the batch operator's global order.
    *
    * probe: (id, key, ts); reference: (key, ts, value).
    * Output: (id, key, ts, asof_value nullable).
    */
  def asofEnrichStream(probe: DataFrame, reference: DataFrame): DataFrame = {
    import probe.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // value rides as Option: events.value is nullable, and a primitive
    // double tuple field throws on NULL at the encoder boundary. A
    // null-valued reference row still MATCHES (it updates state and
    // blocks earlier rows — the batch operator's semantics) and
    // enriches with null; within a tie None orders before every Some,
    // so a null-valued row loses the greatest-value tie-break
    // deterministically.
    val p = probe.select(col("id").cast("long"), col("key").cast("long"),
      col("ts").cast("long"), lit(1).as("side"),
      lit(null).cast("double").as("value"))
    val r = reference.select(lit(-1L).as("id"), col("key").cast("long"),
      col("ts").cast("long"), lit(0).as("side"), col("value").cast("double"))
    p.union(r).as[(Long, Long, Long, Int, Option[Double])]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[(Long, Long, Long, Int, Option[Double])],
         state: GroupState[(Long, Option[Double])]) => {
          val rows = it.toArray.sortBy(t => (t._3, t._4, t._5))
          var st = state.getOption
          val out = Seq.newBuilder[(Long, Long, Long, Option[Double])]
          rows.foreach { case (id, k, ts, side, v) =>
            if (side == 0) {
              if (st.forall(_._1 <= ts)) { st = Some((ts, v)); state.update((ts, v)) }
            } else {
              out += ((id, k, ts, st.filter(_._1 <= ts).flatMap(_._2)))
            }
          }
          out.result().iterator
        })
      .toDF("id", "key", "ts", "asof_value")
  }

  /** Run a bounded smoke of the streaming classifier: feeds the parquet
    * test split through a memory sink; returns the collected predictions.
    * (Used by tests; delegates to [[StreamingOracle]]'s staging/replay
    * harness — one copy of the stage-and-run logic, not two drifting
    * ones.)
    */
  def runBoundedSmoke(spark: SparkSession, sfDir: String, p: KnnParams): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val train = e.filter(col("vec_id") % 2 === 0).select(
      col("vec_id").as("train_id"),
      col("embedding").cast("array<double>").as("train_series"),
      col("label"))
    val stream = StreamingOracle.stageStream(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("test_id"),
        col("embedding").cast("array<double>").as("test_series"))
    StreamingOracle.runBounded(classifyStream1NN(train, stream, p), "update")
  }
}
