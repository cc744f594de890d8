package graft.operators

import graft.functions.SeriesFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; broadcast corpus or
  * partitioned crossJoin). Scale path: random-hyperplane LSH (Charikar
  * 2002) — bucket by sign-pattern of seeded projections, search only
  * within matching buckets (optionally multi-probe via several tables).
  */
object SimilaritySearch {

  /** Top-k per query by (cos DESC, item_id ASC) over a
    * (query_id, item_id, cos) pair stream WITHOUT sorting it: ONE
    * bounded-heap `TypedImperativeAggregate` (the cascade's machinery,
    * pairs mode) keeps k (score, id) entries per query per partition
    * map-side, so the exchange moves k rows per query and nothing sorts
    * the pair stream. The window form (`row_number <= k`) selects the
    * same rows — WindowGroupLimit prunes partials to k too, but only
    * after locally SORTING each partition's pair rows, which at a
    * 10^8-pair prefilter is the dominant cost (343 s -> 89 s at the
    * NOTES_r7 600x rehearsal). Selection order: k smallest (-cos, id)
    * under Spark's own SQL double ordering (±0.0 tie like a window
    * sort); -(-x) is exact, so emitted cos values match the window
    * path's bit-for-bit. Two deliberate edge divergences from a raw
    * `ORDER BY cos DESC` window: NaN-scored rows rank WORST here (a
    * window would rank them first — NaN only enters via NaN input
    * vectors), and null-scored rows are excluded rather than ranked
    * last. Requires integral item ids (the heap buffer packs primitive
    * longs; anything else fails analysis rather than silently casting).
    */
  private def heapTopK(pairs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    val idType = pairs.schema("item_id").dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(idType.simpleString),
      s"heap top-k requires an integral item_id, got ${idType.simpleString} " +
        "(a non-numeric id would cast to null and be silently dropped)")
    pairs
      .select(col("query_id"), col("item_id"), negate(col("cos")).as("neg"))
      .groupBy(col("query_id"))
      .agg(SeriesFunctions.topkPairs(col("neg"), col("item_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      // the heap buffer packs ids as primitive longs; cast back so the
      // output schema preserves the caller's id type (int stays int,
      // as the former window path did) instead of silently widening
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").cast(idType).as("item_id"), negate(col("col.score")).as("cos"))
  }

  /** Exact top-k by cosine similarity.
    * queries: (query_id, query_vec); corpus: (item_id, item_vec).
    * Output: (query_id, rank, item_id, cos).
    *
    * Edge ranking (all `*TopK` variants, from the bounded-heap
    * selection): NaN-scored rows rank worst (a raw `ORDER BY cos DESC`
    * window would rank them first) and null-scored rows are dropped
    * rather than ranked last — a query whose candidate scores are all
    * null returns no rows. Neither arises from finite non-null vectors.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("query_vec").cast("array<double>").as("qv"))
    val c = corpus.select(col("item_id"), col("item_vec").cast("array<double>").as("cv"))
    heapTopK(
      Partitioning.spread(q).crossJoin(broadcast(c))
        .select(col("query_id"), col("item_id"),
          SeriesFunctions.cosine(col("qv"), col("cv")).as("cos")),
      k)
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus with KMeans
    * centroids, probe each query's `probes` nearest cells, rerank exactly
    * within the probed cells. The standard coarse-quantization trade:
    * cost ~ n * (probes / numCells) per query instead of n.
    *
    * The centroid fit runs on a BOUNDED seeded sample (`maxFitRows`) —
    * at 100 TB, k-means quality saturates long before the corpus size,
    * and a full-corpus fit would iterate MLlib over every vector per
    * call. Pre-fit centroids can be passed via [[ivfTopKWithCentroids]]
    * (they enter the plan as literals, broadcast with the task binary).
    */
  /** Fitted-centroid memo: one count+sample scan per (session, corpus
    * plan, fit params), not per `ivfTopK` call — repeated calls against
    * the same corpus (a query loop over one index) re-derive identical
    * centroids from identical seeded samples, so the re-scan bought
    * nothing. Keyed by the corpus plan's semanticHash + session identity;
    * entries for stopped sessions are evicted on access AND via
    * [[clearSessionCache]] (wired into `SparkEntry.clearSessionCaches`,
    * so a long-lived JVM that cycles sessions doesn't pin stopped-session
    * object graphs). The fit runs OUTSIDE the map's bin lock (a Spark
    * job under computeIfAbsent would serialize unrelated corpora that
    * hash to the same bin); a lost race costs one redundant fit of
    * identical centroids.
    *
    * Staleness caveat (semanticHash keys the PLAN, not the data): if the
    * files behind a fixed corpus path are overwritten in-place within one
    * session, pass `refit = true` for the next call (or use
    * [[ivfTopKWithCentroids]]) — the memo cannot see content changes.
    */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, Int, Int, Long, Long), Array[Array[Double]]]()

  /** Drop memoized centroid fits for `s` (session-lifecycle hygiene). */
  def clearSessionCache(s: org.apache.spark.sql.SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    centroidCache.keySet.asScala.filter(_._1 eq s).toList
      .foreach(centroidCache.remove)
  }

  /** Current fit-memo keys for `s` (bench repeat-run bookkeeping — see
    * `SparkEntry.derivedMemoKeys`).
    */
  def sessionCacheKeys(s: org.apache.spark.sql.SparkSession): Set[Any] = {
    import scala.jdk.CollectionConverters._
    centroidCache.keySet.asScala.filter(_._1 eq s).toSet
  }

  /** Drop `s`'s fit memos except `keep` (bench repeat-run bookkeeping). */
  def dropSessionCacheExcept(s: org.apache.spark.sql.SparkSession, keep: Set[Any]): Unit = {
    import scala.jdk.CollectionConverters._
    centroidCache.keySet.asScala.filter(_._1 eq s).toList
      .filterNot(keep).foreach(centroidCache.remove)
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numCells: Int = 16, probes: Int = 4, seed: Long = 42L,
      maxFitRows: Long = 20000, refit: Boolean = false): DataFrame =
    ivfTopKWithCentroids(queries, corpus, k,
      fitOrGetCentroids(corpus, numCells, seed, maxFitRows, refit), probes)

  /** The coarse-quantizer fit behind [[ivfTopK]], exposed so callers can
    * capture the SAME centroid array the plan will use (e.g. to replay
    * the probe+rerank pipeline literal-for-literal in an external
    * oracle). Deterministic for a fixed (corpus content, params): the
    * sample is seeded and id-sorted, the Lloyd loop is seeded with a
    * fixed iteration count.
    */
  def fitOrGetCentroids(
      corpus: DataFrame, numCells: Int = 16, seed: Long = 42L,
      maxFitRows: Long = 20000, refit: Boolean = false): Array[Array[Double]] = {
    val c = corpus.select(col("item_id"), col("item_vec").cast("array<double>").as("cv"))
    locally {
      import scala.jdk.CollectionConverters._
      centroidCache.keySet.asScala.filter(_._1.sparkContext.isStopped).toList
        .foreach(centroidCache.remove)
    }
    val key = (corpus.sparkSession, c.queryExecution.analyzed.semanticHash(),
      numCells, seed, maxFitRows)
    def fit(): Array[Array[Double]] = {
      val total = c.count()
      val fitSet =
        if (total > maxFitRows)
          c.sample(withReplacement = false, maxFitRows.toDouble / total, seed)
        else c
      // The coarse-quantizer fit runs DRIVER-SIDE on the collected sample.
      // The sample is bounded (maxFitRows * dim doubles ~ 10 MB), so this
      // holds at 100 TB: one scan to sample, then Lloyd iterations are
      // pure local arithmetic instead of a scheduler round trip per
      // iteration (a distributed fit over a 20k-row sample was ~7x the
      // cost of the probe+rerank it serves). Recall is governed by
      // `probes`, not centroid polish; the rerank is exact within probed
      // cells regardless. Sorting the sample by id makes the fit (and so
      // the whole operator) deterministic across runs and cluster layouts.
      // dirty rows never shape centroids: a null item_id or null/
      // uncastable item_vec in a billion-row corpus must not NPE the
      // driver-side collect (getLong/getSeq on a null field) — such
      // rows are excluded from the FIT only; the search side handles
      // them under its own null contract. Filtered AFTER sampling, so
      // the fit set just runs marginally under maxFitRows on a dirty
      // corpus instead of rescanning.
      val sample = fitSet
        .where(col("item_id").isNotNull.and(col("cv").isNotNull))
        .select(col("item_id").cast("long"), col("cv")).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      // an EMPTY corpus fits zero centroids rather than crashing the
      // fit: downstream [[ivfTopKWithCentroids]] maps zero cells to the
      // empty result, so "ANN over a corpus a filter emptied out" is a
      // well-defined no-rows answer, same as the brute-force baseline
      if (sample.isEmpty) Array.empty
      else fitCentroids(sample, numCells, seed)
    }
    if (refit) { val f = fit(); centroidCache.put(key, f); f }
    else {
      val cached = centroidCache.get(key)
      if (cached != null) cached
      else {
        val f = fit() // outside the bin lock; a lost race = one extra fit
        val prior = centroidCache.putIfAbsent(key, f)
        if (prior != null) prior else f
      }
    }
  }

  /** Seeded driver-side Lloyd k-means for the IVF coarse quantizer.
    * Deterministic: seeded distinct-point init, fixed iteration count,
    * stable input order. Empty clusters re-seed to the point farthest
    * from its assigned center (standard repair).
    */
  private[graft] def fitCentroids(
      sample: Array[Array[Double]], k: Int, seed: Long,
      iters: Int = 10): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty IVF fit sample")
    val n = sample.length
    val dim = sample(0).length
    // fail with the contract named instead of an ArrayIndexOutOfBounds
    // deep in the Lloyd inner loop: k-means over ragged vectors is
    // undefined, and one short vector in a sampled billion-row corpus
    // would otherwise kill the fit with an unroutable index error
    require(sample.forall(_.length == dim),
      s"IVF fit requires fixed-dimension vectors; the sampled corpus " +
        s"mixes lengths ${sample.map(_.length).distinct.sorted.take(5).mkString(", ")}" +
        (if (sample.map(_.length).distinct.length > 5) ", ..." else ""))
    val rnd = new scala.util.Random(seed)
    val initIdx = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    var centers = initIdx.map(i => sample(i).clone()).toArray
    // fewer sample points than requested cells: every point is a center
    if (centers.length < k) return centers
    val assign = new Array[Int](n)
    val dist = new Array[Double](n)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var c0 = 0
        while (c0 < k) {
          var d = 0.0; var j = 0
          val ctr = centers(c0); val p = sample(i)
          while (j < dim) { val t = p(j) - ctr(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c0 }
          c0 += 1
        }
        assign(i) = best; dist(i) = bestD; i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); val p = sample(i); var j = 0
        val s = sums(a)
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(a) += 1; i += 1
      }
      centers = (0 until k).map { c0 =>
        if (counts(c0) > 0) {
          val s = sums(c0); var j = 0
          while (j < dim) { s(j) /= counts(c0); j += 1 }
          s
        } else {
          // farthest point repair keeps k live cells
          var far = 0; var i2 = 1
          while (i2 < n) { if (dist(i2) > dist(far)) far = i2; i2 += 1 }
          dist(far) = 0.0
          sample(far).clone()
        }
      }.toArray
    }
    centers
  }

  /** IVF probe/rerank against externally-fit (or sampled-fit) centroids.
    * NaN/null score edges rank as documented on [[bruteForceTopK]].
    */
  def ivfTopKWithCentroids(
      queries: DataFrame, corpus: DataFrame, k: Int,
      centers: Array[Array[Double]], probes: Int = 4): DataFrame = {
    val c = corpus.select(col("item_id"), col("item_vec").cast("array<double>").as("cv"))
    val q = queries.select(col("query_id"), col("query_vec").cast("array<double>").as("qv"))
    // zero centroids (an empty-corpus fit): zero cells to probe, so the
    // result is empty BY THE OPERATOR'S OWN SEMANTICS — build it through
    // the same scoring+heap pipeline (false-condition join) so schema,
    // id-type preservation, and nullability match the non-empty path
    // exactly instead of hand-assembling an empty frame
    if (centers.isEmpty)
      return heapTopK(
        q.join(c, lit(false))
          .select(col("query_id"), col("item_id"),
            SeriesFunctions.cosine(col("qv"), col("cv")).as("cos")),
        k)
    def centerLit(ctr: Array[Double]) = array(ctr.map(lit).toIndexedSeq: _*)
    // corpus side: argmin cell (array_min over (dist, idx) structs)
    def cellOf(vec: org.apache.spark.sql.Column) =
      array_min(array(centers.zipWithIndex.map { case (ctr, i) =>
        struct(SeriesFunctions.sqdist(vec, centerLit(ctr)).as("d"), lit(i).as("idx"))
      }.toIndexedSeq: _*)).getField("idx")
    // query side: the `probes` nearest cells
    def probeCells(vec: org.apache.spark.sql.Column) =
      transform(
        slice(array_sort(array(centers.zipWithIndex.map { case (ctr, i) =>
          struct(SeriesFunctions.sqdist(vec, centerLit(ctr)).as("d"), lit(i).as("idx"))
        }.toIndexedSeq: _*)), 1, probes),
        s => s.getField("idx"))
    val cCells = c.withColumn("cell", SeriesFunctions.barrier(cellOf(col("cv"))))
    val qCells = Partitioning.spread(q)
      .select(col("query_id"), col("qv"),
        explode(SeriesFunctions.barrier(probeCells(col("qv")))).as("cell"))
    heapTopK(
      qCells.join(cCells, "cell")
        .select(col("query_id"), col("item_id"),
          SeriesFunctions.cosine(col("qv"), col("cv")).as("cos")),
      k)
  }

  /** Per-vector symmetric int8 quantization: scale = max|v_i| / 127,
    * q_i = round(v_i / scale) in [-127, 127], stored as array<tinyint> —
    * 8x smaller than the double vector. COSINE ranking is scale-free, so
    * the per-vector scale never needs to be carried: cos(q_a, q_b)
    * approximates cos(a, b) directly.
    *
    * The max|v_i| is projected to its own column first: a higher-order
    * `transform` re-evaluates outer references per element, so referencing
    * the aggregate expression inline would make quantization O(dim^2).
    */
  def withInt8(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("_int8_m", array_max(transform(col(vecCol), x => abs(x))))
      .withColumn(outCol,
        when(col("_int8_m") === 0d,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(vecCol),
            x => round(x * lit(127d) / col("_int8_m")).cast("tinyint"))))
      .drop("_int8_m")

  /** Quantized-prefilter ANN: rank ALL candidates on int8-quantized
    * vectors (the cheap pass — at scale the quantized corpus is what
    * streams from storage, 8x less bandwidth than doubles, and what
    * broadcasts WHEN IT FITS), keep the top k*rerankFactor per query,
    * then rerank only those exactly at full precision. Deterministic end
    * to end (quantization is pure arithmetic, every rank ties on
    * item_id), so unlike the LSH/IVF paths this approximate operator
    * replays fully in SQL.
    *
    * The prefilter pair join routes through [[Knn.crossPairs]]'s
    * measured-size decision: broadcast the quantized corpus while it
    * fits an executor; beyond that broadcast the (bounded) query side
    * and STREAM the corpus; a true partitioned cartesian only when
    * neither side fits. int8 shrinks the corpus 8x but 100 TB of doubles
    * is still 12.5 TB quantized — an unconditional broadcast is not a
    * scale path (PlanShapeSpec pins the fallback).
    *
    * NaN/null score edges rank as documented on [[bruteForceTopK]].
    */
  def int8TopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      rerankFactor: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col("query_id"), col("query_vec").cast("array<double>").as("qv"))
    val c = corpus.select(col("item_id"), col("item_vec").cast("array<double>").as("cv"))
    val qq = withInt8(q, "qv", "q8").select(col("query_id"), col("q8"))
    val cq = withInt8(c, "cv", "c8").select(col("item_id"), col("c8"))
    val n = k * rerankFactor
    // prefilter candidates: bounded heap per query (ids only — the exact
    // rerank recomputes scores at full precision anyway); the window form
    // locally sorted the ENTIRE quantized pair stream before its
    // group-limit could prune
    val cand = Knn.crossPairs(cq, Partitioning.spread(qq))
      .select(col("query_id"), col("item_id"),
        // native int8 kernel: bit-identical to casting both sides to
        // array<double> + graft_cosine, without the two widened-array
        // allocations per pair (the prefilter IS the scan at 100 TB)
        negate(call_function("graft_cosine_i8", col("q8"), col("c8"))).as("neg"))
      .groupBy(col("query_id"))
      .agg(SeriesFunctions.topkIds(col("neg"), col("item_id"), n).as("ids"))
      .select(col("query_id"), explode(col("ids")).as("item_id"))
    // Exact rerank joins the full-precision vectors back by id only for
    // the surviving candidates. Oversize corpus: broadcast the slim
    // (query_id, item_id, qv) candidate frame (bounded by the query set:
    // k*rerankFactor rows per query) so the corpus payload STREAMS
    // through the hash join — an unhinted join would let Catalyst
    // build-broadcast a checkpointed corpus from its lying stats (the
    // Knn.scala:341-356 discipline).
    val withQ = cand.join(q, "query_id")
    val joined =
      if (Knn.fitsBroadcast(c)) withQ.join(broadcast(c), "item_id")
      else c.join(broadcast(withQ), "item_id")
    heapTopK(
      joined.select(col("query_id"), col("item_id"),
        SeriesFunctions.cosine(col("qv"), col("cv")).as("cos")),
      k)
  }

  /** Deterministic seeded random hyperplanes (driver-side, tiny).
    * `private[graft]` so the oracle-SQL builder can embed the SAME planes
    * as literals (java.util.Random#nextGaussian is algorithmically
    * specified, so these are stable across JVMs).
    */
  private[graft] def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id for each vector: `bits`-bit code from the signs of
    * projections onto seeded hyperplanes. Pure built-ins: the hyperplane
    * matrix enters the plan as literals (broadcast with the task binary).
    */
  def signBucket(vec: org.apache.spark.sql.Column, dim: Int, bits: Int, seed: Long): org.apache.spark.sql.Column = {
    val planes = hyperplanes(dim, bits, seed)
    planes.zipWithIndex.map { case (p, i) =>
      val proj = SeriesFunctions.dotProduct(vec,
        array(p.map(x => lit(x)).toIndexedSeq: _*))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k: co-bucket queries and corpus across
    * `tables` independent hash tables, rerank exactly within candidates.
    * Recall grows with `tables`; cost ~ n * avgBucketSize * tables instead
    * of n^2.
    *
    * Shuffle discipline (the [[Dedup.embeddingNearDupPairsLsh]] shape):
    * buckets are computed SCAN-SIDE from the vectors, but only slim
    * (table, bucket, id) triples enter the bucket-join exchange — the
    * naive form carries every vector `tables` times through the shuffle,
    * multiplying bytes-moved by the table count. Candidate (query, item)
    * pairs are deduped across tables FIRST (cosine is deterministic per
    * pair, so dedup-then-score == score-then-max), then the vectors join
    * back by id only for the exact rerank of surviving candidates.
    *
    * NaN/null score edges rank as documented on [[bruteForceTopK]].
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, bits: Int = 12, tables: Int = 4, seed: Long = 42L): DataFrame = {
    val q = queries.select(col("query_id"), col("query_vec").cast("array<double>").as("qv"))
    val c = corpus.select(col("item_id"), col("item_vec").cast("array<double>").as("cv"))
    val qb = Partitioning.spread(q).select(col("query_id"),
      posexplode(array((0 until tables).map(t =>
        signBucket(col("qv"), dim, bits, seed + t)): _*)).as(Seq("table", "bucket")))
    val cb = c.select(col("item_id"),
      posexplode(array((0 until tables).map(t =>
        signBucket(col("cv"), dim, bits, seed + t)): _*)).as(Seq("table", "bucket")))
    val cand = qb.join(cb, Seq("table", "bucket"))
      .select(col("query_id"), col("item_id"))
      .distinct()
    heapTopK(
      cand.join(q, "query_id").join(c, "item_id")
        .select(col("query_id"), col("item_id"),
          SeriesFunctions.cosine(col("qv"), col("cv")).as("cos")),
      k)
  }
}
