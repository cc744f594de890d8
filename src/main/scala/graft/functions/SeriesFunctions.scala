package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level distance API.
  *
  * Two tiers:
  *  - `*` (default): the custom Catalyst expressions (registered by
  *    [[GraftFunctions.register]] / [[GraftExtensions]]) — native codegen,
  *    one static call per row pair.
  *  - `*Builtin`: compositions of built-in higher-order functions
  *    (`zip_with` + `aggregate`) — zero registration required, still fully
  *    codegen'd; used to cross-check the custom expressions in tests.
  *
  * The reference computed these in Python workers over a serialization
  * boundary (`Team11-Project.py:173`, `:539`); both tiers here stay in the
  * JVM inside whole-stage codegen.
  */
object SeriesFunctions {

  // ------------------------------------------------ native (registered) tier
  def euclidean(a: Column, b: Column): Column = call_function("graft_euclidean", a, b)
  def sqdist(a: Column, b: Column): Column = call_function("graft_sqdist", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def manhattan(a: Column, b: Column): Column = call_function("graft_manhattan", a, b)
  def dtw(a: Column, b: Column): Column = call_function("graft_dtw", a, b)
  def dtw(a: Column, b: Column, band: Int): Column =
    call_function("graft_dtw", a, b, lit(band))
  def fastdtw(a: Column, b: Column): Column = call_function("graft_fastdtw", a, b)
  def fastdtw(a: Column, b: Column, radius: Int): Column =
    call_function("graft_fastdtw", a, b, lit(radius))
  def simhash64(tokens: Column): Column = call_function("graft_simhash64", tokens)
  def simhash59(tokens: Column): Column = call_function("graft_simhash59", tokens)
  def paa(series: Column, factor: Int): Column =
    call_function("graft_paa", series, lit(factor))
  def jaccardSorted(a: Column, b: Column): Column = call_function("graft_jaccard_sorted", a, b)
  def shingleHashes(tokens: Column, n: Int): Column =
    call_function("graft_shingle_hashes", tokens, lit(n))
  def minhash(hashedSet: Column, k: Int): Column =
    call_function("graft_minhash", hashedSet, lit(k))
  def minhashBands(sig: Column, numBands: Int): Column =
    call_function("graft_minhash_bands", sig, lit(numBands))
  /** Bounded top-k aggregate (see [[graft.functions.BoundedTopKIdsAgg]]):
    * use inside `groupBy(...).agg(...)`.
    */
  def topkIds(score: Column, id: Column, k: Int): Column =
    call_function("graft_topk_ids", score, id, lit(k))
  /** Fused candidate-selection scan (see [[graft.functions.TopKScanIds]]):
    * the ids of the k entries of a broadcast array<struct<id, sketch>>
    * nearest in Manhattan distance to one test-side sketch — the
    * broadcast-path replacement for pair-join + graft_topk_ids.
    */
  def topkScan(sk: Column, trainArr: Column, k: Int): Column =
    call_function("graft_topk_scan", sk, trainArr, lit(k))
  /** The k smallest (score, id) pairs per group as array<struct<score,id>>,
    * sorted ascending — ONE heap maintains both columns (two separate
    * ids+scores aggregates would insert every input row twice).
    */
  def topkPairs(score: Column, id: Column, k: Int): Column =
    call_function("graft_topk_pairs", score, id, lit(k))
  /** Identity wrapper that blocks predicate pushdown (see [[graft.functions.Barrier]]). */
  def barrier(c: Column): Column = call_function("graft_barrier", c)
  def hamming64(a: Column, b: Column): Column = call_function("graft_hamming64", a, b)

  // ----------------------------------------------------- builtin-only tier
  private def dbl(c: Column): Column = c.cast("array<double>")

  def sqdistBuiltin(a: Column, b: Column): Column =
    aggregate(
      zip_with(dbl(a), dbl(b), (x, y) => {
        val xd = coalesce(x, lit(0.0)); val yd = coalesce(y, lit(0.0))
        (xd - yd) * (xd - yd)
      }),
      lit(0.0), (acc, v) => acc + v)

  def euclideanBuiltin(a: Column, b: Column): Column = sqrt(sqdistBuiltin(a, b))

  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(dbl(a), dbl(b),
        (x, y) => coalesce(x, lit(0.0)) * coalesce(y, lit(0.0))),
      lit(0.0), (acc, v) => acc + v)

  def cosineBuiltin(a: Column, b: Column): Column = {
    val na = sqrt(dotBuiltin(a, a)); val nb = sqrt(dotBuiltin(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dotBuiltin(a, b) / (na * nb))
  }

  /** MinHash signature: `numHashes` independent hash functions simulated by
    * seeding xxhash64 with the hash index (standard MinHash over shingles;
    * Broder 1997). Pure built-ins -> codegen'd, partition-local, no shuffle.
    */
  def minhashSignature(tokens: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(tokens, t => xxhash64(lit(i), t)))
    }: _*)

  /** LSH band keys from a minhash signature: hash of each band's slice.
    * rowsPerBand * numBands must equal the signature length.
    */
  def lshBandKeys(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      xxhash64(lit(b), slice(signature, b * rowsPerBand + 1, rowsPerBand).cast("string"))
    }: _*)

  /** Order-sensitive rolling fingerprint of a token stream: rotate-left
    * 5 + XOR accumulation of per-token hashes — document fingerprinting
    * for exact-order dedup. Pure bitwise ops (no ANSI overflow).
    */
  def fingerprint(tokens: Column): Column =
    aggregate(transform(tokens, t => xxhash64(t)), lit(0L),
      (acc, h) => (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))).bitwiseXOR(h))

  /** SQL-portable fingerprint variant (oracle-checkable) — see
    * [[graft.functions.CharFoldFingerprint]].
    */
  def charFoldFingerprint(tokens: Column): Column =
    call_function("graft_charfold_fingerprint", tokens)
}
