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

  /** Order-sensitive document fingerprint (oracle-checkable, q19) — see
    * [[graft.functions.CharFoldFingerprint]].
    */
  def charFoldFingerprint(tokens: Column): Column =
    call_function("graft_charfold_fingerprint", tokens)
}
