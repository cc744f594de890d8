package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Function registration for graft's custom Catalyst expressions.
  *
  * Two entry points:
  *  - [[GraftExtensions]]: `SparkSession.builder().withExtensions(new
  *    GraftExtensions)` — the clean path for production sessions.
  *  - [[GraftFunctions.register]]: post-hoc registration on an existing
  *    session (used by tests and the driver harness).
  *
  * After registration the functions are usable from SQL and from
  * `functions.call_function`.
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _)   => v
    case Literal(v: Long, _)  => v.toInt
    case Literal(v: Short, _) => v.toInt
    case Literal(v: Byte, _)  => v.toInt
    case other =>
      throw new IllegalArgumentException(
        s"$name must be an integer literal, got: $other")
  }

  /** name -> (accepted argument counts, builder, usage) */
  private val specs: Seq[(String, Range, Seq[Expression] => Expression, String)] = Seq(
    ("graft_euclidean", 2 to 2,
      (es: Seq[Expression]) => EuclideanDistance(es(0), es(1)),
      "graft_euclidean(a, b) - Euclidean (L2) distance between array<double>"),
    ("graft_sqdist", 2 to 2,
      (es: Seq[Expression]) => SquaredDistance(es(0), es(1)),
      "graft_sqdist(a, b) - squared L2 distance between array<double>"),
    ("graft_cosine", 2 to 2,
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1)),
      "graft_cosine(a, b) - cosine similarity between array<double>"),
    ("graft_dot", 2 to 2,
      (es: Seq[Expression]) => DotProduct(es(0), es(1)),
      "graft_dot(a, b) - dot product of array<double>"),
    ("graft_manhattan", 2 to 2,
      (es: Seq[Expression]) => ManhattanDistance(es(0), es(1)),
      "graft_manhattan(a, b) - L1 distance between array<double>"),
    ("graft_dtw", 2 to 3,
      (es: Seq[Expression]) =>
        DtwDistance(es(0), es(1),
          if (es.length > 2) intArg(es(2), "band") else -1),
      "graft_dtw(a, b[, band]) - exact DTW distance (|x-y| cost), optional Sakoe-Chiba band"),
    ("graft_fastdtw", 2 to 3,
      (es: Seq[Expression]) =>
        FastDtwDistance(es(0), es(1),
          if (es.length > 2) intArg(es(2), "radius") else 1),
      "graft_fastdtw(a, b[, radius]) - FastDTW approximate DTW distance (Salvador & Chan 2007)"),
    ("graft_shingle_hashes", 2 to 2,
      (es: Seq[Expression]) =>
        WordShingleHashes(es(0), intArg(es(1), "n")),
      "graft_shingle_hashes(tokens, n) - sorted distinct xxhash64 of word n-grams"),
    ("graft_word_ngrams", 2 to 2,
      (es: Seq[Expression]) =>
        WordNgrams(es(0), intArg(es(1), "n")),
      "graft_word_ngrams(tokens, n) - distinct word n-gram strings (strict: <n tokens -> empty)"),
    ("graft_paa", 2 to 2,
      (es: Seq[Expression]) =>
        SeriesPaa(es(0), intArg(es(1), "factor")),
      "graft_paa(series, factor) - Piecewise Aggregate Approximation (block means)"),
    ("graft_barrier", 1 to 1,
      (es: Seq[Expression]) => Barrier(es(0)),
      "graft_barrier(x) - identity; blocks predicate pushdown through it"),
    ("graft_minhash", 2 to 2,
      (es: Seq[Expression]) =>
        MinHashSignature(es(0), intArg(es(1), "k")),
      "graft_minhash(hashedSet, k) - MinHash signature (k mins of seeded long-hashes)"),
    ("graft_minhash_bands", 2 to 2,
      (es: Seq[Expression]) =>
        MinHashBandKeys(es(0), intArg(es(1), "numBands")),
      "graft_minhash_bands(sig, numBands) - LSH band keys from a minhash signature"),
    ("graft_jaccard_sorted", 2 to 2,
      (es: Seq[Expression]) => SortedLongJaccard(es(0), es(1)),
      "graft_jaccard_sorted(a, b) - Jaccard similarity of two sorted array<long> sets"),
    ("graft_topk_ids", 3 to 3,
      (es: Seq[Expression]) =>
        BoundedTopKIdsAgg(es(0), es(1), intArg(es(2), "k")),
      "graft_topk_ids(score, id, k) - ids of the k smallest (score, id) pairs, as array<long>"),
    ("graft_topk_pairs", 3 to 3,
      (es: Seq[Expression]) =>
        BoundedTopKIdsAgg(es(0), es(1), intArg(es(2), "k"), emitPairs = true),
      "graft_topk_pairs(score, id, k) - the k smallest (score, id) pairs as array<struct<score,id>> (ONE heap for both)"),
    ("graft_simhash59", 1 to 1,
      (es: Seq[Expression]) => PortableSimHash59(es(0)),
      "graft_simhash59(tokens) - 59-bit SimHash over portable charfold token hashes"),
    ("graft_charfold_fingerprint", 1 to 1,
      (es: Seq[Expression]) => CharFoldFingerprint(es(0)),
      "graft_charfold_fingerprint(tokens) - rotate-xor codepoint-fold fingerprint (SQL-portable)"),
    ("graft_har_series", 2 to 2,
      (es: Seq[Expression]) =>
        HarSyntheticSeries(es(0), intArg(es(1), "length")),
      "graft_har_series(id, length) - deterministic HAR-shaped benchmark series"),
    ("graft_repetition", 1 to 1,
      (es: Seq[Expression]) => RepetitionStats(es(0)),
      "graft_repetition(tokens) - [unigram, bigram] repetition ratios (1 - distinct/total)"),
    ("graft_simhash64", 1 to 1,
      (es: Seq[Expression]) => SimHash64(es(0)),
      "graft_simhash64(tokens) - 64-bit SimHash of an array<string>"),
    ("graft_hamming64", 2 to 2,
      (es: Seq[Expression]) => HammingDistance64(es(0), es(1)),
      "graft_hamming64(a, b) - Hamming distance between 64-bit signatures"),
    ("graft_cosine_i8", 2 to 2,
      (es: Seq[Expression]) => CosineSimilarityI8(es(0), es(1)),
      "graft_cosine_i8(a, b) - cosine similarity over array<tinyint> (no widening copies)"),
    // Spark's own runtime-filter machinery (BloomFilterAggregate /
    // BloomFilterMightContain, used by InjectRuntimeFilter) surfaced as
    // callable functions, so BloomJoin can materialize an explicit
    // bloom-pruned semi join (exact: no false negatives + residual join).
    ("graft_bloom_agg", 3 to 3,
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es(0), es(1), es(2)),
      "graft_bloom_agg(key, items, bits) - bloom filter over long keys, as binary"),
    ("graft_might_contain", 2 to 2,
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(es(0), es(1)),
      "graft_might_contain(bloom, key) - bloom membership probe (no false negatives)"),
  )

  /** name -> (builder, usage). Each builder first checks its argument
    * count, so both registration paths fail analysis with the usage
    * signature on a wrong count: a missing argument would otherwise throw
    * a bare IndexOutOfBoundsException and an extra one be dropped without
    * a word.
    */
  val builders: Seq[(String, Seq[Expression] => Expression, String)] =
    specs.map { case (name, arities, build, usage) =>
      val checked = (es: Seq[Expression]) => {
        if (!arities.contains(es.length)) throw new IllegalArgumentException(
          s"${usage.split(" - ", 2).head} takes ${arities.mkString(" or ")} " +
            s"argument${if (arities.max == 1) "" else "s"}, got ${es.length}")
        build(es)
      }
      (name, checked, usage)
    }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  def installInto(registry: FunctionRegistry): Unit =
    builders.foreach { case (name, b, usage) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, info(name, usage), b)
    }

  /** Idempotent post-hoc registration on a live session: functions via
    * the registry bridge, optimizer rules via the public
    * `experimental.extraOptimizations` hook.
    */
  def register(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.RegistryBridge.install(spark, installInto)
    val rule = graft.plans.EuclideanThresholdToSqdist
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions`-compatible hook. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b, usage) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), b))
    }
    e.injectOptimizerRule(_ => graft.plans.EuclideanThresholdToSqdist)
  }
}
