package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the distance kernels the reference's
  * Python UDF layer provided (`Team11-Project.py:166-183`, `:339-341`,
  * `:531-541`). Unlike the reference (opaque Python lambdas, one
  * serialization boundary per row-batch), these are native expressions with
  * `doGenCode` — they inline into whole-stage codegen as a static call into
  * [[Kernels]], so a crossJoin + distance + top-k pipeline is a single
  * generated loop.
  */
abstract class ArrayPairDoubleExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  /** Fully-qualified static method on [[Kernels]] taking two ArrayData. */
  protected def kernel: String
  protected def kernelFn(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    kernelFn(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.$kernel($a, $b)")
}

case class EuclideanDistance(left: Expression, right: Expression)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_euclidean"
  protected def kernel = "euclideanAD"
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.euclideanAD(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class SquaredDistance(left: Expression, right: Expression)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_sqdist"
  protected def kernel = "sqdistAD"
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.sqdistAD(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_cosine"
  protected def kernel = "cosineAD"
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.cosineAD(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class DotProduct(left: Expression, right: Expression)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_dot"
  protected def kernel = "dotAD"
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.dotAD(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class ManhattanDistance(left: Expression, right: Expression)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_manhattan"
  protected def kernel = "manhattanAD"
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.manhattanAD(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Exact DTW with optional Sakoe-Chiba band (band < 0 = unconstrained).
  * Parity target: `fastdtw`'s exact recursion with 1-D |x-y| cost
  * (reference `Team11-Project.py:339-341`).
  */
case class DtwDistance(left: Expression, right: Expression, band: Int)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_dtw"
  protected def kernel = "" // unused, custom codegen below
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.dtwAD(a, b, band)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dtwAD($a, $b, $band)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** The prune cascade's exact distance: [[DtwDistance]] run against the
  * running k-th best of the current test key, so a candidate that cannot
  * reach the top k stops within a few DTW rows
  * ([[Kernels.dtwBounded]]) and reads +Inf.
  *
  * It keeps the k smallest exact distances seen for the current
  * `testId` and bounds each new candidate by the k-th of them. Rows of
  * one key must arrive together for the bound to tighten; in any other
  * order only the speed-up is lost. A candidate is abandoned only when
  * its distance provably exceeds the k-th best distance among candidates
  * already seen, so every candidate that can enter the top k (ties at the
  * bound included) is computed exactly and is bit-identical to
  * [[DtwDistance]]; only pairs outside the top k can read +Inf instead of
  * their distance. Null and NaN distances never tighten the bound, and
  * neither do zeros under `excludeZero` (those rows are filtered out
  * downstream). A null key gets the plain kernel.
  *
  * `dtw` stays a child so the plan names the kernel and its band; it is
  * never evaluated itself, only its inputs are. Nondeterministic: an
  * abandoned row's value depends on row order, and the flag also keeps
  * predicate pushdown from copying the kernel into a join condition.
  * Built only by [[graft.operators.Knn]], not a SQL function.
  */
case class BoundedDtwDistance(testId: Expression, dtw: DtwDistance, k: Int, excludeZero: Boolean)
    extends Expression with Nondeterministic {
  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "graft_dtw_bounded"
  override def children: Seq[Expression] = Seq(testId, dtw)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = dtw.nullable

  @transient private lazy val keyOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(testId.dataType)

  /** One partition's running state (generated code keeps its own). */
  def newState(): RunningKthBest = new RunningKthBest(k, dtw.band, excludeZero, keyOrdering)

  @transient private var state: RunningKthBest = _

  override protected def initializeInternal(partitionIndex: Int): Unit = state = newState()

  override protected def evalInternal(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = dtw.left.eval(input)
    if (a == null) return null
    val b = dtw.right.eval(input)
    if (b == null) return null
    state.distance(testId.eval(input), a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  // real codegen, not CodegenFallback: a fallback inside a whole-stage
  // project rebuilds an UnsafeRow of every referenced column per pair
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addMutableState(classOf[RunningKthBest].getName, "kthBest")
    val self = ctx.addReferenceObj("boundedDtw", this)
    ctx.addPartitionInitializationStatement(s"$st = $self.newState();")
    val id = testId.genCode(ctx)
    val a = dtw.left.genCode(ctx)
    val b = dtw.right.genCode(ctx)
    val key = if (CodeGenerator.isPrimitiveType(testId.dataType))
      s"${CodeGenerator.boxedType(testId.dataType)}.valueOf(${id.value})"
    else id.value.toString
    ev.copy(code = code"""
      ${a.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = -1.0;
      if (!${a.isNull}) {
        ${b.code}
        if (!${b.isNull}) {
          ${id.code}
          ${ev.isNull} = false;
          ${ev.value} = $st.distance(${id.isNull} ? null : (Object) $key, ${a.value}, ${b.value});
        }
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BoundedDtwDistance =
    copy(testId = c(0), dtw = c(1).asInstanceOf[DtwDistance])
}

object BoundedDtwDistance {
  private[graft] def column(
      testId: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, band: Int, k: Int,
      excludeZero: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(BoundedDtwDistance(ColumnBridge.expression(testId),
      DtwDistance(ColumnBridge.expression(a), ColumnBridge.expression(b), band), k, excludeZero))
  }
}

/** The k smallest exact distances seen for the current test key (a
  * [[TopKIdsBuffer]] whose ids are unused) and the bound they set: see
  * [[BoundedDtwDistance]]. The key is copied when it changes (row
  * buffers are reused) and compared by value.
  */
final class RunningKthBest(k: Int, band: Int, excludeZero: Boolean, keyOrdering: Ordering[Any]) {
  private val best = new TopKIdsBuffer(k)
  private var key: Any = null

  def distance(testKey: Any, a: ArrayData, b: ArrayData): Double = {
    if (testKey == null) return Kernels.dtwAD(a, b, band)
    if (key == null || !keyOrdering.equiv(key, testKey)) {
      key = org.apache.spark.sql.catalyst.InternalRow.copyValue(testKey)
      best.size = 0
    }
    // the buffer is a max-heap: its root is the k-th smallest
    val limit = if (best.size < k) Double.PositiveInfinity else best.scores(0)
    val d = Kernels.dtwBoundedAD(a, b, band, limit)
    if (!d.isNaN && !(excludeZero && d == 0.0)) best.insert(d, 0L)
    d
  }
}

/** FastDTW (Salvador & Chan 2007); radius=1 matches the Python package
  * default the reference relies on (`Team11-Project.py:17`, `:339`).
  */
case class FastDtwDistance(left: Expression, right: Expression, radius: Int)
    extends ArrayPairDoubleExpression {
  override def prettyName: String = "graft_fastdtw"
  protected def kernel = "" // unused, custom codegen below
  protected def kernelFn(a: ArrayData, b: ArrayData): Double = Kernels.fastdtwAD(a, b, radius)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.fastdtwAD($a, $b, $radius)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Piecewise Aggregate Approximation sketch — see [[Kernels.paa]]. */
case class SeriesPaa(child: Expression, factor: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(factor >= 1, "PAA factor must be >= 1")
  override def prettyName: String = "graft_paa"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Kernels.paaAD(v.asInstanceOf[ArrayData], factor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.paaAD($c, $factor)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** 64-bit SimHash over an array<string> of tokens (Charikar 2002):
  * per-token XXH64, bit-vote, sign -> bit. Used by near-duplicate
  * detection at training-data scale (one pass, no shuffle).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_simhash64"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    SimHash64.hash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.hash($c)")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object SimHash64 {
  private final val Seed = 42L
  def hash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val h = xxh64(s)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  private def xxh64(s: UTF8String): Long = {
    val bytes = s.getBytes
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, Seed)
  }
  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** Hashed word-shingle set: array<string> tokens -> sorted distinct
  * array<long> of xxhash64(n-gram) values, in ONE native pass.
  *
  * Why an expression and not `transform(sequence(...), i -> slice(tokens,
  * i, n))`: Spark's higher-order functions evaluate interpreted, and an
  * outer column referenced inside a lambda body is re-evaluated PER
  * ELEMENT — the composed form re-tokenizes the document once per shingle
  * position (quadratic). This kernel is O(total token bytes).
  *
  * Shingle semantics match [[graft.functions.TextFunctions.wordShingles]]:
  * n-grams joined with a single space; if fewer than n tokens, one shingle
  * of all tokens joined.
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, "shingle size must be >= 1")
  override def prettyName: String = "graft_shingle_hashes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    WordShingleHashes.hashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingleHashes.hashes($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object WordShingleHashes {
  private final val Seed = 42L
  private final val Space = UTF8String.fromString(" ")

  def hashes(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val cnt = if (len < n) 1 else len - n + 1
    val out = new Array[Long](cnt)
    val window = new Array[UTF8String](math.min(n, math.max(len, 1)))
    var i = 0
    while (i < cnt) {
      val span = math.min(n, len - i) // full window except the len<n case
      // null tokens are SKIPPED, not empty-joined — `concat_ws` (the
      // join [[TextFunctions.wordShingles]] and [[WordNgrams]] use)
      // drops null elements entirely, so the hashed form must join the
      // same n-1 survivors for the documented parity to hold on
      // nullable token arrays (a null-as-empty window would hash
      // "a  b" where the string form produces "a b")
      var w = 0
      var k = 0
      while (k < span) {
        val t = tokens.getUTF8String(i + k)
        if (t != null) { window(w) = t; w += 1 }
        k += 1
      }
      val joined =
        if (len == 0) UTF8String.EMPTY_UTF8
        else UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(window, 0, w): _*)
      val bytes = joined.getBytes
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, Seed)
      i += 1
    }
    // sorted distinct
    java.util.Arrays.sort(out)
    var uniq = 0
    var j = 0
    while (j < cnt) {
      if (j == 0 || out(j) != out(j - 1)) { out(uniq) = out(j); uniq += 1 }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOfRange(out, 0, uniq))
  }
}

/** Distinct word n-gram STRINGS (space-joined), one native pass.
  * STRICT semantics (unlike [[WordShingleHashes]]' padded fallback):
  * fewer than n tokens → empty array. The string form exists for
  * operators whose n-grams must replay verbatim in an external SQL
  * engine (decontamination joins on the gram text, not a hash — no
  * collision caveat on the contamination verdict).
  *
  * Why native: same lesson as [[WordShingleHashes]] — the declarative
  * `transform(sequence(...), i -> concat_ws(' ', slice(tk, i, n)))`
  * evaluates interpreted per position (measured ~4 ms/doc on ~400-token
  * documents); this kernel is O(total token bytes) inside whole-stage
  * codegen. Distinctness lives in the kernel too (insertion-ordered,
  * byte equality — exactly `list_distinct`), saving the separate
  * `array_distinct` pass over the exploded grams.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, "n-gram size must be >= 1")
  override def prettyName: String = "graft_word_ngrams"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    WordNgrams.distinctNgrams(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgrams.distinctNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object WordNgrams {
  private final val Space = UTF8String.fromString(" ")

  def distinctNgrams(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[UTF8String])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      // null tokens are SKIPPED, not empty-joined: `concat_ws` (and
      // DuckDB's array_to_string) drop null elements entirely, so an
      // n-window with a null joins its n-1 survivors with single spaces
      // — the kernel must match for the declarative/oracle parity to
      // hold on nullable token arrays
      var w = 0
      var k = 0
      while (k < n) {
        val t = tokens.getUTF8String(i + k)
        if (t != null) { window(w) = t; w += 1 }
        k += 1
      }
      seen.add(UTF8String.concatWs(Space,
        java.util.Arrays.copyOfRange(window, 0, w): _*))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      seen.toArray(new Array[UTF8String](seen.size())))
  }
}

/** MinHash signature over a hashed shingle set (Broder 1997): k simulated
  * hash functions h_i(x) = xxh64(x, seed=i); output is the per-function
  * minimum. Native one-pass kernel (|set| * k long-hashes, no per-element
  * interpreter dispatch).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, "signature length must be >= 1")
  override def prettyName: String = "graft_minhash"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    MinHashSignature.signature(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSignature.signature($c, $k)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object MinHashSignature {
  def signature(set: ArrayData, k: Int): ArrayData = {
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = set.numElements()
    var j = 0
    while (j < n) {
      val x = set.getLong(j)
      var i = 0
      while (i < k) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, i)
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** LSH band keys: fold each contiguous band of the signature into one
    * 64-bit key (chained long-hash, band index as initial seed).
    *
    * `numBands` must divide the signature length: with numBands > k
    * every band folds ZERO hashes, so every document gets the identical
    * key list [0..numBands) — the bucket self-join degenerates to
    * all-pairs O(n²) at corpus scale; a non-divisible numBands silently
    * ignores the tail hashes, weakening recall invisibly. Both are
    * caller bugs the kernel refuses loudly (the operator path,
    * [[graft.operators.Dedup.minhashLshPairs]], validates the same
    * invariant up front).
    */
  def bandKeys(sig: ArrayData, numBands: Int): ArrayData = {
    val k = sig.numElements()
    // k == 0 gets its own message: "must divide (0)" would be
    // misleading there (0 IS divisible by numBands) — the refusal
    // reason for an empty signature is the identical-keys
    // degeneration itself, not divisibility
    if (k == 0)
      throw new IllegalArgumentException(
        "graft_minhash_bands: empty signature — every band would fold " +
          "zero hashes, giving every row identical band keys " +
          "(all-pairs bucket join)")
    if (k % numBands != 0)
      throw new IllegalArgumentException(
        s"graft_minhash_bands: numBands=$numBands must divide the " +
          s"signature length ($k); numBands > length would give every " +
          "row identical band keys (all-pairs bucket join)")
    val rows = k / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = b.toLong
      var j = b * rows
      val end = j + rows
      while (j < end) {
        acc = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig.getLong(j), acc)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** LSH band keys from a minhash signature — see [[MinHashSignature.bandKeys]]. */
case class MinHashBandKeys(child: Expression, numBands: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(numBands >= 1, "numBands must be >= 1")
  override def prettyName: String = "graft_minhash_bands"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    MinHashSignature.bandKeys(v.asInstanceOf[ArrayData], numBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSignature.bandKeys($c, $numBands)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Jaccard similarity of two SORTED array<long> (hashed shingle sets):
  * single merge pass, no per-pair hash-set allocation. The scalable form
  * of set-overlap similarity — shingles are hashed to longs scan-side
  * (`xxhash64`), sorted once per document, and every candidate pair then
  * costs O(|a|+|b|) primitive comparisons inside codegen.
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_jaccard_sorted"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongJaccard.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedLongJaccard.jaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

object SortedLongJaccard {
  /** Inputs must be sorted ascending and duplicate-free. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements(); val m = b.numElements()
    if (n == 0 && m == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter)
  }
}

/** Order-sensitive document fingerprint with a PORTABLE hash: per token,
  * fold codepoints with rotate-left-5 XOR; across tokens, fold the token
  * hashes the same way. Every step is expressible in ANSI-ish SQL bit
  * ops, so the driver's DuckDB oracle can recompute it exactly (q19).
  *
  * The rotate runs in a 59-BIT space (mask the top 5 bits, shift, OR the
  * carry): a true 64-bit rotate sets the sign bit, and SQL engines with
  * checked arithmetic (DuckDB included) refuse to left-shift negative /
  * overflowing BIGINTs — mask-then-shift never overflows and never goes
  * negative in either engine.
  */
case class CharFoldFingerprint(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_charfold_fingerprint"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    CharFoldFingerprint.fingerprint(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharFoldFingerprint.fingerprint($c)")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object CharFoldFingerprint {
  private final val Mask54 = (1L << 54) - 1
  /** 59-bit rotate-left-5 then XOR; all values stay in [0, 2^59). */
  @inline private[functions] def fold(acc: Long, v: Long): Long =
    (((acc & Mask54) << 5) | (acc >>> 54)) ^ v
  /** Codepoint fold of one token (matches SQL's per-character unicode()). */
  private[functions] def tokenHash59(t: UTF8String): Long = {
    var th = 0L
    val s = t.toString
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      th = fold(th, cp.toLong)
      j += Character.charCount(cp)
    }
    th
  }
  def fingerprint(tokens: ArrayData): Long = {
    var doc = 0L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val th = if (tokens.isNullAt(i)) 0L else tokenHash59(tokens.getUTF8String(i))
      doc = fold(doc, th)
      i += 1
    }
    doc
  }
}

/** 59-bit SimHash with PORTABLE per-token hashes: charfold-59 token hash
  * pushed through an xorshift-style finalizer (shift-xor only — no
  * multiplication, so SQL engines with checked BIGINT arithmetic can
  * replay it; the left shift masks to 40 bits first so it never
  * overflows). Bit-vote as in Charikar 2002 over bits 0..58. The
  * xxhash64-based [[SimHash64]] remains the better-mixed production
  * variant; this one exists so the near-dup pipeline can be
  * driver-oracle-verified end-to-end (q23).
  */
case class PortableSimHash59(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_simhash59"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    PortableSimHash59.hash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableSimHash59.hash($c)")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object PortableSimHash59 {
  private final val Mask40 = (1L << 40) - 1
  private final val Mask43 = (1L << 43) - 1
  private final val Mask37 = (1L << 37) - 1
  /** Six-round shift-xor finalizer; every intermediate stays in
    * [0, 2^59) (each left shift masks to 59-s bits first). Three rounds
    * left the charfold hashes correlated enough that hamming<=3 matched
    * 916 of 124,750 doc pairs at sf0.01; six rounds bring it to 20 —
    * the same ballpark as the xxhash64 signature's 17.
    */
  @inline private[functions] def mix59(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 13)
    h ^= (h & Mask40) << 19
    h ^= (h >>> 28)
    h ^= (h & Mask43) << 16
    h ^= (h >>> 11)
    h ^= (h & Mask37) << 22
    h
  }
  def hash(tokens: ArrayData): Long = {
    val votes = new Array[Int](59)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = mix59(CharFoldFingerprint.tokenHash59(tokens.getUTF8String(i)))
        var b = 0
        while (b < 59) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 59) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Gopher-family repetition ratios in ONE native pass over the token
  * array: `[1 − distinct/total tokens, 1 − distinct/total word-bigrams]`.
  * Exact STRING semantics (hash-set of `UTF8String`, byte equality — the
  * same distinctness `list_distinct` computes, so the DuckDB oracle
  * replays it verbatim; no hashed-shingle collision caveat).
  *
  * Why native: the declarative form (`array_distinct` over `zip_with`
  * shingles over tokens) ran ~0.9 ms/document interpreted — this kernel
  * is O(total token bytes) inside whole-stage codegen, ~8× less.
  * Bigram fallback matches [[TextFunctions.wordShingles]]: fewer than 2
  * tokens → one shingle of all tokens joined (the empty string for an
  * empty document).
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_repetition"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    RepetitionStats.ratios(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.ratios($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object RepetitionStats {
  private final val Space = UTF8String.fromString(" ")

  def ratios(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    def tok(i: Int): UTF8String = {
      val t = tokens.getUTF8String(i)
      if (t == null) UTF8String.EMPTY_UTF8 else t
    }
    val uni = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) { uni.add(tok(i)); i += 1 }
    val rep1 = if (n == 0) 0.0 else 1.0 - uni.size.toDouble / n
    val bi = new java.util.HashSet[UTF8String]()
    var cnt = 0
    if (n < 2) {
      bi.add(if (n == 0) UTF8String.EMPTY_UTF8 else tok(0))
      cnt = 1
    } else {
      i = 0
      while (i < n - 1) {
        bi.add(UTF8String.concatWs(Space, tok(i), tok(i + 1)))
        i += 1
      }
      cnt = n - 1
    }
    val rep2 = 1.0 - bi.size.toDouble / cnt
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(rep1, rep2))
  }
}

/** Deterministic HAR-shaped benchmark series generator (the Q26/Q31
  * workload, BASELINE.md Model 2 sizes): sin(t*0.11 + (id mod 6)) plus
  * uniform hash-noise. Value-identical to the declarative form
  * `transform(sequence(0, L-1), t -> sin(...) + (pmod(xxhash64(id, t),
  * 1000)/1000 - 0.5) * 0.4)` (pinned in ExpressionsSpec) — but Spark's
  * higher-order functions evaluate interpreted and re-evaluate outer
  * column references per element, which made GENERATING the 561-point
  * inputs cost more than classifying them (~4 s of the q26 wall time).
  * One native call per row generates the whole array.
  */
case class HarSyntheticSeries(child: Expression, length: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(length >= 0, "length must be >= 0")
  override def prettyName: String = "graft_har_series"
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HarSyntheticSeries.series(v.asInstanceOf[Long], length)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HarSyntheticSeries.series($c, $length)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HarSyntheticSeries {
  /** Matches Spark's `xxhash64(id, t)`: seed 42, children folded in
    * order — id is a long (hashLong), t comes out of `sequence(0, L-1)`
    * as an INT (hashInt).
    */
  def series(id: Long, length: Int): ArrayData = {
    val out = new Array[Double](length)
    val phase = java.lang.Math.floorMod(id, 6L).toDouble
    val h0 = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
    var t = 0
    while (t < length) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(t, h0)
      val noise = (java.lang.Math.floorMod(h, 1000L).toDouble / 1000.0 - 0.5) * 0.4
      out(t) = math.sin(t * 0.11 + phase) + noise
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Optimizer barrier: identity passthrough marked non-deterministic so
  * predicate pushdown will not substitute an expensive aliased expression
  * into a join condition (which would evaluate the kernel twice per pair
  * — once in the condition, once in the output projection). Evaluation
  * cost: one codegen'd variable copy.
  */
case class Barrier(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_barrier"
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Hamming distance between two simhash signatures, as an expression so
  * near-dup joins stay codegen'd.
  */
/** Cosine similarity directly over `array<tinyint>` (int8-quantized
  * vectors) — the int8 ANN prefilter's hot pair expression. The
  * composed form (`Cast(array<tinyint> -> array<double>)` on both sides,
  * then `graft_cosine`) allocates two widened arrays PER PAIR inside the
  * join loop; this kernel reads the byte arrays in place.
  *
  * BIT-IDENTICAL to the cast-then-cosine composition for NULL-FREE
  * arrays — i.e. the quantizer's output, the only producer on this path
  * (pinned in SimilaritySearchSpec): with |v_i| <= 127 every product is
  * <= 16129 and every partial sum an integer far below 2^53, so double
  * accumulation is EXACT — same values as [[Kernels.cosine]] over the
  * widened arrays, including its min-length dot / full-length norm
  * semantics and zero-norm guard. Arrays CONTAINING null elements are
  * outside the claim: this kernel reads null slots as 0.0, while the
  * cast path's ArrayData.toDoubleArray NPEs or zero-fills depending on
  * the array representation.
  */
case class CosineSimilarityI8(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_cosine_i8"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityI8.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarityI8.cosineI8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

object CosineSimilarityI8 {
  // null slots read as 0 (the quantizer never emits them; a hand-built
  // SQL array with NULL elements degrades gracefully instead of
  // corrupting the dot) — same convention as the token kernels
  @inline private def at(v: ArrayData, i: Int): Double =
    if (v.isNullAt(i)) 0.0 else v.getByte(i).toDouble

  def cosineI8(a: ArrayData, b: ArrayData): Double = {
    val la = a.numElements(); val lb = b.numElements()
    val n = math.min(la, lb)
    var sa = 0.0; var sb = 0.0; var sd = 0.0
    var i = 0
    while (i < n) {
      val x = at(a, i); val y = at(b, i)
      sa += x * x; sb += y * y; sd += x * y; i += 1
    }
    // norms run over each FULL array (Kernels.cosine semantics); the dot
    // stops at the shorter length
    var j = n
    while (j < la) { val x = at(a, j); sa += x * x; j += 1 }
    j = n
    while (j < lb) { val y = at(b, j); sb += y * y; j += 1 }
    val na = math.sqrt(sa); val nb = math.sqrt(sb)
    if (na == 0.0 || nb == 0.0) 0.0 else sd / (na * nb)
  }
}

case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "graft_hamming64"
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
