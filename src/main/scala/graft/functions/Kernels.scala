package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Pure-Scala distance kernels for time-series / embedding columns.
  *
  * Semantics derive from the reference's use of `np.linalg.norm` and the
  * Python `fastdtw` package (reference `Team11-Project.py:173`, `:339-341`,
  * `:531-533`): 1-D point cost = |x - y|, DTW distance = sum of point costs
  * along the optimal monotone warping path. FastDTW is Salvador & Chan,
  * "FastDTW: Toward Accurate Dynamic Time Warping in Linear Time and
  * Space" (2007): coarsen by pairwise averaging, solve recursively, project
  * the low-resolution path, refine within `radius`.
  *
  * All methods are static so generated code (`doGenCode`) can call them
  * directly and stay inside whole-stage codegen.
  */
object Kernels {

  // ---------------------------------------------------------------- basics

  def euclidean(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(sqdist(a, b))

  def sqdist(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    // Treat missing tail as distance-to-zero so unequal lengths are defined
    // (parity: numpy broadcasting would error; we document the extension).
    var j = n
    while (j < a.length) { s += a(j) * a(j); j += 1 }
    while (j < b.length) { s += b(j) * b(j); j += 1 }
    s
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  def manhattan(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += math.abs(a(i) - b(i)); i += 1 }
    var j = n
    while (j < a.length) { s += math.abs(a(j)); j += 1 }
    while (j < b.length) { s += math.abs(b(j)); j += 1 }
    s
  }

  // ------------------------------------------------------------- exact DTW

  /** Thread-local scratch for the DTW rolling rows — the kernel runs once
    * per candidate PAIR inside a join loop, so per-call allocation would
    * dominate at millions of pairs.
    */
  private final class DtwScratch {
    var prev: Array[Double] = new Array[Double](0)
    var curr: Array[Double] = new Array[Double](0)
    def ensure(m: Int): Unit =
      if (prev.length < m) { prev = new Array[Double](m); curr = new Array[Double](m) }
  }
  private val dtwScratch = new ThreadLocal[DtwScratch] {
    override def initialValue(): DtwScratch = new DtwScratch
  }

  /** Exact DTW, O(n*m) time / O(min(n,m)) space, |x-y| point cost.
    * `band >= 0` applies a Sakoe-Chiba constraint |i-j| <= band (after
    * slope normalization for unequal lengths it is a plain index band).
    * `band < 0` = unconstrained.
    */
  def dtw(a: Array[Double], b: Array[Double], band: Int): Double =
    dtwBounded(a, b, band, Double.PositiveInfinity)

  /** [[dtw]] with early abandoning: returns +Inf as soon as every cell of
    * a row exceeds `limit`. Point costs are >= 0, so cumulative costs
    * never fall along a warping path (fl(c + x) >= x for c >= 0), and
    * every path crosses every row: a row whose cells all exceed `limit`
    * proves the distance does too. Whenever the distance is <= `limit`
    * the full recurrence runs and the result is bit-identical to [[dtw]].
    * A NaN cell keeps its row alive (`NaN > limit` is false), so a
    * NaN-poisoned pair is only ever abandoned by a row without one.
    * The row test is a separate pass after the row, taken only when
    * `limit` is finite, so the plain kernel's inner loop is untouched.
    */
  def dtwBounded(a: Array[Double], b: Array[Double], band: Int, limit: Double): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return if (n == 0 && m == 0) 0.0 else Double.PositiveInfinity
    // a plain index band narrower than the length difference admits no
    // monotone path from (1,1) to (n,m)
    if (band >= 0 && math.abs(n - m) > band) return Double.PositiveInfinity
    val INF = Double.PositiveInfinity
    val bounded = limit < INF
    val sc = dtwScratch.get()
    sc.ensure(m + 1)
    var prev = sc.prev
    var curr = sc.curr
    java.util.Arrays.fill(prev, 0, m + 1, INF)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      val lo = if (band >= 0) math.max(1, i - band) else 1
      val hi = if (band >= 0) math.min(m, i + band) else m
      // plain index band with |n-m| > band: the window empties and no
      // monotone path can reach (n,m) inside the band
      if (lo > hi) return INF
      // clear only the cells this row writes/reads (banded window moves <=1/row)
      val clearLo = math.max(0, lo - 1)
      val clearHi = math.min(m, hi + 1)
      java.util.Arrays.fill(curr, clearLo, clearHi + 1, INF)
      val ai = a(i - 1)
      // rolling registers: diag = prev(j-1), left = curr(j-1)
      var diag = prev(lo - 1)
      var left = curr(lo - 1)
      var j = lo
      while (j <= hi) {
        val cost = math.abs(ai - b(j - 1))
        val up = prev(j)
        var best = diag
        if (up < best) best = up
        if (left < best) best = left
        left = cost + best
        curr(j) = left
        diag = up
        j += 1
      }
      if (bounded && rowAbove(curr, lo, hi, limit)) return INF
      val t = prev; prev = curr; curr = t
      i += 1
    }
    val res = prev(m)
    sc.prev = prev; sc.curr = curr // keep swapped refs consistent
    res
  }

  /** Whether every cell of `row(lo..hi)` is strictly above `limit`: a
    * cell equal to the limit may still end at exactly the limit, which
    * must be computed to the end. The scan stops at the first cell that
    * is not above, so a pair that never abandons usually pays one
    * compare per row. Kept out of [[dtwBounded]]'s body so the plain
    * kernel compiles as before.
    */
  private def rowAbove(row: Array[Double], lo: Int, hi: Int, limit: Double): Boolean = {
    var j = lo
    while (j <= hi) { if (!(row(j) > limit)) return false; j += 1 }
    true
  }

  def dtw(a: Array[Double], b: Array[Double]): Double = dtw(a, b, -1)

  // --------------------------------------------------------------- FastDTW

  /** FastDTW distance (Salvador & Chan 2007). `radius` defaults to 1 in the
    * Python package the reference uses; we keep that default at call sites.
    */
  def fastdtw(a: Array[Double], b: Array[Double], radius: Int): Double = {
    val r = if (radius < 0) 0 else radius
    fastdtwRec(a, b, r)._1
  }

  /** Returns (distance, path) where path is packed (i << 32 | j). */
  private def fastdtwRec(a: Array[Double], b: Array[Double], radius: Int): (Double, Array[Long]) = {
    val minSize = radius + 2
    if (a.length <= minSize || b.length <= minSize) {
      return dtwPathFull(a, b)
    }
    val sa = halve(a)
    val sb = halve(b)
    val (_, coarsePath) = fastdtwRec(sa, sb, radius)
    val (lo, hi) = expandWindow(coarsePath, a.length, b.length, radius)
    dtwPathWindow(a, b, lo, hi)
  }

  private def halve(x: Array[Double]): Array[Double] = {
    val n = x.length / 2
    val out = new Array[Double](n + (x.length % 2))
    var i = 0
    while (i < n) { out(i) = (x(2 * i) + x(2 * i + 1)) / 2.0; i += 1 }
    if (x.length % 2 == 1) out(n) = x(x.length - 1)
    out
  }

  /** Project a coarse path to fine resolution and expand by `radius`;
    * returns per-row contiguous [lo(i), hi(i)] column ranges (inclusive).
    */
  private def expandWindow(path: Array[Long], n: Int, m: Int, radius: Int): (Array[Int], Array[Int]) = {
    val lo = Array.fill(n)(Int.MaxValue)
    val hi = Array.fill(n)(Int.MinValue)
    var p = 0
    while (p < path.length) {
      val ci = (path(p) >> 32).toInt
      val cj = (path(p) & 0xffffffffL).toInt
      // each coarse cell covers fine cells {2i,2i+1} x {2j,2j+1}, then +- radius
      var fi = math.max(0, 2 * ci - radius)
      val fiEnd = math.min(n - 1, 2 * ci + 1 + radius)
      val fjLo = math.max(0, 2 * cj - radius)
      val fjHi = math.min(m - 1, 2 * cj + 1 + radius)
      while (fi <= fiEnd) {
        if (fjLo < lo(fi)) lo(fi) = fjLo
        if (fjHi > hi(fi)) hi(fi) = fjHi
        fi += 1
      }
      p += 1
    }
    // guarantee coverage + monotone contiguity
    var i = 0
    var prevHi = 0
    while (i < n) {
      if (lo(i) == Int.MaxValue) { lo(i) = prevHi; hi(i) = math.min(m - 1, prevHi + 1) }
      if (lo(i) > prevHi + 1) lo(i) = prevHi + 1 // keep rows connectable
      if (hi(i) < lo(i)) hi(i) = lo(i)
      prevHi = hi(i)
      i += 1
    }
    hi(n - 1) = m - 1 // path must be able to end at (n-1, m-1)
    if (lo(n - 1) > m - 1) lo(n - 1) = m - 1
    (lo, hi)
  }

  /** Full-matrix DTW with path backtrack (used at recursion base). */
  private def dtwPathFull(a: Array[Double], b: Array[Double]): (Double, Array[Long]) = {
    val n = a.length; val m = b.length
    val lo = new Array[Int](n)
    val hi = Array.fill(n)(m - 1)
    dtwPathWindow(a, b, lo, hi)
  }

  // reusable scratch for the windowed path DP (frames never nest: the
  // FastDTW recursion consumes the deeper level's path before solving its
  // own level, so one set of buffers per thread suffices)
  private final class PathScratch {
    var offs: Array[Int] = new Array[Int](0)
    var cost: Array[Double] = new Array[Double](0)
    var par: Array[Byte] = new Array[Byte](0)
    def ensure(n: Int, total: Int): Unit = {
      if (offs.length < n) offs = new Array[Int](n)
      if (cost.length < total) { cost = new Array[Double](total); par = new Array[Byte](total) }
    }
  }
  private val pathScratch = new ThreadLocal[PathScratch] {
    override def initialValue(): PathScratch = new PathScratch
  }

  /** Windowed DTW with backtrack. Window rows are contiguous inclusive
    * [lo(i), hi(i)] ranges. O(sum of row widths) time and space.
    */
  private def dtwPathWindow(a: Array[Double], b: Array[Double], lo: Array[Int], hi: Array[Int]): (Double, Array[Long]) = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return (if (n == 0 && m == 0) 0.0 else Double.PositiveInfinity, Array.empty)
    val INF = Double.PositiveInfinity
    val sc = pathScratch.get()
    if (sc.offs.length < n) sc.offs = new Array[Int](n)
    val offs = sc.offs
    var total = 0
    var i = 0
    while (i < n) { offs(i) = total; total += hi(i) - lo(i) + 1; i += 1 }
    sc.ensure(n, total)
    val cost = sc.cost
    val par = sc.par // 0=match(diag) 1=insert(up) 2=del(left)

    @inline def idx(i: Int, j: Int): Int = offs(i) + (j - lo(i))
    @inline def cellCost(i: Int, j: Int): Double =
      if (j >= lo(i) && j <= hi(i)) cost(idx(i, j)) else INF

    i = 0
    while (i < n) {
      val ai = a(i)
      var j = lo(i)
      while (j <= hi(i)) {
        val c = math.abs(ai - b(j))
        if (i == 0 && j == 0) {
          cost(idx(i, j)) = c; par(idx(i, j)) = 0
        } else {
          val diag = if (i > 0 && j > 0) cellCost(i - 1, j - 1) else INF
          val up = if (i > 0) cellCost(i - 1, j) else INF
          val left = if (j > 0) cellCost(i, j - 1) else INF
          var best = diag; var dir: Byte = 0
          if (up < best) { best = up; dir = 1 }
          if (left < best) { best = left; dir = 2 }
          cost(idx(i, j)) = c + best
          par(idx(i, j)) = dir
        }
        j += 1
      }
      i += 1
    }
    // backtrack into a primitive buffer (path length <= n + m)
    val buf = new Array[Long](n + m)
    var w = n + m
    var ci = n - 1; var cj = m - 1
    while (!(ci == 0 && cj == 0)) {
      w -= 1
      buf(w) = (ci.toLong << 32) | (cj.toLong & 0xffffffffL)
      (par(idx(ci, cj)): @annotation.switch) match {
        case 0 => ci -= 1; cj -= 1
        case 1 => ci -= 1
        case _ => cj -= 1
      }
    }
    w -= 1
    buf(w) = 0L
    (cost(idx(n - 1, m - 1)), java.util.Arrays.copyOfRange(buf, w, n + m))
  }

  // ------------------------------------------------------------------- PAA

  /** Piecewise Aggregate Approximation (Keogh et al. 2001): coarsen a
    * series by a block-mean factor — block i = mean(a[i*f .. i*f+f-1])
    * (last block may be short). The FastDTW coarsening step generalized
    * beyond factor 2; used by the KNN prune cascade as a cheap
    * distance-preserving sketch: rank candidates on length-n/f series,
    * run the exact kernel only on survivors.
    */
  def paa(a: Array[Double], factor: Int): Array[Double] = {
    val n = a.length
    if (factor <= 1 || n == 0) return a.clone() // never alias the input
    val m = (n + factor - 1) / factor
    val out = new Array[Double](m)
    var i = 0
    var s = 0
    while (i < m) {
      val end = math.min(n, s + factor)
      var sum = 0.0
      var j = s
      while (j < end) { sum += a(j); j += 1 }
      out(i) = sum / (end - s)
      s = end
      i += 1
    }
    out
  }

  // --------------------------------------------- ArrayData codegen bridges

  def euclideanAD(a: ArrayData, b: ArrayData): Double =
    euclidean(a.toDoubleArray(), b.toDoubleArray())
  def sqdistAD(a: ArrayData, b: ArrayData): Double =
    sqdist(a.toDoubleArray(), b.toDoubleArray())
  def cosineAD(a: ArrayData, b: ArrayData): Double =
    cosine(a.toDoubleArray(), b.toDoubleArray())
  def dotAD(a: ArrayData, b: ArrayData): Double =
    dot(a.toDoubleArray(), b.toDoubleArray())
  def manhattanAD(a: ArrayData, b: ArrayData): Double =
    manhattan(a.toDoubleArray(), b.toDoubleArray())
  def dtwAD(a: ArrayData, b: ArrayData, band: Int): Double =
    dtw(a.toDoubleArray(), b.toDoubleArray(), band)
  def dtwBoundedAD(a: ArrayData, b: ArrayData, band: Int, limit: Double): Double =
    dtwBounded(a.toDoubleArray(), b.toDoubleArray(), band, limit)
  def fastdtwAD(a: ArrayData, b: ArrayData, radius: Int): Double =
    fastdtw(a.toDoubleArray(), b.toDoubleArray(), radius)
  /** PAA sketch without intermediate toDoubleArray memcpy — runs once per
    * row scan-side, but also appears in probe paths; direct reads keep it
    * allocation-free except the output.
    */
  def paaAD(a: ArrayData, factor: Int): ArrayData = {
    val n = a.numElements()
    // factor<=1: still copy — returning the input would alias a possibly
    // buffer-backed ArrayData AND leak input nulls through the declared
    // containsNull=false output type
    if (factor <= 1 || n == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toDoubleArray())
    val m = (n + factor - 1) / factor
    val out = new Array[Double](m)
    var i = 0
    var s = 0
    while (i < m) {
      val end = math.min(n, s + factor)
      var sum = 0.0
      var j = s
      while (j < end) { sum += a.getDouble(j); j += 1 }
      out(i) = sum / (end - s)
      s = end
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}
