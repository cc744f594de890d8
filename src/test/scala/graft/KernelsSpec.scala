package graft

import graft.functions.Kernels
import org.scalatest.funsuite.AnyFunSuite

class KernelsSpec extends AnyFunSuite {

  private def randomSeries(rnd: scala.util.Random): Array[Double] =
    Array.fill(1 + rnd.nextInt(32))(rnd.nextDouble() * 20 - 10)

  private def forRandomPairs(trials: Int)(check: (Array[Double], Array[Double]) => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to trials).foreach { _ => check(randomSeries(rnd), randomSeries(rnd)) }
  }

  /** Textbook O(n*m) 2D-table DTW with a plain |i-j| <= band index
    * window — an independent reference for the kernel's rolling-row
    * scratch-reuse DP (same |x-y| point cost, min(diag, up, left)
    * recurrence, so every reachable cell is built by the identical
    * float expression and equality below is EXACT, not approximate).
    */
  private def bruteDtw(a: Array[Double], b: Array[Double], band: Int): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return if (n == 0 && m == 0) 0.0 else Double.PositiveInfinity
    val INF = Double.PositiveInfinity
    val dp = Array.fill(n + 1, m + 1)(INF)
    dp(0)(0) = 0.0
    for (i <- 1 to n; j <- 1 to m)
      if (band < 0 || math.abs(i - j) <= band) {
        val best = math.min(dp(i - 1)(j - 1), math.min(dp(i - 1)(j), dp(i)(j - 1)))
        dp(i)(j) = math.abs(a(i - 1) - b(j - 1)) + best // inf + cost = inf
      }
    dp(n)(m)
  }

  test("dtw fuzz: banded kernel equals brute 2D DP exactly over 400 random cases") {
    val rnd = new scala.util.Random(0xD7B4)
    val bands = Array(-1, 0, 1, 2, 5, 100)
    (1 to 400).foreach { _ =>
      def mk(): Array[Double] = {
        val len = rnd.nextInt(13) // 0..12, empty included
        if (rnd.nextBoolean()) Array.fill(len)((rnd.nextInt(81) - 40) * 0.25)
        else Array.fill(len)(rnd.nextDouble() * 20 - 10)
      }
      val a = mk(); val b = mk()
      val band = bands(rnd.nextInt(bands.length))
      val got = Kernels.dtw(a, b, band)
      val want = bruteDtw(a, b, band)
      assert(got == want,
        s"dtw mismatch band=$band got=$got want=$want a=${a.toSeq} b=${b.toSeq}")
    }
  }

  test("dtwBounded equals dtw bit for bit whenever dtw <= limit, and abandons only above it") {
    val rnd = new scala.util.Random(0xB0D)
    // band 0 and length 1 make the last row's minimum the distance
    // itself, so a limit equal to the distance sits exactly on the
    // abandon test there
    val bands = Array(-3, -1, 0, 0, 1, 2, 5, 100)
    var abandoned = 0
    var atLimit = 0
    (1 to 2000).foreach { trial =>
      def mk(len: Int): Array[Double] =
        if (rnd.nextBoolean()) Array.fill(len)((rnd.nextInt(81) - 40) * 0.25)
        else Array.fill(len)(rnd.nextDouble() * 20 - 10)
      val n = rnd.nextInt(13)
      // every fourth pair differs in length by more than a small band
      val m = if (trial % 4 == 0) n + 3 else if (rnd.nextBoolean()) n else rnd.nextInt(13)
      val a = mk(n); val b = mk(m)
      val band = bands(rnd.nextInt(bands.length))
      val d = Kernels.dtw(a, b, band)
      val limits =
        if (d.isInfinite) Seq(0.0, 1.0, Double.PositiveInfinity)
        else Seq(d, math.nextUp(d), math.nextDown(d), d * rnd.nextDouble(),
          d * (1 + rnd.nextDouble()), 0.0, Double.PositiveInfinity)
      limits.foreach { limit =>
        val got = Kernels.dtwBounded(a, b, band, limit)
        val ctx = s"band=$band limit=$limit dtw=$d got=$got a=${a.toSeq} b=${b.toSeq}"
        if (d <= limit) {
          assert(java.lang.Double.doubleToRawLongBits(got) ==
            java.lang.Double.doubleToRawLongBits(d), ctx)
          if (limit == d && n > 0 && (band == 0 || n == 1)) atLimit += 1
        } else {
          assert(got == d || got == Double.PositiveInfinity, ctx)
          if (got != d) abandoned += 1
        }
      }
    }
    // the fuzz really exercises both sides of the abandon test
    assert(abandoned > 1000 && atLimit > 50, s"abandoned=$abandoned atLimit=$atLimit")
  }

  test("dtwBounded stops at the first row whose cells all exceed the limit") {
    // row 1 of [10, 0, 0] against [0, 0, 0] costs 10 in every cell
    val a = Array(10.0, 0.0, 0.0); val b = Array(0.0, 0.0, 0.0)
    assert(Kernels.dtw(a, b, -1) === 10.0)
    assert(Kernels.dtwBounded(a, b, -1, 9.5) === Double.PositiveInfinity)
    assert(Kernels.dtwBounded(a, b, -1, 10.0) === 10.0)
    // a NaN point never abandons a row it poisons
    val nan = Array(Double.NaN, 0.0, 0.0)
    assert(Kernels.dtwBounded(nan, b, -1, 0.5).isNaN)
  }

  test("euclidean matches hand-computed values") {
    assert(Kernels.euclidean(Array(0.0, 0.0), Array(3.0, 4.0)) === 5.0)
    assert(Kernels.euclidean(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)) === 0.0)
  }

  test("dtw matches hand-computed values (|x-y| point cost)") {
    assert(Kernels.dtw(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)) === 0.0)
    // [0,0,1] vs [0,1]: warp both zeros onto the first 0 -> cost 0
    assert(Kernels.dtw(Array(0.0, 0.0, 1.0), Array(0.0, 1.0)) === 0.0)
    assert(Kernels.dtw(Array(2.0), Array(5.0)) === 3.0)
    // [1,3] vs [1,2,3]: optimum warps 2 onto 1 or 3 -> cost 1
    assert(Kernels.dtw(Array(1.0, 3.0), Array(1.0, 2.0, 3.0)) === 1.0)
  }

  test("dtw properties: identity, symmetry, non-negativity") {
    forRandomPairs(200) { (a, b) =>
      val d = Kernels.dtw(a, b)
      assert(d >= 0.0)
      assert(math.abs(d - Kernels.dtw(b, a)) < 1e-9)
      assert(Kernels.dtw(a, a) === 0.0)
    }
  }

  test("dtw <= any-path upper bounds (diagonal for equal lengths)") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val a = randomSeries(rnd)
      val b = a.map(_ + rnd.nextDouble())
      val diag = a.indices.map(i => math.abs(a(i) - b(i))).sum
      assert(Kernels.dtw(a, b) <= diag + 1e-9)
    }
  }

  test("banded dtw >= unconstrained; wide band == unconstrained") {
    forRandomPairs(200) { (a, b) =>
      val full = Kernels.dtw(a, b)
      assert(Kernels.dtw(a, b, 2) >= full - 1e-9)
      val wide = math.max(a.length, b.length)
      assert(math.abs(Kernels.dtw(a, b, wide) - full) < 1e-9)
    }
  }

  test("fastdtw converges to exact dtw as radius grows") {
    forRandomPairs(200) { (a, b) =>
      val exact = Kernels.dtw(a, b)
      val r = math.max(a.length, b.length)
      assert(math.abs(Kernels.fastdtw(a, b, r) - exact) < 1e-9)
    }
  }

  test("fastdtw is a valid-path cost: never below the optimum") {
    forRandomPairs(500) { (a, b) =>
      assert(Kernels.fastdtw(a, b, 1) >= Kernels.dtw(a, b) - 1e-9)
    }
  }

  test("fastdtw radius=1 stays close to exact on smooth series") {
    // FastDTW's guarantee is empirical accuracy on realistic series
    // (Salvador & Chan report <1% error for radius>=1 on smooth data)
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = 32 + rnd.nextInt(64)
      val phase = rnd.nextDouble() * math.Pi
      val a = Array.tabulate(n)(i => math.sin(i * 0.2 + phase))
      val b = Array.tabulate(n)(i => math.sin(i * 0.2 + phase + 0.3))
      val exact = Kernels.dtw(a, b)
      val approx = Kernels.fastdtw(a, b, 1)
      assert(approx <= exact * 1.25 + 0.2, s"fastdtw=$approx exact=$exact")
    }
  }

  test("fastdtw on constant series hits the closed form |x-y|*max(n,m), all lengths") {
    // exact DTW on constant series is |x-y|*max(n,m) (minimal-cell path);
    // halving preserves constancy, so every FastDTW level sees constant
    // series and the refinement window always admits the minimal path.
    // This equality is what puts graft_fastdtw under the DuckDB oracle
    // (q44) — exhaustive over the length grid the query draws from.
    for (n <- 1 to 64; m <- 1 to 64; r <- Seq(1, 2)) {
      val a = Array.fill(n)(3.5)
      val b = Array.fill(m)(1.25)
      val expect = 2.25 * math.max(n, m)
      val got = Kernels.fastdtw(a, b, r)
      assert(math.abs(got - expect) < 1e-9,
        s"fastdtw constant closed form failed at n=$n m=$m r=$r: $got != $expect")
    }
  }

  test("cosine: orthogonal -> 0, parallel -> 1, zero-norm -> 0") {
    assert(math.abs(Kernels.cosine(Array(1.0, 0.0), Array(0.0, 1.0))) < 1e-12)
    assert(math.abs(Kernels.cosine(Array(2.0, 2.0), Array(4.0, 4.0)) - 1.0) < 1e-12)
    assert(Kernels.cosine(Array(0.0, 0.0), Array(1.0, 1.0)) === 0.0)
  }

  test("manhattan and sqdist basics") {
    assert(Kernels.manhattan(Array(1.0, 2.0), Array(3.0, 0.0)) === 4.0)
    assert(Kernels.sqdist(Array(1.0, 2.0), Array(3.0, 0.0)) === 8.0)
  }

  test("unequal lengths: tail treated as distance-to-zero (documented extension)") {
    assert(Kernels.sqdist(Array(1.0), Array(1.0, 2.0)) === 4.0)
    assert(Kernels.manhattan(Array(1.0), Array(1.0, 2.0)) === 2.0)
  }

  test("paa: block means, short-tail handling, factor<=1 identity") {
    assert(Kernels.paa(Array(1.0, 3.0, 5.0, 7.0), 2).toSeq === Seq(2.0, 6.0))
    assert(Kernels.paa(Array(1.0, 3.0, 5.0), 2).toSeq === Seq(2.0, 5.0)) // short last block
    assert(Kernels.paa(Array(1.0, 2.0), 1).toSeq === Seq(1.0, 2.0))
  }

  test("paa admissibility: factor * manhattan(paa(a), paa(b)) <= manhattan(a, b)") {
    // per block |mean(a_blk) - mean(b_blk)| * len <= sum |a_i - b_i|
    // (Jensen) — this is why the band=0 cascade (q33) can be made exact
    // with a bounded candidate budget
    // (full blocks only: a short tail block of length l < f contributes
    // l * |mean diff| to the true bound, not f * |mean diff|)
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      val n0 = 8 + rnd.nextInt(56)
      for (f <- Seq(2, 4, 8)) {
        val n = (n0 / f) * f
        val a = Array.fill(n)(rnd.nextDouble() * 10 - 5)
        val b = Array.fill(n)(rnd.nextDouble() * 10 - 5)
        val sketch = Kernels.manhattan(Kernels.paa(a, f), Kernels.paa(b, f))
        assert(sketch * f <= Kernels.manhattan(a, b) + 1e-9, s"n=$n f=$f")
      }
    }
  }
}
