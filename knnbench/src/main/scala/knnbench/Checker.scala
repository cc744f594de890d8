package knnbench

/** The benchmark's own DTW and answer checks. It imports nothing from the
  * library, so a wrong answer from the library cannot be confirmed by the
  * same mistake in shared code.
  *
  * DTW here is the textbook recurrence with absolute point cost |x - y|
  * and a Sakoe-Chiba band |i - j| <= band (band < 0: unconstrained).
  */
object RefDtw {
  private val Inf = Double.PositiveInfinity

  def dtw(a: Array[Double], b: Array[Double], band: Int): Double =
    dtwBounded(a, b, band, Inf)

  /** DTW, or +Inf once every cell of a row exceeds `limit`: cumulative
    * costs never decrease along a warping path, so no path through that
    * row can end at or below `limit`. With `limit` = +Inf this is plain DTW.
    */
  def dtwBounded(a: Array[Double], b: Array[Double], band: Int, limit: Double): Double = {
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return if (n == 0 && m == 0) 0.0 else Inf
    var prev = Array.fill(m + 1)(Inf)
    var cur = new Array[Double](m + 1)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Inf)
      val lo = if (band < 0) 1 else math.max(1, i - band)
      val hi = if (band < 0) m else math.min(m, i + band)
      var rowMin = Inf
      var j = lo
      while (j <= hi) {
        val c = math.abs(a(i - 1) - b(j - 1)) +
          math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        cur(j) = c
        if (c < rowMin) rowMin = c
        j += 1
      }
      if (rowMin > limit) return Inf
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Number of cells a banded DTW of two length-`n` series evaluates. */
  def bandCells(n: Int, band: Int): Long =
    (1 to n).map(i => (math.min(n, i + band) - math.max(1, i - band) + 1).toLong).sum

  /** Minimum cost over every warping path, found by enumerating the paths
    * one by one (no dynamic programming), for short series only.
    */
  def bruteForce(a: Array[Double], b: Array[Double], band: Int): Double = {
    def walk(i: Int, j: Int, acc: Double): Double =
      if (band >= 0 && math.abs(i - j) > band) Inf
      else {
        val here = acc + math.abs(a(i) - b(j))
        if (i == a.length - 1 && j == b.length - 1) here
        else {
          var best = Inf
          if (i + 1 < a.length) best = math.min(best, walk(i + 1, j, here))
          if (j + 1 < b.length) best = math.min(best, walk(i, j + 1, here))
          if (i + 1 < a.length && j + 1 < b.length) best = math.min(best, walk(i + 1, j + 1, here))
          best
        }
      }
    walk(0, 0, 0.0)
  }

  /** Hand-computed cases plus agreement with path enumeration on short
    * random series. Throws if the reference itself is wrong.
    */
  def selfTest(): Unit = {
    def expect(what: String, got: Double, want: Double): Unit =
      require(math.abs(got - want) <= 1e-12,
        s"reference DTW self-test failed: $what = $got, expected $want")
    expect("dtw([0,0,1],[0,1])", dtw(Array(0, 0, 1), Array(0, 1), -1), 0.0)
    expect("dtw([0,1,2],[0,0,2])", dtw(Array(0, 1, 2), Array(0, 0, 2), -1), 1.0)
    expect("dtw([0,0,1],[0,1,1]) band 0", dtw(Array(0, 0, 1), Array(0, 1, 1), 0), 1.0)
    expect("dtw([0,0,1],[0,1,1]) band 1", dtw(Array(0, 0, 1), Array(0, 1, 1), 1), 0.0)
    expect("dtw([0],[5])", dtw(Array(0.0), Array(5.0), -1), 5.0)
    require(dtw(Array(1, 2, 3), Array(1, 2), 0) == Inf,
      "reference DTW self-test failed: a band narrower than the length gap must admit no path")
    val rng = new java.util.SplittableRandom(7L)
    def series(n: Int) = Array.fill(n)(rng.nextDouble() * 4 - 2)
    val x = series(40)
    expect("dtw(x, x) band 3", dtw(x, x, 3), 0.0)
    for (t <- 0 until 200) {
      val a = series(1 + rng.nextInt(6))
      val b = series(1 + rng.nextInt(6))
      val band = if (t % 2 == 0) -1 else rng.nextInt(3)
      val want = bruteForce(a, b, band)
      val got = dtw(a, b, band)
      require(got == want || math.abs(got - want) <= 1e-9,
        s"reference DTW self-test failed on random case $t: dtw = $got, path enumeration = $want")
    }
  }
}

/** Checks of the library's answers against what the inputs guarantee:
  * each test series' exact 1-NN is its twin, at the twin's DTW distance.
  * It keeps only each test series' expected label and distance, not the
  * inputs, so the train side can be collected once the run has written it.
  */
final class Checker(inputs: Inputs, band: Int) {
  /** The reference DTW from each test series to its twin. */
  val twinDistance: Array[Double] = {
    val in = inputs // a local copy, so that no closure makes `inputs` a field
    Array.tabulate(in.test.length)(i => RefDtw.dtw(in.test(i), in.train(in.twin(i)), band))
  }

  private val twinLabel: Array[Double] = { val in = inputs; in.twin.map(in.labels(_).toDouble) }

  def expectedLabel(test: Int): Double = twinLabel(test)

  /** None when every test series in `expected` comes back exactly once with
    * its twin's label and (when given) the twin's distance; otherwise a
    * description of the first mismatch.
    */
  def checkAnswers(expected: Seq[Int], got: Seq[(Int, Double, Option[Double])]): Option[String] = {
    if (got.size != expected.size)
      return Some(s"${got.size} answers for ${expected.size} test series")
    val byId = got.groupBy(_._1)
    for (t <- expected) byId.get(t) match {
      case None => return Some(s"test series $t has no answer")
      case Some(Seq((_, label, dist))) =>
        if (label != expectedLabel(t))
          return Some(s"test series $t: label $label, its nearest series has label ${expectedLabel(t)}")
        dist.foreach { d =>
          val want = twinDistance(t)
          if (!(math.abs(d - want) <= 1e-9 * math.max(1.0, want)))
            return Some(s"test series $t: distance $d, reference DTW to its nearest series is $want")
        }
      case Some(rows) => return Some(s"test series $t has ${rows.size} answers")
    }
    None
  }

  /** Exact 1-NN by scanning every train series for a seeded sample of test
    * series: confirms that no other train series is as near as the twin.
    * Returns the sample size, or a description of the first violation.
    */
  def bruteForceSample(inputs: Inputs, seed: Long, sample: Int): Either[String, Int] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val picks = Array.fill(math.min(sample, inputs.test.length))(rng.nextInt(inputs.test.length)).distinct
    for (t <- picks) {
      val q = inputs.test(t)
      val dTwin = twinDistance(t)
      var u = 0
      while (u < inputs.train.length) {
        if (u != inputs.twin(t)) {
          val d = RefDtw.dtwBounded(q, inputs.train(u), band, dTwin)
          if (d <= dTwin)
            return Left(s"test series $t: train series $u is at DTW $d, its twin ${inputs.twin(t)} at $dTwin")
        }
        u += 1
      }
    }
    Right(picks.length)
  }
}
