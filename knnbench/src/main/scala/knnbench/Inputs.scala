package knnbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** HAR-shaped inputs made from a seed: `train` with class labels 1..6 and
  * `test`, where test series i is its twin `train(twin(i))` plus a
  * perturbation of at most `Eps` per step.
  *
  * Why the twin is the exact 1-NN: the diagonal path bounds
  * DTW(test, twin) <= L * Eps, and along any warping path the perturbation
  * moves the cost by at most (2L - 1) * Eps, so the twin is nearer than
  * every train series u with DTW(twin, u) > (3L - 1) * Eps (about 0.17).
  * Train series differ by smooth random components of amplitude ~0.5, which
  * puts them tens of DTW units apart; the checker's brute-force sample
  * confirms the guarantee on every run.
  */
final case class Inputs(seed: Long, train: Array[Array[Double]], labels: Array[Int],
    test: Array[Array[Double]], twin: Array[Int])

object Inputs {
  val Length = 561
  val Classes = 6
  val Eps = 1e-4

  /** Class templates: three sinusoids per class, like the periodic body
    * movements the HAR classes are told apart by.
    */
  private def templates(seed: Long): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed)
    Array.fill(Classes) {
      val comps = Array.fill(3)((0.02 + rng.nextDouble() * 0.2, rng.nextDouble() * 6.3, 0.5 + rng.nextDouble()))
      Array.tabulate(Length)(t => comps.map { case (f, p, a) => a * math.sin(f * t + p) }.sum)
    }
  }

  /** Train series `i` and its label, from its own stream of the seed, so
    * any series can be made alone (and in parallel).
    */
  private def trainSeries(seed: Long, templates: Array[Array[Double]], i: Int): (Array[Double], Int) = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val label = 1 + rng.nextInt(Classes)
    val base = templates(label - 1)
    val f = Array.fill(4)(0.01 + rng.nextDouble() * 0.15)
    val p = Array.fill(4)(rng.nextDouble() * 6.3)
    val a = Array.fill(4)(0.2 + rng.nextDouble() * 0.6)
    val s = Array.tabulate(Length) { t =>
      var v = base(t) + (rng.nextDouble() - 0.5) * 0.1
      var k = 0
      while (k < 4) { v += a(k) * math.sin(f(k) * t + p(k)); k += 1 }
      // six decimals, so the raw text form parses back to the same doubles
      math.rint(v * 1e6) / 1e6
    }
    (s, label)
  }

  def generate(seed: Long, nTrain: Int, nTest: Int): Inputs = {
    val tpl = templates(seed)
    val made = java.util.stream.IntStream.range(0, nTrain).parallel()
      .mapToObj[(Array[Double], Int)](i => trainSeries(seed, tpl, i)).toArray
      .map(_.asInstanceOf[(Array[Double], Int)])
    val rng = new java.util.SplittableRandom(~seed)
    val twin = sampleDistinct(rng, nTrain, nTest)
    val test = twin.map(u => made(u)._1.map(v => v + (2 * rng.nextDouble() - 1) * Eps))
    Inputs(seed, made.map(_._1), made.map(_._2), test, twin)
  }

  private def sampleDistinct(rng: java.util.SplittableRandom, n: Int, k: Int): Array[Int] = {
    require(k <= n, s"cannot pick $k distinct twins out of $n train series")
    val seen = new java.util.HashSet[Integer]()
    val out = new Array[Int](k)
    var i = 0
    while (i < k) {
      val u = rng.nextInt(n)
      if (seen.add(u)) { out(i) = u; i += 1 }
    }
    out
  }

  /** Writes train and test as Parquet tables, `files` files each. The
    * `nTrain` train rows are made again in the tasks, from the same seed.
    */
  def writeParquet(spark: SparkSession, seed: Long, nTrain: Int, test: Array[Array[Double]],
      dir: File, files: Int): (String, String) = {
    import spark.implicits._
    val trainPath = new File(dir, "train.parquet").getPath
    val testPath = new File(dir, "test.parquet").getPath
    val tpl = templates(seed)
    spark.range(0, nTrain, 1, files)
      .map { i => val (s, l) = trainSeries(seed, tpl, i.toInt); (i.longValue, s, l.toDouble) }
      .toDF("train_id", "train_series", "label").write.parquet(trainPath)
    spark.sparkContext.parallelize(test.indices.map(i => (i.toLong, test(i))), files)
      .toDF("test_id", "test_series").write.parquet(testPath)
    (trainPath, testPath)
  }

  /** Writes train in the raw form of the UCI-HAR release: one line of
    * space-separated values per series, and the labels one per line in a
    * second file, matched by position.
    */
  def writeText(in: Inputs, dir: File): (String, String) = {
    val x = new File(dir, "x_train.txt")
    val y = new File(dir, "y_train.txt")
    def write(f: File)(body: BufferedWriter => Unit): Unit = {
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
      try body(w) finally w.close()
    }
    write(x) { w =>
      in.train.foreach { s =>
        var t = 0
        while (t < s.length) { w.write(' '); w.write(java.lang.Double.toString(s(t))); t += 1 }
        w.write('\n')
      }
    }
    write(y)(w => in.labels.foreach { l => w.write(l.toString); w.write('\n') })
    (x.getPath, y.getPath)
  }
}
