package graft

import graft.operators.Evaluation
import org.apache.spark.sql.functions._

class EvaluationSpec extends SparkTestBase {
  import spark.implicits._

  test("accuracy: single-pass avg(when) matches manual ratio") {
    val joined = Seq(
      (1.0, 1.0), (2.0, 2.0), (3.0, 1.0), (2.0, 2.0), (1.0, 3.0)
    ).toDF("predicted_label", "label")
    val r = Evaluation.accuracy(joined, col("predicted_label"), col("label")).head()
    assert(r.getDouble(0) === 0.6)
    assert(r.getLong(1) === 5L)
  }

  test("accuracy via id-join overload") {
    val pred = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "predicted_label")
    val truth = Seq((1L, 1.0), (2L, 3.0)).toDF("id", "label")
    val r = Evaluation.accuracy(pred, truth, "id").head()
    assert(r.getDouble(0) === 0.5)
    assert(r.getLong(1) === 2L)
  }

  test("accuracy via id-join overload: a truth row with NO prediction " +
      "counts as incorrect, never silently dropped") {
    // id 3 has no prediction row — an inner join would score 1/1 = 1.0
    // over the shrunken set; the truth-left contract scores 1/2 and
    // keeps n at the truth-set size
    val pred = Seq((1L, 1.0)).toDF("id", "predicted_label")
    val truth = Seq((1L, 1.0), (3L, 2.0)).toDF("id", "label")
    val r = Evaluation.accuracy(pred, truth, "id").head()
    assert(r.getDouble(0) === 0.5,
      "missing predictions must lower accuracy, not vanish")
    assert(r.getLong(1) === 2L, "n must be the truth-set size")
  }

  test("perClassMetrics: precision/recall/f1 for a known confusion") {
    // truth: two 1s, one 2; predictions: 1->1, 1->2, 2->2
    val joined = Seq((1.0, 1.0), (2.0, 1.0), (2.0, 2.0)).toDF("p", "t")
    val m = Evaluation.perClassMetrics(joined, col("p"), col("t"))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1.0)._1 === 1.0) // precision of class 1: 1/1
    assert(m(1.0)._2 === 0.5) // recall of class 1: 1/2
    assert(m(2.0)._1 === 0.5) // precision of class 2: 1/2
    assert(m(2.0)._2 === 1.0) // recall of class 2: 1/1
  }

  test("perClassMetrics: fuzz vs brute over random confusions") {
    // random confusions with planted pred-only classes (+100 offset) so
    // truth-absent and never-predicted classes exercise every
    // zero-denominator coalesce; rounding matches Spark's HALF_UP
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(7)
    (0 until 30).foreach { s =>
      val classes = (0 to rnd.nextInt(5)).map(_.toDouble)
      val n = 1 + rnd.nextInt(60)
      val pairs = Seq.fill(n) {
        val p = classes(rnd.nextInt(classes.size)) +
          (if (rnd.nextInt(10) == 0) 100 else 0)
        (p, classes(rnd.nextInt(classes.size)))
      }
      val got = Evaluation.perClassMetrics(pairs.toDF("p", "t"), col("p"), col("t"))
        .collect().map(r => r.getDouble(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val want = pairs.flatMap(x => Seq(x._1, x._2)).distinct.map { l =>
        val support = pairs.count(_._2 == l).toLong
        val predicted = pairs.count(_._1 == l).toLong
        val tp = pairs.count(x => x._1 == l && x._2 == l).toLong
        val prec = if (predicted == 0) 0.0 else tp.toDouble / predicted
        val rec = if (support == 0) 0.0 else tp.toDouble / support
        val f1 = if (predicted == 0 || support == 0 || tp == 0) 0.0
          else 2 * prec * rec / (prec + rec)
        l -> ((support, r6(prec), r6(rec), r6(f1)))
      }.toMap
      assert(got == want, s"seed $s: $got vs $want")
    }
  }

  test("perClassMetrics: null labels do NOT merge across sides") {
    // full-outer equi-join semantics: a null predicted class and a null
    // truth class each produce their own row (nulls never equi-join) —
    // loud rather than silently merged; filter null labels upstream for
    // a clean report
    val df = Seq(
      (None: Option[Double], Some(1.0)),
      (Some(1.0), None: Option[Double]),
      (Some(1.0), Some(1.0))).toDF("p", "t")
    val rows = Evaluation.perClassMetrics(df, col("p"), col("t")).collect()
    assert(rows.count(_.isNullAt(0)) === 2)
  }

  test("BoundedTopKByScore: keeps k smallest (score, id), deterministic ties") {
    import graft.operators.BoundedTopKByScore
    val agg = new BoundedTopKByScore(3)
    val rows = Seq( // (group, id, score)
      (1L, 10L, 5.0), (1L, 11L, 1.0), (1L, 12L, 3.0), (1L, 13L, 1.0), (1L, 14L, 9.0))
    val buf = rows.foldLeft(agg.zero)(agg.reduce)
    // ties on score 1.0 broken by id: 11 before 13
    assert(agg.finish(buf).toSeq === Seq(11L, 13L, 12L))
    // partial/merge equals single-pass
    val (l, r) = rows.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged).toSeq === Seq(11L, 13L, 12L))
  }
}
