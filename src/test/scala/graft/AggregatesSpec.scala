package graft

import graft.functions.SeriesFunctions
import graft.operators.{BoundedTopKByScore, KnnCandidates}
import org.apache.spark.sql.functions._

/** The native TypedImperativeAggregate bounded top-k vs an in-memory
  * oracle AND the typed Dataset Aggregator — including score ties, which
  * must break by id to keep candidate selection deterministic.
  */
class AggregatesSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  // deliberate tie collisions: scores drawn from a small discrete set
  private val rows: Seq[(Long, Long, Double)] =
    for (g <- 0L until 20L; i <- 0L until 200L)
      yield (g, i, (rnd.nextInt(40) / 7.0))

  /** The k smallest (score, id) pairs per group, sorted. */
  private def oraclePairs(k: Int): Map[Long, Seq[(Double, Long)]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._3, r._2)).sorted.take(k)
    }

  private def oracle(k: Int): Map[Long, Seq[Long]] =
    oraclePairs(k).map { case (g, ps) => g -> ps.map(_._2) }

  test("graft_topk_ids matches in-memory oracle (ties broken by id)") {
    val df = rows.toDF("gid", "id", "score")
    for (k <- Seq(1, 5, 32)) {
      val got = df.groupBy(col("gid"))
        .agg(SeriesFunctions.topkIds(col("score"), col("id"), k).as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(got === oracle(k), s"k=$k")
    }
  }

  test("graft_topk_ids matches the typed Dataset Aggregator") {
    val df = rows.toDF("gid", "id", "score")
    val k = 8
    val native = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), k).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val agg = new BoundedTopKByScore(k)
    val typed = df.as[(Long, Long, Double)]
      .groupByKey(_._1).agg(agg.toColumn)
      .collect().map { case (g, ids) => g -> ids.toSet }.toMap
    assert(native === typed)
  }

  test("graft_topk_ids: fewer rows than k returns all, sorted") {
    val df = Seq((1L, 10L, 3.0), (1L, 11L, 1.0)).toDF("gid", "id", "score")
    val got = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), 5).as("ids"))
      .head().getSeq[Long](1)
    assert(got === Seq(11L, 10L))
  }

  test("graft_topk_pairs: one heap emits the k smallest (score, id) rows, sorted") {
    val df = rows.toDF("gid", "id", "score")
    for (k <- Seq(1, 6)) {
      val got = df.groupBy(col("gid"))
        .agg(SeriesFunctions.topkPairs(col("score"), col("id"), k).as("tk"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getLong(1))))
        .toMap
      assert(got === oraclePairs(k), s"k=$k")
    }
  }

  test("candidate node == pair-join + graft_topk_ids (ties, nulls)") {
    // both orientations of the KNN candidate node must select exactly
    // what the join + heap-aggregate shape selects: same Manhattan
    // kernel, same (score, id) total order. Coarsening 1 makes the
    // sketch the series itself. Fixture: duplicate series (score ties ->
    // id tie-break), a null train series (skipped) and a null TEST
    // series (no candidates, like its all-null-score group).
    val rnd2 = new scala.util.Random(7)
    val trainRows: Seq[(Long, Array[Double])] =
      (1L to 60L).map { i =>
        // duplicates every 10th id: exact score ties across distinct ids
        val seed = (i % 10).toInt
        i -> Array.tabulate(12)(t => math.sin(t * 0.7 + seed) + seed * 0.1)
      } :+ (999L -> null.asInstanceOf[Array[Double]])
    val testRows: Seq[(Long, Array[Double])] =
      (101L to 115L).map { i =>
        i -> Array.tabulate(12)(t => math.sin(t * 0.7) + rnd2.nextGaussian() * 0.2)
      } :+ (1L -> null.asInstanceOf[Array[Double]])
    val train = trainRows.map { case (i, a) => (i, a, 0.0) }
      .toDF("train_id", "train_series", "label").repartition(3)
    val test = testRows.toDF("test_id", "test_series")
    for (k <- Seq(1, 7, 100)) {
      val viaAgg = test.crossJoin(train)
        .select(col("test_id"), col("train_id"),
          SeriesFunctions.manhattan(col("test_series"), col("train_series")).as("score"))
        .groupBy(col("test_id"))
        .agg(SeriesFunctions.topkIds(col("score"), col("train_id"), k).as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .filter(_._2.nonEmpty).toMap
      // train broadcast and one task (which collects a test side that
      // is not a local table too): each test's global top-k, in (score,
      // id) order
      for ((tests, mode) <- Seq(test.repartition(2) -> KnnCandidates.TrainBroadcast,
          test -> KnnCandidates.OneTask, test.repartition(2) -> KnnCandidates.OneTask)) {
        val global = KnnCandidates.frame(tests, train, 1, k, mode)
          .select("test_id", "train_id").collect()
          .groupBy(_.getLong(0)).map { case (t, rs) => t -> rs.map(_.getLong(1)).toSeq }
        assert(global === viaAgg, s"$mode k=$k")
      }
      // test broadcast: per train partition local top-k with scores; the
      // merge keeps the k smallest (score, id)
      val local = KnnCandidates.frame(test, train, 1, k, KnnCandidates.TestBroadcast)
        .select("test_id", "train_id", "score").collect()
      assert(local.forall(_.getLong(1) != 999L))
      val testSide = local.groupBy(_.getLong(0)).map { case (t, rs) =>
        t -> rs.map(r => (r.getDouble(2), r.getLong(1))).sorted.take(k).map(_._2).toSeq
      }
      assert(testSide === viaAgg, s"test broadcast k=$k")
    }
  }

  test("heap selection ties -0.0 with 0.0 like a window sort (id breaks the tie)") {
    // SQLOrderingUtil ordering: -0.0 == 0.0, so the k=1 winner is the
    // SMALLER id regardless of zero sign — java.lang.Double.compare
    // would pick the -0.0 row even when its id is larger
    val df = Seq((1L, 10L, 0.0), (1L, 9L, -0.0), (2L, 10L, -0.0), (2L, 9L, 0.0))
      .toDF("gid", "id", "score")
    val got = df.groupBy(col("gid"))
      .agg(SeriesFunctions.topkIds(col("score"), col("id"), 1).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).head).toMap
    assert(got === Map(1L -> 9L, 2L -> 9L))
  }
}
