package graft

import graft.core.KnnParams
import graft.operators.Knn
import org.apache.spark.sql.functions._

/** Parity items from SURVEY §2 that are hazards rather than happy paths. */
class RelationalParitySpec extends SparkTestBase {
  import spark.implicits._

  test("J2: join on whole-series equality works (documented hazard, row_id preferred)") {
    // the reference joins predictions back to features on the 561-dim
    // vector itself (Team11-Project.py:218); arrays are equatable join
    // keys in Spark, so the shape is supported verbatim
    val a = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id_a", "series")
    val b = Seq((Seq(1.0, 2.0), "x"), (Seq(5.0, 6.0), "y")).toDF("series", "tag")
    val joined = a.join(b, Seq("series"), "inner").collect()
    assert(joined.length === 1 && joined.head.getAs[String]("tag") === "x")
  }

  test("auto strategy broadcasts small train sides (stats-driven)") {
    val train = Seq((1L, Seq(1.0, 2.0), 0.0)).toDF("train_id", "train_series", "label")
    val test = Seq((9L, Seq(1.0, 2.5))).toDF("test_id", "test_series")
    // the train side is the build side of the pair join
    assertPairPlan(Knn.classify(train, test, KnnParams(k = 1)), "broadcast")
  }

  test("A5 vote tie-break: count desc, then best rank, then smallest label") {
    // two labels with equal votes; label 2 holds the nearer neighbor
    val train = Seq(
      (1L, Seq(0.0), 2.0), // dist 1 to test point at 1.0
      (2L, Seq(3.0), 1.0), // dist 2
      (3L, Seq(4.0), 2.0), // dist 3
      (4L, Seq(5.5), 1.0) // dist 4.5
    ).toDF("train_id", "train_series", "label")
    val test = Seq((9L, Seq(1.0))).toDF("test_id", "test_series")
    val pred = Knn.classify(train, test, KnnParams(k = 4, distance = "manhattan"))
      .head().getDouble(1)
    assert(pred === 2.0) // tie on votes (2-2): label 2 has rank-1 neighbor
  }

  test("A5 full tie (same votes, adjacent ranks): smallest label wins") {
    val train = Seq(
      (1L, Seq(0.0), 5.0), // rank 1
      (2L, Seq(2.0), 3.0), // rank 2
      (3L, Seq(4.0), 5.0), // rank 3
      (4L, Seq(6.0), 3.0) // rank 4
    ).toDF("train_id", "train_series", "label")
    val test = Seq((9L, Seq(0.5))).toDF("test_id", "test_series")
    // votes 2-2; best ranks 1 vs 2 -> label 5 wins by rank despite being larger
    val pred = Knn.classify(train, test, KnnParams(k = 4, distance = "manhattan"))
      .head().getDouble(1)
    assert(pred === 5.0)
  }

  test("optimizer rule: euclidean threshold filter rewrites to sqdist (no sqrt)") {
    import graft.functions.{SeriesFunctions => SF}
    val e = spark.read.parquet(s"$sf001/embeddings.parquet").limit(20)
    val probe = e.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val df = probe.as("x").join(probe.as("y"))
      .filter(SF.euclidean($"x.v", $"y.v") < 2.0)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_sqdist"), s"plan:\n$optimized")
    assert(!optimized.contains("graft_euclidean"), s"plan:\n$optimized")
    // semantics preserved vs the un-rewritten comparison
    val viaSqdist = df.count()
    val manual = probe.as("x").join(probe.as("y"))
      .withColumn("d", SF.barrier(SF.euclidean($"x.v", $"y.v")))
      .filter($"d" < 2.0).count()
    assert(viaSqdist === manual)
  }

  test("W1 hazard documented: withRowId preserves order without single partition") {
    val df = spark.range(0, 100, 1, 8).toDF("v")
    val ids = graft.ingest.SeriesIngest.withRowId(df)
    // does NOT collapse to 1 partition (the reference's orderBy(lit) does)
    assert(ids.rdd.getNumPartitions === 8)
  }
}
