package graft.operators

import graft.functions.{GraftFunctions, SeriesFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic k-fold cross-validation for the KNN family — the
  * evaluation loop the reference runs as separate notebook cells per
  * split (its k-sweep, `Team11-Project.py:237-322`, holds ONE split
  * fixed; k-fold rotates the split itself).
  *
  * Spark-first shape: fold assignment is a pure projection (`id mod
  * folds` — deterministic, no seed, no shuffle), and ALL folds evaluate
  * in ONE pair pass: the cross join's `fold != fold` predicate makes
  * every row a test point against the union of the other folds — no
  * per-fold loop, no k plans for k folds. The pair matrix is the same
  * one a single split scores; only the filter differs.
  */
object CrossValidation {

  /** Per-fold 1-NN accuracy (Euclidean) over (idCol, vecCol, labelCol).
    * Output: (fold, acc 6 dp, n) — one row per fold.
    *
    * The pair join routes through [[Knn.crossPairs]]'s measured-size-aware
    * decision: broadcast while one side fits the executor budget,
    * partitioned cartesian (`shuffle_replicate_nl`) beyond it — k-fold over
    * a 100 TB training table degrades to a streamed pair join instead of
    * replicating the whole input to every executor. `min_by` picks the
    * nearest foreign-fold neighbor with (dist, id) tie-break, exactly
    * [[Knn.classify1NN]]'s rule.
    *
    * Rows whose residue class is the only populated one (no foreign-fold
    * neighbor exists) keep a NULL prediction and count as incorrect — they
    * are never silently dropped. Fold assignment uses `pmod`, so negative
    * ids land in [0, folds); an oracle replaying SQL `%` (sign-preserving)
    * must restrict to non-negative ids.
    */
  def kfold1NNAccuracy(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      folds: Int): DataFrame = {
    require(folds >= 2, "k-fold needs at least 2 folds")
    GraftFunctions.register(df.sparkSession)
    val e = df.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      col(labelCol).as("label"),
      pmod(col(idCol), lit(folds)).as("fold"))
    val test = Partitioning.spread(e.select(col("id"), col("v"), col("fold")))
    val train = e.select(col("id").as("tid"), col("v").as("tv"),
      col("label").as("tlabel"), col("fold").as("tfold"))
    val pred = Knn.crossPairs(train, test)
      .filter(col("fold") =!= col("tfold"))
      .withColumn("dist", SeriesFunctions.barrier(
        SeriesFunctions.euclidean(col("v"), col("tv"))))
      // a NULL dist (null/uncastable vector on either side) must not
      // reach min_by: its ordering struct has a null FIRST FIELD, which
      // sorts ahead of every real distance (the nulls-first struct
      // hazard Knn.pairs filters for the same reason) — one dirty train
      // row would otherwise become the 1-NN of every test point. A test
      // row with a null vector loses ALL its pairs here and surfaces
      // through the left join as a NULL prediction (counted incorrect),
      // matching the no-foreign-fold-neighbor contract above.
      .filter(col("dist").isNotNull)
      .groupBy(col("id"))
      .agg(min_by(col("tlabel"), struct(col("dist"), col("tid"))).as("pred"))
    e.select(col("id"), col("fold"), col("label"))
      .join(pred, Seq("id"), "left")
      .groupBy(col("fold"))
      .agg(
        round(avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)), 6)
          .as("acc"),
        count(lit(1)).as("n"))
  }
}
