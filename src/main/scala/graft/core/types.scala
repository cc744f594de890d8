package graft.core

/** One labeled time series / embedding row — the canonical typed view of
  * the reference's (features, label) pair (`Team11-Project.py:187-188`).
  */
case class LabeledSeries(rowId: Long, series: Array[Double], label: Double)

/** KNN configuration (reference Models 1 & 2, `Team11-Project.py:119-476`,
  * `:480-580`). The pair-join plan is not a field: [[graft.operators.Knn]]
  * picks broadcast or partitioned cartesian from the measured sizes of
  * the two sides (`spark.graft.knn.broadcastFloor`,
  * `spark.sql.autoBroadcastJoinThreshold`).
  *
  * @param k                  neighbor count (reference sweeps 5..70; Model 2 fixes 1)
  * @param distance           "euclidean" | "sqdist" | "manhattan" | "dtw" | "fastdtw" | "cosine"
  * @param excludeZeroDistance drop self-matches (reference `:176-177`,
  *                           `:357-358`); "zero" is in the metric's own
  *                           terms — for cosine the column is the
  *                           standard distance 1−similarity, so 0 means
  *                           same-direction, not same-vector (a scaled
  *                           copy of a test vector is also excluded)
  * @param radius             FastDTW radius (Python fastdtw default = 1)
  * @param band               Sakoe-Chiba band for exact DTW; -1 = unconstrained
  * @param lbPruning          candidate cascade for dtw/fastdtw (the scale
  *                           path): rank every pair by Manhattan distance
  *                           between PAA sketches, then run the exact
  *                           kernel only on the candidateFactor*k
  *                           best-ranked train series per test point. The
  *                           PAA ranking is FastDTW's coarse level used as
  *                           a ranker (Salvador & Chan 2007), not a lower
  *                           bound: results equal exact KNN only when
  *                           candidateFactor*k covers the true neighbours
  * @param candidateFactor    candidates kept per test point = factor * k
  * @param coarsenFactor      PAA block size of the ranking sketch (series
  *                           length / coarsenFactor values per sketch)
  */
case class KnnParams(
    k: Int = 1,
    distance: String = "euclidean",
    excludeZeroDistance: Boolean = true,
    radius: Int = 1,
    band: Int = -1,
    lbPruning: Boolean = false,
    candidateFactor: Int = 4,
    coarsenFactor: Int = 8)
