package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k of (score, id) keeping the k smallest (score, id) pairs —
  * the typed-`Aggregator` twin of the reference's two-phase heap
  * (`heapq.nsmallest` per partition at `Team11-Project.py:180`/`:361`,
  * then again after the shuffle at `:195`/`:377`). Spark executes
  * `reduce` as the partial (map-side) phase and `merge` as the final
  * phase, so the partial/merge structure matches the reference's
  * exactly — but declaratively. ObjectHashAggregate keeps the buffer as
  * a live object per group; only the k-bounded state crosses the
  * shuffle.
  *
  * The engine paths select with the window rank in [[Knn.neighbors]]
  * (`WindowGroupLimit` pushdown) and the native `graft_topk_ids`
  * aggregate ([[graft.functions.BoundedTopKIdsAgg]]); this aggregator is
  * their cross-check and the building block for reuse inside other
  * typed pipelines.
  */
class BoundedTopKByScore(k: Int)
    extends Aggregator[(Long, Long, Double), Array[(Double, Long)], Array[Long]] {

  private val ord = Ordering.Tuple2[Double, Long]

  override def zero: Array[(Double, Long)] = Array.empty

  private def insert(buf: Array[(Double, Long)], v: (Double, Long)): Array[(Double, Long)] =
    if (buf.length < k) (buf :+ v).sorted(ord)
    else if (ord.lt(v, buf(buf.length - 1))) { buf(buf.length - 1) = v; buf.sorted(ord) }
    else buf

  override def reduce(buf: Array[(Double, Long)], row: (Long, Long, Double)): Array[(Double, Long)] =
    insert(buf, (row._3, row._2))

  override def merge(a: Array[(Double, Long)], b: Array[(Double, Long)]): Array[(Double, Long)] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Array[(Double, Long)]): Array[Long] = buf.map(_._2)

  override def bufferEncoder: Encoder[Array[(Double, Long)]] =
    Encoders.kryo[Array[(Double, Long)]]
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
