package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k smallest (score, id) pairs in
  * lexicographic order, kept as a binary MAX-heap over primitive arrays —
  * eviction compares against the current maximum in O(1), inserts are
  * O(log k), and partial state serializes at 16 bytes per kept entry.
  * Each entry carries a caller `ref` (the KNN candidate operator keeps
  * the index of the row it came from there); it plays no part in the
  * order.
  */
final class TopKIdsBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  val refs = new Array[Int](k)
  var size = 0

  // SQLOrderingUtil.compareDoubles: Spark's OWN sort comparator — a total
  // order with NaN greater than everything AND -0.0 == 0.0. Raw `>` would
  // strand a NaN inserted while size < k (not greater and not smaller
  // than any later score, so never evicted); java.lang.Double.compare
  // would order -0.0 < 0.0 where a window `ORDER BY score` ties them and
  // falls through to the id tie-break — either divergence lets the heap
  // select different ids than the window-rank path on the same scores.
  @inline private def gt(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s1, s2)
    c > 0 || (c == 0 && i1 > i2)
  }
  @inline private def gt(i: Int, j: Int): Boolean = gt(scores(i), ids(i), scores(j), ids(j))

  private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tr = refs(i); refs(i) = refs(j); refs(j) = tr
  }

  /** Offers one entry; true when it was kept. */
  def insert(s: Double, id: Long, ref: Int = 0): Boolean = {
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id; refs(i) = ref
      size += 1
      // sift up
      while (i > 0 && gt(i, (i - 1) >> 1)) { swap(i, (i - 1) >> 1); i = (i - 1) >> 1 }
      true
    } else if (gt(scores(0), ids(0), s, id)) {
      // replace the root (current max) and sift down
      scores(0) = s; ids(0) = id; refs(0) = ref
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && gt(l, m)) m = l
        if (r < size && gt(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
      true
    } else false
  }

  /** Heap slots in ascending (score, id) order. */
  def sortedIdx(): Array[Int] = {
    val idx = Array.range(0, size)
    idx.sortWith { (x, y) =>
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(scores(x), scores(y))
      c < 0 || (c == 0 && ids(x) < ids(y))
    }
  }

  /** ids sorted ascending by (score, id) — deterministic output order. */
  def sortedIds(): Array[Long] = sortedIdx().map(ids(_))

  /** (score, id) pairs sorted ascending by (score, id). */
  def sortedPairs(): Array[(Double, Long)] =
    sortedIdx().map(i => (scores(i), ids(i)))
}

/** Native bounded top-k-by-score aggregate: collects the ids of the k
  * smallest (score, id) pairs per group as array<long> (with
  * `emitPairs`, the pairs themselves as array<struct<score, id>>).
  *
  * This is the third incarnation of the reference's two-phase heap
  * (`heapq.nsmallest` per partition then after the shuffle,
  * `Team11-Project.py:180`/`:195`): the window-rank route and the typed
  * Dataset `Aggregator` ([[graft.operators.BoundedTopKByScore]]) keep the
  * same semantics, but this one runs as a Catalyst
  * `TypedImperativeAggregate` — no Scala tuple boxing and no Kryo buffer
  * encoding per row, with partial state serialized as packed primitives.
  * Used by the KNN prune cascade, whose candidate-selection aggregate
  * sees millions of slim rows per query.
  */
case class BoundedTopKIdsAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    emitPairs: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKIdsBuffer] with ImplicitCastInputTypes {
  require(k >= 1, "k must be >= 1")

  override def prettyName: String =
    if (emitPairs) "graft_topk_pairs" else "graft_topk_ids"
  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  // analysis-time coercion: an INT id or FLOAT score would otherwise
  // pass analysis and ClassCastException per task at execution
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (emitPairs)
      ArrayType(StructType(Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("id", LongType, nullable = false))), containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): TopKIdsBuffer = new TopKIdsBuffer(k)

  override def update(buf: TopKIdsBuffer, input: InternalRow): TopKIdsBuffer = {
    val s = scoreChild.eval(input)
    val id = idChild.eval(input)
    if (s != null && id != null)
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKIdsBuffer, other: TopKIdsBuffer): TopKIdsBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKIdsBuffer): Any =
    if (emitPairs)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        buf.sortedPairs().map { case (s, id) =>
          InternalRow(s, id): Any
        })
    else ArrayData.toArrayData(buf.sortedIds())

  override def serialize(buf: TopKIdsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKIdsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKIdsBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKIdsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKIdsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopKIdsAgg =
    copy(scoreChild = newChildren(0), idChild = newChildren(1))
}

