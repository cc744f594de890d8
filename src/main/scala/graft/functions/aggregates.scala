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
  */
final class TopKIdsBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
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

  def insert(s: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id
      size += 1
      // sift up
      while (i > 0) {
        val p = (i - 1) >> 1
        if (gt(scores(i), ids(i), scores(p), ids(p))) {
          val ts = scores(i); scores(i) = scores(p); scores(p) = ts
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          i = p
        } else return
      }
    } else if (gt(scores(0), ids(0), s, id)) {
      // replace the root (current max) and sift down
      scores(0) = s; ids(0) = id
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && gt(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < size && gt(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == i) return
        val ts = scores(i); scores(i) = scores(m); scores(m) = ts
        val ti = ids(i); ids(i) = ids(m); ids(m) = ti
        i = m
      }
    }
  }

  private def sortedIdx(): Array[Int] = {
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

/** Fused candidate-selection scan — the broadcast-path replacement for
  * the pair-join + [[BoundedTopKIdsAgg]] sequence in the KNN prune
  * cascade (r22 optimization, guide §1.2 "fix the distributed algorithm
  * first"): for ONE test-side PAA sketch, rank EVERY train sketch by
  * Manhattan distance and return the ids of the k smallest (score, id)
  * pairs directly.
  *
  * Equivalence to the join+aggregate shape (AggregatesSpec pins it): the
  * scores are computed by the SAME kernel the pair join's expression
  * called ([[Kernels.manhattanAD]] == manhattan over toDoubleArray), and
  * the selection is the SAME [[TopKIdsBuffer]] — a total order over
  * (score, id), so the selected set is independent of insertion order. Null handling matches the aggregate: a null train
  * entry (null struct, null id, or null sketch → null score in the old
  * plan) is skipped; a null TEST sketch yields an empty array, exactly
  * what an all-null-score group produced (and the downstream
  * `explode(cand_ids)` drops the row either way).
  *
  * Why it is faster: the join+aggregate shape materializes |test| x
  * |train| joined rows through BroadcastNestedLoopJoin + per-pair
  * projection + hash aggregation (measured ~2.5 us/pair of machinery
  * around a ~0.1 us kernel on the HAR workload). This expression runs
  * the kernel in a tight loop per test row over the broadcast sketch
  * array, with the heap local to one row's evaluation.
  *
  * The broadcast side is decoded to primitive arrays ONCE per task per
  * thread (identity-checked on the UnsafeArrayData's base buffer — every
  * joined row references the same broadcast bytes), the §4.5 "heavy
  * state once per task" discipline. That cache is sound only when the
  * train array is a broadcast row's immutable bytes: a producer that
  * reuses row buffers could hand over a different array at the same
  * address. So the expression is not a registered SQL function; only
  * [[graft.operators.Knn]] builds it ([[TopKScanIds.column]]), over a
  * broadcast `collect_list` row.
  */
case class TopKScanIds(
    left: Expression,  // test sketch: array<double>
    right: Expression, // broadcast train: array<struct<id: long, sk: array<double>>>
    k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, "k must be >= 1")

  override def prettyName: String = "graft_topk_scan"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null-intolerant: a null test sketch yields a null id array, which the
  // downstream explode() drops — the same end state as the join+aggregate
  // shape, where all-null scores left the test point with no candidate
  // rows at all
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(StructType(fs), _))
          if fs.length == 2 && fs(0).dataType == LongType &&
            (fs(1).dataType match {
              case ArrayType(DoubleType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<double>, array<struct<long, array<double>>>), got ($l, $r)")
    }
  }

  override def nullSafeEval(sk: Any, tarr: Any): Any =
    TopKScanIds.scan(sk.asInstanceOf[ArrayData], tarr.asInstanceOf[ArrayData], k)

  // REAL doGenCode (not CodegenFallback): a fallback expression inside a
  // whole-stage-codegen'd project forces INPUT_ROW materialization —
  // the generated code rebuilds an UnsafeRow of every referenced column
  // per output row, memcpy'ing the multi-MB broadcast sketch array once
  // per TEST ROW (measured: 39 s executor time for a 2 s kernel).
  // Direct codegen passes the ArrayData views, so the per-thread decode
  // cache actually hits.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TopKScanIds.scan($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKScanIds =
    copy(left = newLeft, right = newRight)
}

object TopKScanIds {

  /** The ids of the k entries of the broadcast `trainArr`
    * (array<struct<id, sketch>>) nearest in Manhattan distance to the
    * test sketch `sk`.
    */
  private[graft] def column(
      sk: org.apache.spark.sql.Column, trainArr: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TopKScanIds(
      ColumnBridge.expression(sk), ColumnBridge.expression(trainArr), k))
  }

  /** Per-thread decoded broadcast side: every joined row references the
    * same broadcast bytes, so the identity check on the UnsafeArrayData's
    * base buffer hits after the first row of each task. Thread-confined
    * like [[Kernels]]' DTW scratch (generated code shares statics across
    * all of the session's tasks).
    */
  private final class Decoded {
    var baseObj: AnyRef = null
    var baseOff: Long = -1L
    var refId: AnyRef = null
    var n: Int = -1
    var ids: Array[Long] = null
    var sks: Array[Array[Double]] = null
  }
  private val decodedTL = new ThreadLocal[Decoded] {
    override def initialValue(): Decoded = new Decoded
  }

  private def decode(ad: ArrayData, d: Decoded): Unit = {
    val n = ad.numElements()
    d.n = n
    d.ids = new Array[Long](n)
    d.sks = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      if (!ad.isNullAt(i)) {
        val st = ad.getStruct(i, 2)
        if (!st.isNullAt(0) && !st.isNullAt(1)) {
          d.ids(i) = st.getLong(0)
          d.sks(i) = st.getArray(1).toDoubleArray()
        }
      }
      i += 1
    }
  }

  private def decoded(ad: ArrayData): Decoded = {
    val d = decodedTL.get()
    ad match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
        if (!(d.baseObj eq u.getBaseObject) || d.baseOff != u.getBaseOffset ||
          d.n != u.numElements()) {
          decode(u, d)
          d.baseObj = u.getBaseObject; d.baseOff = u.getBaseOffset; d.refId = null
        }
      case other =>
        if (!(d.refId eq other)) {
          decode(other, d)
          d.refId = other; d.baseObj = null; d.baseOff = -1L
        }
    }
    d
  }

  /** The fused scan body — called from generated code with the raw
    * ArrayData values (no row materialization).
    */
  def scan(skAD: ArrayData, tarr: ArrayData, k: Int): ArrayData = {
    val sk = skAD.toDoubleArray()
    val d = decoded(tarr)
    val buf = new TopKIdsBuffer(k)
    var i = 0
    while (i < d.n) {
      val t = d.sks(i)
      if (t != null) buf.insert(Kernels.manhattan(sk, t), d.ids(i))
      i += 1
    }
    ArrayData.toArrayData(buf.sortedIds())
  }
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

