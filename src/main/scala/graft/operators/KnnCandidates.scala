package graft.operators

import graft.functions.{Kernels, TopKIdsBuffer}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, SinglePartition, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** The prune cascade's candidate operator: rank every (test, train) pair
  * by the Manhattan distance between PAA sketches (`coarsen`) and keep
  * each test row's `fk` smallest by (score, train_id) in a
  * [[TopKIdsBuffer]]. It emits `(test_id, test_series, train_id,
  * train_series, label[, score])` rows, a test's candidates together in
  * ascending (score, train_id) order. `left` is the test side, `right`
  * the train side. [[KnnCandidates.Mode]] orients it; at most one side
  * is broadcast, once, as is:
  *
  *  - **train broadcast**: the test side streams and every test row gets
  *    its global top-fk;
  *  - **one task** (a small local test side, such as a classifier
  *    request): nothing is broadcast or shuffled; the test rows are
  *    collected and ship in the closure of ONE task that reads every
  *    train partition (a narrow coalesce) and emits each test's global
  *    top-fk, as a single partition;
  *  - **test broadcast** (the only mode with a `score` column): the
  *    train side streams, never shuffled or replicated; each train
  *    partition emits every test's LOCAL top-fk with its score, so the
  *    caller merges the partitions with one exchange on test_id that
  *    keeps `row_number() over (score, train_id) <= fk`. The exact phase
  *    that runs before that merge does about one full DTW per train
  *    partition per test, so its work grows with the train side's
  *    partition count.
  *
  * A null series or train id never becomes a candidate. Planned by
  * [[KnnStrategy]].
  */
case class KnnCandidates(
    testId: Attribute, testSeries: Attribute,
    trainId: Attribute, trainSeries: Attribute, label: Attribute,
    score: Option[Attribute], mode: KnnCandidates.Mode, coarsen: Int, fk: Int,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    Seq(testId, testSeries, trainId, trainSeries, label) ++ score
  override def producedAttributes: AttributeSet = AttributeSet(score.toSeq)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): KnnCandidates = copy(left = l, right = r)
}

object KnnCandidates {
  /** Which side the node broadcasts, if any; see [[KnnCandidates]]. */
  sealed trait Mode
  case object TrainBroadcast extends Mode
  case object OneTask extends Mode
  case object TestBroadcast extends Mode

  /** Candidates of `test` (test_id, test_series) among `train` (train_id,
    * train_series, label) in `mode`: each test's global top-fk, or, for
    * [[TestBroadcast]], each train partition's local top-fk with its
    * score.
    */
  def frame(test: DataFrame, train: DataFrame, coarsen: Int, fk: Int, mode: Mode): DataFrame = {
    val spark = test.sparkSession
    KnnStrategy.install(spark)
    val (t, r) = (test.queryExecution.analyzed, train.queryExecution.analyzed)
    val score =
      if (mode == TestBroadcast) Some(AttributeReference("score", DoubleType, nullable = false)())
      else None
    org.apache.spark.sql.graft.DataFrameBridge.ofPlan(spark, KnnCandidates(
      t.output(0), t.output(1), r.output(0), r.output(1), r.output(2), score, mode, coarsen, fk, t, r))
  }

  private[operators] def sketch(row: InternalRow, ord: Int, coarsen: Int): Array[Double] =
    if (row.isNullAt(ord)) null else Kernels.paa(row.getArray(ord).toDoubleArray(), coarsen)
}

/** Physical [[KnnCandidates]]. `EnsureRequirements` puts the one
  * `BroadcastExchange` (IdentityBroadcastMode: the rows as they are)
  * under the broadcast side; a test side that is a local table is
  * collected by the node itself, with no job. Each task decodes the ids
  * and sketches it needs into its own arrays.
  */
case class KnnCandidatesExec(
    testId: Attribute, testSeries: Attribute,
    trainId: Attribute, trainSeries: Attribute, label: Attribute,
    score: Option[Attribute], mode: KnnCandidates.Mode, coarsen: Int, fk: Int,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  import KnnCandidates.{OneTask, TestBroadcast, TrainBroadcast}
  override def output: Seq[Attribute] =
    Seq(testId, testSeries, trainId, trainSeries, label) ++ score
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(score.toSeq)

  // an in-memory test side (a request frame) is broadcast from the
  // driver as it is: a broadcast exchange would run a collect job
  private def localTests = mode == TestBroadcast && left.isInstanceOf[LocalTableScanExec]

  override def requiredChildDistribution: Seq[Distribution] = mode match {
    case TrainBroadcast => Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
    case TestBroadcast if !localTests =>
      Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)
    case _ => Seq(UnspecifiedDistribution, UnspecifiedDistribution)
  }
  // test-broadcast rows of one test come from every train partition
  override def outputPartitioning: Partitioning = mode match {
    case TrainBroadcast => left.outputPartitioning
    case OneTask => SinglePartition
    case TestBroadcast => UnknownPartitioning(right.outputPartitioning.numPartitions)
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    def ord(side: SparkPlan, a: Attribute) = side.output.indexWhere(_.exprId == a.exprId)
    val (tSer, idO, rSer) = (ord(left, testSeries), ord(right, trainId), ord(right, trainSeries))
    val idOf: InternalRow => Long = trainId.dataType match {
      case LongType => _.getLong(idO)
      case IntegerType => _.getInt(idO).toLong
      case other => throw new IllegalArgumentException(s"train_id must be int or bigint, got $other")
    }
    val (f, k, out) = (coarsen, fk, output)
    val in = left.output ++ right.output ++ score
    import KnnCandidates.sketch
    if (mode == TrainBroadcast) {
      val bc = right.executeBroadcast[Array[InternalRow]]()
      left.execute().mapPartitions { tests =>
        val train = bc.value
        val ids = train.map(r => if (r.isNullAt(idO)) 0L else idOf(r))
        val sks = train.map(r => if (r.isNullAt(idO)) null else sketch(r, rSer, f))
        val heap = new TopKIdsBuffer(k)
        val proj = UnsafeProjection.create(out, in)
        val joined = new JoinedRow
        tests.flatMap { t =>
          heap.size = 0
          val q = sketch(t, tSer, f)
          var i = 0
          while (q != null && i < train.length) {
            if (sks(i) != null) heap.insert(Kernels.manhattan(q, sks(i)), ids(i), i)
            i += 1
          }
          heap.sortedIdx().map(heap.refs(_)).iterator.map { j =>
            numOut += 1
            proj(joined(t, train(j)))
          }
        }
      }
    } else {
      // one task: the test rows travel in its closure; test broadcast:
      // one copy per executor
      val testRows: () => Array[InternalRow] = mode match {
        case OneTask => val rows = left.executeCollect(); () => rows
        case _ if localTests => val b = sparkContext.broadcast(left.executeCollect()); () => b.value
        case _ => val b = left.executeBroadcast[Array[InternalRow]](); () => b.value
      }
      val trainRows = if (mode == OneTask) right.execute().coalesce(1) else right.execute()
      trainRows.mapPartitions { train =>
        val tests = testRows()
        val qs = tests.map(sketch(_, tSer, f))
        val heaps = Array.fill(tests.length)(new TopKIdsBuffer(k))
        // a row is copied once, when some heap first keeps it
        val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        train.foreach { r =>
          val sk = if (r.isNullAt(idO)) null else sketch(r, rSer, f)
          if (sk != null) {
            val id = idOf(r)
            var took = false
            var t = 0
            while (t < tests.length) {
              if (qs(t) != null && heaps(t).insert(Kernels.manhattan(qs(t), sk), id, kept.length))
                took = true
              t += 1
            }
            if (took) kept += r.copy()
          }
        }
        val proj = UnsafeProjection.create(out, in)
        val (pair, withScore, s) = (new JoinedRow, new JoinedRow, new GenericInternalRow(1))
        tests.indices.iterator.flatMap { t =>
          val h = heaps(t)
          h.sortedIdx().iterator.map { j =>
            numOut += 1
            s.setDouble(0, h.scores(j))
            proj(withScore(pair(tests(t), kept(h.refs(j))), s))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): KnnCandidatesExec = copy(left = l, right = r)
}

/** Plans [[KnnCandidates]]. Builder sessions get it through
  * [[graft.functions.GraftExtensions]]; [[install]] adds it to a live
  * session once.
  */
object KnnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: KnnCandidates =>
      KnnCandidatesExec(n.testId, n.testSeries, n.trainId, n.trainSeries, n.label,
        n.score, n.mode, n.coarsen, n.fk, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}
