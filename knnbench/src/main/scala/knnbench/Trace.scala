package knnbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer. One op id
  * groups the spans of one timed operation; set-up and probe spans carry
  * op -1. Kept in memory and written when the run ends. When not
  * `enabled` (the timed runs) a span only evaluates its body.
  */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
  private val done = ArrayBuffer[Span]()
  private var open = List[Int]()
  private var nextId = 0
  private val origin = System.nanoTime()

  def apply[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body else record(name, op)(body)

  private def record[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, op, name, start, System.nanoTime())
      open = open.tail
    }
  }

  /** Durations in seconds of the spans called `name`, in start order. */
  def seconds(name: String): Seq[Double] =
    done.filter(_.name == name).sortBy(_.startNs).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  /** Seconds spent in spans called `name`, per timed operation. */
  def perOp(name: String): Map[Int, Double] =
    done.filter(s => s.name == name && s.op >= 0).groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

  def toJson: String = done.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""start_s":${(s.startNs - origin) / 1e9}%.6f,"end_s":${(s.endNs - origin) / 1e9}%.6f}"""
  }.mkString("[", ",\n", "]")
}

/** Engine counters of one operation, read from outside the program:
  * Spark's scheduler listener, the SQL metrics of every query the
  * operation executed, the JVM's GC beans and Spark's codegen metrics.
  */
final case class EngineStats(
    jobs: Int, stages: Int, tasks: Int,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, broadcastMb: Double,
    codegenCompiles: Long, codegenCompileS: Double, stageSkew: Double,
    exactRows: Option[Long], candidateShape: String)

final class Engine(spark: SparkSession) {
  private val lock = new Object
  private var jobs, stages, tasks = 0
  private var runMs, cpuNs, shuffleWrite, shuffleRead = 0L
  private val stageTasks = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
  private val stageSpan = scala.collection.mutable.Map[Int, Long]()
  private val executions = ArrayBuffer[QueryExecution]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageSpan(i.stageId) = c - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      }
    }
  }
  spark.sparkContext.addSparkListener(scheduler)

  private val sql = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { executions += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attaches the SQL listener to `session` (listeners are per session). */
  def watch(session: SparkSession): Unit = session.listenerManager.register(sql)

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  private def codegen: (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps every sample while it holds fewer than its
    // reservoir size, so the sum of samples is the total compile time
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  /** Runs `body` and returns what the engine did for it. */
  def measure[T](body: => T): (T, EngineStats) = {
    drain()
    val (j0, s0, t0, r0, c0, w0, rd0) = lock.synchronized {
      executions.clear(); stageTasks.clear(); stageSpan.clear()
      (jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead)
    }
    val g0 = gcMs
    val (cc0, cs0) = codegen
    val out = body
    val g1 = gcMs
    val (cc1, cs1) = codegen
    drain()
    lock.synchronized {
      val plans = executions.toList.map(_.executedPlan)
      val all = plans.flatMap(Plans.nodes)
      val longest = stageSpan.toSeq.sortBy(-_._2).headOption.map(_._1)
      val skew = longest.flatMap(stageTasks.get).filter(_.nonEmpty).map { ds =>
        val sorted = ds.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
      }.getOrElse(1.0)
      val stats = EngineStats(
        jobs = jobs - j0, stages = stages - s0, tasks = tasks - t0,
        executorRunS = (runMs - r0) / 1e3, executorCpuS = (cpuNs - c0) / 1e9,
        gcS = (g1 - g0) / 1e3,
        shuffleWriteMb = (shuffleWrite - w0) / 1048576.0,
        shuffleReadMb = (shuffleRead - rd0) / 1048576.0,
        broadcastMb = all.collect { case b: BroadcastExchangeExec => b.metrics("dataSize").value }
          .sum / 1048576.0,
        codegenCompiles = cc1 - cc0, codegenCompileS = (cs1 - cs0) / 1e3,
        stageSkew = skew,
        exactRows = plans.flatMap(Plans.exactKernelInputRows).reduceOption(_ + _),
        candidateShape = Plans.candidateShape(all))
      (out, stats)
    }
  }

  private def drain(): Unit = org.apache.spark.knnbench.ListenerBus.drain(spark.sparkContext)
}

/** Reading executed plans from outside the program. */
object Plans {
  /** Every node of an executed plan, descending into adaptive query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def calls(p: SparkPlan): Set[String] =
    p.expressions.flatMap(_.collect { case e => e.prettyName }).toSet

  /** Rows that reach the exact DTW kernel: the output row count of the
    * nearest counted operator below the topmost node that evaluates
    * graft_dtw. None when no operator carries the count.
    */
  def exactKernelInputRows(plan: SparkPlan): Option[Long] = {
    def rowsBelow(n: SparkPlan): Option[Long] = n.children.headOption.flatMap { c =>
      c.metrics.get("numOutputRows").map(_.value).orElse(rowsBelow(c))
    }
    nodes(plan).find(n => calls(n).contains("graft_dtw")).flatMap(rowsBelow)
  }

  /** Which candidate-selection shape the plan ran, as read from the
    * functions its operators evaluate.
    */
  def candidateShape(all: Seq[SparkPlan]): String = {
    val used = all.flatMap(calls).toSet
    if (used("graft_topk_scan")) "fused broadcast scan (graft_topk_scan)"
    else if (used("graft_topk_ids"))
      "slim pair scores + heap aggregate (graft_topk_ids)" +
        (if (used("graft_topk_scores")) " + sampled-tau prefilter (graft_topk_scores)" else "")
    else "no candidate selection"
  }
}
