package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Counts scheduler events and task-metric bytes between `reset()`s.
  * `Bench` reads the job/stage/task counts, `ShuffleCensus` the bytes.
  * The listener bus is asynchronous: drain it with
  * [[org.apache.spark.graft.ListenerBridge]] before `reset()` and again
  * before reading, or a neighbouring query's tail events leak in.
  */
private[graft] final class CountingListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val input = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong

  def reset(): Unit =
    Seq(jobs, stages, tasks, input, shuffleWrite, shuffleRead, spill).foreach(_.set(0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }
}
