package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.functions._

/** The one counting listener `Bench` and `ShuffleCensus` read. */
class CountingListenerSpec extends SparkTestBase {

  test("counts jobs, stages, tasks and shuffle bytes of a one-shuffle query; reset zeroes all") {
    val sc = spark.sparkContext
    val l = new CountingListener
    sc.addSparkListener(l)
    try {
      assert(ListenerBridge.drain(sc))
      l.reset()
      spark.range(0, 10000, 1, 4)
        .groupBy((col("id") % 7).as("g")).agg(sum(col("id")))
        .write.format("noop").mode("overwrite").save()
      assert(ListenerBridge.drain(sc))
      assert(l.jobs.get >= 1)
      assert(l.stages.get >= 2)
      assert(l.tasks.get >= l.stages.get)
      assert(l.shuffleWrite.get > 0)
      assert(l.shuffleRead.get > 0)
      assert(l.spill.get === 0)
      l.reset()
      assert(Seq(l.jobs, l.stages, l.tasks, l.input, l.shuffleWrite,
        l.shuffleRead, l.spill).map(_.get) === Seq.fill(7)(0L))
    } finally sc.removeSparkListener(l)
  }
}
