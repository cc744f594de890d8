package org.apache.spark.knnbench

import org.apache.spark.SparkContext

/** Spark's listener bus delivers events asynchronously; the traced run
  * waits for it to empty before it reads an operation's counters, so the
  * tail of one operation's events is not counted in the next.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
