package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts. Jobs are matched
  * by a local property set for the block (SQL executions and broadcast
  * threads inherit it), so jobs of other threads are not counted; the
  * listener bus is drained before the count is read. Lives in
  * `org.apache.spark` for `LiveListenerBus.waitUntilEmpty`. */
object JobCount {
  private val Key = "graft.test.jobCount"

  def apply(sc: SparkContext)(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      sc.setLocalProperty(Key, null)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
