package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus (whose drain
  * Spark keeps package-private) is drained before the listener attaches
  * and again before the count is read, so neither earlier work nor
  * late-delivered events of the block skew it.
  */
object JobCounter {
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
