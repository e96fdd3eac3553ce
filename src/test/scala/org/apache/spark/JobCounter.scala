package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs or SQL executions a block starts. The listener
  * bus (whose drain Spark keeps package-private) is drained before the
  * listener attaches and again before the count is read, so neither
  * earlier work nor late-delivered events of the block skew it.
  */
object JobCounter {
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) =
    countDuring(sc) {
      case _: SparkListenerJobStart => true
      case _ => false
    }(body)

  /** SQL executions (one per Dataset action, checkpoint or write
    * command — each pays its own planning and code generation) that
    * the block starts. `nestedOnly` counts just the executions started
    * inside another one, e.g. a streaming `foreachBatch` body's (the
    * micro-batch runs it inside its own execution).
    */
  def executionsDuring[T](sc: SparkContext, nestedOnly: Boolean = false)(
      body: => T): (T, Int) =
    countDuring(sc) {
      case e: SparkListenerSQLExecutionStart =>
        !nestedOnly || e.rootExecutionId.exists(_ != e.executionId)
      case _ => false
    }(body)

  private def countDuring[T](sc: SparkContext)(
      counts: SparkListenerEvent => Boolean)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counts(e)) started.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (counts(e)) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
