package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark jobs or SQL executions a block starts, or collects
  * the plans it executes. The listener
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

  /** The executed plan of every Dataset action, checkpoint or write
    * command the block runs in `spark` (reported to a
    * `QueryExecutionListener` when it succeeds).
    */
  def plansDuring[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

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
