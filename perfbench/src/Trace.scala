package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. Times are epoch seconds so they line up
  * with the listener events Spark stamps in epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    t0: Double, t1: Double)

/** Spans around every call the benchmark makes into a layer, plus Spark,
  * Catalyst and streaming listeners. Listeners are registered only when
  * `enabled`; spans are recorded only while `active`, otherwise a span is
  * the bare call.
  */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  @volatile var active = false

  private val epochOffset = System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9
  private def clock(): Double = System.nanoTime() / 1e9 + epochOffset

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = 0
  private var nextId = 0

  def span[T](layer: String, name: String, root: Boolean = false)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val id = nextId
      if (root) opId = id
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = clock()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, layer, name, t0, clock())
      }
    }

  // ---- listener state (epoch-second stamps; filtered to windows) -----

  private final case class Job(t0: Double, t1: Double)
  private final case class Task(t: Double, runS: Double, cpuS: Double, waitS: Double,
      shufR: Long, shufW: Long, spill: Long, failed: Boolean)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobStarts = mutable.Map.empty[Int, Double]
  private val stages = mutable.ArrayBuffer.empty[Double]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = mutable.ArrayBuffer.empty[(Double, String, Double)]
  private val progress = mutable.ArrayBuffer.empty[(Double, Map[String, Double], Long)]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time / 1e3
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(t0 => jobs += Job(t0, e.time / 1e3))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) / 1e3
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      val run = if (m == null) 0L else m.executorRunTime
      tasks += Task(i.finishTime / 1e3, run / 1e3,
        if (m == null) 0.0 else m.executorCpuTime / 1e9,
        math.max(0L, i.duration - run) / 1e3,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        i.failed || i.killed)
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = clock()
      val ps = qe.tracker.phases
      Tracer.this.synchronized {
        Seq("analysis", "optimization", "planning").foreach { p =>
          ps.get(p).foreach(s => phases += ((t, p, s.durationMs / 1e3)))
        }
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
      Tracer.this.synchronized { progress += ((clock(), d, p.numInputRows)) }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- summary ---------------------------------------------------------

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  val layers: Seq[String] =
    Seq("bench", "api", "operators", "sources", "streaming", "sinks", "spark")

  /** Per-layer metrics over the op spans recorded so far (timed phase only:
    * the caller clears spans when the phase starts).
    */
  def summarize(run: Run): Unit = {
    drain()
    val ops = spans.filter(_.parent == 0)
    val win = ops.map(s => (s.t0, s.t1))
    def inOps(t: Double): Boolean = win.exists { case (a, b) => t >= a && t <= b + 0.05 }
    val opJobs = synchronized(jobs.toSeq).flatMap { j =>
      win.flatMap { case (a, b) =>
        val s = math.max(a, j.t0); val e = math.min(b, j.t1)
        if (e > s) Some((s, e)) else None
      }
    }
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val clip = (x: (Double, Double)) => (math.max(s.t0, x._1), math.min(s.t1, x._2))
      val kids: Seq[(Double, Double)] =
        children.get(s.id).map(_.toSeq).getOrElse(Seq.empty).map(c => (c.t0, c.t1))
      val covered = union((kids ++ opJobs).map(clip))
      val layer = if (s.layer == "op") "bench" else s.layer
      self(layer) += (s.t1 - s.t0) - covered
    }
    self("spark") = union(opJobs)
    layers.foreach(l => run.layers(s"self.${l}_s") = self(l))

    val opWall = ops.map(s => s.t1 - s.t0).sum
    val jobWall = union(opJobs)
    val ts = synchronized(tasks.toSeq).filter(t => inOps(t.t))
    run.layers("spark.jobs") = synchronized(jobs.toSeq).count(j => inOps(j.t1))
    run.layers("spark.stages") = synchronized(stages.toSeq).count(inOps)
    run.layers("spark.tasks") = ts.size
    run.layers("spark.tasks_failed") = ts.count(_.failed)
    run.layers("spark.job_s") = jobWall
    run.layers("spark.task_run_s") = ts.map(_.runS).sum
    run.layers("spark.task_cpu_s") = ts.map(_.cpuS).sum
    run.layers("spark.task_wait_s") = ts.map(_.waitS).sum
    run.layers("spark.slot_util") =
      if (jobWall > 0) ts.map(_.runS).sum / (jobWall * Harness.Cores) else 0.0
    run.layers("spark.shuffle_read_mb") = ts.map(_.shufR).sum / 1048576.0
    run.layers("spark.shuffle_write_mb") = ts.map(_.shufW).sum / 1048576.0
    run.layers("spark.spill_mb") = ts.map(_.spill).sum / 1048576.0
    run.layers("spark.driver_gap_s") = opWall - jobWall
    val ph = synchronized(phases.toSeq).filter(p => inOps(p._1))
    Seq("analysis", "optimization", "planning").foreach { p =>
      run.layers(s"spark.${p}_s") = ph.filter(_._2 == p).map(_._3).sum
    }
    val pr = synchronized(progress.toSeq).filter(p => inOps(p._1))
    def dur(k: String) = pr.map(_._2.getOrElse(k, 0.0)).sum
    run.layers("streaming.batches") = pr.count(p => p._3 > 0)
    run.layers("streaming.trigger_s") = dur("triggerExecution")
    run.layers("streaming.add_batch_s") = dur("addBatch")
    run.layers("streaming.query_planning_s") = dur("queryPlanning")
    run.layers("streaming.wal_commit_s") = dur("walCommit")
    run.layers("streaming.latest_offset_s") = dur("latestOffset")
    run.layers("streaming.input_rows") = pr.map(_._3).sum
    run.layers("sources.read_s") = dur("getBatch")
  }

  /** Drop everything recorded so far: the timed phase starts clean. */
  def clear(): Unit = {
    drain()
    spans.clear()
    synchronized { jobs.clear(); stages.clear(); tasks.clear(); phases.clear(); progress.clear() }
  }

  def layerTime(layer: String, name: String): Double =
    spans.filter(s => s.layer == layer && s.name == name).map(s => s.t1 - s.t0).sum

  def writeSpans(p: Path): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Harness.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "layer" -> Harness.q(s.layer), "name" -> Harness.q(s.name),
        "start" -> Harness.num(s.t0), "end" -> Harness.num(s.t1)))).append('\n')
    }
    Files.writeString(p, sb.toString)
  }
}
