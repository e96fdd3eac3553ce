package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

/** Empirical profiling loop (optimization guide §1.1) without the UI:
  * runs one or more catalog queries under a SparkListener and prints,
  * per query, the job count, per-job wall, and per-stage task counts /
  * shuffle bytes — the "which stage is slow and why" reading the
  * Stages tab would give. Not part of the driver contract.
  *
  * Usage: `runMain graft.JobProfile <query1,query2,…> [sfDir] [reps]`
  * (reps defaults to 2: the second run is the steady-state one the
  * bench medians measure; the first is cold codegen.)
  */
object JobProfile {
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class StageRec(stageId: Int, name: String, tasks: Int,
      ms: Long, shufRead: Long, shufWrite: Long)
  final case class JobRec(jobId: Int, desc: String, ms: Long,
      stages: Vector[StageRec])

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(Sessions.cpus)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stagesByJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Vector[Int]]()
    val stageRecs =
      new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, (e.time,
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
        stagesByJob.put(e.jobId, e.stageIds.toVector)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stageRecs.put(si.stageId, StageRec(si.stageId,
          si.name.takeWhile(_ != '\n').take(60), si.numTasks, ms,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (t0, desc) =>
          val sts = stagesByJob.getOrDefault(e.jobId, Vector.empty)
            .flatMap(id => Option(stageRecs.get(id)))
          done.add(JobRec(e.jobId, desc, e.time - t0, sts))
        }
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        done.clear()
        val t0 = System.nanoTime()
        consume(fn(spark, sfDir))
        val wallMs = (System.nanoTime() - t0) / 1e6
        // listener events are async; give the bus a moment to drain
        Thread.sleep(300)
        val recs = {
          import scala.jdk.CollectionConverters._
          done.asScala.toVector.sortBy(_.jobId)
        }
        val jobMs = recs.map(_.ms).sum
        println(f"== $name rep $rep: wall ${wallMs / 1000}%.2fs, " +
          f"${recs.size} jobs (sum ${jobMs / 1000.0}%.2fs, " +
          f"gap ${(wallMs - jobMs) / 1000}%.2fs driver-side)")
        if (rep == reps) {
          recs.foreach { j =>
            val stageStr = j.stages.map(s =>
              s"${s.stageId}:${s.tasks}t/${s.ms}ms" +
                (if (s.shufRead > 0) s"/r${s.shufRead / 1024}k" else "") +
                (if (s.shufWrite > 0) s"/w${s.shufWrite / 1024}k" else ""))
              .mkString(" ")
            println(f"   job ${j.jobId}%4d ${j.ms}%6dms  ${j.desc.take(48)}%-48s $stageStr")
          }
        }
      }
    }
    spark.stop()
  }
}
