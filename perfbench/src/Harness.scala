package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. */
final case class Op(name: String, kind: String, t0: Double, t1: Double, ok: Boolean) {
  def seconds: Double = t1 - t0
}

/** What a workload hands back: its op log plus the layer counters it keeps. */
final class Run {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  def fail(msg: String): Unit = { failures += msg; Console.err.println(s"[perfbench] check failed: $msg") }
}

object Harness {
  val Cores = 4

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, now() - t0)
  }

  /** The session every workload runs in: local[4], the library's usual
    * settings, and every scratch location under the run's work dir.
    */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.hadoop.FastLocalFs].getName)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val json = new ObjectMapper()
  def readJson(p: Path): JsonNode = json.readTree(p.toFile)
  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** path -> size of every regular file under `p`. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** Bytes of a snapshot table's newest manifest, in KB. */
  def manifestKb(root: String): Double = {
    val d = Paths.get(root, "manifests")
    if (!Files.exists(d)) 0.0
    else {
      val st = Files.list(d)
      try {
        val fs = st.iterator().asScala.filter(_.getFileName.toString.startsWith("v-")).toSeq
        if (fs.isEmpty) 0.0 else Files.size(fs.maxBy(_.getFileName.toString)) / 1024.0
      } finally st.close()
    }
  }

  // ---- monitors: the process and the machine -------------------------

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gc(): (Long, Double) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount.max(0L)).sum, bs.map(_.getCollectionTime.max(0L)).sum / 1e3)
  }

  /** Heap in use after a full collection, in MB. The second collection
    * runs after Spark's context cleaner has dropped the broadcast, cached and
    * shuffle state the first one released, so the reading is the live set.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  private def readProc(f: String): String =
    try new String(Files.readAllBytes(Paths.get(f))) catch { case _: Throwable => "" }

  /** (wchar, syscr + syscw) from /proc/self/io. */
  def procIo(): (Long, Long) = {
    val kv = readProc("/proc/self/io").linesIterator.map(_.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("wchar", 0L), kv.getOrElse("syscr", 0L) + kv.getOrElse("syscw", 0L))
  }

  /** Hypervisor steal, seconds (USER_HZ = 100). */
  def stealSeconds(): Double =
    readProc("/proc/stat").linesIterator.toSeq.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong / 100.0).getOrElse(0.0)

  def loadAvg(): Double =
    readProc("/proc/loadavg").trim.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)

  /** Hadoop FileSystem statistics of the local scheme: (bytes read, written). */
  def hadoopBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Fixed-work single-thread spin (same body as graft.Bench's
    * calibration): its wall time moves only when the machine denies this
    * thread cycles.
    */
  @volatile private var sink = 0L
  def calSpinMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 50000000L) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  // ---- JSON output ----------------------------------------------------

  def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
}

/** Timed-phase bookkeeping for one closed-loop client: runs ops one after
  * another, records their latency, and keeps a clock that excludes the
  * benchmark's own output checks.
  */
final class Loop(run: Run, tracer: Tracer) {
  private var active = 0.0
  private var resumedAt = Harness.now()
  private var nextId = 0

  def elapsed: Double = active + (Harness.now() - resumedAt)

  /** Run `body` outside the phase clock (output checks, size walks). */
  def untimed[T](body: => T): T = {
    active += Harness.now() - resumedAt
    try body finally resumedAt = Harness.now()
  }

  /** One operation: job group per op, a root span, latency, failure capture. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    nextId += 1
    val sc = tracer.spark.sparkContext
    sc.setJobGroup(s"perfbench-op-$nextId", s"$kind:$name", interruptOnCancel = false)
    val t0 = Harness.now()
    try {
      val r = tracer.span("op", name, root = true)(body)
      run.ops += Op(name, kind, t0, Harness.now(), ok = true)
      Some(r)
    } catch {
      case t: Throwable =>
        val msg = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
        run.ops += Op(name, kind, t0, Harness.now(), ok = false)
        run.fail(s"$name threw $msg")
        None
    } finally sc.clearJobGroup()
  }

  def count(name: String): Int = run.ops.count(_.name == name)
  def countKind(kind: String): Int = run.ops.count(_.kind == kind)

  /** Mark the most recent op as failed by its output check. */
  def failLast(msg: String): Unit = {
    val i = run.ops.size - 1
    if (i >= 0) run.ops(i) = run.ops(i).copy(ok = false)
    run.fail(msg)
  }
}
