package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One workload: set-up that builds its initial state through the program
  * (repeatable from scratch), one closed-loop step, and the final checks.
  */
trait Workload {
  /** About how long one step takes on four cores: a run makes
    * `--seconds / stepSeconds` steps, the same work whatever the speed.
    */
  def stepSeconds: Double
  def setup(round: Int): Unit
  def beginPhase(): Unit = ()
  def step(loop: Loop): Unit
  def finish(loop: Loop): Unit
}

/** The benchmark JVM: builds the session, sets the workload up `setups`
  * times, runs the timed phase (an untraced then a traced phase with
  * `--trace 1`), checks outputs, and writes `result.json` to the work dir.
  * A phase makes a fixed number of steps sized to last about `--seconds`,
  * so every run of a workload measures the same work: with a time limit
  * instead, faster runs would make more steps and reach warmer JIT and
  * larger tables, which widens the spread between runs.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *        --seed N --setups K
  */
object Main {
  import Harness._

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val inputs = Paths.get(opt("inputs"))
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val setups = opt.getOrElse("setups", "3").toInt

    val spark = session(work)
    val tracer = new Tracer(spark, trace)
    val run = new Run
    def workload(w: String): Workload = w match {
      case "vcut_cron" => new VcutCron(spark, tracer, inputs, work, run)
      case "catalog_mix" => new CatalogMix(spark, tracer, inputs, work, run, opt("seed").toLong)
      case "warehouse_rw" => new WarehouseRw(spark, tracer, inputs, work, run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (name == "train") {
      // class-loading training run for the build's class-data archive:
      // set every workload up once and run one warehouse round
      Seq("vcut_cron", "catalog_mix", "warehouse_rw").foreach { n =>
        val w = workload(n)
        w.setup(1)
        if (w.isInstanceOf[WarehouseRw]) w.step(new Loop(run, tracer))
      }
      spark.stop()
      System.exit(0)
    }
    val wl = workload(name)
    val steps = math.max(1, math.round(seconds / wl.stepSeconds).toInt)

    // set-up: round 1 counts from JVM start; later rounds rebuild the state
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val setupS = (1 to setups).map { r =>
      val t0 = now()
      wl.setup(r)
      if (r == 1) System.currentTimeMillis() / 1e3 - jvmStart else now() - t0
    }

    val cal = scala.collection.mutable.ArrayBuffer(calSpinMs(), calSpinMs(), calSpinMs())
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    var untracedOpsPerS = 0.0
    var phaseS = 0.0
    val phases = if (trace) Seq(false, true) else Seq(false)
    phases.foreach { traced =>
      val last = traced == phases.last
      run.ops.clear()
      tracer.clear()
      tracer.active = traced
      wl.beginPhase()
      heap.clear()
      val (gcN0, gcS0) = gc()
      val cpu0 = cpuSeconds()
      val (hr0, hw0) = hadoopBytes()
      val (wc0, sc0) = procIo()
      val steal0 = stealSeconds()
      val wall0 = now()
      val loop = new Loop(run, tracer)
      (1 to steps).foreach { _ =>
        wl.step(loop)
        loop.untimed(heap += liveHeapMb())
      }
      phaseS = loop.elapsed
      tracer.active = false
      val wall = now() - wall0
      val (gcN1, gcS1) = gc()
      val (hr1, hw1) = hadoopBytes()
      val (wc1, sc1) = procIo()
      run.layers("jvm.gc_s") = gcS1 - gcS0
      run.layers("jvm.gc_count") = (gcN1 - gcN0).toDouble
      run.layers("jvm.cpu_s") = cpuSeconds() - cpu0
      run.layers("jvm.cpu_util") = (cpuSeconds() - cpu0) / (wall * Cores)
      run.layers("hadoop.bytes_read_mb") = (hr1 - hr0) / 1048576.0
      run.layers("hadoop.bytes_written_mb") = (hw1 - hw0) / 1048576.0
      run.layers("proc.wchar_mb") = (wc1 - wc0) / 1048576.0
      run.layers("proc.syscalls") = (sc1 - sc0).toDouble
      run.layers("box.steal_s") = stealSeconds() - steal0
      if (!traced) untracedOpsPerS = run.ops.count(_.ok) / phaseS
      else {
        tracer.summarize(run)
        val tracedOpsPerS = run.ops.count(_.ok) / phaseS
        run.layers("trace.ops_per_s_untraced") = untracedOpsPerS
        run.layers("trace.ops_per_s_traced") = tracedOpsPerS
        run.layers("trace.overhead_share") =
          if (untracedOpsPerS > 0) 1.0 - tracedOpsPerS / untracedOpsPerS else 0.0
      }
      if (last) wl.finish(loop)
    }
    cal ++= Seq(calSpinMs(), calSpinMs(), calSpinMs())
    run.layers("box.cal_ms") = median(cal.toSeq)
    run.layers("box.loadavg") = loadAvg()
    tracer.writeSpans(work.resolve("spans.jsonl"))
    tracer.close()
    spark.stop()
    run.layers("sinks.tmp_leak_mb") = dirBytes(Paths.get(System.getProperty("java.io.tmpdir"))) / 1048576.0

    val ops = run.ops.map(o => obj(Seq("name" -> q(o.name), "kind" -> q(o.kind),
      "s" -> num(o.seconds), "ok" -> o.ok.toString)))
    val hashes = wl match {
      case c: CatalogMix => obj(c.hashes.toSeq.map { case (k, hs) =>
        k -> hs.map { case (r, h) => s"[$r,$h]" }.mkString("[", ",", "]") })
      case _ => "{}"
    }
    val out = obj(Seq(
      "workload" -> q(name),
      "trace" -> trace.toString,
      "setup_s" -> setupS.map(num).mkString("[", ",", "]"),
      "phase_s" -> num(phaseS),
      "heap_mb" -> heap.map(num).mkString("[", ",", "]"),
      "ops" -> ops.mkString("[", ",", "]"),
      "failures" -> run.failures.map(q).mkString("[", ",", "]"),
      "layers" -> obj(run.layers.toSeq.map { case (k, v) => k -> num(v) }),
      "hashes" -> hashes,
      "xmx_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0)))
    Files.writeString(work.resolve("result.json"), out + "\n")
    System.exit(0)
  }
}
