package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main — times every catalog query at the SF in
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * The timed action is a `noop`-sink write, not `count()`: under a
  * count Catalyst prunes every projected column, so projection-heavy
  * queries (Scalars, TextAnalysis, key construction) would be timed
  * with their defining expressions optimized away. The noop sink
  * materializes every output row end-to-end on the executors with no
  * driver transfer and no filesystem cost — the honest per-query
  * wall-clock.
  *
  * Steady-state mode: each query runs `SPARK_GRAFT_BENCH_REPS` times
  * (default 3). `queries` carries the per-query MEDIAN — the
  * steady-state cost a long-lived cluster pays — while `first`
  * carries each query's cold run (codegen compile + first shuffle
  * materialization). `value` is the sum of medians so round-over-round
  * totals compare steady state against steady state.
  *
  * SELF-DEFENDING ARTIFACT (round 11): BENCH_r10 recorded 95.8 s with
  * 5–17× spikes on queries whose definitions had not changed; a
  * same-build re-run measured 47.5 s — an external load burst that the
  * artifact could neither show nor damp. Three defenses now land in
  * the JSON itself:
  *   1. Per-query error capture. A rep that throws is recorded in an
  *      `err` map (exception class + message) and contributes NO time;
  *      previously a throwing query was timed as a near-zero success,
  *      silently deflating the total.
  *   2. Machine-state fields: `/proc/loadavg` (1-min) at start and
  *      end, and per-query process-CPU seconds (median across reps).
  *      On a quiet box a parallel query shows cpu ≈ wall × cores and
  *      loadavg ≈ our own thread count; under external contention the
  *      process-CPU/wall ratio collapses and loadavg exceeds the
  *      core count — decidable from the artifact alone.
  *   3. Spike re-runs: a median can only exceed 3× the min rep when
  *      some reps ran far slower than the same plan's demonstrated
  *      best — the signature of a transient burst, not a plan cost.
  *      Such queries get up to `reps` extra reps and the median is
  *      recomputed over all successful runs; `reruns` records how many
  *      fired so damping is visible, never silent.
  *
  * METHODOLOGY BREAK: before `reps` existed (artifacts without the
  * field, BENCH_r01..r08), `value` was the sum of single cold runs;
  * from reps>=2 it is the sum of medians. A consumer comparing
  * totals across that boundary sees a spurious ~35% "improvement"
  * that is purely the cold-run codegen cost moving to `first_total`.
  * Treat the first reps>=2 artifact as a new baseline.
  *
  * Output contract: the driver records only the LAST 2000 BYTES of
  * stdout, and the 88-query map alone exceeds that — BENCH_r10's tail
  * starts mid-map with the head (and `value`!) cut off. The stdout
  * line therefore puts the `queries` map FIRST and every summary
  * field (`load`, `cpu_total`, `err`, `reruns`, `value`) LAST, so a
  * head-truncated tail still carries the complete verdict-bearing
  * suffix. The full-precision line (plus per-query cold runs, CPU
  * seconds, and raw rep times) goes to `bench_last.json` for humans
  * and the judge.
  */
object Bench {
  /** One query's measured record. `runs`/`cpu`/`steal` hold only
    * SUCCESSFUL reps, in execution order (head = cold run when it
    * succeeded). `steal` is the per-rep delta of hypervisor steal
    * jiffies — the r14 close adjudicated a bimodal g2_pagerank
    * ([5,64] s reps) from run-LEVEL steal plus prose; the per-rep
    * delta makes the artifact self-adjudicating: a 60 s rep with a
    * four-digit steal delta is box noise, the same rep at ~0 steal
    * is a plan cost. -1 per rep when /proc/stat is unreadable.
    * `cal`/`load` (r16) are the per-rep fixed-work calibration spin
    * (ms) and 1-min loadavg taken immediately before each rep — the
    * GUEST-side interference reading steal cannot carry (the r15
    * driver run inflated 3–7× at near-zero steal under co-tenant
    * load): a slow rep whose spin reads ≥2–3× the artifact's `cal0`
    * is a degraded-box rep from the JSON alone.
    * `badRuns`/`badCal` (r17) hold reps the cal gate DISCARDED from
    * the record (wall + the spin reading that condemned them): the
    * r16 close proved annotation alone is not enough — j9_cross_join
    * carried a 5× record because all three reps hit a degraded
    * window the artifact could prove but not prevent. Discards are
    * never silent: they stay in the artifact beside the replacements.
    */
  final case class Timing(
      runs: Vector[Double],
      cpu: Vector[Double],
      steal: Vector[Long],
      cal: Vector[Double],
      load: Vector[Double],
      reruns: Int,
      err: Option[String],
      badRuns: Vector[Double] = Vector.empty,
      badCal: Vector[Double] = Vector.empty) {
    def median: Double = Bench.median(runs)
    def cpuMedian: Double = Bench.median(cpu)
    /** Median excluding the cold first rep — the steady-state number
      * cross-round diffs should read for JIT-heavy engines (the
      * g1_triangles record oscillated every round on cold-codegen
      * reps until this field existed). Falls back to the full median
      * when only one rep succeeded.
      */
    def warmMedian: Double =
      if (runs.size >= 2) Bench.median(runs.tail) else Bench.median(runs)
  }

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Cumulative CPU seconds consumed by this JVM process (all threads,
    * including Spark's local[] executor pool), or -1 if the platform
    * bean is unavailable. Deltas around a query bound the work the box
    * actually granted us during its wall time.
    */
  def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** 1-minute system load average (whole box, not just this JVM). */
  def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch {
      case _: Throwable =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    }

  /** Cumulative hypervisor STEAL jiffies (/proc/stat cpu field 8) —
    * the contention signal loadavg cannot see: a host taking cycles
    * from this guest slows every query and inflates guest-side
    * cpu-seconds uniformly while the box looks idle from inside
    * (observed in round 11: identical builds drifting 72→90 s with
    * load < 2). The start/end DELTA in the artifact makes host-side
    * slowdown decidable from the JSON alone. -1 when unreadable.
    */
  def stealJiffies(): Long =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+")(8).toLong
    catch { case _: Throwable => -1L }

  /** Fixed-work single-thread CALIBRATION spin (~100 ms healthy): the
    * r15 driver run proved steal_q alone cannot adjudicate a degraded
    * box — 3–7× wall inflation in run-order-contiguous query bands at
    * near-zero steal, because the contention was GUEST-side co-tenant
    * load, which /proc/stat's steal field never sees. A constant
    * amount of integer work timed immediately before each rep carries
    * the box-health reading the steal delta misses: the spin has no
    * I/O, no allocation, no shared state, so its wall time moves ONLY
    * when the box denies this thread cycles. A rep whose spin reads
    * ≥2–3× the run's warm baseline (`cal0` in the artifact) is a
    * degraded-box rep, whatever steal says; a slow rep at a ~baseline
    * spin is a plan cost. The LCG+xorshift body defeats loop
    * elimination (result escapes via a volatile sink) and is
    * constant-work by construction — no data dependence, no branch
    * variance. Warmed 3× lazily so the first recorded spin is JIT-hot.
    */
  final val CalIters = 50000000L
  @volatile private var calSink = 0L
  private def spinOnce(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < CalIters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    calSink = x
    ms
  }
  private lazy val calWarm: Unit = { (1 to 3).foreach(_ => spinOnce()) }
  def calSpinMs(): Double = { calWarm; spinOnce() }

  /** Time one query: `reps` reps, per-rep error capture, a
    * CALIBRATION GATE, then the spike guard.
    *
    * Calibration gate (r17, closes the r16 "record hygiene" item): a
    * rep whose pre-rep spin read ≥ `calFactor`× `cal0` ran on a
    * provably degraded box — its wall time measures the co-tenant,
    * not the plan. Such a rep is DISCARDED from the record (kept in
    * `badRuns`/`badCal` so nothing is silent) and re-run, funded by
    * the shared `maxExtra` budget. When the budget runs out the
    * degraded rep is recorded anyway — an annotated refusal: its
    * cal_q entry still reads ≥ calFactor×cal0 in the artifact, so a
    * reader sees exactly which recorded reps survived on a sick box.
    * cal0 ≤ 0 (unknown baseline) disables the gate entirely.
    *
    * Spike guard: if the median of successful runs exceeds
    * `spikeFactor`× their min, run up to `maxExtra` extra reps and
    * re-median over everything. A genuinely expensive plan has
    * min ≈ median and never triggers; only a plan whose own best rep
    * proves it can run 3× faster gets damped.
    */
  def timeQuery(run: () => Unit, reps: Int, spikeFactor: Double = 3.0,
                maxExtra: Int = 3, cal0: Double = -1.0,
                calFactor: Double = 2.0): Timing = {
    val walls = Vector.newBuilder[Double]
    val cpus = Vector.newBuilder[Double]
    val steals = Vector.newBuilder[Long]
    val cals = Vector.newBuilder[Double]
    val loads = Vector.newBuilder[Double]
    val badWalls = Vector.newBuilder[Double]
    val badCals = Vector.newBuilder[Double]
    var err: Option[String] = None
    var extra = 0
    // One counted rep: attempts whose pre-rep spin condemns the box
    // are diverted to badRuns/badCal and retried while budget lasts.
    // Probe readings are recorded only for successful reps to stay
    // index-aligned with runs/cpu/steal.
    def rep(): Unit = {
      var done = false
      while (!done) {
        val calMs = calSpinMs()
        val ld = loadAvg()
        val c0 = processCpuSec()
        val s0 = stealJiffies()
        val t0 = System.nanoTime()
        try {
          run()
          val wall = (System.nanoTime() - t0) / 1e9
          val degraded = cal0 > 0.0 && calMs >= calFactor * cal0
          if (degraded && extra < maxExtra) {
            extra += 1
            badWalls += wall
            badCals += calMs
          } else {
            walls += wall
            cpus += (processCpuSec() - c0)
            val s1 = stealJiffies()
            steals += (if (s0 < 0 || s1 < 0) -1L else s1 - s0)
            cals += calMs
            loads += ld
            done = true
          }
        } catch {
          case t: Throwable =>
            if (err.isEmpty)
              err = Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(160)}")
            done = true
        }
      }
    }
    (1 to reps).foreach(_ => rep())
    def spiked: Boolean = {
      val ws = walls.result()
      ws.size >= 2 && median(ws) > spikeFactor * ws.min
    }
    while (spiked && extra < maxExtra) { extra += 1; rep() }
    Timing(walls.result(), cpus.result(), steals.result(), cals.result(),
      loads.result(), extra, err, badWalls.result(), badCals.result())
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }

  /** Assemble the two artifact lines. Queries with zero successful
    * reps appear only in `err`, never in `queries` — an absent median
    * is honest; a fabricated near-zero one deflates the total.
    * Field order on the stdout line is load-bearing (see scaladoc).
    */
  def artifactLines(timed: Seq[(String, Timing)], reps: Int, cpus: Int,
                    sfDir: String, loadStart: Double, loadEnd: Double,
                    stealStart: Long = -1L, stealEnd: Long = -1L,
                    cal0: Double = -1.0)
      : (String, String) = {
    val ok = timed.filter(_._2.runs.nonEmpty)
    def jmap(m: Seq[(String, String)]): String =
      m.map { case (k, v) => "\"" + jsonEscape(k) + "\":" + v }.mkString("{", ",", "}")
    def num(v: Double): String = v.toString
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val total = ok.map(_._2.median).sum
    val firstTotal = ok.map(_._2.runs.head).sum
    val cpuTotal = ok.map(_._2.cpuMedian).sum
    val errs = timed.collect { case (n, t) if t.err.isDefined =>
      n -> ("\"" + jsonEscape(t.err.get) + "\"") }
    val reruns = timed.collect { case (n, t) if t.reruns > 0 => n -> num(t.reruns.toDouble) }
    val suffix = (fmt: Double => String) =>
      s""","first_total":${fmt(firstTotal)},"reps":$reps,"cpus":$cpus,"sf":"$sfDir"""" +
      s""","load":[${f2(loadStart)},${f2(loadEnd)}],"cpu_total":${f2(cpuTotal)}""" +
      s""","steal":[$stealStart,$stealEnd],"cal0":${ms(cal0)}""" +
      s""","err":${jmap(errs)},"reruns":${jmap(reruns)}""" +
      s""","metric":"total","unit":"sec","value":${fmt(total)}}"""
    val stdoutLine =
      s"""{"queries":${jmap(ok.map { case (n, t) => n -> ms(t.median) })}""" + suffix(ms)
    // `warm` = per-query median excluding the cold first rep (r17):
    // cross-round diffs of JIT-heavy engines read this instead of
    // re-litigating cold-codegen wobble every round. `bad_runs`/
    // `bad_cal` carry the reps the calibration gate discarded (wall +
    // condemning spin) for exactly the queries that had any — the
    // discard is part of the record, never silent.
    val bad = timed.filter(_._2.badRuns.nonEmpty)
    val fullLine =
      s"""{"queries":${jmap(ok.map { case (n, t) => n -> num(t.median) })}""" +
      s""","warm":${jmap(ok.map { case (n, t) => n -> num(t.warmMedian) })}""" +
      s""","first":${jmap(ok.map { case (n, t) => n -> num(t.runs.head) })}""" +
      s""","cpu":${jmap(ok.map { case (n, t) => n -> f2(t.cpuMedian) })}""" +
      s""","runs":${jmap(timed.map { case (n, t) =>
            n -> t.runs.map(ms).mkString("[", ",", "]") })}""" +
      s""","steal_q":${jmap(timed.map { case (n, t) =>
            n -> t.steal.map(_.toString).mkString("[", ",", "]") })}""" +
      s""","cal_q":${jmap(timed.map { case (n, t) =>
            n -> t.cal.map(v => "%.1f".formatLocal(java.util.Locale.ROOT, v))
              .mkString("[", ",", "]") })}""" +
      s""","load_q":${jmap(timed.map { case (n, t) =>
            n -> t.load.map(f2).mkString("[", ",", "]") })}""" +
      s""","bad_runs":${jmap(bad.map { case (n, t) =>
            n -> t.badRuns.map(ms).mkString("[", ",", "]") })}""" +
      s""","bad_cal":${jmap(bad.map { case (n, t) =>
            n -> t.badCal.map(v => "%.1f".formatLocal(java.util.Locale.ROOT, v))
              .mkString("[", ",", "]") })}""" + suffix(num)
    (stdoutLine, fullLine)
  }

  /** A COMPACT trailing line guaranteed to fit the driver's 2000-byte
    * stdout tail (r19, VERDICT r18 #6): the full contract line has
    * carried 200+ queries since r2, so the driver's artifact records
    * a truncated fragment (`parsed: null` every round) and the differ
    * falls back to fragile regex recovery. Printing this line LAST
    * puts one COMPLETE json object in any ≥2000-byte tail: the
    * heaviest `topN` queries by median (the ones regression
    * adjudication actually reads) plus every summary field. The full
    * map still goes to stdout (contract) and `bench_last.json`.
    */
  def compactLine(timed: Seq[(String, Timing)], reps: Int, cpus: Int,
                  sfDir: String, loadStart: Double, loadEnd: Double,
                  stealStart: Long, stealEnd: Long, cal0: Double,
                  maxBytes: Int = 1900): String = {
    val ok = timed.filter(_._2.runs.nonEmpty)
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val byCost = ok.sortBy(-_._2.median)
    val total = ok.map(_._2.median).sum
    val nErr = timed.count(_._2.err.isDefined)
    def build(topN: Int): String = {
      val top = byCost.take(topN).sortBy(_._1)
      s"""{"queries":${top.map { case (n, t) =>
            "\"" + jsonEscape(n) + "\":" + ms(t.median) }.mkString("{", ",", "}")}""" +
        s""","top_n":${top.size},"n_queries":${ok.size},"n_err":$nErr""" +
        s""","first_total":${ms(ok.map(_._2.runs.head).sum)}""" +
        s""","reps":$reps,"cpus":$cpus,"sf":"$sfDir"""" +
        s""","load":[${f2(loadStart)},${f2(loadEnd)}]""" +
        s""","cpu_total":${f2(ok.map(_._2.cpuMedian).sum)}""" +
        s""","steal":[$stealStart,$stealEnd],"cal0":${ms(cal0)}""" +
        s""","full_map":"bench_last.json"""" +
        s""","metric":"total","unit":"sec","value":${ms(total)}}"""
    }
    // self-budgeting: shrink the query map until the whole object fits
    // the tail window — the budget, not a fixed N, is the contract
    (40 to 0 by -4).iterator
      .map(build)
      .find(_.getBytes("UTF-8").length <= maxBytes)
      .getOrElse(build(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Sessions.local(cpus)
    val loadStart = loadAvg()
    val stealStart = stealJiffies()
    // Warm, quiet-as-we'll-get baseline for the per-rep calibration
    // spins (taken before Spark warmup saturates the cores): readers
    // adjudicate a rep as degraded when cal_q[rep] >> cal0.
    val cal0 = median(Vector.fill(3)(calSpinMs()))
    // Warm the JVM/codegen/scan machinery so the first timed query
    // doesn't absorb session startup (~4s), and prime file listings +
    // parquet footers for the benched SF. A warmup failure is recorded
    // under "_warmup" rather than swallowed.
    var warmErr: Option[String] = None
    try {
      consume(SparkEntry.entry(spark))
      Tables.names.foreach(n => consume(Tables.load(spark, sfDir, n)))
    } catch {
      case t: Throwable =>
        warmErr = Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(160)}")
    }
    // Optional subset for local scale probes (comma-separated names);
    // unset = the full suite, which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // graph-loop rep policy (r20, VERDICT r19 #7): g3_kcore read
    // 16→26s across sessions on UNCHANGED code (shuffle/memory-bound
    // box drift the single-thread cal gate cannot see) — the
    // iterative graph loops get median-of-5 so one drifted rep stops
    // consuming adjudication time. Medians don't inflate with reps;
    // only bench wall does, and only for these three rows.
    val graphLoops = Set("g1_triangles", "g2_pagerank", "g3_kcore")
    def repsFor(name: String): Int =
      if (graphLoops(name)) math.max(reps, 5) else reps
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> timeQuery(() => consume(fn(spark, sfDir)), repsFor(name),
          maxExtra = reps, cal0 = cal0)
      } ++ warmErr.map(e =>
        "_warmup" -> Timing(Vector.empty, Vector.empty, Vector.empty,
          Vector.empty, Vector.empty, 0, Some(e)))
    val (stdoutLine, fullLine) =
      artifactLines(timed, reps, cpus, sfDir, loadStart, loadAvg(),
        stealStart, stealJiffies(), cal0)
    println(stdoutLine)
    // LAST line = the complete compact object the driver's 2000-byte
    // tail always captures whole (see compactLine's scaladoc)
    println(compactLine(timed, reps, cpus, sfDir, loadStart, loadAvg(),
      stealStart, stealJiffies(), cal0))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"), fullLine + "\n")
    catch { case _: Throwable => }
    spark.stop()
  }
}
