package graft

import graft.Bench.Timing

/** Pins the self-defending bench harness (VERDICT r10 "Next round" #1):
  * a throwing query lands in the `err` map with no fabricated time, a
  * spiked median triggers bounded re-runs, and the stdout line keeps
  * its verdict-bearing summary fields in the LAST bytes so the
  * driver's 2000-byte stdout tail never truncates them.
  */
class BenchSpec extends SparkFunSuite {

  test("throwing query is recorded as err with zero successful runs") {
    val t = Bench.timeQuery(() => throw new IllegalStateException("kaboom"), reps = 3)
    assert(t.runs.isEmpty)
    assert(t.cpu.isEmpty)
    assert(t.err.exists(e => e.contains("IllegalStateException") && e.contains("kaboom")))
  }

  test("partial failure keeps successful rep times and the error") {
    var n = 0
    val t = Bench.timeQuery(
      () => { n += 1; if (n == 2) throw new RuntimeException("flaky") },
      reps = 3, maxExtra = 0)
    assert(t.runs.size == 2)
    assert(t.err.exists(_.contains("flaky")))
  }

  test("spike guard re-runs when median exceeds 3x min, and is bounded") {
    // First two reps slow (simulated by sleeping), later reps fast:
    // the initial median (~50ms vs min ~0ms) trips the guard; extra
    // fast reps pull the median back down.
    var n = 0
    val t = Bench.timeQuery(
      () => { n += 1; if (n <= 2) Thread.sleep(80) }, reps = 3, maxExtra = 3)
    assert(t.reruns >= 1 && t.reruns <= 3)
    assert(t.runs.size == 3 + t.reruns)
    // A steady query (min ~ median) must never trigger re-runs.
    val steady = Bench.timeQuery(() => Thread.sleep(20), reps = 3, maxExtra = 3)
    assert(steady.reruns == 0)
  }

  test("artifact lines: err map, omitted failed query, tail-safe ordering") {
    val timed = Seq(
      "ok" -> Timing(Vector(0.5, 0.6, 0.7), Vector(1.0, 1.1, 1.2),
        Vector(12L, 0L, 3L), Vector(101.2, 99.8, 310.5), Vector(2.1, 2.0, 28.4),
        0, None),
      "boom" -> Timing(Vector.empty, Vector.empty, Vector.empty, Vector.empty,
        Vector.empty, 0, Some("IllegalStateException: \"quoted\" \n msg")))
    val (stdoutLine, fullLine) = Bench.artifactLines(
      timed, reps = 3, cpus = 4, sfDir = "/tmp/sf", loadStart = 1.23, loadEnd = 31.9,
      cal0 = 100.4)
    for (line <- Seq(stdoutLine, fullLine)) {
      // Valid single-line JSON despite quotes/newline in the message.
      assert(!line.contains("\n"))
      assert(line.contains(""""boom":"IllegalStateException:"""))
      // Failed query contributes no median and no time.
      assert(!line.contains(""""boom":0"""))
      assert(line.contains(""""ok":0.6"""))
      // Machine-state fields present.
      assert(line.contains(""""load":[1.23,31.90]"""))
      assert(line.contains(""""cpu_total":1.10"""))
      // Summary fields AFTER the queries map; value is the final field.
      assert(line.indexOf("\"queries\"") < line.indexOf("\"err\""))
      assert(line.trim.matches(""".*"metric":"total","unit":"sec","value":[0-9.]+}$"""))
    }
    // Full line additionally carries cold runs, cpu, raw reps, the
    // per-rep steal deltas, and (r16) the per-rep fixed-work
    // calibration spins + loadavg that adjudicate GUEST-side
    // interference steal cannot see: rep 3 here reads 3.1x cal0 at
    // load 28.4 — a degraded-box rep, decidable from the JSON alone.
    assert(fullLine.contains(""""first":{"ok":0.5}"""))
    assert(fullLine.contains(""""runs":{"ok":[0.500,0.600,0.700],"boom":[]}"""))
    assert(fullLine.contains(""""steal_q":{"ok":[12,0,3],"boom":[]}"""))
    assert(fullLine.contains(""""cal_q":{"ok":[101.2,99.8,310.5],"boom":[]}"""))
    assert(fullLine.contains(""""load_q":{"ok":[2.10,2.00,28.40],"boom":[]}"""))
    // The warm baseline the cal_q readings normalize against rides the
    // shared suffix of BOTH lines (tail-safe for the stdout artifact).
    for (line <- Seq(stdoutLine, fullLine)) assert(line.contains(""""cal0":100.400"""))
    // r17: warm (cold-rep-excluded) median beside the full median —
    // median of [0.6, 0.7] = 0.65 for "ok" (full-precision double
    // repr, hence the 0.6499… prefix check).
    assert(fullLine.contains(""""warm":{"ok":0.6499"""))
  }

  test("strm_* rows report the plain median like every other row") {
    // cold rep 5.0 lifts the median (2.0) above the warm median (1.5);
    // the warm figure belongs in `warm` only
    val timed = Seq(
      "strm_x" -> Timing(Vector(5.0, 1.0, 2.0), Vector(1.0, 1.0, 1.0),
        Vector(0L, 0L, 0L), Vector(100.0, 100.0, 100.0), Vector(1.0, 1.0, 1.0),
        0, None))
    val (stdoutLine, fullLine) = Bench.artifactLines(
      timed, reps = 3, cpus = 4, sfDir = "/tmp/sf", loadStart = 1.0, loadEnd = 1.0)
    assert(stdoutLine.startsWith("""{"queries":{"strm_x":2.000}"""))
    assert(stdoutLine.contains(""""value":2.000}"""))
    assert(fullLine.startsWith("""{"queries":{"strm_x":2.0}"""))
    assert(fullLine.contains(""""warm":{"strm_x":1.5}"""))
    val compact = Bench.compactLine(timed, reps = 3, cpus = 4, sfDir = "/tmp/sf",
      loadStart = 1.0, loadEnd = 1.0, stealStart = -1L, stealEnd = -1L, cal0 = -1.0)
    assert(compact.startsWith("""{"queries":{"strm_x":2.000}"""))
  }

  test("artifact records cal-gate discarded reps beside the replacements") {
    val timed = Seq(
      "hot" -> Timing(Vector(0.2, 0.21, 0.22), Vector(0.8, 0.8, 0.8),
        Vector(0L, 0L, 0L), Vector(102.0, 98.0, 100.0), Vector(1.0, 1.0, 1.0),
        2, None, badRuns = Vector(1.12, 0.83), badCal = Vector(587.4, 310.9)),
      "clean" -> Timing(Vector(0.1, 0.1, 0.1), Vector(0.4, 0.4, 0.4),
        Vector(0L, 0L, 0L), Vector(99.0, 99.0, 99.0), Vector(1.0, 1.0, 1.0),
        0, None))
    val (_, fullLine) = Bench.artifactLines(
      timed, reps = 3, cpus = 4, sfDir = "/tmp/sf", loadStart = 1.0, loadEnd = 1.0,
      cal0 = 100.0)
    // Discards present for the query that had them, absent otherwise
    // (the map carries only offenders — silence means no discards).
    assert(fullLine.contains(""""bad_runs":{"hot":[1.120,0.830]}"""))
    assert(fullLine.contains(""""bad_cal":{"hot":[587.4,310.9]}"""))
    assert(!fullLine.contains(""""bad_runs":{"hot":[1.120,0.830],"clean""""))
    // Discarded walls never pollute the median of record.
    assert(fullLine.contains(""""queries":{"hot":0.21"""))
  }

  test("cal gate discards degraded reps, bounded, and refuses annotated") {
    // cal0 so small every real spin reads "degraded": the gate must
    // burn the whole maxExtra budget on discards, then record the
    // remaining reps anyway (annotated refusal — their cal readings
    // stay >= 2x cal0 in the artifact).
    val t = Bench.timeQuery(() => Thread.sleep(2), reps = 2,
      maxExtra = 3, cal0 = 0.0001)
    assert(t.runs.size == 2, s"recorded reps: ${t.runs}")
    assert(t.badRuns.size == 3 && t.badCal.size == 3,
      s"discards: ${t.badRuns} / ${t.badCal}")
    assert(t.reruns == 3)
    assert(t.badCal.forall(_ >= 2 * 0.0001))
    // cal0 far above any real spin: the gate never fires.
    val clean = Bench.timeQuery(() => Thread.sleep(2), reps = 2,
      maxExtra = 3, cal0 = 1e9)
    assert(clean.badRuns.isEmpty && clean.runs.size == 2 && clean.reruns == 0)
    // cal0 unset (<= 0) disables the gate entirely.
    val off = Bench.timeQuery(() => Thread.sleep(2), reps = 2, maxExtra = 3)
    assert(off.badRuns.isEmpty && off.runs.size == 2)
  }

  test("warmMedian drops the cold rep; falls back on a single rep") {
    val t = Timing(Vector(5.0, 1.0, 1.2), Vector(1, 1, 1).map(_.toDouble),
      Vector(0L, 0L, 0L), Vector(100.0, 100.0, 100.0),
      Vector(1.0, 1.0, 1.0), 0, None)
    assert(t.warmMedian == 1.1)
    assert(t.median == 1.2)
    val one = t.copy(runs = Vector(5.0), cpu = Vector(1.0),
      steal = Vector(0L), cal = Vector(100.0), load = Vector(1.0))
    assert(one.warmMedian == 5.0)
  }

  test("real timeQuery captures one steal delta per successful rep") {
    val t = Bench.timeQuery(() => Thread.sleep(5), reps = 3, maxExtra = 0)
    assert(t.steal.size == t.runs.size)
    // deltas are non-negative on a live /proc/stat, or the -1 sentinel
    assert(t.steal.forall(s => s >= 0L || s == -1L))
  }

  test("real timeQuery captures one calibration spin and loadavg per rep") {
    val t = Bench.timeQuery(() => Thread.sleep(5), reps = 3, maxExtra = 0)
    assert(t.cal.size == t.runs.size)
    assert(t.load.size == t.runs.size)
    // The spin does fixed work: every reading is a real positive wall
    // time, and on any box it lands far above scheduler noise (>1 ms)
    // and below pathological (>60 s would mean the box gave us ~nothing).
    assert(t.cal.forall(c => c > 1.0 && c < 60000.0))
    // JIT-warmed: consecutive warm readings on one box should agree
    // within an order of magnitude. A single preempted spin CAN
    // legitimately exceed 10x on a contended box — the exact
    // condition the probe exists to detect — so retry once on a
    // fresh capture before calling the probe itself noisy
    // (ADVICE r16: a hard one-shot bound flakes under interference).
    val spread = t.cal.max / t.cal.min
    if (spread >= 10.0) {
      val t2 = Bench.timeQuery(() => Thread.sleep(5), reps = 3, maxExtra = 0)
      assert(t2.cal.max / t2.cal.min < 10.0,
        s"cal spread >= 10x on two independent captures: " +
          s"first=${t.cal}, second=${t2.cal}")
    }
    assert(t.load.forall(_ >= 0.0))
  }

  test("all-green artifact has empty err and reruns maps") {
    val timed = Seq("q" -> Timing(Vector(0.1, 0.1, 0.1), Vector(0.2, 0.2, 0.2),
      Vector(0L, 0L, 0L), Vector(100.0, 100.0, 100.0), Vector(1.0, 1.0, 1.0),
      0, None))
    val (stdoutLine, _) = Bench.artifactLines(timed, 3, 4, "/tmp/sf", 0.5, 0.5)
    assert(stdoutLine.contains(""""err":{}"""))
    assert(stdoutLine.contains(""""reruns":{}"""))
  }

  test("compact trailing line fits the driver's 2000-byte tail at 300 queries") {
    // the driver records only the LAST 2000 bytes of stdout — the
    // compact line printed last must be a complete json object inside
    // that window at ANY catalog size, with the heaviest queries and
    // the full summary present
    val timed = (1 to 300).map { i =>
      f"query_with_a_realistically_long_name_$i%03d" -> Timing(
        Vector(i * 0.01, i * 0.01, i * 0.01), Vector(0.2, 0.2, 0.2),
        Vector(0L, 0L, 0L), Vector(100.0, 100.0, 100.0),
        Vector(1.0, 1.0, 1.0), 0, None)
    }
    val line = Bench.compactLine(timed, 3, 32, "/root/testdata/sf0.1",
      0.5, 0.7, 10L, 20L, 101.3)
    assert(line.getBytes("UTF-8").length <= 2000,
      s"compact line is ${line.getBytes("UTF-8").length} bytes")
    assert(line.startsWith("{") && line.endsWith("}"))
    // heaviest query present, lightest absent (top-40 policy)
    assert(line.contains("query_with_a_realistically_long_name_300"))
    assert(!line.contains("query_with_a_realistically_long_name_001\""))
    assert(line.contains(""""n_queries":300""") &&
      line.contains(""""metric":"total""""))
    // parses as a flat json object: balanced braces, no raw newlines
    assert(!line.contains("\n") &&
      line.count(_ == '{') == line.count(_ == '}'))
  }
}
