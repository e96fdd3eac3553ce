package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.functions.FuzzUtils
import graft.operators.FuzzyOccurrence
import graft.sources.TranscriptJson

/** End-to-end differential test of the fuzzy-occurrence pipeline
  * (SURVEY.md §3 EP3) against a direct restatement of the reference's
  * loop semantics (`src/firefly_vcut/fuzz.py:3-43`): same windowing,
  * same whole-page fallback, same first-strictly-best tie-break, same
  * threshold — computed two independent ways and compared exactly.
  */
class FuzzyOccurrenceSpec extends SparkFunSuite {

  private def ratio(a: String, b: String): Double =
    FuzzUtils.ratio(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Loop restatement of fuzz.py:3-43 (page 1-based in the result). */
  private def refSearch(lyrics: String, pages: Seq[Seq[(Double, String)]])
      : Option[(Double, Double, Int)] = {
    val n = lyrics.split("\n", -1).length
    var best: Option[(Double, Double, Int)] = None
    var maxScore = 0.0
    for ((segs, page) <- pages.zipWithIndex if segs.nonEmpty) {
      val windows =
        if (segs.length < n) Seq(segs)
        else (0 to segs.length - n).map(i => segs.slice(i, i + n))
      for (w <- windows) {
        val score = ratio(lyrics, w.map(_._2).mkString("\n"))
        if (score > maxScore) {
          maxScore = score
          best = Some((score, w.head._1, page + 1))
        }
      }
    }
    best
  }

  // --- domain fixture (FIXTURES.md B2/B5) ---------------------------------

  private val songs: Seq[(Long, String)] = Seq(
    1L -> "夜空中最亮的星\n能否听清\n那仰望的人",      // exact planted match (3 lines)
    2L -> "夜空中最亮的星\n能否听清\n那仰慕的人猫",    // near match
    3L -> "完全不相关的歌词内容啊",                    // decoy, should stay <40
    4L -> "心中的日月",                               // 1-line fragment
    5L -> "雪花飘飘\n北风萧萧",                       // 2-line, matches short page fallback
    6L -> null,                                       // P4: NULL fragment filtered
    7L -> "",                                         // P4: empty fragment filtered
  )

  private val transcripts: Map[String, Seq[Seq[(Double, String)]]] = Map(
    // 2-page transcript: planted exact 3-line match mid page 2 (0-based 1)
    "BVabc" -> Seq(
      Seq(2.0 -> "大家晚上好", 9.5 -> "今天唱几首歌", 15.0 -> "先喝口水",
        21.0 -> "夜空中最亮的星", 26.0 -> "能否听清", 31.0 -> "那仰望的人不对重来"),
      Seq(3.0 -> "开始了", 8.0 -> "夜空中最亮的星", 13.0 -> "能否听清",
        18.5 -> "那仰望的人", 24.0 -> "谢谢大家")),
    // short page (1 segment < n=2) exercises whole-page fallback
    "BVshort" -> Seq(
      Seq(5.0 -> "雪花飘飘北风萧萧"),
      Seq(1.0 -> "随便聊聊", 6.0 -> "心中的日月在哪里", 11.0 -> "再见")),
    // empty transcript: reference raises (cmdline.py:314-315); engine
    // emits no rows
    "BVempty" -> Seq.empty,
  )

  private def writeTranscriptJson(dir: String): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    transcripts.foreach { case (bvid, pages) =>
      val json = pages.map(p =>
        p.map { case (st, tx) => s"""{"start": $st, "text": "${esc(tx)}"}""" }
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      Files.writeString(Paths.get(s"$dir/$bvid.json"), json)
    }
  }

  test("pipeline matches reference loop semantics on domain fixture") {
    import spark.implicits._
    val dir = tempDir("transcripts").toString
    writeTranscriptJson(dir)

    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
      .withColumnRenamed("bvid", "recording_id")
    val songsDf = songs.toDF("song_id", "lyrics")

    val got = FuzzyOccurrence.scan(segments, songsDf, threshold = 40.0)
      .select("song_id", "recording_id", "page", "start", "score")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getInt(2), r.getDouble(3), r.getDouble(4)))
      .toMap

    val want = (for {
      (songId, lyrics) <- songs
      if lyrics != null && lyrics.nonEmpty // P4 filter (dblocal.py:80)
      (bvid, pages) <- transcripts
      (score, start, page) <- refSearch(lyrics, pages)
      if score >= 40.0
    } yield (songId, bvid) -> (page, start, score)).toMap

    assert(got.keySet == want.keySet,
      s"key sets differ: got=${got.keySet} want=${want.keySet}")
    got.foreach { case (k, (page, start, score)) =>
      val (wPage, wStart, wScore) = want(k)
      assert(page == wPage && start == wStart && math.abs(score - wScore) < 1e-9,
        s"$k: got ($page,$start,$score) want ($wPage,$wStart,$wScore)")
    }

    // hard pins: the planted exact match
    assert(got((1L, "BVabc")) == ((2, 8.0, 100.0)))
    // empty transcript contributed nothing
    assert(!got.keys.exists(_._2 == "BVempty"))
    // decoy stayed under threshold
    assert(!got.contains((3L, "BVabc")) && !got.contains((3L, "BVshort")))
    // whole-page fallback matched the 1-segment page
    assert(got.contains((5L, "BVshort")) && got((5L, "BVshort"))._1 == 1)
  }

  test("nested JSON round-trip (S2 read → K5 assemble)") {
    val dir = tempDir("transcripts2").toString
    writeTranscriptJson(dir)
    val segs = TranscriptJson.readSegments(spark, s"$dir/*.json")
    assert(segs.columns.toSeq ==
      Seq("bvid", "page", "seg_idx", "start", "text"))
    val nested = TranscriptJson.assembleNested(segs).collect()
    val byBvid = nested.map(r => r.getString(0) ->
      r.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)).toMap
    assert(byBvid("BVabc").length == 2)
    assert(byBvid("BVabc")(1).length == 5)
    // empty transcript yields no segments → absent from reassembly
    assert(!byBvid.contains("BVempty"))
  }

  test("flagship documents query finds planted probes at score 100") {
    val df = FuzzyOccurrence.queries("fuzzy_occurrence")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every probe must at minimum find itself, exactly
    val self = rows.filter(r => r.getLong(0) == r.getLong(1))
    val probes = FuzzyOccurrence.documentProbes(spark, sfDir).count()
    assert(self.length == probes.toInt)
    assert(self.forall(_.getDouble(4) == 100.0))
  }

  test("flagship matches the committed sf0.01 golden file exactly") {
    // Hard regression gate for the one headline query whose driver
    // check is rows-only: full-frame equality against a reviewed
    // golden dump (FIXTURES.md §C documents regeneration). A scoring
    // or windowing regression that keeps the row count stable cannot
    // slip through this.
    val golden = spark.read.parquet(
      "src/test/resources/golden/fuzzy_occurrence_sf0.01.parquet")
    val got = FuzzyOccurrence.queries("fuzzy_occurrence")(spark, "/root/testdata/sf0.01")
    assert(got.schema.fieldNames.sameElements(golden.schema.fieldNames))
    val extra = got.exceptAll(golden).count()
    val missing = golden.exceptAll(got).count()
    assert(extra == 0 && missing == 0,
      s"flagship drifted from golden: $extra unexpected rows, $missing missing rows")
  }

  test("flagship matches the committed sf0.1 canonical hash") {
    // The sf0.01 golden pins a full frame; this pins the BENCH-scale
    // output as one committed hash (a frame dump at sf0.1 would be a
    // 39k-row fixture), so segmenter/scoring/plan changes are caught
    // at the scale where they are measured. Doubles hash by IEEE bit
    // pattern — the output is bit-deterministic (NOTES_r1 §Verified).
    val rows = FuzzyOccurrence.queries("fuzzy_occurrence")(
      spark, "/root/testdata/sf0.1").collect()
    val lines = rows.map { r =>
      Seq(r.getLong(0).toString, r.getLong(1).toString, r.getInt(2).toString,
        java.lang.Double.doubleToLongBits(r.getDouble(3)).toString,
        java.lang.Double.doubleToLongBits(r.getDouble(4)).toString,
        r.getString(5)).mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    val hash = md.digest().map("%02x".format(_)).mkString
    assert(rows.length == 38792 && hash == "f3698127d2047d601b9f9c0a31b6c861",
      s"flagship drifted at sf0.1: rows=${rows.length} md5=$hash")
  }

  test("fuzzy_jaro_winkler: blocked join is an equi-join, never a cross") {
    // the record-linkage scale contract: candidate pairs come from the
    // (brand, noun) equi-join — a cartesian/nested-loop here would be
    // corpus² at 100 TB
    val df = SparkEntry.queries("fuzzy_jaro_winkler")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked JW join degraded to a cross:\n$plan")
    // spot-check one scored pair end-to-end against the kernel
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= 800000L && r.getLong(2) <= 1000000L))
  }
}
