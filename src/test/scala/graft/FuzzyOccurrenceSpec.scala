package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Inline
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.functions.{FuzzUtils, FuzzyScan}
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

  // --- the engine contract, restated without Spark ------------------------

  /** One recording: (page, segments in seg_idx order) with (start, text). */
  private type Rec = Seq[(Int, Seq[(Option[Double], Option[String])])]

  /** `scan`'s contract in plain Scala: windows in (page asc, w0 asc)
    * order, null texts skipped with no separator, first strictly best
    * window per (song, recording), threshold after the arg-max, scored
    * through the DP oracle.
    */
  private def contractScan(recs: Map[String, Rec], songs: Seq[(Long, String)],
      threshold: Double): Set[(Long, String, Int, Option[Double], Double, String)] =
    (for {
      (songId, lyrics) <- songs if lyrics != null && lyrics.nonEmpty
      n = lyrics.count(_ == '\n') + 1
      (rec, pages) <- recs.toSeq
      best <- {
        var best: Option[(Double, Int, Option[Double], String)] = None
        for ((page, segs) <- pages.sortBy(_._1) if segs.nonEmpty) {
          val windows =
            if (segs.length < n) Seq(segs) else segs.sliding(n).toSeq
          for (w <- windows) {
            val text = w.flatMap(_._2).mkString("\n")
            val la = lyrics.codePointCount(0, lyrics.length)
            val lb = text.codePointCount(0, text.length)
            val score = 100.0 * (1.0 -
              FuzzUtils.indelDistanceDP(lyrics, text).toDouble / (la + lb))
            if (best.forall(score > _._1)) best = Some((score, page + 1, w.head._1, text))
          }
        }
        best
      }
      if best._1 >= threshold
    } yield (songId, rec, best._2, best._3, best._1, best._4)).toSet

  test("scan ≡ the engine contract on seeded random recordings") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a small pool of segment texts makes exact ties across pages
    // common; supplementary-plane codepoints count as one unit each
    val chars = "夜空中最亮的星能否听清那仰望的人abc 𝄞🎵".codePoints().toArray
    def word(rnd: scala.util.Random, len: Int): String =
      new String(Array.fill(len)(chars(rnd.nextInt(chars.length))), 0, len)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val pool = IndexedSeq.fill(12)(word(rnd, 1 + rnd.nextInt(8)))
      def text(): Option[String] = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some("")
        case _ => Some(pool(rnd.nextInt(pool.length)))
      }
      // 0–12 segments per page index: 0 is an empty page (no rows)
      val recs: Map[String, Rec] = (0 until 10).map { r =>
        s"R$r" -> (0 until 1 + rnd.nextInt(4)).map { page =>
          page -> Seq.fill(rnd.nextInt(13))(
            (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(1000) / 4.0), text()))
        }
      }.toMap
      // 1–4 lines; planted lines from the pool or random words, sized
      // so some lyrics exceed 64 and 128 codepoints
      val songs: Seq[(Long, String)] = (1 to 16).map { k =>
        val lines = 1 + rnd.nextInt(4)
        val perLine = Seq(4, 24, 45)(k % 3)
        k.toLong -> (if (k % 2 == 0) Seq.fill(lines)(pool(rnd.nextInt(pool.length)))
          else Seq.fill(lines)(word(rnd, 1 + rnd.nextInt(perLine)))).mkString("\n")
      } ++ Seq(17L -> null, 18L -> "", 19L -> "a\n", 20L -> word(rnd, 140))
      assert(songs.exists(s => s._2 != null && s._2.codePointCount(0, s._2.length) > 128))

      val segSchema = StructType(Seq(StructField("recording_id", StringType),
        StructField("page", IntegerType), StructField("seg_idx", IntegerType),
        StructField("start", DoubleType), StructField("text", StringType)))
      val rows = rnd.shuffle(for {
        (rec, pages) <- recs.toSeq
        (page, segs) <- pages
        ((start, t), i) <- segs.zipWithIndex
      } yield Row(rec, page, i, start.map(Double.box).orNull, t.orNull))
      val segments = spark.createDataFrame(java.util.Arrays.asList(rows: _*), segSchema)
      val songsDf = spark.createDataFrame(
        java.util.Arrays.asList(songs.map { case (id, l) => Row(id, l) }: _*),
        StructType(Seq(StructField("song_id", LongType), StructField("lyrics", StringType))))

      for (threshold <- Seq(0.0, 40.0)) {
        val got = FuzzyOccurrence.scan(segments, songsDf, threshold).collect().map { r =>
          (r.getLong(0), r.getString(1), r.getInt(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4), r.getString(5))
        }
        val want = contractScan(recs, songs, threshold)
        assert(got.length == got.toSet.size)
        assert(got.toSet == want,
          s"seed $seed threshold $threshold: extra ${got.toSet -- want}, missing ${want -- got.toSet}")
        // at threshold 0 every scoring song keeps one window per recording
        if (threshold == 0.0) assert(want.size ==
          songs.count(s => s._2 != null && s._2.nonEmpty) * recs.count(_._2.exists(_._2.nonEmpty)))
      }
    }
  }

  test("scan plans one shuffle, generates only through the kernel, joins by no hash") {
    import spark.implicits._
    val segments = Seq(("BV", 0, 0, 0.0, "夜空中最亮的星"), ("BV", 0, 1, 5.0, "能否听清"),
      ("BW", 1, 0, 2.0, "那仰望的人")).toDF("recording_id", "page", "seg_idx", "start", "text")
    val songs = Seq((1L, "夜空中最亮的星\n能否听清"), (2L, "那仰望的人")).toDF("song_id", "lyrics")
    val df = FuzzyOccurrence.scan(segments, songs, 40.0)
    assert(df.collect().length == 2)
    val nodes = PlanNodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, plan)
    val gens = nodes.collect { case g: GenerateExec => g.generator }
    assert(gens.length == 1 && gens.head.isInstanceOf[Inline] &&
      gens.head.children.head.isInstanceOf[FuzzyScan], plan)
    assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
  }

  test("scan over readSegments plans no shuffle: the transcript source is key-grouped") {
    val dir = tempDir("transcripts_kg").toString
    writeTranscriptJson(dir)
    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
      .withColumnRenamed("bvid", "recording_id")
    import spark.implicits._
    val df = FuzzyOccurrence.scan(segments, songs.toDF("song_id", "lyrics"), 40.0)
    assert(df.collect().nonEmpty)
    val nodes = PlanNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]), df.queryExecution.executedPlan)
    val scans = nodes.collect { case b: BatchScanExec => b }
    assert(scans.length == 1 && scans.head.keyGroupedPartitioning.isDefined,
      df.queryExecution.executedPlan)
  }

  test("fuzzy_occurrence_q runs the flagship's kernel with the Levenshtein scorer") {
    val df = SparkEntry.queries("fuzzy_occurrence_q")(spark, sfDir)
    val kernels = PlanNodes(df.queryExecution.executedPlan)
      .flatMap(_.expressions.flatMap(_.collect { case k: FuzzyScan => k }))
    assert(kernels.nonEmpty && kernels.forall(_.scorer == FuzzyScan.Levenshtein),
      df.queryExecution.executedPlan.toString)
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
