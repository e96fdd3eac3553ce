package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.JobCounter
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Vcut
import graft.sources.TranscriptJson

/** End-to-end test of the domain API against the FIXTURES.md §B golden
  * fixtures: the full EP3 sync (fuzzy scan → profile attribution →
  * skip → upsert), the NULL-state stage machine, discovery-time date
  * parsing, title extraction, and object-key layout.
  */
class VcutApiSpec extends SparkFunSuite {
  import spark.implicits._

  // B1: one vtuber with data, one without
  private def profiles = Seq((1L, 100L), (2L, 200L)).toDF("id", "mid")

  // B2: null / empty fragments get filtered; line counts 1–3
  private def songs = Seq(
    (10L, "最亮的星", "夜空中最亮的星\n能否听清\n那仰望的人"),
    (11L, "日月", "心中的日月"),
    (12L, "雪", "雪花飘飘\n北风萧萧"),
    (13L, "无词", null.asInstanceOf[String]),
    (14L, "空词", "")
  ).toDF("id", "title", "lyrics_fragment")

  // B3: song 10 known for BOTH vtubers (zip-filter case)
  private def vtuberSongs = Seq(
    (100L, 10L, 1L, "BVsong1", 1700000000L),
    (101L, 10L, 2L, "BVsong1b", 1700000001L),
    (102L, 11L, 1L, "BVsong2", 1700000002L),
    (103L, 12L, 1L, "BVsong3", 1700000003L)
  ).toDF("id", "song_id", "vtuber_profile_id", "bvid", "pubdate")

  // B4: one row per pipeline stage; BVdone is transcribed+scanned
  private val archiveSchema = StructType(Seq(
    StructField("id", LongType), StructField("vtuber_profile_id", LongType),
    StructField("bvid", StringType), StructField("title", StringType),
    StructField("pubdate", LongType), StructField("duration", IntegerType),
    StructField("cover", StringType),
    StructField("audio_object_keys", ArrayType(StringType)),
    StructField("transcript_object_key", StringType),
    StructField("last_song_occurrence_scan", TimestampType)))

  private def archives: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1000L, 1L, "BVstream", "2025年8月10日1点场 回放", 1754755200L, 3600,
        "c1", null, null, null),
      Row(1001L, 1L, "BVstream2", "2025年8月11日2点场 回放", 1754841600L, 3600,
        "c2", Seq.empty[String], null, null),
      Row(1002L, 1L, "BVtrans", "2025年8月12日3点场 回放", 1754928000L, 7200,
        "c3", Seq("audio/a1.mp4"), null, null),
      Row(1003L, 1L, "BVscan", "2025年8月13日1点场 回放", 1755014400L, 5400,
        "c4", null, "transcripts/t1.json", null),
      Row(1004L, 2L, "BVdone", "2025年8月14日2点场 回放", 1755100800L, 5400,
        "c5", null, "transcripts/t2.json",
        java.sql.Timestamp.valueOf("2025-08-15 00:00:00"))),
    archiveSchema)

  // B5: transcripts for the two transcribed archives
  private def writeTranscripts(): String = {
    val dir = tempDir("vcut_transcripts").toString
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val data = Map(
      // BVscan (profile 1): exact 3-line match on page 2; 1-line match
      "BVscan" -> Seq(
        Seq(3.0 -> "聊聊天", 9.0 -> "心中的日月在哪里", 14.0 -> "好听吗"),
        Seq(2.0 -> "夜空中最亮的星", 7.5 -> "能否听清", 12.0 -> "那仰望的人",
          17.0 -> "谢谢")),
      // BVdone (profile 2): song 10 appears → must attribute to
      // vtuber_song 101 (profile 2), NOT 100
      "BVdone" -> Seq(
        Seq(1.0 -> "开场", 6.0 -> "夜空中最亮的星", 11.0 -> "能否听清",
          16.0 -> "那仰望的人")))
    data.foreach { case (bvid, pages) =>
      val json = pages.map(p =>
        p.map { case (st, tx) => s"""{"start": $st, "text": "${esc(tx)}"}""" }
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      Files.writeString(Paths.get(s"$dir/$bvid.json"), json)
    }
    dir
  }

  test("stage machine queries select the right archives") {
    assert(Vcut.needsStream(archives).collect().map(_.getString(2)).toSet ==
      Set("BVstream", "BVstream2"))
    assert(Vcut.needsTranscribe(archives).collect().map(_.getString(2)).toSet ==
      Set("BVtrans"))
    assert(Vcut.needsOccurrenceScan(archives).collect().map(_.getString(2)).toSet ==
      Set("BVscan"))
  }

  test("needsStream orders newest-first and bounds the batch") {
    val one = Vcut.needsStream(archives, limit = 1).collect()
    assert(one.length == 1 && one(0).getString(2) == "BVstream2")
  }

  test("discovery drops unparsable titles and upserts on bvid") {
    val fetched = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(2000L, 1L, "BVnew", "2025年8月20日8点场 回放", 1755648000L, 100,
          "pic_url", null, null, null),
        Row(2001L, 1L, "BVbad", "no date here", 1755648001L, 100,
          "pic_url", null, null, null),
        Row(2002L, 1L, "BVstream", "2025年8月10日1点场 回放", 1754755200L, 999,
          "changed", null, null, null)),
      StructType(archiveSchema.fields.map(f =>
        if (f.name == "cover") f.copy(name = "pic") else f)))
      .withColumn("date", lit(null).cast("timestamp"))
    val out = Vcut.discoverNewRecordings(
      archives.withColumn("date", Vcut.parseArchiveDate(col("title"))), fetched)
    val bvids = out.select("bvid").as[String].collect().toSet
    assert(bvids == Set("BVstream", "BVstream2", "BVtrans", "BVscan",
      "BVdone", "BVnew")) // BVbad dropped, BVstream kept original
    assert(out.where(col("bvid") === "BVstream").select("duration")
      .as[Int].collect()(0) == 3600)
    // parsed date: 8点 Shanghai on Aug 20 = 00:00 UTC the same day
    val d = out.where(col("bvid") === "BVnew").select(
      date_format(col("date"), "yyyy-MM-dd HH:mm").as("d")).as[String].collect()(0)
    assert(d == "2025-08-20 00:00")
  }

  test("out-of-range date fields parse to NULL instead of aborting (ANSI)") {
    val got = Seq("2025年88月8日8点场 回放", "2025年2月30日0点场 回放",
      "2025年8月20日8点场 回放")
      .toDF("t").select(Vcut.parseArchiveDate(col("t")).as("d"))
      .select(col("d").isNull).as[Boolean].collect()
    assert(got(0) && got(1) && !got(2),
      "regex-matching but invalid dates must degrade to NULL (dropped at insert)")
  }

  test("song title extraction tries bracket styles in order") {
    val got = Seq("唱了《晴天》哦", "『夜曲』cover", "「告白气球」直播",
      "《优先》与『次之』", "没有书名号")
      .toDF("t").select(Vcut.extractSongTitle(col("t"))).as[String].collect()
    assert(got(0) == "晴天" && got(1) == "夜曲" && got(2) == "告白气球")
    assert(got(3) == "优先") // 《》 wins over 『』
    assert(got(4) == null)
  }

  test("EP3 syncOccurrences: attribution, skip, and force semantics") {
    val dir = writeTranscripts()
    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
    val existing = Seq((11L, 102L, 1003L, 999L, 9))
      .toDF("song_id", "vtuber_song_id", "live_recording_archive_id",
        "start", "page")

    val out = Vcut.syncOccurrences(existing, songs, vtuberSongs,
      archives, segments, threshold = 40.0)
      .select("song_id", "vtuber_song_id", "live_recording_archive_id",
        "start", "page")
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2)) ->
      (r.getLong(0), r.getLong(3), r.getInt(4))).toMap

    // song 10 on BVscan (profile 1) → vtuber_song 100, page 2, start 2
    assert(rows((100L, 1003L)) == ((10L, 2L, 2)))
    // song 10 on BVdone (profile 2) → vtuber_song 101 ONLY (zip filter)
    assert(rows((101L, 1004L)) == ((10L, 6L, 1)))
    assert(!rows.contains((100L, 1004L)) && !rows.contains((101L, 1003L)))
    // pre-existing (102, 1003) kept its old value (skip without force)
    assert(rows((102L, 1003L)) == ((11L, 999L, 9)))
    // null/'' fragment songs never match
    assert(!rows.keys.exists { case (vs, _) => vs > 103L })

    // with forceUpdate the stale row is recomputed: song 11 matches
    // page 1 of BVscan ('心中的日月在哪里' vs '心中的日月', score ≈ 62)
    val forced = Vcut.syncOccurrences(existing, songs, vtuberSongs,
      archives, segments, threshold = 40.0, forceUpdate = true)
      .select("song_id", "vtuber_song_id", "live_recording_archive_id",
        "start", "page")
      .collect().map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getLong(0), r.getLong(3), r.getInt(4))).toMap
    assert(forced((102L, 1003L)) == ((11L, 9L, 1)))
  }

  test("typed sync returns Dataset[SongOccurrence]") {
    val dir = writeTranscripts()
    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
    val existing = Seq.empty[(Long, Long, Long, Long, Int)]
      .toDF("song_id", "vtuber_song_id", "live_recording_archive_id",
        "start", "page")
    val ds = Vcut.syncOccurrencesTyped(existing, songs, vtuberSongs,
      archives, segments)
    val occ: Seq[graft.api.model.SongOccurrence] = ds.collect().toSeq
    assert(occ.exists(o => o.vtuber_song_id == 101L && o.page == 1))
  }

  test("search point query finds the planted lyric") {
    val dir = writeTranscripts()
    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
    val hit = Vcut.search(segments, "BVscan", "夜空中最亮的星\n能否听清\n那仰望的人")
      .collect()(0)
    assert(hit.getString(0) == "BVscan" && hit.getInt(1) == 2 &&
      hit.getDouble(2) == 2.0 && hit.getDouble(3) == 100.0)
  }

  test("a search over a 3-file glob is one job of one stage over one file; a new probe compiles nothing") {
    val dir = writeTranscripts()
    Files.writeString(Paths.get(s"$dir/BVthird.json"),
      """[[{"start": 0.5, "text": "北风萧萧"}, {"start": 3.0, "text": "雪花飘飘"}]]""")
    val segments = TranscriptJson.readSegments(spark, s"$dir/*.json")
    val first = Vcut.search(segments, "BVscan", "夜空中最亮的星\n能否听清")
    val (rows, jobs) = JobCounter.jobsDuring(spark.sparkContext)(first.collect())
    assert(rows.map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((2, 2.0, 100.0)))
    assert(jobs == 1, s"$jobs jobs")
    val plan = first.queryExecution.executedPlan
    val nodes = PlanNodes(plan)
    assert(!nodes.exists(n => n.isInstanceOf[ShuffleExchangeExec] ||
      n.isInstanceOf[BroadcastExchangeExec]), plan)
    assert(nodes.collect { case b: BatchScanExec => b.inputPartitions.length } == Seq(1), plan)

    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = Vcut.search(segments, "BVthird", "雪花飘飘\n北风萧萧").collect()
    assert(second.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("BVthird", 1)))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a search with a new probe text generated a new class")
  }

  test("markScanned advances state; anchors keep empty vtubers") {
    val marked = Vcut.markScanned(archives,
      Seq("BVscan").toDF("bvid"), "2025-08-16 00:00:00")
    assert(Vcut.needsOccurrenceScan(marked).count() == 0)

    val anchors = Vcut.songAnchors(profiles, vtuberSongs)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(anchors(1L).contains(1700000003L))
    assert(anchors(2L).contains(1700000001L))
    val recAnchors = Vcut.recordingAnchors(
      profiles, archives.where(col("vtuber_profile_id") === 1L))
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(recAnchors(1L).contains(1755014400L) && recAnchors(2L).isEmpty)
  }

  test("object keys follow the Shanghai-partitioned layout") {
    val df = Seq((100L, 1754755200L, "BVx", 1)).toDF("mid", "pubdate", "bvid", "page")
    val keys = df.select(
      Vcut.audioObjectKey(col("mid"), col("pubdate"), col("bvid"), col("page")),
      Vcut.transcriptObjectKey(col("mid"), col("pubdate"), col("bvid")))
      .collect()(0)
    // 1754755200 = 2025-08-09 16:00 UTC = 2025-08-10 00:00 Shanghai
    assert(keys.getString(0) == "audio/100/2025/08/10/BVx/1.mp4")
    assert(keys.getString(1) == "transcripts/100/2025/08/10/BVx.json")
  }
}
