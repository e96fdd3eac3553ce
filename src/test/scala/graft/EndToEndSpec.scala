package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import graft.api.Vcut
import graft.operators.{FuzzyOccurrence, TranscribeStub}
import graft.sources.TranscriptJson

/** The whole reference pipeline in one test, audio-in to
  * occurrences-out: stub-transcribe binary audio pages → nested-JSON
  * sink and re-read (K5/S2 round trip) → fuzzy occurrence sync —
  * proving the stages compose on the same relations the reference
  * passes between its cron stages.
  */
class EndToEndSpec extends SparkFunSuite {
  import spark.implicits._

  test("audio bytes → transcripts → occurrences, end to end") {
    // two recordings, two audio pages each; payload bytes drive the
    // deterministic stub segments
    val audio = Seq(
      ("BVe2e1", 0, Array.fill[Byte](256)(1)),
      ("BVe2e1", 1, Array.fill[Byte](320)(2)),
      ("BVe2e2", 0, Array.fill[Byte](192)(3))
    ).toDF("bvid", "page", "payload")

    val segments = TranscribeStub.transcribe(audio)
    assert(segments.count() == 4 + 5 + 3)

    // K5: persist as the reference's nested JSON documents, re-read S2
    val outDir = tempDir("e2e_json").toString
    TranscriptJson.assembleNested(segments)
      .write.mode("overwrite").json(outDir)
    val reread = spark.read
      .schema("bvid STRING, pages ARRAY<ARRAY<STRUCT<start: DOUBLE, text: STRING>>>")
      .json(outDir)
      .select(col("bvid"), posexplode(col("pages")).as(Seq("page", "segs")))
      .select(col("bvid"), col("page"), posexplode(col("segs")).as(Seq("seg_idx", "seg")))
      .select(col("bvid"), col("page"), col("seg_idx"),
        col("seg.start").as("start"), col("seg.text").as("text"))
    assert(reread.count() == segments.count())

    // probe = the first two stub segments of BVe2e1 page 0 → must be
    // found at score 100, page 1, start 0
    val probeText = segments
      .where(col("bvid") === "BVe2e1" && col("page") === 0 && col("seg_idx") < 2)
      .orderBy("seg_idx").select("text").as[String].collect().mkString("\n")
    val songs = Seq((7L, probeText)).toDF("song_id", "lyrics")
    val occ = FuzzyOccurrence.scan(
      reread.withColumnRenamed("bvid", "recording_id"), songs, 40.0)
      .collect()
    val hit = occ.find(r => r.getString(1) == "BVe2e1").get
    assert(hit.getInt(2) == 1 && hit.getDouble(3) == 0.0 &&
      hit.getDouble(4) == 100.0)
  }

  test("EP1 discovery end to end: paged listing → parsed archives → snapshot table, idempotent") {
    import graft.sources.v2.PagedArchiveSource
    val dir = tempDir("e2e_disc").toString + "/archives"
    def run(): Long = Vcut.discoverNewRecordingsIncremental(
      spark, Seq(201L, 202L), dir,
      classOf[DiscoveryFetcher].getName, pageSize = 2)

    val tableSchema = Vcut.archiveTableSchema
    def table() = graft.sinks.SnapshotMerge.read(spark, dir, tableSchema)

    // run 1: full backfill. Creator 201 serves 3 parseable titles + 1
    // junk (dropped by the F1 filter); creator 202 serves 2 parseable.
    DiscoveryFetcher.newestFirst = false
    assert(run() == 5)
    val t1 = table()
    assert(t1.count() == 5)
    assert(t1.where(col("bvid") === "BVjunk").isEmpty, "unparseable title must be dropped")
    assert(t1.columns.contains("cover") && !t1.columns.contains("pic"))
    // partitioned by mid inside the snapshot batch dirs
    assert(t1.select("mid").distinct().count() == 2)

    // run 2: nothing new upstream → one page per creator, no commit
    DiscoveryFetcher.pages.clear()
    val store = new graft.sinks.SnapshotStore(spark, new org.apache.hadoop.fs.Path(dir))
    val v1 = store.currentVersion()
    assert(run() == 0)
    assert(store.currentVersion() == v1, "no-op run must not commit a new version")
    assert(DiscoveryFetcher.pagesFetched == Set((201L, 1), (202L, 1)),
      "a creator with nothing new costs exactly one page")

    // run 3: one new upload for 201 → only it is ingested. 201's two
    // past-anchor records exactly fill page 1, so the walk probes
    // page 2 and stops at its first (anchored) record; 202 still
    // costs one page.
    DiscoveryFetcher.newestFirst = true
    DiscoveryFetcher.pages.clear()
    assert(run() == 1)
    val t3 = table()
    assert(t3.count() == 6)
    assert(t3.where(col("bvid") === "BVnew").count() == 1)
    assert(DiscoveryFetcher.pagesFetched ==
      Set((201L, 1), (201L, 2), (202L, 1)))
  }

  test("a committing discoverNewRecordingsIncremental call runs at most 4 SQL executions") {
    val dir = tempDir("e2e_disc_exec").toString + "/archives"
    def run(): Long = Vcut.discoverNewRecordingsIncremental(
      spark, Seq(201L, 202L), dir,
      classOf[DiscoveryFetcher].getName, pageSize = 2)
    // the anchors collect, the insert's pin of the fetch, its pin of
    // the fresh rows and the staged write: every one pays planning and
    // code generation
    DiscoveryFetcher.newestFirst = false
    val (n1, e1) = JobCounter.executionsDuring(spark.sparkContext)(run())
    assert(n1 == 5 && e1 <= 4, s"first run: $n1 rows in $e1 SQL executions")
    DiscoveryFetcher.newestFirst = true
    val (n2, e2) = JobCounter.executionsDuring(spark.sparkContext)(run())
    assert(n2 == 1 && e2 <= 4, s"new upload: $n2 rows in $e2 SQL executions")
  }

  test("EP1 as a stream: checkpoint offsets replace table anchors across runs") {
    val root = tempDir("e2e_stream")
    val dir = root.resolve("archives").toString
    val ckpt = root.resolve("ckpt").toString
    val tableSchema = Vcut.archiveTableSchema
    def run() = Vcut.discoverNewRecordingsStream(
      spark, Seq(201L, 202L), dir, ckpt,
      classOf[DiscoveryFetcher].getName, pageSize = 2)
    def bvids() = graft.sinks.SnapshotMerge.read(spark, dir, tableSchema)
      .select("bvid").as[String].collect().toSet

    DiscoveryFetcher.newestFirst = false
    run()
    assert(bvids() == Set("BV201a", "BV201b", "BV201c", "BV202a", "BV202b"))

    // drained re-run commits nothing
    val store = new graft.sinks.SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(dir))
    val v = store.currentVersion()
    run()
    assert(store.currentVersion() == v)

    // a new upload arrives (creator 201 only); only it is ingested on
    // the next drain — and the freshness guard reads ONLY mid=201's
    // partition: a corrupt decoy planted in mid=202's committed dir
    // fails any whole-table guard scan loudly
    val batch202 = store.current().get._2("mid=202")
    val decoy = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(store.dataPath(batch202), "mid=202")
        .toUri.getPath,
      "part-99999-decoy.snappy.parquet")
    java.nio.file.Files.write(decoy, "not a parquet file".getBytes)
    DiscoveryFetcher.newestFirst = true
    run()
    assert(store.current().get._2("mid=202") == batch202,
      "mid=202 must carry forward by reference, untouched by the guard")
    java.nio.file.Files.delete(decoy)
    assert(bvids() ==
      Set("BV201a", "BV201b", "BV201c", "BV202a", "BV202b", "BVnew"))
  }

  test("EP2 discovery end to end: anchored listing → title extraction → song match → updated vtuber_songs") {
    // two vtubers; song 10 known to both, 11 only to profile 1,
    // 12 only to profile 2 (the known-but-not-in-profile case)
    val profiles = Seq((1L, 301L), (2L, 302L)).toDF("id", "mid")
    val songs = Seq(
      (10L, "最亮的星", "夜空中最亮的星"),
      (11L, "小半", "不敢回看"),
      (12L, "轨迹", "到底应该怎么办")
    ).toDF("id", "title", "lyrics_fragment")
    val vtuberSongs = Seq(
      (100L, 10L, 1L, "BVold1", 1000L),
      (102L, 11L, 1L, "BVold2", 1100L),
      (101L, 10L, 2L, "BVold3", 1200L),
      (103L, 12L, 2L, "BVold4", 900L)
    ).toDF("id", "song_id", "vtuber_profile_id", "bvid", "pubdate")

    SongVideoFetcher.pages.clear()
    val r1 = Vcut.discoverNewSongVideos(spark, profiles, songs, vtuberSongs,
      classOf[SongVideoFetcher].getName, pageSize = 2)

    // classification matches the reference's walk (modal/video.py:70-97)
    assert(r1.matched == 2 && r1.notSongTitle == 1 &&
      r1.unknownSong == 1 && r1.notInProfile == 2)
    val reasons = r1.skipped.collect()
      .map(r => r.getAs[String]("bvid") -> r.getAs[String]("reason")).toMap
    assert(reasons == Map("BVmix" -> "not_a_song_title",
      "BVunk" -> "unknown_song", "BVtraj" -> "not_in_profile",
      "BVxb" -> "not_in_profile"))

    // K3: exactly the matched vtuber_songs advance, others untouched
    val t1 = r1.updated.collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap
    assert(t1 == Map(
      100L -> ("BVstar1", 1500L), 101L -> ("BVstar3", 2050L),
      102L -> ("BVold2", 1100L), 103L -> ("BVold4", 900L)))

    // anchor early-stop: each walk ends at the first record at/below
    // its anchor — 301 stops on page 3's first record (BVbehind),
    // 302 on page 2's (BVoldest); the deeper history (BVdeep) is
    // never served to Spark and no page past the stop is fetched
    assert(SongVideoFetcher.pagesFetched ==
      Set((301L, 1), (301L, 2), (301L, 3), (302L, 1), (302L, 2)))

    // second run over the updated table: anchors advanced past every
    // ingested video → nothing matches, table unchanged (idempotent)
    val updated1 = r1.updated.localCheckpoint(true)
    SongVideoFetcher.pages.clear()
    val r2 = Vcut.discoverNewSongVideos(spark, profiles, songs, updated1,
      classOf[SongVideoFetcher].getName, pageSize = 2)
    assert(r2.matched == 0)
    assert(r2.updated.collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap == t1)
    assert(SongVideoFetcher.pagesFetched ==
      Set((301L, 1), (301L, 2), (302L, 1)),
      "a creator with nothing new past its anchor stays within the early-stop pages")
  }

  test("EP2: several new uploads of one song converge like the reference's sequential updates") {
    // the reference applies update_entries in listing order, so the
    // oldest new upload lands first; the NEXT run's anchor sits at its
    // pubdate and re-matches the newer upload — convergence after two
    // runs, then a no-op (modal/video.py:92-98 + db/song.py:59-85)
    val profiles = Seq((1L, 401L)).toDF("id", "mid")
    val songs = Seq((10L, "小半", "不敢回看")).toDF("id", "title", "lyrics_fragment")
    val vs0 = Seq((100L, 10L, 1L, "BV0", 1000L))
      .toDF("id", "song_id", "vtuber_profile_id", "bvid", "pubdate")
    def run(vs: org.apache.spark.sql.DataFrame) =
      Vcut.discoverNewSongVideos(spark, profiles, songs, vs,
        classOf[DupSongFetcher].getName, pageSize = 30)
    def row(r: graft.api.SongVideoDiscovery) = {
      val t = r.updated.localCheckpoint(true)
      (t, t.collect().map(x => (x.getString(3), x.getLong(4))).head)
    }

    val r1 = run(vs0)
    assert(r1.matched == 2)
    val (t1, v1) = row(r1)
    assert(v1 == ("BVv1", 2000L), "oldest new upload wins run 1 (reference's last-executed update)")
    val r2 = run(t1)
    assert(r2.matched == 1)
    val (t2, v2) = row(r2)
    assert(v2 == ("BVv2", 3000L), "anchor at 2000 re-matches the newer upload")
    val r3 = run(t2)
    assert(r3.matched == 0, "converged: third run is a no-op")
  }

  test("EP2 as a stream: checkpoint offsets replace song anchors; each drain commits the converged state") {
    import graft.sinks.{SnapshotMerge, SnapshotStore}
    import graft.sources.v2.ArchiveRecord
    val root = tempDir("e2e_ep2s")
    val dir = root.resolve("vtuber_songs").toString
    val ckpt = root.resolve("ckpt").toString
    val profiles = Seq((1L, 501L)).toDF("id", "mid")
    val songs = Seq((10L, "小半", "不敢回看"), (11L, "轨迹", "到底应该怎么办"))
      .toDF("id", "title", "lyrics_fragment")
    // snapshot vtuber_song table, hash-bucketed on id (buckets = 4)
    val seed = Seq(
      (100L, 10L, 1L, "BV0", 1000L, 0L),
      (101L, 11L, 1L, "BV1", 1500L, 1L))
      .toDF(Vcut.vtuberSongTableSchema.fieldNames: _*)
    SnapshotMerge.upsertUpdate(spark, dir, seed, Seq("id"), Seq("bucket"))
    val store = new SnapshotStore(spark, new org.apache.hadoop.fs.Path(dir))
    val seedBucket1 = store.current().get._2("bucket=1")
    def run() = Vcut.discoverNewSongVideosStream(spark, profiles, songs,
      dir, ckpt, classOf[GrowingSongFetcher].getName, pageSize = 2, buckets = 4)
    def table() = SnapshotMerge.read(spark, dir, Vcut.vtuberSongTableSchema)
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap

    // drain 1: junk title + TWO takes of song 10 → one batch commits
    // the converged state (newest take), unlike the batch entry point
    // which reaches it over two cron-parity runs; song 11 untouched
    GrowingSongFetcher.records = Seq(
      ArchiveRecord("BVjunk", "剪辑合集", 3500L),
      ArchiveRecord("BVv2", "《小半》v2", 3000L),
      ArchiveRecord("BVv1", "《小半》v1", 2000L))
    run()
    assert(table() == Map(100L -> ("BVv2", 3000L), 101L -> ("BV1", 1500L)))
    assert(store.current().get._2("bucket=1") == seedBucket1,
      "bucket of the unmatched song must carry forward by reference")

    // drain 2: nothing new upstream → no commit (and the junk upload
    // is never re-examined — offsets advanced past it, where the
    // reference's cron re-lists it every run forever)
    val v = store.currentVersion()
    run()
    assert(store.currentVersion() == v)

    // drain 3: a new take of song 11 → only its bucket updates
    GrowingSongFetcher.records =
      ArchiveRecord("BVv3", "深情『轨迹』", 4000L) +: GrowingSongFetcher.records
    run()
    assert(table() == Map(100L -> ("BVv2", 3000L), 101L -> ("BVv3", 4000L)))
  }

  test("EP1 backfill: two-sided window ingests older history the anchors skip") {
    val dir = tempDir("e2e_bf").toString + "/archives"
    val tableSchema = Vcut.archiveTableSchema
    // seed: only the MIDDLE of 201's history is ingested (ts2..ts3) —
    // newer (BVnew ts10) and older (BV201a ts1) both exist upstream
    DiscoveryFetcher.newestFirst = true
    val seed = Seq(
      (201L, "BV201b", "2025年8月2日20点场 杂谈", "p2.jpg",
        DiscoveryFetcher.ts(2), new java.sql.Timestamp(0L)),
      (201L, "BV201c", "2025年8月3日20点场 歌回", "p3.jpg",
        DiscoveryFetcher.ts(3), new java.sql.Timestamp(0L)))
      .toDF(tableSchema.fieldNames: _*)
    graft.sinks.SnapshotMerge.upsertIgnore(spark, dir, seed, Seq("bvid"), Seq("mid"))

    // anchors-only run would never see BV201a; the backfill run must
    val n = Vcut.discoverNewRecordingsIncremental(
      spark, Seq(201L), dir, classOf[DiscoveryFetcher].getName,
      pageSize = 2, backfillLimit = 10)
    val bvids = graft.sinks.SnapshotMerge.read(spark, dir, tableSchema)
      .select("bvid").as[String].collect().toSet
    assert(bvids == Set("BV201a", "BV201b", "BV201c", "BVnew"), s"got $bvids")
    assert(n == 2, "exactly the two out-of-window parseable records ingest")
  }
}

/** Synthetic song-video listing for the EP2 test: per-creator pages,
  * pubdate-descending, with one title per classification outcome the
  * reference logs (`modal/video.py:70-97`) plus history behind each
  * creator's anchor that the early-stop must never fetch.
  */
class SongVideoFetcher extends graft.sources.v2.PageFetcher {
  import SongVideoFetcher._
  override def keys(): Seq[Long] = Seq(301L, 302L)
  override def fetch(key: Long, pn: Int, pageSize: Int)
      : Seq[graft.sources.v2.ArchiveRecord] = {
    pages.put((key, pn), true)
    listing(key).slice((pn - 1) * pageSize, pn * pageSize)
  }
}

object SongVideoFetcher {
  import graft.sources.v2.ArchiveRecord
  val pages = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Boolean]()
  def pagesFetched: Set[(Long, Int)] = {
    import scala.jdk.CollectionConverters._
    pages.keySet.asScala.toSet
  }
  def listing(key: Long): Seq[ArchiveRecord] =
    if (key == 301L) Seq(
      ArchiveRecord("BVmix", "高光合集剪辑", 2000L),
      ArchiveRecord("BVunk", "翻唱《未知之歌》", 1900L),
      ArchiveRecord("BVtraj", "无与伦比翻唱『轨迹』", 1800L),
      ArchiveRecord("BVstar1", "痛彻心扉翻唱《最亮的星》", 1500L),
      ArchiveRecord("BVbehind", "《最亮的星》旧版", 1000L),
      ArchiveRecord("BVdeep", "《小半》远古录播", 500L))
    else Seq(
      ArchiveRecord("BVxb", "温柔女声「小半」", 2100L),
      ArchiveRecord("BVstar3", "《最亮的星》新录", 2050L),
      ArchiveRecord("BVoldest", "《轨迹》录播", 1100L))
}

/** Single-creator song-video listing that grows between streaming
  * drains — the upstream of the EP2 stream test.
  */
class GrowingSongFetcher extends graft.sources.v2.PageFetcher {
  override def keys(): Seq[Long] = Seq(501L)
  override def fetch(key: Long, pn: Int, pageSize: Int)
      : Seq[graft.sources.v2.ArchiveRecord] =
    GrowingSongFetcher.records.slice((pn - 1) * pageSize, pn * pageSize)
}

object GrowingSongFetcher {
  @volatile var records: Seq[graft.sources.v2.ArchiveRecord] = Nil // newest first
}

/** One creator uploading TWO new takes of the same known song — the
  * duplicate-update case of the EP2 convergence test.
  */
class DupSongFetcher extends graft.sources.v2.PageFetcher {
  override def keys(): Seq[Long] = Seq(401L)
  override def fetch(key: Long, pn: Int, pageSize: Int)
      : Seq[graft.sources.v2.ArchiveRecord] = {
    import graft.sources.v2.ArchiveRecord
    Seq(ArchiveRecord("BVv2", "《小半》v2", 3000L),
      ArchiveRecord("BVv1", "《小半》v1", 2000L))
      .slice((pn - 1) * pageSize, pn * pageSize)
  }
}

/** Synthetic bilibili listing for the EP1 test: per-creator recording
  * pages, newest-first, titles in the reference's `…年…月…日…点场`
  * format (plus one junk title the F1 parse must drop). Flipping
  * `newestFirst` simulates a new upload appearing after the first
  * ingest.
  */
class DiscoveryFetcher extends graft.sources.v2.PageFetcher {
  import DiscoveryFetcher._
  override def keys(): Seq[Long] = Seq(201L, 202L)
  override def fetch(key: Long, pn: Int, pageSize: Int)
      : Seq[graft.sources.v2.ArchiveRecord] = {
    pages.put((key, pn), true)
    listing(key).slice((pn - 1) * pageSize, pn * pageSize)
  }
}

object DiscoveryFetcher {
  import graft.sources.v2.ArchiveRecord
  @volatile var newestFirst = false // true => BVnew exists upstream
  val pages = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Boolean]()
  def pagesFetched: Set[(Long, Int)] = {
    import scala.jdk.CollectionConverters._
    pages.keySet.asScala.toSet
  }
  // pubdates: 2025-08-0{d} 20:00 +08 as epoch seconds, descending
  def ts(day: Int): Long = 1753963200L + day * 86400L
  def listing(key: Long): Seq[ArchiveRecord] = {
    val base =
      if (key == 201L) Seq(
        ArchiveRecord("BVjunk", "【剪辑】高光合集", ts(9), "p0.jpg"),
        ArchiveRecord("BV201c", "2025年8月3日20点场 歌回", ts(3), "p3.jpg"),
        ArchiveRecord("BV201b", "2025年8月2日20点场 杂谈", ts(2), "p2.jpg"),
        ArchiveRecord("BV201a", "2025年8月1日20点场 初见", ts(1), "p1.jpg"))
      else Seq(
        ArchiveRecord("BV202b", "2025年8月5日20点场 翻唱", ts(5), "q5.jpg"),
        ArchiveRecord("BV202a", "2025年8月4日20点场 闲聊", ts(4), "q4.jpg"))
    if (newestFirst && key == 201L)
      ArchiveRecord("BVnew", "2025年8月10日20点场 新回放", ts(10), "pn.jpg") +: base
    else base
  }
}
