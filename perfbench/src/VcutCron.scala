package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Vcut
import graft.sinks.{SnapshotMerge, SnapshotStore}
import graft.sources.TranscriptJson
import graft.sources.v2.{ArchiveRecord, PageFetcher}
import graft.streaming.OccurrenceStream

/** The creator listing the cron tick pages through. Spark instantiates
  * the fetcher by class name, so the listing lives in the companion.
  */
class BenchFetcher extends PageFetcher {
  override def keys(): Seq[Long] = BenchFetcher.byMid.keys.toSeq.sorted
  override def fetch(key: Long, pn: Int, pageSize: Int): Seq[ArchiveRecord] = {
    BenchFetcher.pages.incrementAndGet()
    BenchFetcher.visible(key).slice((pn - 1) * pageSize, pn * pageSize)
  }
}

object BenchFetcher {
  final case class Rec(id: Long, bvid: String, title: String, pubdate: Long, mid: Long, tick: Int)
  @volatile var byMid: Map[Long, Seq[Rec]] = Map.empty
  /** Uploads up to and including this tick are listed (-1 = history only). */
  @volatile var tick: Int = -1
  val pages = new AtomicLong()
  def visible(mid: Long): Seq[ArchiveRecord] =
    byMid.getOrElse(mid, Nil).filter(_.tick <= tick).sortBy(-_.pubdate)
      .map(r => ArchiveRecord(r.bvid, r.title, r.pubdate))
}

/** vcut_cron: one reference cron tick per write op — discover the new
  * uploads through the paged source, land their transcripts in the drop
  * folder, drain it with the snapshot occurrence stream — then one read op
  * that reads the result back (a search probe and the occurrence table).
  */
final class VcutCron(spark: SparkSession, tracer: Tracer, inputs: Path, work: Path,
    run: Run) extends Workload {
  import Harness._
  import BenchFetcher.Rec

  private val in = inputs.resolve("vcut")
  private val doc = readJson(in.resolve("songs.json"))
  private val listing = elems(readJson(in.resolve("listing.json"))).map(n => Rec(
    n.get("id").asLong, n.get("bvid").asText, n.get("title").asText,
    n.get("pubdate").asLong, n.get("mid").asLong, n.get("tick").asInt))
  private final case class Plant(bvid: String, tick: Int, songId: Long, vsId: Long,
      archiveId: Long, page: Int, start: Long, lyrics: String, expectFound: Boolean)
  private val plants = elems(readJson(in.resolve("answer_key.json"))).map(n => Plant(
    n.get("bvid").asText, n.get("tick").asInt, n.get("song_id").asLong,
    n.get("vtuber_song_id").asLong, n.get("live_recording_archive_id").asLong,
    n.get("page").asInt, n.get("start").asLong, n.get("lyrics").asText,
    n.get("expect_found").asBoolean))
  private val lyrics: Seq[(Long, String)] =
    elems(doc.get("songs")).map(n => n.get("id").asLong -> n.get("lyrics_fragment").asText)
  private val maxTick = listing.map(_.tick).max

  import spark.implicits._
  private val songs = lyrics.toDF("id", "lyrics_fragment").cache()
  private val profiles = elems(doc.get("profiles"))
    .map(n => (n.get("id").asLong, n.get("mid").asLong)).toDF("vtuber_profile_id", "mid").cache()
  private val vtuberSongs = elems(doc.get("vtuber_songs"))
    .map(n => (n.get("id").asLong, n.get("song_id").asLong, n.get("vtuber_profile_id").asLong))
    .toDF("id", "song_id", "vtuber_profile_id").cache()
  private val mids = listing.map(_.mid).distinct.sorted

  private val occCols = Seq("song_id", "vtuber_song_id", "live_recording_archive_id", "start", "page")
  private val occSchema = StructType(Seq(
    StructField("song_id", LongType), StructField("vtuber_song_id", LongType),
    StructField("live_recording_archive_id", LongType),
    StructField("start", LongType), StructField("page", IntegerType),
    StructField("bucket", LongType)))

  private var dir: Path = _
  private def archiveDir = dir.resolve("tables/archives").toString
  private def occDir = dir.resolve("tables/occurrences").toString
  private def tables = dir.resolve("tables")
  private def drop = dir.resolve("drop")
  private var tick = 0
  private val ProbesPerTick = 3

  /** Windows x songs the fuzzy scan scores for one transcript document. */
  private val linesPerSong = lyrics.map(_._2.split("\n").length.max(1)).groupBy(identity)
    .map { case (n, xs) => n -> xs.size.toLong }
  private def segmentsOf(f: Path): Long =
    elems(json.readTree(f.toFile)).map(_.size.toLong).sum
  private def pairsOf(f: Path): Long =
    elems(json.readTree(f.toFile)).map { page =>
      val len = page.size
      if (len == 0) 0L
      else linesPerSong.map { case (n, k) => (if (len >= n) len - n + 1 else 1) * k }.sum
    }.sum

  private def tickDir(t: Int) = in.resolve("transcripts").resolve(if (t < 0) "history" else t.toString)
  private def transcripts(t: Int): Seq[Path] = {
    val st = Files.list(tickDir(t))
    try st.iterator().asScala.toSeq.sortBy(_.toString) finally st.close()
  }

  /** Move a tick's transcripts into the drop folder, each file atomically. */
  private def land(t: Int): Unit = {
    val stage = Files.createDirectories(dir.resolve("stage"))
    transcripts(t).foreach { f =>
      val tmp = stage.resolve(f.getFileName)
      Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, drop.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The archive table as the occurrence scan wants it: id and profile. */
  private def archives(): DataFrame =
    SnapshotMerge.read(spark, archiveDir, Vcut.archiveTableSchema)
      .join(profiles, "mid")
      .select(substring(col("bvid"), 3, 10).cast("long").as("id"), col("bvid"),
        col("vtuber_profile_id"))

  private def discover(): Long = tracer.span("api", "discoverNewRecordingsIncremental") {
    Vcut.discoverNewRecordingsIncremental(spark, mids, archiveDir, classOf[BenchFetcher].getName)
  }

  private def drain(): Unit = tracer.span("streaming", "runAvailableSnapshot") {
    OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
      dir.resolve("checkpoint").toString, occDir, songs, vtuberSongs, archives())
  }

  val stepSeconds = 6.5

  def setup(round: Int): Unit = {
    dir = fresh(work.resolve(s"vcut-$round"))
    Files.createDirectories(drop)
    BenchFetcher.byMid = listing.groupBy(_.mid)
    BenchFetcher.tick = -1
    val n = discover()
    if (n != listing.count(_.tick < 0)) run.fail(s"set-up discovered $n history recordings")
    land(-1)
    drain()
    tick = 0
  }

  /** Logical bytes of the user data a table row carries: archive rows hold
    * bvid, title and three 8-byte fields; occurrence rows six 8-byte fields.
    */
  private def archiveBytes(r: Rec): Long = r.bvid.length + r.title.getBytes("UTF-8").length + 24L
  private val OccRowBytes = 48L

  private var pairs = 0L
  private var segments = 0L
  private var newRecs = 0L
  private var userBytes = 0L
  private var written = 0L
  private var writeS = 0.0
  private var commits = 0L
  private var pages0 = 0L
  private var occAtStart = 0L

  private def versions(): Long = Seq(archiveDir, occDir)
    .map(r => new SnapshotStore(spark, new org.apache.hadoop.fs.Path(r)).currentVersion().getOrElse(0L)).sum

  override def beginPhase(): Unit = {
    pairs = 0; segments = 0; newRecs = 0; userBytes = 0; written = 0; writeS = 0; commits = 0
    pages0 = BenchFetcher.pages.get()
    occAtStart = SnapshotMerge.read(spark, occDir, occSchema).count()
  }

  def step(loop: Loop): Unit = {
    if (tick > maxTick) throw new IllegalStateException("generated ticks exhausted")
    val t = tick
    tick += 1
    val expectNew = listing.count(_.tick == t)
    val (before, v0) = loop.untimed((files(tables), versions()))
    BenchFetcher.tick = t
    val res = loop.op("cron_tick", "write") {
      val (n, discoverS) = timed(discover())
      tracer.span("bench", "land")(land(t))
      writeS += discoverS + timed(drain())._2
      n
    }
    loop.untimed {
      res.foreach { n =>
        if (n != expectNew) loop.failLast(s"tick $t discovered $n recordings, expected $expectNew")
      }
      val after = files(tables)
      written += after.collect { case (p, s) if !before.contains(p) => s }.sum
      commits += versions() - v0
      newRecs += expectNew
      pairs += transcripts(t).map(pairsOf).sum
      segments += transcripts(t).map(segmentsOf).sum
      userBytes += listing.filter(_.tick == t).map(archiveBytes).sum
    }

    // read-back: search probes on this tick's recordings (planted lyrics
    // first, checked for their planted position), then the table
    val recs = listing.filter(_.tick == t)
    val found = plants.filter(p => p.tick == t && p.expectFound)
    val probes = (found.map(p => (p.bvid, p.lyrics, Some(p))) ++
      recs.map(r => (r.bvid, lyrics((r.id % lyrics.size).toInt)._2, None))).take(ProbesPerTick)
    probes.foreach { case (bvid, text, plant) =>
      loop.op("search", "read") {
        val segs = tracer.span("sources", "readSegments") {
          TranscriptJson.readSegments(spark, drop.resolve(s"$bvid.json").toString)
        }
        tracer.span("api", "search")(Vcut.search(segs, bvid, text).collect())
      }.foreach(hit => loop.untimed(plant.foreach { p =>
        if (!hit.exists(r => r.getInt(1) == p.page && math.floor(r.getDouble(2)).toLong == p.start))
          loop.failLast(s"search for planted lyric in ${p.bvid} missed page ${p.page} start ${p.start}")
      }))
    }
    loop.op("occurrences", "read")(tracer.span("sinks", "read") {
      SnapshotMerge.read(spark, occDir, occSchema).select(occCols.map(col): _*).collect()
    }).foreach(occ => loop.untimed {
      val have = occ.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
      plants.filter(p => p.expectFound && p.tick <= t).foreach { p =>
        if (!have((p.vsId, p.archiveId, p.start, p.page)))
          loop.failLast(s"occurrence table lacks planted ${p.bvid} song ${p.songId}")
      }
    })
  }

  def finish(loop: Loop): Unit = {
    val streamed = SnapshotMerge.read(spark, occDir, occSchema).select(occCols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val batch = Vcut.occurrenceScan(songs, vtuberSongs, archives(),
      TranscriptJson.readSegments(spark, drop.resolve("*.json").toString))
      .select(occCols.map(col): _*).collect().map(_.toSeq).toSet
    if (streamed != batch)
      run.fail(s"streamed occurrences (${streamed.size}) differ from a batch scan (${batch.size}): " +
        s"${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    val occNow = streamed.size.toLong
    val added = occNow - occAtStart
    val tableBytes = dirBytes(tables)
    val archiveRows = listing.count(_.tick < tick)
    val liveUser = listing.filter(_.tick < tick).map(archiveBytes).sum + occNow * OccRowBytes
    userBytes += added * OccRowBytes
    run.layers("functions.indel_pairs") = pairs.toDouble
    run.layers("functions.match_yield") = if (pairs > 0) added.toDouble / pairs else 0.0
    run.layers("sources.segments_read") = segments.toDouble
    run.layers("sources.pages_fetched") = (BenchFetcher.pages.get() - pages0).toDouble
    run.layers("sources.pages_per_new_recording") =
      if (newRecs > 0) (BenchFetcher.pages.get() - pages0).toDouble / newRecs else 0.0
    run.layers("sinks.writes") = 2.0 * loop.count("cron_tick")
    run.layers("sinks.write_s") = writeS
    run.layers("sinks.commits") = commits.toDouble
    run.layers("sinks.user_mb") = userBytes / 1048576.0
    run.layers("sinks.written_mb") = written / 1048576.0
    run.layers("sinks.write_amp") = if (userBytes > 0) written.toDouble / userBytes else 0.0
    run.layers("sinks.space_amp") = if (liveUser > 0) tableBytes / liveUser else 0.0
    run.layers("sinks.manifest_kb") = Seq(archiveDir, occDir).map(manifestKb).sum
    run.layers("sinks.files_live") = Seq(
      SnapshotMerge.read(spark, archiveDir, Vcut.archiveTableSchema),
      SnapshotMerge.read(spark, occDir, occSchema)).map(_.inputFiles.length).sum.toDouble
    if (tracer.enabled) run.layers("functions.indel_ns_per_pair") = kernelNsPerPair()
  }

  /** A timed pass of the indel kernel alone over one tick's window x song
    * pairs, held in memory: the kernel's cost without Spark around it.
    */
  private def kernelNsPerPair(): Double = {
    import org.apache.spark.unsafe.types.UTF8String
    val byN = lyrics.map(_._2).groupBy(_.split("\n").length.max(1))
    val wins = transcripts(0).flatMap { f =>
      elems(json.readTree(f.toFile)).flatMap { page =>
        val texts = elems(page).map(_.get("text").asText).toIndexedSeq
        byN.keys.flatMap { n =>
          val ws = if (texts.size >= n) texts.sliding(n).map(_.mkString("\n")).toSeq
            else Seq(texts.mkString("\n"))
          ws.map(w => n -> UTF8String.fromString(w))
        }
      }
    }
    val songsByN = byN.map { case (n, ls) => n -> ls.map(UTF8String.fromString).toArray }
    val pairs = wins.iterator.flatMap { case (n, w) => songsByN(n).iterator.map(s => (s, w)) }
      .take(200000).toArray
    var acc = 0.0
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < pairs.length) { acc += graft.functions.FuzzUtils.ratio(pairs(i)._1, pairs(i)._2); i += 1 }
      (System.nanoTime() - t0).toDouble / pairs.length
    }
    pass()
    median(Seq(pass(), pass(), pass()))
  }
}
