package graft.api

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.FuzzyOccurrence
import graft.sinks.Merge

/** Result of one [[Vcut.discoverNewSongVideos]] run. The counts are
  * the lines the reference logs as it walks (`modal/video.py:70-97`):
  * `matched` is its `len(update_entries)`; the other three are the
  * skipped-video prints, broken out by cause. `skipped` carries the
  * actual rows behind those counts for inspection; `updated` is the
  * vtuber_songs table with `bvid`/`pubdate` advanced (the reference's
  * `db.song.update_bvid`).
  */
final case class SongVideoDiscovery(
    updated: DataFrame,
    skipped: DataFrame,
    matched: Long,
    notSongTitle: Long,
    unknownSong: Long,
    notInProfile: Long)

/** The user-facing domain API: every operation a user of the
  * reference runs today, re-expressed over domain-schema DataFrames
  * (SURVEY.md §1.2 tables, snake_case per FIXTURES.md §B).
  *
  * Entry-point mapping (SURVEY.md §3):
  *  - EP1 `discover_new_recordings` → [[recordingAnchors]] +
  *    [[discoverNewRecordings]]
  *  - EP1 stage queries → [[needsStream]] / [[needsTranscribe]] /
  *    [[needsOccurrenceScan]], advanced by [[markScanned]]
  *  - EP2 `discover_new_song_videos` → [[songAnchors]] +
  *    [[extractSongTitle]]
  *  - EP3 `sync_occurrences` → [[syncOccurrences]]
  *  - `vcut search` → [[search]]
  *  - object-store layout → [[audioObjectKey]] / [[transcriptObjectKey]]
  *
  * All inputs/outputs are DataFrames: on a cluster these are reads
  * from / MERGE-emulated writes to the warehouse tables.
  */
object Vcut {

  /** PG `array_length(x,1)` semantics: NULL for both NULL and empty
    * arrays (SURVEY P3 — Spark's `size` returns 0 for `[]`).
    */
  private def pgArrayLen(c: Column): Column =
    nullif(size(coalesce(c, array())), lit(0))

  // ---- NULL-state stage machine (db/recording.py:96-210) ----------------

  /** Recordings that still need their audio streamed: no transcript,
    * no audio objects, never scanned; newest first, bounded batch
    * (`db/recording.py:119-138`, default limit 10).
    */
  def needsStream(archives: DataFrame, limit: Int = 10): DataFrame =
    archives
      .where(col("transcript_object_key").isNull &&
        pgArrayLen(col("audio_object_keys")).isNull &&
        col("last_song_occurrence_scan").isNull)
      .orderBy(col("pubdate").desc, col("id").asc)
      .limit(limit)

  /** Audio present but not yet transcribed (`db/recording.py:174-176`). */
  def needsTranscribe(archives: DataFrame): DataFrame =
    archives.where(col("transcript_object_key").isNull &&
      size(coalesce(col("audio_object_keys"), array())) > 0)

  /** Transcribed but never fuzzy-scanned (`db/recording.py:207-208`). */
  def needsOccurrenceScan(archives: DataFrame): DataFrame =
    archives.where(col("last_song_occurrence_scan").isNull &&
      col("transcript_object_key").isNotNull)

  /** Advance scanned recordings' state (K3, `db/recording.py:287-300`).
    *
    * `scannedBvids` is deduplicated here — callers naturally build it
    * from occurrence-scan output with many rows per recording, and
    * joinUpdate's one-row-per-key precondition would otherwise
    * multiply archive rows. `scanTime` parses driver-side
    * (`yyyy-mm-dd hh:mm:ss[.f]`) so a malformed value fails fast
    * instead of casting to NULL and silently leaving the recordings
    * rescannable forever.
    */
  def markScanned(archives: DataFrame, scannedBvids: DataFrame,
      scanTime: String): DataFrame = {
    val ts = java.sql.Timestamp.valueOf(scanTime)
    Merge.joinUpdate(archives,
      scannedBvids.select(col("bvid")).dropDuplicates("bvid")
        .withColumn("last_song_occurrence_scan", lit(ts)),
      "bvid", Seq("last_song_occurrence_scan"))
  }

  // ---- anchors (A1/A2; db/song.py:19-26, db/recording.py:85-93) ---------

  /** Per-vtuber newest song-video pubdate; vtubers with no songs keep
    * a NULL anchor (left outer).
    */
  def songAnchors(profiles: DataFrame, vtuberSongs: DataFrame): DataFrame =
    profiles.as("p")
      .join(vtuberSongs.as("vs"),
        col("p.id") === col("vs.vtuber_profile_id"), "left")
      .groupBy(col("p.id").as("vtuber_profile_id"), col("p.mid").as("mid"))
      .agg(max(col("vs.pubdate")).as("anchor"))

  /** Per-vtuber newest/oldest recording pubdates (two-sided bounds). */
  def recordingAnchors(profiles: DataFrame, archives: DataFrame): DataFrame =
    profiles.as("p")
      .join(archives.as("a"),
        col("p.id") === col("a.vtuber_profile_id"), "left")
      .groupBy(col("p.id").as("vtuber_profile_id"), col("p.mid").as("mid"))
      .agg(max(col("a.pubdate")).as("newest"), min(col("a.pubdate")).as("oldest"))

  // ---- discovery (EP1/EP2) ----------------------------------------------

  private val titleDatePattern = "(\\d{4})年(\\d{1,2})月(\\d{1,2})日(\\d{1,2})点场"

  /** F1: parse the `2025年8月10日1点场…` live date out of a title into
    * an Asia/Shanghai instant (+08:00 — exact for all dates the
    * pipeline sees). NULL when the title doesn't match — INCLUDING
    * regex-matching titles with out-of-range fields (`…88月…`):
    * `try_make_timestamp` degrades those to NULL where ANSI
    * `make_timestamp` would abort the whole job, so they fall into
    * the same dropped-at-insert path as non-matching titles.
    */
  def parseArchiveDate(title: Column): Column = {
    val y = regexp_extract(title, titleDatePattern, 1)
    when(y =!= "",
      to_utc_timestamp(
        try_make_timestamp(
          y.cast("int"),
          regexp_extract(title, titleDatePattern, 2).cast("int"),
          regexp_extract(title, titleDatePattern, 3).cast("int"),
          regexp_extract(title, titleDatePattern, 4).cast("int"),
          lit(0), lit(0)),
        "+08:00"))
  }

  /** EP1 ingest: rename `pic`→`cover` (F16), parse the title date and
    * DROP unparsable rows (the reference's insert filter,
    * `db/recording.py:62`), then upsert-ignore on bvid (K1).
    */
  def discoverNewRecordings(archives: DataFrame, fetched: DataFrame): DataFrame = {
    val incoming = fetched
      .withColumnRenamed("pic", "cover")
      .withColumn("date", parseArchiveDate(col("title")))
      .where(col("date").isNotNull)
      .select(archives.columns.map(col): _*)
    Merge.upsertIgnore(archives, incoming, Seq("bvid"))
  }

  /** The archive snapshot-table schema shared by every EP1 entry
    * point (and their specs).
    */
  val archiveTableSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "mid BIGINT, bvid STRING, title STRING, cover STRING, pubdate BIGINT, date TIMESTAMP")

  /** F16 + F1 over a fetched listing frame: `pic`→`cover`, parse the
    * title date (dropping unparseable rows) and project to the table
    * schema. The same bvid can legitimately appear twice in one fetch
    * (a new upload shifting the listing down one slot mid-walk
    * re-serves a page-boundary record); upsertIgnore, which every
    * caller feeds, collapses such duplicates to one row.
    */
  private def parseListing(fetched: DataFrame): DataFrame =
    fetched
      .withColumnRenamed("pic", "cover")
      .withColumn("date", parseArchiveDate(col("title")))
      .where(col("date").isNotNull)
      .select(archiveTableSchema.fieldNames.map(col): _*)

  /** EP1 end-to-end, incremental: the full `discover_new_recordings`
    * job (`modal/recording.py:9-57`) as one composition —
    *
    *   1. A2 anchors: per-creator newest pubdate already in the
    *      archive table (collected driver-side; one row per vtuber,
    *      metadata-sized — the reference iterates this same list
    *      serially);
    *   2. S4 paged scan with those anchors: each creator's page walk
    *      early-stops at its anchor, so already-ingested history is
    *      never re-fetched — and a creator with nothing new costs
    *      exactly one page;
    *   3. F16 `pic`→`cover`, F1 title-date parse dropping unparseable
    *      rows (`db/recording.py:62`);
    *   4. K1 upsert-ignore on bvid into a [[graft.sinks.SnapshotMerge]]
    *      table partitioned by `mid` (bvid determines mid, so the
    *      partitioned-merge key/partition contract holds) — the
    *      all-or-nothing commit the reference gets from its PG
    *      transaction, in one pass over the fetch
    *      ([[graft.sinks.SnapshotMerge.upsertIgnore]]).
    *
    * Idempotent: a second run fetches one page per creator, finds
    * nothing past the anchors, and commits nothing.
    *
    * @return number of new recordings ingested (the reference's
    *         return value): upsertIgnore's count, so a re-served known
    *         bvid is not counted
    */
  def discoverNewRecordingsIncremental(
      spark: org.apache.spark.sql.SparkSession,
      mids: Seq[Long],
      archiveTableDir: String,
      fetcherClass: String,
      pageSize: Int = 30,
      backfillLimit: Int = 0): Long = {
    val existing = graft.sinks.SnapshotMerge.read(spark, archiveTableDir, archiveTableSchema)
    val spans = existing.groupBy(col("mid"))
      .agg(max(col("pubdate")).as("newest"), min(col("pubdate")).as("oldest"))
      .collect()
    val reader = spark.read.format("paged-archives")
      .option("fetcher", fetcherClass)
      .option("pageSize", pageSize)
      .option("keys", mids.mkString(","))
    // A2 one-sided anchors by default; with a backfill budget, the
    // reference's two-sided window + per-creator limit (S6,
    // `bilibili/series.py:100-117` via `modal/recording.py:26-40`):
    // records inside [oldest, newest] are skipped, newer AND older
    // history both ingest, at most `backfillLimit` per creator.
    val fetched =
      (if (backfillLimit > 0)
        reader
          .option("bounds", spans.map(r =>
            s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}").mkString(","))
          .option("limitPerKey", backfillLimit)
      else
        reader.option("anchors", spans.map(r =>
          s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")))
        .load()
    // upsertIgnore counts (and commits) only genuinely-new bvids: a
    // listing can re-serve an already-ingested bvid past the anchor
    // (edited / republished upload), which must neither inflate the
    // return value nor force a commit. It pins the fetch once and
    // reads only the touched mid partitions' keys.
    graft.sinks.SnapshotMerge.upsertIgnore(
      spark, archiveTableDir, parseListing(fetched), Seq("bvid"), Seq("mid"))
  }

  /** EP1 as a LONG-RUNNING STREAM: the paged listing is read through
    * its Structured Streaming face, so the per-creator anchors live
    * in the checkpoint (the stream's offsets) instead of being
    * recomputed from the table each run — the cron scheduling, the
    * anchor table, AND the "which run saw what" bookkeeping all
    * collapse into the engine's own offset log. Each micro-batch
    * parses (F16 + F1, dropping unparseable titles) and upserts new
    * bvids into the snapshot table. `Trigger.AvailableNow` drains
    * what's there and stops — the cron-shaped deployment; a
    * processing-time trigger makes it continuous discovery unchanged.
    */
  def discoverNewRecordingsStream(
      spark: org.apache.spark.sql.SparkSession,
      mids: Seq[Long],
      archiveTableDir: String,
      checkpointDir: String,
      fetcherClass: String,
      pageSize: Int = 30): Unit = {
    val q = spark.readStream.format("paged-archives")
      .option("fetcher", fetcherClass)
      .option("pageSize", pageSize)
      .option("keys", mids.mkString(","))
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // same insert as the batch path, with no emptiness pre-job:
        // an empty or all-known batch commits nothing. upsertIgnore
        // reads only the batch's own mid partitions — bvid determines
        // mid, so a known bvid can live nowhere else; a micro-batch
        // touching 3 creators must not re-read a million-creator table.
        graft.sinks.SnapshotMerge.upsertIgnore(
          spark, archiveTableDir, parseListing(batch), Seq("bvid"), Seq("mid"))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** F2: first-matching bracket style wins (《》 then 『』 then 「」,
    * `modal/video.py:14-18`).
    */
  def extractSongTitle(videoTitle: Column): Column =
    coalesce(
      nullif(regexp_extract(videoTitle, "《(.*)》", 1), lit("")),
      nullif(regexp_extract(videoTitle, "『(.*)』", 1), lit("")),
      nullif(regexp_extract(videoTitle, "「(.*)」", 1), lit("")))

  /** EP2 end-to-end: the full `discover_new_song_videos` job
    * (`modal/video.py:21-106`) as one composition —
    *
    *   1. A1 [[songAnchors]]: per-vtuber newest KNOWN song-video
    *      pubdate (`db/song.py:4-28`), collected driver-side — one
    *      row per vtuber, metadata-sized, the same list the reference
    *      walks serially (`modal/video.py:58`);
    *   2. S4/S5 paged scan with those anchors pushed per key: each
    *      creator's page walk early-stops at its anchor
    *      (`pubdate_after=latest_video_pubdate`,
    *      `modal/video.py:63-68`) — a creator with nothing new costs
    *      exactly one page; a vtuber with no linked videos (NULL
    *      anchor) lists its full history, like the reference's
    *      `pubdate_after=None`;
    *   3. F2 [[extractSongTitle]] on each new video's title; rows the
    *      bracket patterns miss are counted, not matched
    *      (`modal/video.py:73-76`);
    *   4. J8 two-key broadcast lookup against the song index
    *      (`by_title`, `db/song.py:30-57`): songs ⋈ vtuber_songs on
    *      `(title, vtuber_profile_id)`. Unmatched rows are classified
    *      exactly as the reference logs them — unknown song vs known
    *      song not in this vtuber's profile (`modal/video.py:78-86`);
    *   5. K3 join-update of `vtuber_song.bvid/pubdate` for the matched
    *      entries (`db/song.py:59-85`).
    *
    * Idempotent: the update advances each matched vtuber_song's
    * pubdate, so the next run's anchors sit at or past every video it
    * ingested — a second run fetches one page per creator and updates
    * nothing.
    *
    * When several new uploads match the same vtuber_song, the
    * reference's executemany applies them in listing order, so the
    * LAST executed — the oldest, pages being pubdate-descending —
    * determines the final row (`modal/video.py:92-98` + `db/song.py:75-84`);
    * the relational spelling keeps that outcome explicitly
    * (min-pubdate per vtuber_song, bvid as a deterministic
    * tie-break). Duplicate `(title, vtuber_profile_id)` rows in the
    * song index collapse to the max vtuber_song_id (the reference's
    * dict overwrite leaves an arbitrary winner; max is the
    * deterministic choice).
    */
  def discoverNewSongVideos(
      spark: org.apache.spark.sql.SparkSession,
      profiles: DataFrame,
      songs: DataFrame,
      vtuberSongs: DataFrame,
      fetcherClass: String,
      pageSize: Int = 30): SongVideoDiscovery = {
    val anchors = songAnchors(profiles, vtuberSongs).collect()
    val reader = spark.read.format("paged-archives")
      .option("fetcher", fetcherClass)
      .option("pageSize", pageSize)
      .option("keys", anchors.map(_.getLong(1)).mkString(","))
    val anchorOpt = anchors.filter(!_.isNullAt(2))
      .map(r => s"${r.getLong(1)}:${r.getLong(2)}")
    val fetched =
      (if (anchorOpt.nonEmpty) reader.option("anchors", anchorOpt.mkString(","))
       else reader).load()
        .select(col("mid"), col("bvid"), col("title"), col("pubdate"))

    // One fetch pass feeds both the classification counts and the
    // update join (localCheckpoint pins the listing; without it each
    // downstream action would re-page the source).
    val candidates = fetched
      .withColumn("song_title", extractSongTitle(col("title")))
      .join(broadcast(profiles.select(col("id").as("vtuber_profile_id"),
        col("mid"))), "mid")
      .ckpt(true)

    // by_title (db/song.py:30-57): (title, profile) -> vtuber_song_id
    val index = vtuberSongs.as("vs")
      .join(songs.as("s"), col("vs.song_id") === col("s.id"))
      .groupBy(col("s.title").as("song_title"), col("vs.vtuber_profile_id"))
      .agg(max(col("vs.id")).as("vtuber_song_id"))
    val knownTitles = index.select(col("song_title")).distinct()
      .withColumn("__known", lit(true))

    val classified = candidates
      .join(broadcast(index), Seq("song_title", "vtuber_profile_id"), "left")
      .join(broadcast(knownTitles), Seq("song_title"), "left")
      .withColumn("reason", when(col("song_title").isNull, "not_a_song_title")
        .when(col("vtuber_song_id").isNotNull, "matched")
        .when(col("__known").isNotNull, "not_in_profile")
        .otherwise("unknown_song"))

    val c = classified.agg(
      count(when(col("reason") === "matched", 1)).as("matched"),
      count(when(col("reason") === "not_a_song_title", 1)).as("not_song"),
      count(when(col("reason") === "unknown_song", 1)).as("unknown"),
      count(when(col("reason") === "not_in_profile", 1)).as("nip")).head()

    // db/song.py:59-85: one row per vtuber_song (min pubdate = the
    // reference's last-executed update), K3 onto the songs table
    val updates = classified.where(col("vtuber_song_id").isNotNull)
      .groupBy(col("vtuber_song_id").as("id"))
      .agg(min(struct(col("pubdate"), col("bvid"))).as("u"))
      .select(col("id"), col("u.bvid").as("bvid"), col("u.pubdate").as("pubdate"))
    val updated = Merge.joinUpdate(vtuberSongs, updates, "id",
      Seq("bvid", "pubdate"))

    SongVideoDiscovery(updated,
      skipped = classified.where(col("reason") =!= "matched")
        .select(col("mid"), col("bvid"), col("title"), col("song_title"),
          col("reason")),
      matched = c.getAs[Long]("matched"),
      notSongTitle = c.getAs[Long]("not_song"),
      unknownSong = c.getAs[Long]("unknown"),
      notInProfile = c.getAs[Long]("nip"))
  }

  /** The vtuber_song snapshot-table schema used by
    * [[discoverNewSongVideosStream]] (the flattened VtuberSong row
    * plus its hash bucket — `bucket = pmod(id, buckets)`, derived from
    * the merge key so the key→partition contract holds).
    */
  val vtuberSongTableSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, song_id BIGINT, vtuber_profile_id BIGINT, " +
        "bvid STRING, pubdate BIGINT, bucket BIGINT")

  /** EP2 as a LONG-RUNNING STREAM over the paged listing's streaming
    * face: the checkpointed per-creator offsets replace
    * [[songAnchors]] entirely, so every upload is examined EXACTLY
    * once — including the non-song uploads the reference's cron
    * re-lists on every run forever (its anchor only advances when a
    * song matches, `db/song.py:19-26`). Each micro-batch extracts
    * titles (F2), matches them against the song index (J8), and
    * K3-updates the matched vtuber_songs in a bucketed
    * [[graft.sinks.SnapshotMerge]] table: a pruned read of just the
    * touched buckets, join-update, one fenced atomic commit.
    *
    * Duplicate-upload semantics differ from [[discoverNewSongVideos]]
    * DELIBERATELY: the batch entry point mirrors one reference cron
    * run (oldest new upload wins, then the next run's anchor re-matches
    * the newer one — convergence to the NEWEST over runs); the stream
    * takes `max(pubdate)` per vtuber_song within a batch and later
    * batches only ever carry newer uploads, so it commits the
    * reference's CONVERGED end state directly, without the
    * intermediate re-fetch cycles.
    *
    * The (title, profile) index is re-resolved at the START OF EVERY
    * MICRO-BATCH — it is one broadcast-sized aggregate over the
    * catalog, so a song registered between drains (or between batches
    * of one drain) matches its NEW uploads immediately, no restart or
    * reconcile needed. The exactly-once trade-off leaves exactly one
    * narrower case: a song registered AFTER its video was already
    * consumed by an earlier batch is not re-matched (the offset
    * advanced past the upload), where the reference's non-advancing
    * anchor would re-list and match it on a later cron. Reconcile
    * that case by running the BATCH entry point once after
    * registering songs against old uploads — its anchors derive from
    * vtuber_song pubdates, so it re-examines exactly the uploads past
    * each vtuber's last match.
    *
    * `profiles` and `songs` are catalog-sized dimension inputs (the
    * reference loads both fully per run too, `modal/video.py:37-47`).
    */
  def discoverNewSongVideosStream(
      spark: org.apache.spark.sql.SparkSession,
      profiles: DataFrame,
      songs: DataFrame,
      vtuberSongTableDir: String,
      checkpointDir: String,
      fetcherClass: String,
      pageSize: Int = 30,
      buckets: Int = 16): Unit = {
    import graft.sinks.{Merge, SnapshotMerge, SnapshotStore}
    val mids = profiles.select(col("mid")).collect().map(_.getLong(0))
    val store = new SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(vtuberSongTableDir))
    // by_title, re-resolved per micro-batch (see scaladoc): one
    // catalog-sized agg — trivial next to the batch's merge — buys
    // catalog additions matching without a restart
    def index = store.read(vtuberSongTableSchema).as("vs")
      .join(songs.as("s"), col("vs.song_id") === col("s.id"))
      .groupBy(col("s.title").as("song_title"), col("vs.vtuber_profile_id"))
      .agg(max(col("vs.id")).as("vtuber_song_id"))
    val q = spark.readStream.format("paged-archives")
      .option("fetcher", fetcherClass)
      .option("pageSize", pageSize)
      .option("keys", mids.mkString(","))
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val updates = batch
          .withColumn("song_title", extractSongTitle(col("title")))
          .where(col("song_title").isNotNull)
          .join(broadcast(profiles.select(col("id").as("vtuber_profile_id"),
            col("mid"))), "mid")
          .join(broadcast(index), Seq("song_title", "vtuber_profile_id"))
          .groupBy(col("vtuber_song_id").as("id"))
          .agg(max(struct(col("pubdate"), col("bvid"))).as("u"))
          .select(col("id"), col("u.bvid").as("bvid"),
            col("u.pubdate").as("pubdate"),
            pmod(col("id"), lit(buckets.toLong)).as("bucket"))
        // K3 through ONE pruned, fenced merge: only the touched
        // buckets are read (from the same snapshot resolution the
        // commit fences on), matched rows get the new bvid/pubdate,
        // unmatched rows and untouched buckets carry forward
        SnapshotMerge.merge(spark, vtuberSongTableDir, updates, Seq("bucket"))(
          (target, u) => Merge.joinUpdate(target, u, "id", Seq("bvid", "pubdate")))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ---- the flagship (EP3, cmdline.py:182-367) ---------------------------

  /** Full `sync_occurrences`: fuzzy-scan every (song, transcribed
    * recording) pair, keep per-pair best windows over the threshold,
    * attribute them to the vtuber_song of the recording's OWN profile
    * (the reference's parallel-array zip filter P7,
    * `modal/occurrence.py:48-51`, expressed relationally), skip pairs
    * already recorded unless `forceUpdate`, and upsert (K2, unique on
    * (vtuber_song_id, live_recording_archive_id)).
    *
    * @param segments flat transcript segments `(bvid, page, seg_idx,
    *                 start, text)` — from
    *                 [[graft.sources.TranscriptJson.readSegments]]
    */
  def syncOccurrences(
      existing: DataFrame,
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      segments: DataFrame,
      threshold: Double = 40.0,
      forceUpdate: Boolean = false): DataFrame =
    Merge.upsertUpdate(existing,
      occurrenceIncrement(existing, songs, vtuberSongs, archives,
        segments, threshold, forceUpdate),
      Seq("vtuber_song_id", "live_recording_archive_id"))

  /** The UNGUARDED occurrence scan: every (song, recording) occurrence
    * the fuzzy scan finds in `segments`, attributed to its vtuber_song
    * — before any skip guard. For sinks that run their own pruned
    * anti-join (e.g. [[graft.sinks.SnapshotMerge.upsertIgnore]]).
    */
  def occurrenceScan(
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      segments: DataFrame,
      threshold: Double = 40.0): DataFrame =
    occurrenceScanRecordings(songs, vtuberSongs, archives,
      FuzzyOccurrence.byRecording(segments.withColumnRenamed("bvid", "recording_id")),
      threshold)

  /** [[occurrenceScan]] over recordings already in the kernel's shape,
    * `(recording_id, segs)`: the occurrence stream's decoded documents.
    */
  private[graft] def occurrenceScanRecordings(
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      recordings: DataFrame,
      threshold: Double): DataFrame = {
    val catalog = songs.select(col("id").as("song_id"), col("lyrics_fragment").as("lyrics"))
    FuzzyOccurrence.kernel(FuzzyOccurrence.withCatalog(recordings, catalog),
      col("catalog"), threshold)
      .join(archives.select(col("id").as("live_recording_archive_id"),
        col("bvid"), col("vtuber_profile_id")),
        col("recording_id") === col("bvid"))
      .join(vtuberSongs.select(col("id").as("vtuber_song_id"),
        col("song_id"), col("vtuber_profile_id")),
        Seq("song_id", "vtuber_profile_id"))
      .select(col("song_id"), col("vtuber_song_id"),
        col("live_recording_archive_id"),
        floor(col("start")).cast("long").as("start"), col("page"))
  }

  /** The INCREMENT of [[syncOccurrences]]: just the new/updated
    * occurrence rows, before any merge — what a partitioned or
    * snapshot sink upserts directly instead of rewriting the table
    * (`existing` is consulted only for the skip anti-join).
    */
  def occurrenceIncrement(
      existing: DataFrame,
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      segments: DataFrame,
      threshold: Double = 40.0,
      forceUpdate: Boolean = false): DataFrame = {
    val attributed = occurrenceScan(songs, vtuberSongs, archives,
      segments, threshold)
    if (forceUpdate) attributed
    else attributed.join(
      existing.select(col("vtuber_song_id"), col("live_recording_archive_id")),
      Seq("vtuber_song_id", "live_recording_archive_id"), "left_anti")
  }

  /** Typed variant of [[syncOccurrences]] for callers that want
    * compile-time field checks on the merged occurrence set.
    */
  def syncOccurrencesTyped(
      existing: DataFrame,
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      segments: DataFrame,
      threshold: Double = 40.0,
      forceUpdate: Boolean = false)
      : org.apache.spark.sql.Dataset[model.SongOccurrence] = {
    val out = syncOccurrences(existing, songs, vtuberSongs, archives,
      segments, threshold, forceUpdate)
    import out.sparkSession.implicits._
    out.select(col("song_id"), col("vtuber_song_id"),
      col("live_recording_archive_id"), col("start"), col("page"))
      .as[model.SongOccurrence]
  }

  /** `vcut search` (cmdline.py:477-505): where is this text sung in
    * this recording? One (bvid, probe) point lookup. The probe is a
    * literal one-song catalog handed straight to the kernel, so no job
    * produces it and a new probe text compiles no new code; over
    * [[graft.sources.TranscriptJson.readSegments]] the `bvid` filter
    * opens only that recording's file and the per-recording grouping
    * needs no exchange, so a search runs as one job of one stage.
    */
  def search(segments: DataFrame, bvid: String, text: String,
      threshold: Double = 0.0): DataFrame = {
    val probe = array(struct(lit(0L).as("song_id"), lit(text).cast("string").as("lyrics")))
    FuzzyOccurrence.kernel(
      FuzzyOccurrence.byRecording(segments.where(col("bvid") === bvid)
        .withColumnRenamed("bvid", "recording_id")),
      probe, threshold)
      .select(col("recording_id").as("bvid"), col("page"), col("start"),
        col("score"), col("matched_text"))
  }

  // ---- object-store layout (F6; §1.4) -----------------------------------

  private def shDateParts(pubdate: Column): (Column, Column, Column) = {
    val sh = from_utc_timestamp(timestamp_seconds(pubdate), "+08:00")
    (year(sh), lpad(month(sh).cast("string"), 2, "0"),
      lpad(dayofmonth(sh).cast("string"), 2, "0"))
  }

  /** `audio/{mid}/{y}/{m:02d}/{d:02d}/{bvid}/{page}.mp4`
    * (`modal/stream.py:317-344`).
    */
  def audioObjectKey(mid: Column, pubdate: Column, bvid: Column,
      page: Column): Column = {
    val (y, m, d) = shDateParts(pubdate)
    concat_ws("/", lit("audio"), mid, y, m, d, bvid,
      concat(page, lit(".mp4")))
  }

  /** `transcripts/{mid}/{y}/{m:02d}/{d:02d}/{bvid}.json`
    * (`modal/transcribe.py:131-146`).
    */
  def transcriptObjectKey(mid: Column, pubdate: Column, bvid: Column): Column = {
    val (y, m, d) = shDateParts(pubdate)
    concat_ws("/", lit("transcripts"), mid, y, m, d,
      concat(bvid, lit(".json")))
  }
}
