package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.api.Vcut
import graft.sources.v2.TranscriptDecoder

/** The reference's cron stage 4 (`populate_occurrences`,
  * `modal/cron.py:14-21` + `modal/occurrence.py:78-130`) as a real
  * incremental stream: transcript JSON files landing in a directory
  * ARE the trigger — each micro-batch fuzzy-scans only the NEW
  * transcripts and merges the occurrences into the target, replacing
  * the reference's cron + `lastSongOccurrenceScan` state column with
  * the stream's own source offsets (exactly-once file tracking).
  *
  * Each landed document is decoded by the engine's one transcript
  * decoder ([[graft.sources.v2.TranscriptDecoder]], the batch reader's)
  * into ONE row per recording, already in the fuzzy kernel's sorted
  * `segs` shape, and scored where it was read: no regroup shuffle sits
  * between the file scan and the kernel, so a micro-batch of n files
  * scores in as many tasks as the file scan has.
  *
  * `Trigger.AvailableNow` gives the cron semantics ("drain whatever
  * arrived, then stop"); a continuous deployment would use a
  * processing-time trigger unchanged.
  */
object OccurrenceStream {

  /** Stream of `(bvid, segs)`, one row per `<bvid>.json` document
    * landing in `dir`.
    */
  private def recordingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("wholetext", "true").text(dir)
      .select(regexp_extract(input_file_name(), "([^/]+)\\.json$", 1).as("bvid"),
        TranscriptDecoder.segments(col("value")).as("segs"))

  /** Stream of flat transcript segments from a drop-folder of
    * `<bvid>.json` documents — the streaming twin of
    * [[graft.sources.TranscriptJson.readSegments]]: the same decoder,
    * its per-recording rows expanded with `inline`.
    */
  def readSegmentsStream(spark: SparkSession, dir: String): DataFrame =
    recordingsStream(spark, dir).select(col("bvid"), inline(col("segs")))

  /** Run the incremental occurrence sync over a transcript drop-folder
    * until all currently-available files are processed, into a table
    * hash-bucketed on `live_recording_archive_id` (part of the merge
    * key, so the key→partition contract holds). Checkpoint state makes
    * re-runs process only unseen files. Each micro-batch upserts just
    * its occurrence INCREMENT through [[graft.sinks.SnapshotMerge]]:
    * only buckets holding new occurrences are read or rewritten,
    * untouched buckets carry forward by manifest reference, and each
    * batch commits with one atomic pointer swap — a checkpoint-driven
    * retry of a crashed batch finds the previous snapshot intact and
    * re-merges idempotently (upsert on the unique key). A first batch
    * with no table yet creates it.
    */
  def runAvailableSnapshot(
      spark: SparkSession,
      transcriptsDir: String,
      checkpointDir: String,
      targetDir: String,
      songs: DataFrame,
      vtuberSongs: DataFrame,
      archives: DataFrame,
      threshold: Double = 40.0,
      buckets: Int = 64,
      compactAbove: Int = 16): Unit = {
    import org.apache.spark.sql.types._
    val tableSchema = StructType(Seq(
      StructField("song_id", LongType), StructField("vtuber_song_id", LongType),
      StructField("live_recording_archive_id", LongType),
      StructField("start", LongType), StructField("page", IntegerType),
      StructField("bucket", LongType)))
    val q = recordingsStream(spark, transcriptsDir).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.sinks.{SnapshotMerge, SnapshotStore}
        // No emptiness pre-check (a job of its own): a batch of empty
        // transcripts scans to no rows, and an increment with no new
        // pair commits nothing. The fuzzy scan runs WITHOUT the skip
        // guard; upsertIgnore pins it once and anti-joins against ONLY
        // the buckets its output touches (bucket is derived from the
        // merge key, so an already-recorded pair can live nowhere
        // else) — the stream must not re-read the whole accumulated
        // table every batch. Known pairs keep their row, as the skip
        // guard's `ON CONFLICT DO UPDATE` never saw them either.
        SnapshotMerge.upsertIgnore(spark, targetDir,
          Vcut.occurrenceScanRecordings(songs, vtuberSongs, archives,
            batch.withColumnRenamed("bvid", "recording_id"), threshold)
            .withColumn("bucket",
              pmod(col("live_recording_archive_id"), lit(buckets.toLong))),
          Seq("vtuber_song_id", "live_recording_archive_id"), Seq("bucket"))
        val store = new SnapshotStore(
          spark, new org.apache.hadoop.fs.Path(targetDir))
        // bound read fragmentation: a long-running stream commits a
        // new batch dir per micro-batch; once the manifest references
        // more than `compactAbove` batches, fold the small churn
        // batches together — the cold bulk of the table is never
        // rewritten from this hot loop
        store.compactIncremental(tableSchema, Seq("bucket"), compactAbove)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
