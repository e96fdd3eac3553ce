package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader for the reference's nested transcript documents (S2).
  *
  * The reference stores one JSON file per recording with shape
  * `array<array<{start: double, text: string}>>` — outer index is the
  * video page, inner index the transcript segment (reference
  * `src/firefly_vcut/transcribe.py:54-63`, read back at
  * `src/firefly_vcut/cmdline.py:532-546` and
  * `src/firefly_vcut/modal/occurrence.py:94-97`).
  *
  * [[readSegments]] reads them through the `transcript` DataSource V2
  * ([[graft.sources.v2.TranscriptDataSource]], the engine's one
  * transcript decoder) as the flat `transcript_segments` relation the
  * fuzzy pipeline consumes: `(bvid, page, seg_idx, start, text)` with
  * 0-based `page`/`seg_idx`.
  *
  * Scale: one task per file, and the scan reports itself key-grouped
  * on `bvid`, so a per-recording grouping downstream
  * ([[graft.operators.FuzzyOccurrence]]) plans no exchange and pushed
  * `bvid` filters open only the files they name. Empty transcripts
  * (`[]`) produce zero segment rows (the reference raises instead,
  * `cmdline.py:314-315` — SURVEY §7.4 requires the engine to define
  * the empty case: no rows, no match), and so do malformed or
  * truncated documents.
  */
object TranscriptJson {

  /** `pathGlob` (a file, a directory or a glob) → flat segments.
    * bvid = file stem.
    */
  def readSegments(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("transcript").load(pathGlob)

  /** Inverse of [[readSegments]] (K5): reassemble the nested document
    * shape, e.g. before `df.write.json`. Ordering inside pages is
    * restored by sorting the collected structs (collect_list order is
    * otherwise nondeterministic across partitions).
    */
  def assembleNested(segments: DataFrame): DataFrame = {
    segments
      .groupBy(col("bvid"), col("page"))
      .agg(sort_array(collect_list(struct(col("seg_idx"), col("start"), col("text"))))
        .as("segs"))
      .groupBy(col("bvid"))
      .agg(sort_array(collect_list(struct(col("page"),
        expr("transform(segs, s -> struct(s.start as start, s.text as text))").as("segs"))))
        .as("pages_s"))
      .select(col("bvid"), expr("transform(pages_s, p -> p.segs)").as("pages"))
  }
}
