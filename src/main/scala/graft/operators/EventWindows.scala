package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps
import graft.{QueryModule, Scratch, Tables}

/** Event-time windowing over the `events` table (SURVEY.md §2.11).
  *
  * The reference has no event-time windows (its only window is the
  * ordinal segment window W1); these are the north-star extensions a
  * training-data pipeline needs. The same `window`/`session_window`
  * expressions run unchanged under Structured Streaming with a
  * watermark (see [[graft.streaming.EventStreams]]); here they're
  * exercised in batch so the DuckDB oracle can hash-check them.
  *
  * Scale: tumbling/sliding windows are plain hash aggregations on
  * (window, keys) — partial aggregation + AQE handle skew; session
  * windows shuffle once on the session key then sort within partition,
  * which holds at 100 TB as long as per-key event counts fit a
  * partition (user_id cardinality ≫ executor count here).
  */
object EventWindows extends QueryModule {

  /** Memory-sink names must be unique per `strm_tumbling` run — the
    * sink registers a temp view, and a repeated run in one session
    * (Verify then bench, or reps in a bench) must not collide with or
    * silently read a previous drain's table.
    */
  private val strmRunIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` over a scratch drop FOLDER holding the events table
    * for the `strm_*` queries (file-source streams consume
    * directories), every data file repeated `copies` times under
    * distinct names (strm_dedup stages the corpus twice so the stream
    * must eliminate genuine duplicates). Handles BOTH export shapes: a
    * single-file export is copied directly; a directory-shaped export
    * has each of its `.parquet` data files copied in (a naive
    * `Files.copy` on the directory path would create an EMPTY directory
    * and a silently zero-row stream). The folder is a [[Scratch.frame]]
    * dir, gone when `body` returns — `drainToMemory` returns a
    * materialized local frame, so nothing reads the staged files
    * afterwards (r13 leaked one corpus-sized copy per bench rep).
    */
  private def stageEventsDrop(dir: String, copies: Int = 1)(
      body: String => DataFrame): DataFrame = Scratch.frame("strm_drop") { d =>
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(s"$dir/events.parquet")
    val dataFiles: Seq[Path] =
      if (Files.isDirectory(src)) {
        val st = Files.list(src)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        } finally st.close()
      } else Seq(src)
    require(dataFiles.nonEmpty, s"no parquet data files under $src")
    for (c <- 1 to copies; (f, i) <- dataFiles.zipWithIndex)
      Files.copy(f, d.resolve(s"c${c}_f$i.parquet"))
    body(d.toString)
  }

  /** Stage the late-arrival fixture for strm_late_drop as THREE
    * single-file waves with staggered mtimes, so `maxFilesPerTrigger
    * = 1` yields exactly three micro-batches:
    *
    *   1. the full events table (all accepted — the watermark starts
    *      at epoch), advancing the watermark to max(ts) − 1h;
    *   2. an EMPTY parquet spacer. Spark runs TWO watermarks
    *      (SPARK-24634): state EVICTION uses the current value, but
    *      the LATE-RECORD FILTER uses the previous batch's — one
    *      batch behind. The spacer batch is what promotes wave 1's
    *      watermark into the late filter; without it the stale wave
    *      would be admitted (measured: dropped=0, every old window
    *      double-counted);
    *   3. duplicate copies of every event older than max(ts) − 3h —
    *      each row's WINDOW END (floor(ts)+1h ≤ max−2h) is strictly
    *      below the now-armed late filter, so the aggregation MUST
    *      drop them all.
    *
    * All three waves are written through [[graft.streaming.EventStreams.stageWave]]
    * so each is exactly one file regardless of the export's file layout.
    *
    * CACHED per (sf-dir, events fingerprint) through [[Scratch.cached]]:
    * the fixture is a pure function of the source, three Spark writes
    * cost ~1–2 s at sf0.1, and re-staging per invocation would put
    * FIXTURE cost inside the measured catalog row.
    */
  private[graft] def stageLateDrop(s: SparkSession, dir: String): java.nio.file.Path =
    Scratch.cached(s, s"$dir/events.parquet", "late") { drop =>
      val t0 = System.currentTimeMillis()
      val ev = Tables.load(s, dir, "events")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      Scratch.dir("strm_late_stage") { stage =>
        def wave(df: DataFrame, name: String, mtime: Long): Unit =
          graft.streaming.EventStreams.stageWave(df, stage, drop, s"$name.parquet", mtime)
        wave(ev, "w1_ontime", t0 - 120000)
        wave(ev.limit(0), "w2_spacer", t0 - 60000)
        wave(ev.where(
          unix_micros(col("ts")) < maxUs - 3L * 3600L * 1000000L),
          "w3_late", t0)
      }
    }

  /** Stage the outer-join fixture: wave 1 = the full events table,
    * wave 2 = two SENTINEL rows at max(ts)+3h — one click (user −1)
    * and one purchase (user −2), so BOTH input watermarks (the global
    * join watermark is their min) advance past every real click's
    * join window. The outer join's null-match rows are watermark-
    * GATED (emitted only when state evicts); with the sentinels, the
    * drain's final no-data batch evicts everything and the Append
    * output equals the batch LEFT join exactly — without them, every
    * unmatched click in the last hour would be silently withheld.
    * Cached per source fingerprint (the stageLateDrop convention).
    */
  private[graft] def stageOuterJoin(s: SparkSession, dir: String): java.nio.file.Path =
    Scratch.cached(s, s"$dir/events.parquet", "outer") { drop =>
      val t0 = System.currentTimeMillis()
      val ev = Tables.load(s, dir, "events")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val sentinels = s.range(1, 3).select(
        (col("id") * -1L).as("event_id"),
        timestamp_micros(lit(maxUs + 3L * 3600L * 1000000L)).as("ts"),
        (col("id") * -1L).as("user_id"),
        when(col("id") === 1, "click").otherwise("purchase").as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
      Scratch.dir("strm_outer_stage") { stage =>
        def wave(df: DataFrame, name: String, mtime: Long): Unit =
          graft.streaming.EventStreams.stageWave(df, stage, drop, s"$name.parquet", mtime)
        wave(ev, "w1_events", t0 - 120000)
        wave(sentinels, "w2_sentinels", t0 - 60000)
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour window per event_type.
    "ev_tumbling" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // STREAMING CATALOG ENTRY — a REAL Structured Streaming run the
    // driver hash-checks every round (previously the batch/stream
    // parity lived only in StreamingSpec): the events table is staged
    // into a drop folder (file streams consume directories), read as
    // a file-source STREAM, aggregated by the exact tumbling-window
    // expressions of ev_tumbling above (EventStreams.tumblingCounts
    // shares them), and DRAINED with Trigger.AvailableNow — the
    // reference's cron-style "process what's new, then stop"
    // semantics (reference modal/cron.py) — into an in-memory sink in
    // Complete mode. Because AvailableNow processes every available
    // file and Complete mode emits the full state, the drained result
    // EQUALS the batch twin, so the SAME oracle SQL hash-checks a
    // genuine streaming execution (watermark, state store, trigger
    // and all). At scale the drop folder shards by file and window
    // state lives in the state store keyed by (window, type) — the
    // standing-pipeline twin of the batch query.
    "strm_tumbling" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_tumbling_out_${strmRunIds.incrementAndGet()}"
        graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.tumblingCounts(
            graft.streaming.EventStreams.readEvents(s, drop)),
          out)
      }
    }),

    // STREAMING CATALOG ENTRY #1b — the SAME tumbling drain on the
    // RocksDB state store, the backend an unbounded-state production
    // stream actually runs (off-heap state, incremental snapshot
    // checkpoints — the default HDFSBacked provider keeps every
    // version's map ON-HEAP in the executor, which at 100 TB keyed
    // state is an OOM, not a config choice). The provider binds from
    // the cloned session conf at stream start, scoped exactly like the
    // state-partition count; results are backend-independent by
    // contract, so the SAME batch oracle hash-checks the RocksDB
    // execution path (provider init, native column families, commit)
    // every round — if the backend swap changed any row, the driver
    // would see it.
    "strm_rocksdb" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_rocksdb_out_${strmRunIds.incrementAndGet()}"
        graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.tumblingCounts(
            graft.streaming.EventStreams.readEvents(s, drop)),
          out, org.apache.spark.sql.streaming.OutputMode.Complete(),
          Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")))
      }
    }),

    // STREAMING CATALOG ENTRY #2 — stream-stream interval JOIN, the
    // stateful-join face of the streaming surface: clicks joined to
    // the same user's purchases in the preceding hour, watermarks on
    // BOTH sides bounding join state (EventStreams.clickPurchaseJoin;
    // the batch twin is the ev_interval_join family). Inner joins
    // emit a match as soon as both rows have arrived — no withheld
    // tail — so under Trigger.AvailableNow the Append-mode drain
    // equals the batch self-join EXACTLY and the oracle restates it
    // as plain SQL: the driver hash-checks a genuine two-sided
    // stateful streaming join (state store, watermark eviction and
    // all) every round. StreamingSpec pins the same parity in-suite.
    "strm_join" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_join_out_${strmRunIds.incrementAndGet()}"
        graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.clickPurchaseJoin(
            graft.streaming.EventStreams.readEvents(s, drop)),
          out, org.apache.spark.sql.streaming.OutputMode.Append())
      }
    }),

    // STREAMING CATALOG ENTRY #2b — LEFT OUTER stream-stream join:
    // the watermark-GATED face of streaming joins. Matched rows emit
    // eagerly like the inner join, but a NULL-MATCH row (click with no
    // purchase in its preceding hour) can only be produced by STATE
    // EVICTION — it exists exactly when the global join watermark
    // (min over both inputs) has passed the click's window with no
    // match arrived. The fixture's second wave plants one sentinel
    // per side at max(ts)+3h (advancing BOTH input watermarks past
    // every real window), paced one file per micro-batch so the
    // corpus batch completes first; the drain's closing no-data batch
    // then evicts all remaining click state, emitting every withheld
    // null row — and the Append output equals the batch LEFT join
    // exactly. Sentinels are filtered out (c_id ≥ 0); the oracle is
    // the plain batch left join, so the driver hash-checks the
    // eviction machinery: a single withheld or duplicated null row
    // breaks the hash.
    "strm_outer_join" -> ((s, dir) => {
      val drop = stageOuterJoin(s, dir)
      val out = s"strm_outer_out_${strmRunIds.incrementAndGet()}"
      graft.streaming.EventStreams.drainToMemory(s,
        graft.streaming.EventStreams.clickPurchaseLeftJoin(
          graft.streaming.EventStreams.readEventsPaced(
            s, drop.toString, Some(1))),
        out, org.apache.spark.sql.streaming.OutputMode.Append())
        .where(col("c_id") >= 0)
    }),

    // STREAMING CATALOG ENTRY #3 — exactly-once ingest dedup: the
    // events file is staged into the drop folder TWICE, so the stream
    // sees every event duplicated across files, and
    // dropDuplicatesWithinWatermark must emit each event_id exactly
    // once while holding dedup state only within the 1-hour watermark
    // delay (bounded state — the property that lets ingest dedup
    // survive an unbounded 100 TB stream where a naive distinct's
    // state grows forever). A second copy is eliminated on every
    // arrival path: still-in-state duplicates dedup, older-than-
    // watermark arrivals drop as late — so the drained output equals
    // the batch table no matter how AvailableNow slices the files
    // into micro-batches, and the oracle is a plain scan of events.
    "strm_dedup" -> ((s, dir) => {
      // every event staged TWICE (shared stager handles both export
      // shapes — the bespoke Files.copy it replaced silently copied a
      // directory-shaped export as an empty folder)
      stageEventsDrop(dir, copies = 2) { drop =>
        val out = s"strm_dedup_out_${strmRunIds.incrementAndGet()}"
        graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.dedupEvents(
            graft.streaming.EventStreams.readEvents(s, drop)),
          out, org.apache.spark.sql.streaming.OutputMode.Append())
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      }
    }),

    // STREAMING CATALOG ENTRY #4 — SESSION windows as a stream: the
    // variable-length, merge-on-arrival state shape (unlike fixed
    // windows, a new event can FUSE two open sessions, so the state
    // store must merge entries — the hardest windowed-state path).
    // Same expressions as the batch ev_session below
    // (EventStreams.sessionCounts shares them); drained with
    // Trigger.AvailableNow in Complete mode, where every session —
    // open or closed — is emitted from the full retained state, so
    // the drain EQUALS the batch result regardless of how the files
    // slice into micro-batches and the ev_session oracle hash-checks
    // a genuine streaming session-window execution. Append mode (the
    // unbounded-production shape, which withholds sessions until the
    // watermark passes their close) is pinned separately in
    // StreamingSpec; Complete here is what makes the bounded drain
    // comparable. At scale session state is keyed by (user, session)
    // in the state store and merges locally per key.
    "strm_session" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_session_out_${strmRunIds.incrementAndGet()}"
        graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.sessionCounts(
            graft.streaming.EventStreams.readEvents(s, drop)),
          out)
      }
    }),

    // STREAMING CATALOG ENTRY #4b — SESSIONS through transformWithState
    // EVENT-TIME TIMERS (EventStreams.userSessionsTws): emission is
    // driven by registerTimer/handleExpiredTimer on watermark passage
    // — the push-based half of the new state API that strm_ewma_tws's
    // input-driven fold doesn't touch — with a ListState holding
    // supersession-closed sessions until their timer. Sessions only
    // leave state when the watermark passes last+gap, so the
    // sentinel-wave fixture (stageOuterJoin: every real session's
    // close lies below the final watermark; the sentinels' own
    // sessions never ripen and are filtered by user_id) makes the
    // Append drain equal the batch gaps-and-islands result EXACTLY —
    // the same sessionSql oracle hash-checks timer registration,
    // firing, and state eviction end-to-end. Runs on RocksDB (the
    // operator requires it). Money folds in exact integer cents; the
    // /100.0 at the edge reproduces the decimal-sum→double cast
    // bit-for-bit.
    "strm_session_timers" -> ((s, dir) => {
      val drop = stageOuterJoin(s, dir)
      val out = s"strm_session_timers_out_${strmRunIds.incrementAndGet()}"
      graft.streaming.EventStreams.drainToMemory(s,
        graft.streaming.EventStreams.userSessionsTws(s,
          graft.streaming.EventStreams.readEventsPaced(s, drop.toString, Some(1)))
          .toDF("user_id", "start_us", "n_events", "cents"),
        out, org.apache.spark.sql.streaming.OutputMode.Append(),
        Map("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")))
        .where(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n_events"), (col("cents") / 100.0).as("total_value"))
    }),

    // STREAMING CATALOG ENTRY #5d — BATCH-BOOTSTRAPPED state through
    // StatefulProcessorWithInitialState (EventStreams.
    // userEwmaBootstrap): the warm-start migration pattern — per-user
    // (count, ewma) folded ONCE in batch over the historical 80% of
    // the timeline (deterministic integer cutoff at min + 4/5 of the
    // span), handed to the stream via handleInitialState, and the
    // stream processes ONLY the tail 20%. History is a strict
    // event-time prefix per user, so batch-fold ∘ stream-fold is
    // exactly the full-sequence fold and the SAME ev_ewma oracle
    // hash-checks the composition — seeding, carry, and continuation.
    // Users whose events all predate the cutoff never enter the
    // stream; their rows come from the initial state itself (the
    // union below; max-by-count picks the later of seed/emission).
    "strm_ewma_bootstrap" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val b = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).collect()(0)
      val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 4L / 5L
      val hist = ev.where(unix_micros(col("ts")) <= cutoff)
      val tailEv = ev.where(unix_micros(col("ts")) > cutoff)
      // initial state = the batch ev_ewma fold, restricted to history
      val init = hist.select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("a"))
        .select(col("user_id"), size(col("a")).cast("long").as("n"),
          expr("""aggregate(slice(a, 2, size(a) - 1),
                            element_at(a, 1).value,
                            (s, x) -> 0.25D * x.value + 0.75D * s)""")
            .as("ewma"))
      Scratch.frame("ewma_boot") { drop =>
        tailEv.write.mode("overwrite").parquet(s"$drop/tail")
        import s.implicits._
        val out = s"strm_ewma_boot_out_${strmRunIds.incrementAndGet()}"
        val drained = graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.userEwmaBootstrap(s,
            graft.streaming.EventStreams.readEvents(s, s"$drop/tail"),
            init.as[(Long, Long, Double)])
            .toDF("user_id", "n", "ewma"),
          out, org.apache.spark.sql.streaming.OutputMode.Update(),
          Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")))
        drained.unionByName(init.toDF("user_id", "n", "ewma"))
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("ewma"))).as("f"))
          .select(col("user_id"), col("f.n").cast("int").as("n_events"),
            col("f.ewma").as("ewma"))
      }
    }),

    // STREAMING CATALOG ENTRY #5c — MAP state through
    // transformWithState (EventStreams.userTypeCountsTws): per-user
    // MapState[event_type → count], point-read/point-write per type
    // per batch — the composite-key state shape the new API adds over
    // GroupState's single blob. The drained final emission per
    // (user, type) is the complete tally, so a plain GROUP BY oracle
    // hash-checks the MapState read/modify/write path every round.
    "strm_type_counts_tws" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_tcnt_out_${strmRunIds.incrementAndGet()}"
        val drained = graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.userTypeCountsTws(s,
            graft.streaming.EventStreams.readEvents(s, drop))
            .toDF("user_id", "event_type", "n"),
          out, org.apache.spark.sql.streaming.OutputMode.Update(),
          Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")))
        drained.groupBy(col("user_id"), col("event_type"))
          .agg(max(col("n")).as("n_events"))
      }
    }),

    // STREAMING CATALOG ENTRY — CHECKPOINT-RESTART RECOVERY (VERDICT
    // r16 #2: the operational meaning of "exactly-once"). Three
    // mtime-staggered single-file waves paced one per micro-batch
    // into a checkpointed partitioned streaming MERGE. Run 1 CRASHES
    // mid-drain: batch 0 (wave 1) merges and commits, then the
    // injected failure kills the query at batch 1 with its offsets in
    // the WAL but no commit — the state an executor/driver loss
    // leaves. Run 2 restarts from the SAME checkpointLocation and
    // must RESUME: replay exactly the failed batch 1 (its merge never
    // ran; per-batch upsert is idempotent anyway) and continue to
    // batch 2, never reprocessing batch 0 (StreamingSpec pins the
    // resumed run's batch ids via lastUpsertBatches). Wave 2 UPDATES
    // keys wave 1 inserted (every event_id % 6 == 0 bumped +1000 and
    // retyped 'R'), so a lost update (batch 0 replayed after batch 1)
    // or a skipped batch changes VALUES, not just counts — the final
    // table only hashes against the batch restatement if the resumed
    // run applied each wave exactly once, in order. At scale this is
    // the recovery path a 1000-executor deployment leans on: restart
    // cost is O(failed batch), never O(history).
    "strm_restart_resume" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), pmod(col("event_id"), lit(8L)).as("pk"))
      val upd = ev.where(col("event_id") % 6 === 0)
        .withColumn("event_type", lit("R"))
        .withColumn("value",
          (col("value").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double"))
      Scratch.frame("strm_restart") { root =>
        val drop = root.resolve("drop"); java.nio.file.Files.createDirectories(drop)
        def wave(df: DataFrame, name: String, mtime: Long): Unit =
          graft.streaming.EventStreams.stageWave(df, root, drop, name, mtime)
        val t0 = System.currentTimeMillis()
        wave(ev.where(col("event_id") % 3 === 0), "w1.parquet", t0 - 120000)
        wave(ev.where(col("event_id") % 3 === 1).unionAll(upd), "w2.parquet",
          t0 - 60000)
        wave(ev.where(col("event_id") % 3 === 2), "w3.parquet", t0)
        val tableDir = root.resolve("table").toString
        val ckpt = root.resolve("ckpt").toString
        def stream(failAt: Long): Unit =
          graft.streaming.EventStreams.upsertStream(s,
            s.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
              .parquet(drop.toString),
            tableDir, Seq("event_id"), Seq("pk"), ckpt, failAt)
        val crashed =
          try { stream(failAt = 1L); false }
          catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        require(crashed, "injected mid-drain crash did not surface")
        stream(failAt = -1L) // restart from the same checkpoint
        graft.sinks.SnapshotMerge.read(s, tableDir, ev.schema)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // STREAMING CATALOG ENTRY #6 — WATERMARK LATE-DATA DROP,
    // driver-enforced: the one streaming semantic the other strm_*
    // rows don't pin (Complete-mode drains retain all state, eager
    // joins have no withheld tail, dedup keys drop as duplicates
    // before they can drop as late). Three mtime-staggered waves
    // (stageLateDrop: on-time corpus → empty spacer → stale
    // duplicates) paced one file per micro-batch, so the stale wave
    // meets an ARMED late filter — Spark's late-record filter runs
    // one batch behind eviction (SPARK-24634 dual watermark; the
    // spacer batch is what promotes the watermark into the filter,
    // measured dropped=0 without it). Every stale row's window
    // closed below the watermark, so the aggregation MUST drop all
    // of them — if the engine admitted them, the old windows would
    // double-count and the hash would break. Update mode (the late
    // filter is inert in Complete); the final emission per window —
    // max by n, counts only grow — is compared against the plain
    // batch tumbling oracle over the events table.
    "strm_late_drop" -> ((s, dir) => {
      // fingerprint-cached fixture (stageLateDrop) — NOT deleted here:
      // one artifact per (sf, export) amortizes the three fixture
      // writes out of the measured drain, the stageEventsDrop hygiene
      // concern (unbounded per-call copies) doesn't apply
      val drop = stageLateDrop(s, dir)
      val out = s"strm_late_out_${strmRunIds.incrementAndGet()}"
      val drained = graft.streaming.EventStreams.drainToMemory(s,
        graft.streaming.EventStreams.tumblingCounts(
          graft.streaming.EventStreams.readEventsPaced(
            s, drop.toString, Some(1))),
        out, org.apache.spark.sql.streaming.OutputMode.Update())
      drained.groupBy(col("win_start"), col("event_type"))
        .agg(max(struct(col("n"), col("total_value"))).as("f"))
        .select(col("win_start"), col("event_type"),
          col("f.n").as("n"), col("f.total_value").as("total_value"))
    }),

    // STREAMING CATALOG ENTRY #5 — CUSTOM KEYED STATE through the
    // mapGroupsWithState API (the escape hatch for state shapes no
    // built-in aggregation expresses; the reference's mutable
    // LiveRecordingArchive row is exactly this class): per-user EWMA
    // carried as (count, ewma) across micro-batches
    // (EventStreams.userEwma). Update mode emits one running row per
    // (user, micro-batch); the FINAL emission per user — max by
    // count — is the complete fold, which with in-order file arrival
    // (the staged drop folder is one event-time-ordered file) is
    // BIT-identical to the batch ev_ewma sorted fold, so the same
    // oracle hash-checks a genuine custom-state streaming execution.
    // StreamingSpec pins the same parity in-suite. State is two
    // numbers per key — the O(1)-per-key class that survives an
    // unbounded stream.
    "strm_ewma" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_ewma_out_${strmRunIds.incrementAndGet()}"
        val drained = graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.userEwma(s,
            graft.streaming.EventStreams.readEvents(s, drop))
            .toDF("user_id", "n", "ewma"),
          out, org.apache.spark.sql.streaming.OutputMode.Update())
        drained.groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("ewma"))).as("f"))
          .select(col("user_id"), col("f.n").cast("int").as("n_events"),
            col("f.ewma").as("ewma"))
      }
    }),

    // STREAMING CATALOG ENTRY #5b — the SAME per-user EWMA through
    // Spark 4's transformWithState (EventStreams.userEwmaTws), the
    // successor API to mapGroupsWithState: declared ValueState
    // handles laid out as RocksDB virtual column families (the
    // operator REQUIRES the RocksDB provider, so this row also
    // exercises the production backend end-to-end). Identical fold,
    // identical state shape, so the drained final emission per user
    // hash-checks against the same batch ev_ewma oracle as strm_ewma
    // — if the new engine's state plumbing dropped or reordered a
    // row, the driver would see it. StreamingSpec additionally pins
    // tws-vs-mapGroups drain parity and that the tws operator
    // actually ran on RocksDB (provider metrics in the progress).
    "strm_ewma_tws" -> ((s, dir) => {
      stageEventsDrop(dir) { drop =>
        val out = s"strm_ewma_tws_out_${strmRunIds.incrementAndGet()}"
        val drained = graft.streaming.EventStreams.drainToMemory(s,
          graft.streaming.EventStreams.userEwmaTws(s,
            graft.streaming.EventStreams.readEvents(s, drop))
            .toDF("user_id", "n", "ewma"),
          out, org.apache.spark.sql.streaming.OutputMode.Update(),
          Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")))
        drained.groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("ewma"))).as("f"))
          .select(col("user_id"), col("f.n").cast("int").as("n_events"),
            col("f.ewma").as("ewma"))
      }
    }),

    // Sliding 1-hour window every 30 minutes (each event lands in 2).
    "ev_sliding" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("n"), col("total_value"))
    }),

    // Session windows: 30-minute inactivity gap per user.
    "ev_session" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("total_value"))
    }),

    // LAG: inter-event gap per user in exact integer microseconds
    // (the feature behind session thresholds and bot/burst detection).
    // One shuffle on user_id + per-key sort; first event per user has
    // a NULL gap.
    "ev_gaps" -> ((s, dir) => {
      // ordering on the exact-micros integer equals ordering on ts
      // (timestamps are microsecond precision, so the map is injective)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("gap_us"))
    }),

    // Interval densification: concurrent active sessions per
    // 10-minute bucket (the "peak concurrency" series every serving /
    // training-telemetry dashboard needs). Sessions are the same
    // half-open [start, last+gap) islands as ev_session; each explodes
    // into the 10-min buckets it OVERLAPS (floor(start) .. the bucket
    // holding end−1µs — all exact integer microsecond arithmetic),
    // then one hash aggregation counts per bucket. The explode factor
    // is bounded by session length over bucket width — the bounded
    // range-join shape (a direct sessions×buckets overlap join would
    // be a nested-loop product at scale).
    "ev_concurrency" -> ((s, dir) => {
      val sess = Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("st"), col("w.end").as("en"))
      sess
        .withColumn("b0",
          timestamp_seconds(expr("(unix_seconds(st) div 600) * 600")))
        .withColumn("b1",
          timestamp_seconds(expr("((unix_micros(en) - 1) div 600000000) * 600")))
        .select(explode(sequence(col("b0"), col("b1"),
          expr("INTERVAL 10 MINUTES"))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_active"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("n_active"))
    }),

    // AS-OF join — the temporal lookup Spark has no native operator
    // for (a naive range-condition join plans as BroadcastNestedLoop
    // and dies at scale): each click matched to the SAME USER's most
    // recent prior-or-equal purchase. The distributed shape is the
    // union trick: tag both sides, sort per user on (ts, side) with
    // purchases first at ties, and carry the last non-null purchase
    // forward with an ignoreNulls running `last` — ONE shuffle on the
    // join key and one per-key sort, the same cost class as a session
    // window, regardless of how far back the match lies. Purchases are
    // pre-deduped per (user, ts) (max event_id) so the match is
    // deterministic where DuckDB's ASOF leaves multi-row ties
    // unspecified. Gap is computed in exact integer microseconds.
    // Skew note: one pathological key serializes its own sort only;
    // salting by coarse time range with boundary replication is the
    // standard fix at 100 TB.
    "ev_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          lit(1).as("side"), lit(null).cast("long").as("p_event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"))
        .select(lit(null).cast("long").as("event_id"), col("user_id"),
          col("ts"), lit(0).as("side"), col("p_event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("side"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("m_id", last(col("p_event_id"), ignoreNulls = true).over(w))
        .withColumn("m_ts",
          last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
        .where(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("m_id").as("p_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("m_ts"))).as("gap_us"))
    }),

    // CUSUM CHANGE-POINT DETECTION (Page 1954, the SPC classic): per
    // event type, the point where the cumulative deviation from the
    // mean peaks — "where did this metric's level shift". Division-
    // free integer spelling: S'_k = n·prefix_k − k·total (cents) is
    // n× the classic CUSUM, so its argmax is the SAME point with
    // every intermediate exact in BIGINT — no float mean, no drift.
    // OVERFLOW BOUND (the g5_frequent_pairs convention): the products
    // n·(off_sum+run) and (off_cnt+rn)·t are each bounded by
    // n·total_cents per event type, so the spelling is BIGINT-safe
    // only while n·total_cents < 2⁶³ ≈ 9.2e18 — e.g. 1e9 events
    // averaging 1e4 cents (1e13 total) saturates at n ≈ 9e5 more
    // events. Past that bound non-ANSI Spark WRAPS silently (wrong
    // argmax) while the DuckDB oracle errors; deployments in that
    // regime must switch both sides to DECIMAL(38,0) accumulation
    // (safe to n·total_cents < 1e38; same argmax, exact), which is
    // kept out of the default spelling only because the comparator
    // canonicalizes decimals and doubles differently across engines.
    // Scale factorization: the per-type prefix sum is SHARDED BY DAY
    // (in-day running sums over high-cardinality (type, day) windows
    // + broadcast per-day offsets — the text_curriculum_shards
    // pattern; a bare per-type window serializes each type through
    // one reducer, the w3_percent_rank class), and the final argmax
    // is a partial-agg max(struct(s, −µs, −id)) — never a per-type
    // sort. The sharding is value-transparent, so DuckDB restates
    // the whole thing with plain windows and it hash-checks.
    "ev_cusum_changepoint" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("day", to_date(col("ts")))
      val inDay = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val withRun = e
        .withColumn("run", sum(col("c")).over(
          inDay.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("rn", row_number().over(inDay))
      val dayAgg = e.groupBy(col("event_type"), col("day"))
        .agg(sum(col("c")).as("dsum"), count(lit(1)).as("dcnt"))
      val acrossDays = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offs = dayAgg
        .withColumn("off_sum", coalesce(sum(col("dsum")).over(acrossDays), lit(0L)))
        .withColumn("off_cnt", coalesce(sum(col("dcnt")).over(acrossDays), lit(0L)))
        .select(col("event_type"), col("day"), col("off_sum"), col("off_cnt"))
      val totals = dayAgg.groupBy(col("event_type"))
        .agg(sum(col("dsum")).as("t"), sum(col("dcnt")).as("n"))
      withRun
        .join(broadcast(offs), Seq("event_type", "day"))
        .join(broadcast(totals), "event_type")
        .withColumn("s", abs(col("n") * (col("off_sum") + col("run"))
          - (col("off_cnt") + col("rn")) * col("t")))
        .groupBy(col("event_type"))
        .agg(max(struct(col("s"),
          (-unix_micros(col("ts"))).as("nus"),
          (-col("event_id")).as("nid"))).as("m"))
        .select(col("event_type"),
          date_format(timestamp_micros(-col("m.nus")), "yyyy-MM-dd HH:mm:ss")
            .as("cp_ts"),
          col("m.s").as("s_scaled"))
    }),

    // RFM SEGMENTATION (recency / frequency / monetary quartiles —
    // the classic customer-analytics segmentation): per user over
    // purchases, recency = last purchase micros, frequency = count,
    // monetary = DECIMAL-exact spend; each scored into ntile(4)
    // quartiles with a user_id tie-break (ntile is deterministic
    // given a total order), segment = "r-f-m". The ntile windows run
    // over the AGGREGATED per-user table (|users| rows, not events) —
    // at a scale where the user dimension itself is corpus-sized, the
    // sharded-prefix-sum factorization is SHIPPED as the oracle twin
    // `ev_rfm_scaled` below (closed-form ntile from sharded global
    // ranks, zero user-dimension windows) — this spelling stays as
    // the small-dimension fast path.
    "ev_rfm_segments" -> ((s, dir) => {
      val p = Tables.load(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("recency_us"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(18,2)")).as("monetary"))
      def q(metric: String) = ntile(4).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col(metric).asc, col("user_id").asc))
      p.withColumn("r", q("recency_us"))
        .withColumn("f", q("frequency"))
        .withColumn("m", q("monetary"))
        .select(concat_ws("-", col("r"), col("f"), col("m")).as("segment"),
          col("user_id"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // RFM SEGMENTATION, SHARDED: identical output to ev_rfm_segments
    // (same oracle SQL) with every user-dimension window FACTORED —
    // the shipped form of the scale spelling the base query's
    // scaladoc documents. ntile(4) over a TOTAL order is a pure
    // function of (global 0-based rank i, row count n): the first
    // n%4 buckets take ⌈n/4⌉ rows, the rest ⌊n/4⌋ — so each metric
    // needs only every row's exact global rank, which the
    // sharded-prefix-sum engine computes with no data-sized
    // partition: range-partition by (metric, user_id) so the shard
    // id is monotone in sort order, rank = row_number within the
    // shard (window bounded by |users|/P) + earlier-shard row counts
    // (a P-row broadcast offset table; the only unpartitioned window
    // orders those P rows). Three metrics = three such passes over
    // the |users|-row aggregate, each a shuffle of the narrow
    // per-user frame. n is exact from the offsets table itself, and
    // the closed-form bucket is integer arithmetic, so the segment
    // counts hash-check against the ntile oracle.
    "ev_rfm_scaled" -> ((s, dir) => {
      val p = Tables.load(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("recency_us"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(18,2)")).as("monetary"))
      val W = org.apache.spark.sql.expressions.Window
      def quartile(df: DataFrame, metric: String, out: String): DataFrame = {
        // Materialized once (lazy local checkpoint): the frame feeds
        // both the offsets branch and the ranking branch, and
        // i = off + row_number is only correct if both see identical
        // range boundaries behind spark_partition_id() — a guarantee
        // exchange reuse provides only as an optimizer option.
        val sharded = df
          .repartitionByRange(32, col(metric).asc, col("user_id").asc)
          .withColumn("pid", spark_partition_id())
          .ckpt(false)
        val partCounts = sharded.groupBy(col("pid"))
          .agg(count(lit(1)).as("pc"))
        val acrossShards = W.orderBy(col("pid"))
          .rowsBetween(W.unboundedPreceding, -1)
        val offsets = partCounts
          .withColumn("off", coalesce(sum(col("pc")).over(acrossShards), lit(0L)))
          .select(col("pid"), col("off"))
        val n_total = partCounts.agg(sum(col("pc")).as("n")).select(col("n"))
        val inShard = W.partitionBy(col("pid"))
          .orderBy(col(metric).asc, col("user_id").asc)
        sharded
          .withColumn("i", row_number().over(inShard).cast("long") - 1)
          .join(broadcast(offsets), Seq("pid"))
          .withColumn("i", col("i") + col("off"))
          .crossJoin(broadcast(n_total))
          // ntile(4) closed form: first n%4 buckets of ⌈n/4⌉ rows,
          // then ⌊n/4⌋-row buckets (greatest guards n<4, where the
          // ELSE branch is unreachable but still type-checked)
          .withColumn(out, expr(
            """CAST(CASE WHEN i < (n % 4) * ((n div 4) + 1)
                    THEN i div ((n div 4) + 1)
                    ELSE (n % 4) + (i - (n % 4) * ((n div 4) + 1))
                         div greatest(n div 4, 1)
               END + 1 AS INT)"""))
          .drop("pid", "i", "off", "n")
      }
      val scored = quartile(quartile(quartile(p,
        "recency_us", "r"), "frequency", "f"), "monetary", "m")
      scored
        .select(concat_ws("-", col("r"), col("f"), col("m")).as("segment"),
          col("user_id"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // SCD2 BUILD + TEMPORAL LOOKUP (the slowly-changing-dimension
    // pattern, Kimball type 2): purchases define each user's "tier"
    // history as validity intervals — valid_from = purchase ts,
    // valid_to = the NEXT purchase's ts (lead window; null = open) —
    // and clicks then join to the dimension row valid AT CLICK TIME.
    // Because the dimension has the user as an equi-key, the temporal
    // lookup is a plain HASH join on user_id with the validity range
    // as a residual filter — per-user dim rows are few, so no
    // bucketization is needed (contrast ev_interval_join, where no
    // equi-key exists). The tier is an integer bucket of a double the
    // engines share bit-for-bit (IEEE /10 then floor), and the output
    // aggregates, so the whole build+lookup hash-checks.
    "ev_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val dim = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          floor(col("value") / 10).cast("int").as("tier"),
          col("ts"), col("event_id"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id").as("d_user"), col("tier"),
          col("ts").as("valid_from"), col("valid_to"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      clicks.join(dim,
          col("user_id") === col("d_user") &&
          col("c_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("c_ts") < col("valid_to")))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_clicks"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // INTERVAL (range-containment) join — the other temporal join
    // Spark has no native operator for: every event matched to the
    // incident windows [st, st+15min) that CONTAIN it, with no shared
    // equi-key between the sides. The naive spelling (join on two
    // inequalities) plans as BroadcastNestedLoopJoin — a full
    // probe×interval product at scale. The distributed shape is
    // BUCKETIZATION: bucket width = the max interval length, so every
    // interval overlaps at most 2 buckets; intervals explode to the
    // buckets they overlap (replication ≤ 2, independent of data
    // size), probes map to their single bucket, and the join becomes
    // an EQUI-join on the bucket followed by the exact containment
    // filter. One shuffle on a high-cardinality time key; per-task
    // work bounded by events-per-15-minutes. Variable-length
    // intervals bucket by the global max (or split long intervals
    // into width-sized pieces first) — fixed here by construction.
    // All bucket arithmetic is exact integer µs (`div`, never a
    // double divide that could misround a boundary). EventSpec pins
    // the plan: no BroadcastNestedLoop / CartesianProduct.
    "ev_interval_join" -> ((s, dir) => {
      val wUs = 15L * 60 * 1000000 // bucket width == interval length
      val ev = Tables.load(s, dir, "events")
      val inc = ev
        .where(col("event_type") === "error" && col("value") > 200.0)
        .select(col("event_id").as("incident_id"),
          unix_micros(col("ts")).as("st_us"))
        .withColumn("en_us", col("st_us") + lit(wUs))
      val bucketed = inc.select(col("incident_id"), col("st_us"), col("en_us"),
        explode(sequence(expr(s"st_us div ${wUs}L"),
          expr(s"(en_us - 1) div ${wUs}L"))).as("bucket"))
      val probes = ev.select(col("event_id"),
          unix_micros(col("ts")).as("ev_us"), col("value"))
        .withColumn("bucket", expr(s"ev_us div ${wUs}L"))
      probes.join(bucketed, Seq("bucket"))
        .where(col("ev_us") >= col("st_us") && col("ev_us") < col("en_us"))
        .groupBy(col("incident_id"), col("st_us"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("incident_id"),
          date_format(timestamp_micros(col("st_us")), "yyyy-MM-dd HH:mm:ss").as("st_s"),
          col("n_events"), col("total_value"))
    }),

    // Sequential-pattern FUNNEL (signup → click → purchase, each
    // within 24 h of the previous stage, strictly ordered in event
    // time) — the MATCH_RECOGNIZE-class question ("how far did each
    // user get?") spelled as iterated conditional aggregation: stage
    // k's earliest time is min(us) over stage-k events inside
    // (t_{k−1}, t_{k−1} + 24 h]. Three hash aggs and
    // two joins, all keyed on the high-cardinality user_id — each
    // stage's frame shrinks (only users who reached k−1 join stage
    // k), and co-partitioned exchanges reuse. No per-user sort, no
    // window over the whole history — the shape that holds when one
    // user has a million events.
    "ev_funnel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("t_signup"))
      val day = 86400L * 1000000
      val s2 = ev.where(col("event_type") === "click")
        .join(s1, "user_id")
        .where(col("us") > col("t_signup") && col("us") <= col("t_signup") + day)
        .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
      val s3 = ev.where(col("event_type") === "purchase")
        .join(s2, "user_id")
        .where(col("us") > col("t_click") && col("us") <= col("t_click") + day)
        .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
      ev.select(col("user_id")).distinct()
        .join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_signup").isNotNull, 1)
            .otherwise(0).as("stage"),
          col("t_signup"), col("t_click"), col("t_purchase"))
    }),

    // FULL OUTER join — the join flavor the rest of the catalog lacks
    // (J3 covers left outer, J6/J7 anti/semi): per-day HIGH-VALUE
    // click activity stitched to high-value purchase activity, where
    // either side can genuinely be absent on a given day (the value
    // cuts make single-sided days real, so the coalesce paths are
    // exercised, not decorative). Keys are pre-aggregated day strings
    // — the join input is already one row per (day, side), so the
    // full-outer shuffle is trivially bounded no matter the event
    // volume underneath.
    "j10_full_outer" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value"))
      val c = ev.where(col("event_type") === "click" && col("value") > 400.0)
        .groupBy(col("day")).agg(count(lit(1)).as("n_clicks"))
      val p = ev.where(col("event_type") === "purchase" && col("value") > 340.0)
        .groupBy(col("day")).agg(count(lit(1)).as("n_purchases"))
      c.join(p, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
    }),

    // COHORT RETENTION matrix — users bucketed by first-PURCHASE
    // week (conversion cohorts vary where first-seen week is
    // degenerate on an always-on fixture), counted per (cohort,
    // weeks-since-cohort) over ALL subsequent activity: the canonical
    // engagement/retention analysis. Weeks are integer epoch-week
    // indices (µs div week — exact integer arithmetic, no tz or
    // calendar dependence). Shape: per-user min (hash agg) + distinct
    // (user, week) activity pairs + one join on user_id (both sides
    // already partitioned by it) + final count-distinct agg. Every
    // stage keys on user_id or a bounded (cohort, offset) grid —
    // nothing super-linear at any corpus size.
    "ev_retention" -> ((s, dir) => {
      val weekUs = 7L * 86400 * 1000000
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr(s"unix_micros(ts) div ${weekUs}L").as("week"))
      val cohort = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("week")).as("w0"))
      ev.select(col("user_id"), col("week")).distinct()
        .join(cohort, "user_id")
        .where(col("week") >= col("w0"))
        .groupBy(col("w0").as("cohort_week"),
          (col("week") - col("w0")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Fixed-width value HISTOGRAM per event type (bin width 25) —
    // the one-pass distribution summary behind every monitoring
    // dashboard; bin ids are exact integer floor-division of the
    // double value (identical IEEE truncation on both engines for
    // the in-range values here). Pure map-side-combining hash agg on
    // a bounded (type, bin) grid.
    "ev_histogram" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 25.0).as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
    }),

    // Time-series downsampling to per-(user, hour) OHLC bars — the
    // resample step a feature pipeline runs before model training.
    // open/close are min_by/max_by over the UNIQUE (ts, event_id)
    // struct key (lexicographic, ties impossible), so the whole bar is
    // ONE hash aggregate with map-side combine — no window, no
    // per-group sort; at 100 TB this shuffles only the distinct
    // (user, hour) bars, not the raw events. Values pass through
    // unchanged (no arithmetic) → bit-exact against the oracle's
    // row_number spelling.
    "ev_downsample" -> ((s, dir) => {
      val key = struct(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("b"))
        .agg(
          min_by(col("value"), key).as("open_v"),
          max_by(col("value"), key).as("close_v"),
          min(col("value")).as("low_v"),
          max(col("value")).as("high_v"),
          count(lit(1)).as("n"))
        .select(col("user_id"),
          date_format(col("b"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("open_v"), col("close_v"), col("low_v"), col("high_v"), col("n"))
    }),

    // Time-series GAP FILL: densify each user's hourly series over
    // their observed [first, last] hour (missing hours get n=0) and
    // forward-fill the last observed close value — the
    // regular-cadence resample an ML feature pipeline needs before
    // windowed training. Shape: one hash agg to hourly bars (shuffles
    // bars, not events), a tiny per-user span agg, `sequence`-explode
    // of the span (bounded by the time range, never by event count),
    // a (user, hour) equi-join back, and ONE per-user window for the
    // fill — every stage partitions on the user key, no global sort.
    // Fill copies values verbatim (no arithmetic) → bit parity with
    // the oracle's IGNORE NULLS last_value.
    "ev_gap_fill" -> ((s, dir) => {
      val key = struct(col("ts"), col("event_id"))
      val hourly = Tables.load(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), max_by(col("value"), key).as("close_v"))
      val dense = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h"))
      dense.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          last(col("close_v"), ignoreNulls = true).over(w).as("filled_value"),
          col("n").isNull.cast("int").as("is_filled"))
    }),

    // Rolling 24 h DISTINCT users per hour — the trailing-window
    // cardinality no SQL window function expresses (COUNT(DISTINCT)
    // OVER is unsupported everywhere). Scale shape: collapse to
    // distinct (hour, user) pairs first (hash agg, the only
    // corpus-scale stage), then each pair contributes to exactly 24
    // target hours via a BOUNDED sequence-explode — the ev_concurrency
    // densification trick — and a hash agg counts distinct users per
    // target hour; a semi-join restricts output to hours that exist.
    // No range join, no nested loop, every stage keyed and parallel.
    "ev_rolling_distinct" -> ((s, dir) => {
      val hu = Tables.load(s, dir, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .distinct()
      val contrib = hu.select(col("user_id"),
        explode(sequence(col("h"), col("h") + expr("interval 23 hours"),
          expr("interval 1 hour"))).as("oh"))
      contrib.join(hu.select(col("h").as("oh")).distinct(), Seq("oh"), "left_semi")
        .groupBy(col("oh"))
        .agg(countDistinct(col("user_id")).as("u24"))
        .select(date_format(col("oh"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("u24"))
    }),

    // The SKETCH twin of ev_rolling_distinct — the 100 TB path. The
    // exact query pushes 24× the distinct (hour, user) pairs through
    // a count-distinct; this one reduces the corpus ONCE to a few-KB
    // HLL sketch per hour (map-side combinable), then unions 24
    // sketches per output hour with a RANGE-framed window over the
    // HOURLY table — which is calendar-sized after the first agg, so
    // the unpartitioned window is metadata-scale by construction
    // (drop to one window per coarse time range if years of hours
    // ever mattered). Rows-only (sketch internals are
    // engine-specific); the spec pins every hour within 5% of the
    // exact query and the estimate EXACT on hours whose true
    // cardinality is far below 2^lgK.
    "ev_rolling_distinct_approx" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("hs")).rangeBetween(-23 * 3600L, 0L)
      Tables.load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .withColumn("hs", unix_seconds(col("h")))
        .withColumn("u24_est",
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)).over(w)))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("u24_est"))
    }),

    // Event-type TRANSITION MATRIX (first-order Markov features):
    // lead() per user stream, pair counts, and exact conditional
    // probabilities. One shuffle on the user key for the sequence
    // window; the count tables are (types × types) — metadata-sized.
    // p = n/m spells the SAME two bigint operands on both engines →
    // one correctly-rounded IEEE division, bit parity.
    "ev_markov_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val seq0 = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .where(col("nxt").isNotNull)
      val c = seq0.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
      val tot = c.groupBy(col("cur")).agg(sum(col("n")).as("m"))
      c.join(broadcast(tot), "cur")
        .select(col("cur"), col("nxt"), col("n"),
          (col("n").cast("double") / col("m")).as("p"))
    }),

    // SQL SESSIONIZATION (gap ≥ 30 min ⇒ new session — the same
    // half-open boundary as session_window, so ev_session and this
    // query agree session-for-session, spec-pinned): the classic
    // lag-flag + running-sum idiom — the batch spelling of what
    // session_window/flatMapGroupsWithState do with state. Both
    // windows and the final agg share the user partitioning, so the
    // whole query is ONE shuffle on the user key; session ids are
    // per-user ordinals (stable under reruns, no global counter).
    "ev_sessionize_sql" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("user_id"), col("sid"), col("n_events"),
          col("session_start"), col("total_value"))
    }),

    // GAPS-AND-ISLANDS streaks: longest run of CONSECUTIVE active
    // days per user — the classic `date − row_number()` anchor trick
    // (consecutive days share one anchor; integer arithmetic only).
    // Stages: distinct (user, day) — the only corpus-scale agg —
    // then a per-user window over DISTINCT DAYS (bounded by the
    // calendar, not event volume: a user has ≤ 365·years rows here
    // no matter how many events) and two tiny hash aggs. All-integer
    // → exact.
    "ev_streaks" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      Tables.load(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
        .distinct()
        .withColumn("anchor", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("anchor"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
    }),

    // Top-3 event types per hour — per-group top-k where the window
    // partition key (hour) is HIGH-cardinality and each partition
    // holds ≤ |event types| pre-aggregated rows, so the window sort
    // is trivially bounded (contrast text_weighted_sample, where the
    // group is low-cardinality and needs the two-level salt).
    "ev_topk_per_hour" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("n").desc, col("event_type").asc)
      Tables.load(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
    }),

    // Per-type OLS TREND (least-squares value-over-time slope): the
    // drift statistic behind "is this metric creeping up". Five exact
    // moment sums (x as integer SECONDS — decimal-exact sums that
    // never overflow 38 digits even at 10¹² rows, unlike micros²),
    // then slope/intercept as a fixed tree of correctly-rounded
    // double ops — bit parity by the a9_cov_corr argument. One
    // map-side-combined hash agg on a 25-value key.
    "ev_trend" -> ((s, dir) => {
      val m = Tables.load(s, dir, "events")
        .select(col("event_type"),
          // seconds over a fixed 2020-09 base: keeps x² ~10¹⁶, far
          // from BIGINT overflow for any plausible event time
          (expr("unix_micros(ts) div 1000000") - 1600000000L).as("x"),
          col("value").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(38,6)")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"),
          sum((col("x").cast("double") * col("y")).cast("decimal(38,6)"))
            .cast("double").as("sxy"))
      m.withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")))
        // rounded past ulp noise: n·sxy − sx·sy is FMA-contractable
        // in a C++ engine, never on the JVM (a9_cov_corr precedent)
        .select(col("event_type"), col("n"), round(col("slope"), 12).as("slope"),
          round((col("sy") - col("slope") * col("sx")) / col("n"), 6)
            .as("intercept"))
    }),

    // EWMA smoothing per user (α = 0.25): the sequential-dependency
    // op window functions cannot express (s_t = α·x_t + (1−α)·s_{t−1}
    // depends on its own previous OUTPUT). Spelled as a per-key
    // sorted LEFT FOLD: collect the user's series, array_sort by the
    // unique (us, event_id) key, and fold with `aggregate` — state per
    // key is the user's own series (the same per-key bound as any
    // sessionization; the streaming spelling is mapGroupsWithState).
    // Bit parity: α = 0.25 and 1−α = 0.75 are EXACT binaries, each
    // fold step is two correctly-rounded multiplies + one add in the
    // same order on both engines (DuckDB list_reduce is the same left
    // fold, seeded with the first element) — zero libm, zero
    // order-nondeterminism. One shuffle on user_id.
    "ev_ewma" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
          col("value")))).as("a"))
        .select(col("user_id"), size(col("a")).as("n_events"),
          expr("""aggregate(slice(a, 2, size(a) - 1),
                            element_at(a, 1).value,
                            (s, x) -> 0.25D * x.value + 0.75D * s)""")
            .as("ewma"))
    }),

    // Robust ANOMALY FLAGGING on hourly volumes: median/MAD outlier
    // detection (|n − median| > 3·MAD per event type) — the data-drift
    // tripwire over ingest volumes. The exact order statistics run on
    // the ALREADY-AGGREGATED (type, hour) counts — a time-bounded
    // table (hours × types), metadata-sized at any corpus scale — so
    // the only data-scale stage is the first hash agg; this is the
    // aggregate-first answer to the exact-percentile scale trap
    // (NOTES_r10 w3). Counts are integers and medians/MADs land on
    // exact halves (lerp of two ints), so 3·MAD and the comparison
    // are IEEE-exact on both engines.
    "ev_anomaly" -> ((s, dir) => {
      val c = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val med = c.groupBy(col("event_type"))
        .agg(percentile(col("n"), lit(0.5)).as("med"))
      val dev = c.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .where(col("dev") > lit(3) * col("mad"))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("n"), col("med"), col("mad"))
    })
  )

  /** The per-user EWMA left fold — shared by the batch ev_ewma row
    * and its mapGroupsWithState streaming drain twin.
    */
  private val ewmaSql =
    """SELECT user_id, CAST(len(l) AS INTEGER) AS n_events,
           list_reduce(l, (s, x) -> 0.25::DOUBLE * x + 0.75::DOUBLE * s) AS ewma
         FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS l
               FROM events GROUP BY user_id) t"""

  /** Session windows restated as gaps-and-islands — shared by the
    * batch ev_session row and its streaming Complete-mode drain twin.
    */
  private val sessionSql =
    """WITH marked AS (
           SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         islands AS (
           SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked)
         SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM islands GROUP BY user_id, sid"""

  /** Shared by `ev_rfm_segments` and its sharded twin — ntile(4) over
    * a total order is a pure function of global rank and count, so
    * the factored spelling reproduces the same quartiles exactly.
    */
  private val rfmSegmentsSql =
    """WITH p AS (SELECT user_id,
           max(epoch_us(ts)) AS recency_us,
           count(*) AS frequency,
           sum(CAST(value AS DECIMAL(18,2))) AS monetary
         FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       scored AS (SELECT user_id,
           ntile(4) OVER (ORDER BY recency_us ASC, user_id ASC) AS r,
           ntile(4) OVER (ORDER BY frequency ASC, user_id ASC) AS f,
           ntile(4) OVER (ORDER BY monetary ASC, user_id ASC) AS m
         FROM p)
       SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR)
              || '-' || CAST(m AS VARCHAR) AS segment,
         count(*) AS n_users
       FROM scored GROUP BY 1"""

  def oracle: Map[String, String] = Map(
    "ev_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    // the streaming drain (AvailableNow + Complete mode) provably
    // equals the batch tumbling aggregation, so the batch oracle
    // hash-checks a genuine streaming execution
    "strm_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    // backend-independence contract: the RocksDB provider drain must
    // equal the exact same batch aggregation
    "strm_rocksdb" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    // duplicate stale events staged after the watermark advanced must
    // ALL drop as late, leaving exactly the batch aggregation
    "strm_late_drop" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    // inner stream-stream joins emit eagerly (no withheld tail), so
    // the Append-mode AvailableNow drain equals this batch self-join
    "strm_join" ->
      """SELECT c.event_id AS c_id, c.user_id AS user_id, p.event_id AS p_id,
           epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
         FROM events c JOIN events p
           ON p.user_id = c.user_id
          AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
    // null-match rows only exist via state eviction — the plain batch
    // LEFT join is what the sentinel-flushed drain must equal
    "strm_outer_join" ->
      """SELECT c.event_id AS c_id, c.user_id AS user_id, p.event_id AS p_id,
           epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON p.user_id = c.user_id
          AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts""",
    // the doubled drop folder dedups back to exactly the events table
    "strm_dedup" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           user_id, event_type, value, props
         FROM events""",
    // sliding(1h, 30m): the windows covering ts start at bucket30(ts)
    // and bucket30(ts) − 30min.
    "ev_sliding" ->
      """WITH slid AS (
           SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, value FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws, value
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM slid GROUP BY 1""",
    // session windows = gaps-and-islands with a 30-minute gap. Spark's
    // session interval is half-open [start, last+gap), so an event at
    // exactly last+gap starts a NEW session → new_session on diff >= gap.
    "ev_session" -> sessionSql,
    // timer-driven eviction must reproduce the batch islands exactly
    "strm_session_timers" -> sessionSql,
    // the MapState tally's final emissions are plain per-key counts
    "strm_type_counts_tws" ->
      """SELECT user_id, event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2""",
    // crash-at-batch-1 + restart-from-checkpoint must end exactly
    // like a never-crashed run: every key once, wave-2's updates
    // (event_id % 6 = 0: +1000, type 'R') winning over wave 1
    "strm_restart_resume" ->
      """SELECT event_id, user_id,
           CASE WHEN event_id % 6 = 0 THEN 'R' ELSE event_type END AS event_type,
           CASE WHEN event_id % 6 = 0
                THEN CAST(CAST(value AS DECIMAL(18,2)) + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE)
                ELSE value END AS value,
           event_id % 8 AS pk
         FROM events""",
    // the streaming Complete-mode drain emits the identical full
    // session state (see the strm_session query comment)
    "strm_session" -> sessionSql,
    "ev_gaps" ->
      """SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS gap_us
         FROM events""",
    // same islands as ev_session, densified with generate_series over
    // the 10-minute buckets each session overlaps
    "ev_concurrency" ->
      """WITH marked AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
           FROM events),
         islands AS (
           SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked),
         sessions AS (
           SELECT MIN(ts) AS st, MAX(ts) + INTERVAL 30 MINUTE AS en
           FROM islands GROUP BY user_id, sid),
         b AS (
           SELECT unnest(generate_series(
             to_timestamp((epoch_us(st) // 600000000) * 600),
             to_timestamp(((epoch_us(en) - 1) // 600000000) * 600),
             INTERVAL 10 MINUTE)) AS bucket
           FROM sessions)
         SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           COUNT(*) AS n_active
         FROM b GROUP BY 1""",
    // native ASOF LEFT JOIN; purchases pre-deduped per (user, ts) so
    // the at-most-one-match row is the same one Spark picks
    "ev_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, MAX(event_id) AS p_event_id
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           p.p_event_id,
           epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",
    // the sharded factorization is value-transparent, so the oracle
    // uses plain per-type windows; argmax tie-break (s desc, ts asc,
    // id asc) restated via QUALIFY
    "ev_cusum_changepoint" ->
      """WITH e AS (SELECT event_type, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         s AS (SELECT event_type, ts, event_id,
             sum(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS pre,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS k,
             sum(c) OVER (PARTITION BY event_type) AS t,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e)
         SELECT event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS cp_ts,
           CAST(abs(n * pre - k * t) AS BIGINT) AS s_scaled
         FROM s
         QUALIFY row_number() OVER (PARTITION BY event_type
           ORDER BY abs(n * pre - k * t) DESC, ts ASC, event_id ASC) = 1""",
    // ntile semantics match (equal buckets, remainder to the first);
    // the user_id tie-break makes the quartile assignment a total
    // order, so segment counts hash-check. The sharded twin computes
    // the same quartiles from global ranks (ntile over a total order
    // is a pure function of rank and count), so one oracle pins both.
    "ev_rfm_segments" -> rfmSegmentsSql,
    "ev_rfm_scaled" -> rfmSegmentsSql,
    // SCD2 build (lead window) + validity-range lookup restated
    // directly; the tie-broken ORDER BY (ts, event_id) makes lead()
    // deterministic in both engines
    "ev_scd2_lookup" ->
      """WITH d AS (
           SELECT user_id, CAST(floor(value / 10) AS INT) AS tier, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
         SELECT tier, count(*) AS n_clicks,
           count(DISTINCT c.user_id) AS n_users
         FROM c JOIN d ON c.user_id = d.user_id
           AND c.ts >= d.ts AND (d.valid_to IS NULL OR c.ts < d.valid_to)
         GROUP BY tier""",
    // the direct inequality join DuckDB executes as an IEJoin; the
    // Spark side must produce identical rows through the bucketed
    // equi-join spelling
    "ev_interval_join" ->
      """WITH inc AS (
           SELECT event_id AS incident_id, ts AS st,
             ts + INTERVAL 15 MINUTE AS en
           FROM events WHERE event_type = 'error' AND value > 200)
         SELECT i.incident_id,
           strftime(i.st, '%Y-%m-%d %H:%M:%S') AS st_s,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM inc i JOIN events e ON e.ts >= i.st AND e.ts < i.en
         GROUP BY 1, 2""",
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         s1 AS (SELECT user_id, MIN(us) AS t_signup FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(us) AS t_click FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND us > t_signup
                  AND us <= t_signup + 86400000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(us) AS t_purchase FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND us > t_click
                  AND us <= t_click + 86400000000 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN t_purchase IS NOT NULL THEN 3
                WHEN t_click IS NOT NULL THEN 2
                WHEN t_signup IS NOT NULL THEN 1
                ELSE 0 END AS stage,
           t_signup, t_click, t_purchase
         FROM (SELECT DISTINCT user_id FROM e) u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)""",
    "j10_full_outer" ->
      """WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_clicks
                    FROM events WHERE event_type = 'click' AND value > 400
                    GROUP BY 1),
         p AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_purchases
               FROM events WHERE event_type = 'purchase' AND value > 340
               GROUP BY 1)
         SELECT coalesce(c.day, p.day) AS day,
           coalesce(n_clicks, 0) AS n_clicks,
           coalesce(n_purchases, 0) AS n_purchases
         FROM c FULL OUTER JOIN p ON c.day = p.day""",
    "ev_retention" ->
      """WITH e AS (SELECT user_id, event_type,
                      epoch_us(ts) // 604800000000 AS week
                    FROM events),
         c AS (SELECT user_id, MIN(week) AS w0 FROM e
               WHERE event_type = 'purchase' GROUP BY 1)
         SELECT w0 AS cohort_week, week - w0 AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
         FROM (SELECT DISTINCT user_id, week FROM e) e JOIN c USING (user_id)
         WHERE week >= w0
         GROUP BY 1, 2""",
    "ev_histogram" ->
      """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2""",
    // DuckDB's arg_min/arg_max don't take composite keys, so the
    // oracle spells open/close with row_number over the same unique
    // (ts, event_id) order
    "ev_downsample" ->
      """WITH ranked AS (
           SELECT user_id, date_trunc('hour', ts) AS b, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT user_id, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           max(CASE WHEN ra = 1 THEN value END) AS open_v,
           max(CASE WHEN rd = 1 THEN value END) AS close_v,
           min(value) AS low_v, max(value) AS high_v, count(*) AS n
         FROM ranked GROUP BY user_id, b""",

    "ev_gap_fill" ->
      """WITH ranked AS (
           SELECT user_id, date_trunc('hour', ts) AS h, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rd
           FROM events),
         h AS (SELECT user_id, h, COUNT(*) AS n,
                 max(CASE WHEN rd = 1 THEN value END) AS close_v
               FROM ranked GROUP BY 1, 2),
         dense AS (
           SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
           FROM (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM h GROUP BY 1)),
         j AS (SELECT d.user_id, d.h, hh.n, hh.close_v
               FROM dense d LEFT JOIN h hh USING (user_id, h))
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(n, 0) AS n_events,
           last_value(close_v IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY h) AS filled_value,
           CAST(n IS NULL AS INT) AS is_filled
         FROM j""",

    "ev_rolling_distinct" ->
      """WITH hu AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
                     FROM events),
         hours AS (SELECT DISTINCT h FROM hu)
         SELECT strftime(o.h, '%Y-%m-%d %H:%M:%S') AS hour,
           COUNT(DISTINCT hu.user_id) AS u24
         FROM hours o JOIN hu
           ON hu.h <= o.h AND hu.h > o.h - INTERVAL 24 HOUR
         GROUP BY o.h""",

    "ev_markov_transitions" ->
      """WITH seq AS (
           SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
           FROM events),
         c AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
               WHERE nxt IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT cur, SUM(n) AS m FROM c GROUP BY 1)
         SELECT c.cur, c.nxt, c.n, CAST(c.n AS DOUBLE) / tot.m AS p
         FROM c JOIN tot USING (cur)""",

    "ev_sessionize_sql" ->
      """WITH g AS (
           SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 1800000000
                  THEN 1 ELSE 0 END AS brk
           FROM events),
         sn AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS sid
                FROM g)
         SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM sn GROUP BY user_id, sid""",

    "ev_streaks" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
           FROM events),
         a AS (SELECT user_id, day,
                 day - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY day) AS anchor
               FROM ud),
         runs AS (SELECT user_id, anchor, COUNT(*) AS len
                  FROM a GROUP BY 1, 2)
         SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
           COUNT(*) AS n_streaks
         FROM runs GROUP BY user_id""",

    "ev_topk_per_hour" ->
      """SELECT h, event_type, n, rk FROM (
           SELECT h, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY n DESC, event_type ASC) AS rk
           FROM (SELECT strftime(date_trunc('hour', ts),
                   '%Y-%m-%d %H:%M:%S') AS h,
                   event_type, COUNT(*) AS n
                 FROM events GROUP BY 1, 2) c) t
         WHERE rk <= 3""",

    "ev_trend" ->
      """WITH m AS (
           SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1600000000
               AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST((epoch_us(ts) // 1000000 - 1600000000)
               * (epoch_us(ts) // 1000000 - 1600000000)
               AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(epoch_us(ts) // 1000000 - 1600000000 AS DOUBLE)
               * value AS DECIMAL(38,6))) AS DOUBLE) AS sxy
           FROM events GROUP BY event_type),
         sl AS (
           SELECT event_type, n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
           FROM m)
         SELECT event_type, n, round(slope, 12) AS slope,
           round((sy - slope * sx) / n, 6) AS intercept
         FROM sl""",

    // list() with ORDER BY gives the same (ts, event_id)-sorted series;
    // list_reduce seeds with the first element exactly like the Spark
    // side's element_at(a, 1) init
    "ev_ewma" -> ewmaSql,
    // the custom-state streaming drain's final per-user emission is
    // the identical fold (see the strm_ewma query comment)
    "strm_ewma" -> ewmaSql,
    // the transformWithState engine must reproduce the identical fold
    "strm_ewma_tws" -> ewmaSql,
    // batch-fold ∘ stream-fold over a time-prefix split composes to
    // the full-sequence fold — same oracle as every EWMA engine
    "strm_ewma_bootstrap" -> ewmaSql,

    "ev_anomaly" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS h,
                      COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, median(n) AS med FROM c GROUP BY 1),
         d AS (SELECT c.event_type, c.h, c.n, m.med,
                 abs(c.n - m.med) AS dev
               FROM c JOIN m USING (event_type)),
         md AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1)
         SELECT d.event_type, strftime(d.h, '%Y-%m-%d %H:%M:%S') AS hour,
           d.n, d.med, md.mad
         FROM d JOIN md USING (event_type)
         WHERE d.dev > 3 * md.mad"""
  )
}
