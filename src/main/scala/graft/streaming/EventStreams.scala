package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.11 + §7.2 step 7).
  *
  * The reference's pipeline is incremental batch over a state table;
  * here the same computations run as real streams: file source →
  * event-time windows with a watermark → sink, with
  * `Trigger.AvailableNow` giving the reference's cron-style "drain
  * what's new, then stop" semantics. The windowed aggregations reuse
  * the exact expressions of the batch queries (EventWindows), so batch
  * and stream results coincide — asserted by StreamingSpec.
  *
  * Scale: file-source streams shard by file; state (windows, sessions,
  * per-key counters) lives in the state store keyed by groupBy keys,
  * so capacity scales with executors like any shuffle. Watermarks
  * bound state: late events beyond 1 hour are dropped instead of
  * accumulating unbounded window state.
  */
object EventStreams {

  /** events schema the stream source falls back to when the drop
    * folder is still empty at stream start (ts as TIMESTAMP_NTZ — the
    * driver's current parquet export; see graft.Tables for the full
    * schema-adaptive contract).
    */
  private val fallbackSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a DIRECTORY of events parquet files
    * (file streams consume directories — new files appearing under
    * `eventsDir` become new micro-batches; that's the drop-folder
    * ingestion shape).
    *
    * Streaming sources need the schema declared up front, but the
    * events `ts` physical type varies by producer (BIGINT nanos vs
    * TIMESTAMP_NTZ — graft.Tables scaladoc). A one-time batch footer
    * read of the directory resolves the actual schema (metadata-only;
    * file streams list the directory at every micro-batch anyway), and
    * [[graft.Tables.normalizeEventTs]] then yields the same micros
    * TimestampType on every path. An empty-at-start drop folder falls
    * back to the current driver export shape.
    *
    * CONSTRAINT of the fallback path: a streaming source's schema is
    * fixed at start. If the drop folder is EMPTY at stream start and
    * the first files to arrive carry the OTHER ts shape (BIGINT
    * nanos), the declared TIMESTAMP_NTZ schema mismatches the files
    * and the first micro-batch fails (or misreads). Producers that
    * may start against an empty folder should either drop one
    * schema-bearing seed file before starting the stream, or call
    * [[validateEventSchema]] from a `foreachBatch` on the first
    * non-empty batch so a mismatch surfaces as a clear error at the
    * earliest possible point instead of a downstream misread.
    */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame =
    readEventsPaced(spark, eventsDir, maxFilesPerTrigger = None)

  /** Stage `df` as ONE parquet file named `name` under `dropDir` with
    * mtime `mtimeMs` — the single-file wave writer every staged stream
    * row and fixture shares. The file source orders by modification
    * time, so mtime-paced waves arrive as distinct batches under
    * maxFilesPerTrigger=1; a wave drained before the next is staged
    * can take the current time. The write lands in `stageRoot`, which
    * must lie outside `dropDir`: a file stream would read a `stage_*`
    * subdir of the drop dir as a partition.
    */
  def stageWave(df: DataFrame, stageRoot: java.nio.file.Path,
      dropDir: java.nio.file.Path, name: String, mtimeMs: Long): Unit = {
    val tmp = stageRoot.resolve(s"stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // Files.list holds a directory handle until closed
    val st = java.nio.file.Files.list(tmp)
    val part =
      try st.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      finally st.close()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(part), dropDir.resolve(name))
    java.nio.file.Files.setLastModifiedTime(dropDir.resolve(name),
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** [[readEvents]] with a per-micro-batch file budget. The file
    * source takes the `maxFilesPerTrigger` OLDEST files (by
    * modification time) per batch, so a caller that stages files with
    * staggered mtimes controls exactly which files share a
    * micro-batch — the lever the late-arrival pin (strm_late_drop)
    * uses to place stale files AFTER the watermark has advanced.
    */
  def readEventsPaced(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val schema =
      try spark.read.parquet(eventsDir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => fallbackSchema }
    val r0 = spark.readStream.schema(schema)
    val r = maxFilesPerTrigger.fold(r0)(n => r0.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(r.parquet(eventsDir))
  }

  /** Fail fast when the files now present under `eventsDir` disagree
    * with the schema a running stream declared at start (the
    * empty-at-start fallback's blind spot — see [[readEvents]]).
    * Metadata-only (parquet footer read). Intended from a
    * `foreachBatch` guard on the first non-empty batch.
    */
  def validateEventSchema(spark: SparkSession, eventsDir: String,
      declared: StructType): Unit = {
    val actual =
      try spark.read.parquet(eventsDir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => return }
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    declared.fields.foreach { f =>
      a.get(f.name).filter(_ != f.dataType).foreach { dt =>
        throw new IllegalStateException(
          s"events drop folder $eventsDir now holds files whose '${f.name}' " +
            s"is ${dt.simpleString} but the stream declared " +
            s"${f.dataType.simpleString} at start (empty-folder fallback); " +
            "restart the stream so the schema re-resolves from the files")
      }
    }
  }

  /** Tumbling 1-hour counts with a 1-hour watermark — the streaming
    * twin of the batch `ev_tumbling` query.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Session windows as a stream: 30-minute gap per user with a
    * 1-hour watermark. Append mode emits a session only once the
    * watermark passes its close — sessions still open when the
    * available data ends are withheld until more data (or a final
    * batch) advances the watermark, which is the correct streaming
    * semantics for an unbounded source.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total_value"))

  /** Custom keyed state via mapGroupsWithState: per-user running event
    * count and last-seen timestamp (the canonical stateful-op shape;
    * the reference's equivalent is the mutable LiveRecordingArchive
    * state row, SURVEY.md §1.2).
    */
  def userRunningCounts(spark: SparkSession, events: DataFrame): Dataset[(Long, Long)] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
  }

  /** Streaming EWMA per user — the stateful spelling of the batch
    * `ev_ewma` sorted fold (α = 0.25). State carries (count, ewma);
    * each micro-batch's rows fold in (us, event_id) order on top of
    * the carried value, seeding from the first observation exactly
    * like the batch init. With in-order arrival (drop-folder files in
    * event-time order), the final emission per user is BIT-IDENTICAL
    * to the batch fold — StreamingSpec pins that on the drained
    * fixture. State is two numbers per key (the O(1)-per-key class
    * running counts sit in), so capacity scales with the state store
    * like any keyed aggregation.
    */
  def userEwma(spark: SparkSession, events: DataFrame): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val xs = rows.toArray.sortBy(r => (r._2, r._3)).map(_._4)
          val (n0, e0) = state.getOption.getOrElse((0L, 0.0))
          var e = e0
          var i = 0
          if (n0 == 0L && xs.nonEmpty) { e = xs(0); i = 1 }
          while (i < xs.length) { e = 0.25d * xs(i) + 0.75d * e; i += 1 }
          state.update((n0 + xs.length, e))
          (user, n0 + xs.length, e)
      }
  }

  /** [[userEwma]] ported to Spark 4's `transformWithState` — the
    * successor API the production state engine is moving to
    * (SPARK-46815; typed ValueState/ListState/MapState handles, TTL,
    * timers, initial state — replacing the single-blob GroupState of
    * mapGroupsWithState). Same fold, same state shape ((count, ewma)
    * in one ValueState), same per-batch (us, event_id) ordering, so
    * with in-order arrival the final emission per user is
    * BIT-IDENTICAL to both the mapGroupsWithState twin and the batch
    * ev_ewma sorted fold — one oracle hash-checks all three engines.
    * transformWithState requires the RocksDB state store provider
    * (the operator's state layout uses virtual column families);
    * callers scope it via drainToMemory's extraConfs, which also
    * makes every strm_ewma_tws run exercise the production backend.
    */
  def userEwmaTws(spark: SparkSession, events: DataFrame): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** The EWMA fold shared by [[EwmaProcessor]] and
    * [[EwmaBootstrapProcessor]]: sort the batch's rows in (us,
    * event_id) order, continue the carried (count, ewma), emit the
    * updated running pair.
    */
  private def foldEwma(user: Long, st: ValueState[(Long, Double)],
      rows: Iterator[(Long, Long, Long, Double)]): Iterator[(Long, Long, Double)] = {
    val xs = rows.toArray.sortBy(r => (r._2, r._3)).map(_._4)
    val (n0, e0) = if (st.exists()) st.get() else (0L, 0.0)
    var e = e0
    var i = 0
    if (n0 == 0L && xs.nonEmpty) { e = xs(0); i = 1 }
    while (i < xs.length) { e = 0.25d * xs(i) + 0.75d * e; i += 1 }
    st.update((n0 + xs.length, e))
    Iterator.single((user, n0 + xs.length, e))
  }

  /** The EWMA fold as a [[StatefulProcessor]] (see [[userEwmaTws]]).
    * State is fetched by name from the handle in `init` — the
    * API's declared-state model (names + encoders up front is what
    * lets the engine lay out one column family per state variable).
    */
  private class EwmaProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Double)] {
    @transient private var st: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("ewma",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] =
      foldEwma(user, st, rows)
  }

  /** [[userEwmaTws]] with BATCH-BOOTSTRAPPED state
    * (`StatefulProcessorWithInitialState`, the last variant of the
    * new API): per-user (count, ewma) seeded from a batch fold over
    * the historical prefix via `handleInitialState`, then the stream
    * continues the fold over the tail only — the warm-start pattern
    * a production migration actually runs (fold history once in
    * batch, stream increments forever after) instead of replaying
    * the whole corpus through the stream. Because the history is a
    * strict event-time prefix per user, batch-fold-then-stream-fold
    * composes to exactly the full-sequence fold, so the catalog row
    * hash-checks against the SAME ev_ewma oracle as the other two
    * streaming engines.
    */
  def userEwmaBootstrap(spark: SparkSession, tail: DataFrame,
      init: Dataset[(Long, Long, Double)]): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    tail.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new EwmaBootstrapProcessor, TimeMode.None(),
        OutputMode.Update(), init.groupByKey(_._1))
  }

  /** Warm-started EWMA fold (see [[userEwmaBootstrap]]). */
  private class EwmaBootstrapProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long, Long, Double), (Long, Long, Double), (Long, Long, Double)] {
    @transient private var st: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("ewma",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)

    override def handleInitialState(user: Long, s0: (Long, Long, Double),
        timerValues: TimerValues): Unit =
      st.update((s0._2, s0._3))

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] =
      foldEwma(user, st, rows)
  }

  /** Per-user 30-minute-gap SESSIONS through `transformWithState`
    * EVENT-TIME TIMERS — the API surface [[userEwmaTws]] doesn't
    * touch: `registerTimer` + `handleExpiredTimer` (emission driven
    * by watermark passage, not input arrival) and a second state
    * variable (`ListState` of supersession-closed sessions awaiting
    * their timer). Semantics match the batch gaps-and-islands
    * sessionization exactly: events < 30 min apart merge; a session
    * emits once the watermark passes last + gap — open sessions (the
    * withheld tail) are emitted only when later data advances the
    * watermark far enough, which is what the sentinel fixture
    * provides in the catalog row. Money folds in exact integer CENTS
    * (each value rounded HALF_UP to 2 dp exactly as Spark's
    * double→decimal(18,2) cast does), so the emitted totals equal the
    * batch decimal sums bit-for-bit after the /100 at the edge.
    * Timer expiry is floor'd to ms (the timer API's resolution); a
    * timer can thus fire ≤ 1 ms before the exact micro-second close,
    * which can never mis-group a drain (all admissible rows are
    * already folded before any timer fires) and in a live stream
    * would only delay a boundary row to its own next session — the
    * documented trade of a ms-resolution timer service.
    */
  def userSessionsTws(spark: SparkSession,
      events: DataFrame): Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The session fold + timer emission (see [[userSessionsTws]]).
    * Output rows are (user_id, start_us, n_events, cents).
    */
  private class SessionTimerProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Long, Long)] {
    private val gapUs = 30L * 60L * 1000000L
    @transient private var cur: ValueState[(Long, Long, Long, Long)] = _
    @transient private var closed: ListState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)]
      cur = getHandle.getValueState("cur", enc, TTLConfig.NONE)
      closed = getHandle.getListState("closed", enc, TTLConfig.NONE)
    }

    private def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()

    private def expiryMs(c: (Long, Long, Long, Long)): Long =
      c._2 / 1000L + gapUs / 1000L

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val xs = rows.toArray.sortBy(r => (r._2, r._3))
      var c = if (cur.exists()) cur.get() else null
      // The expiry registered for the carried session, if any: it is
      // derivable from `cur` itself (last + gap), so superseding it
      // needs no extra state variable. If this key reached
      // handleInputRows with cur set, that timer has NOT fired yet
      // (timers run after input rows in a micro-batch, and a fired
      // timer would have cleared cur), so it is safe to delete.
      val prevExpiry = if (c == null) -1L else expiryMs(c)
      // Expiry of the FIRST session this batch appends to `closed`,
      // or -1 if none closed. A timer must survive at (or be
      // registered for) this instant: it is the earliest point the
      // watermark can drain the closed list, and for a continuously-
      // active key it is the ONLY timer that ever fires — the current
      // session's expiry keeps being superseded batch after batch.
      var firstClosedExpiry = -1L
      xs.foreach { case (_, us, _, v) =>
        if (c == null) c = (us, us, 1L, cents(v))
        else if (us - c._2 < gapUs) c = (c._1, us, c._3 + 1L, c._4 + cents(v))
        else {
          if (firstClosedExpiry < 0L) firstClosedExpiry = expiryMs(c)
          closed.appendValue(c); c = (us, us, 1L, cents(v))
        }
      }
      if (c != null) {
        cur.update(c)
        val newExpiry = expiryMs(c)
        // Timer hygiene vs drain liveness (ADVICE r15 + r16): when
        // the carried session merely EXTENDED, its old timer is
        // superseded — delete it so a long-lived key doesn't
        // accumulate one stale (empty-firing) timer per batch. But
        // when this batch CLOSED a session into `closed`, the timer
        // at that session's expiry is the one that will drain it once
        // the watermark passes — deleting it would withhold completed
        // sessions of a continuously-active key until quiesce
        // (ADVICE r16). If a carried session existed, its timer at
        // prevExpiry <= firstClosedExpiry is already registered and
        // suffices (handleExpiredTimer drains the whole closed list
        // whenever any timer fires) — keep it and register nothing
        // extra; only a batch that opened AND closed sessions from a
        // cold key (prevExpiry < 0) needs a fresh drain timer.
        if (firstClosedExpiry >= 0L) {
          if (prevExpiry < 0L)
            getHandle.registerTimer(firstClosedExpiry)
        } else if (prevExpiry >= 0L && prevExpiry != newExpiry) {
          getHandle.deleteTimer(prevExpiry)
        }
        getHandle.registerTimer(newExpiry)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val ripe = Vector.newBuilder[(Long, Long, Long, Long)]
      if (closed.exists()) {
        closed.get().foreach(s => ripe += ((user, s._1, s._3, s._4)))
        closed.clear()
      }
      if (cur.exists()) {
        val c = cur.get()
        if (timerValues.getCurrentWatermarkInMs() >= c._2 / 1000L + gapUs / 1000L) {
          ripe += ((user, c._1, c._3, c._4))
          cur.clear()
        }
      }
      ripe.result().iterator
    }
  }

  /** Per-user per-event-type running counts through
    * `transformWithState` MAP state — the third state shape of the
    * new API ([[userEwmaTws]] covers ValueState,
    * [[userSessionsTws]] ListState + timers): one `MapState[String,
    * Long]` per user, keyed by event type, each micro-batch bumping
    * only the types it saw (point lookups + point writes against the
    * state store's composite key — the access pattern MapState exists
    * for; a ValueState holding a whole Map would rewrite every type
    * on any update). Emits the user's updated (type, count) pairs per
    * batch; the drain's final emission per (user, type) — max count —
    * is the complete tally, hash-checked against a plain batch
    * GROUP BY oracle.
    */
  def userTypeCountsTws(spark: SparkSession,
      events: DataFrame): Dataset[(Long, String, Long)] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** MapState tally (see [[userTypeCountsTws]]). */
  private class TypeCountsProcessor
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val batch = rows.foldLeft(Map.empty[String, Long]) { case (m, (_, t)) =>
        m.updated(t, m.getOrElse(t, 0L) + 1L)
      }
      batch.toSeq.sortBy(_._1).map { case (t, d) =>
        val n = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
        counts.updateValue(t, n)
        (user, t, n)
      }.iterator
    }
  }

  /** Streaming MERGE: drain a stream into a parquet "table" with
    * idempotent upsert-update semantics per micro-batch (foreachBatch
    * + [[graft.sinks.Merge.upsertUpdate]] — the reference's ON
    * CONFLICT re-runnability, SURVEY §2.11, as a stream). Returns
    * after all available data is processed.
    *
    * The rewrite goes through a staging directory and the
    * [[graft.sinks.AtomicDir]] rename-aside swap: a crash at any point
    * leaves a complete copy of the table recoverable, and a
    * checkpoint-driven retry (or a first batch with no target yet)
    * starts from an empty frame instead of failing on a missing path.
    *
    * With `partitionCols` set, each micro-batch rewrites ONLY the
    * partitions its rows touch ([[graft.sinks.PartitionedMerge]],
    * dynamic-partition-overwrite shape) — O(|affected partitions|)
    * per batch instead of O(|target|), the difference between a
    * streaming merge that survives a 100 TB target and one that
    * rereads the world every trigger. Partition columns must be
    * key-determined (see PartitionedMerge's contract).
    *
    * `checkpointDir` carries the source offsets across runs — without
    * it (null) Spark uses a session-temporary checkpoint, so a
    * re-invocation reprocesses the WHOLE source history instead of
    * just what arrived since the last drain. Always set it for the
    * cron-style repeated-drain deployment (every repeated-drain spec
    * and sibling entry point does).
    *
    * `failAtBatch` >= 0 injects a CRASH: the foreachBatch for that
    * micro-batch id throws BEFORE touching the target, killing the
    * query mid-drain with that batch's offsets written to the WAL but
    * not the commit log — exactly the state a production executor
    * loss leaves behind. The recovery row (`strm_restart_resume`)
    * restarts from the same `checkpointDir` and must resume at the
    * failed batch (earlier batches' state carried, not recomputed),
    * ending bit-identical to a one-shot drain.
    */
  def upsertStream(spark: SparkSession, incoming: DataFrame,
      targetDir: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil,
      checkpointDir: String = null,
      failAtBatch: Long = -1L): Unit = {
    import graft.sinks.{AtomicDir, Merge, PartitionedMerge}
    lastUpsertBatches = Vector.empty
    val w0 = incoming.writeStream.outputMode(OutputMode.Append())
    val q = (if (checkpointDir != null)
      w0.option("checkpointLocation", checkpointDir) else w0)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId == failAtBatch)
          throw new IllegalStateException(
            s"injected crash at micro-batch $batchId (recovery pin)")
        if (batch.isEmpty) {
          // an empty micro-batch must not read+rewrite the target
        } else if (partitionCols.nonEmpty) {
          PartitionedMerge.upsertUpdate(
            spark, targetDir, batch, keys, partitionCols)
        } else {
          val target = AtomicDir.readOrEmpty(spark, targetDir, batch.schema)
          val merged = Merge.upsertUpdate(
            target, batch.select(target.columns.map(col): _*), keys)
          merged.write.mode("overwrite").parquet(targetDir + ".staging")
          val dst = new org.apache.hadoop.fs.Path(targetDir)
          AtomicDir.commit(AtomicDir.fileSystem(spark, dst), dst)
        }
        lastUpsertBatches :+= batchId
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Micro-batch ids the most recent [[upsertStream]] call COMPLETED
    * (foreachBatch ran to the end), in order. Test observability for
    * the checkpoint-restart pin: after a crash at batch k and a
    * restart from the same checkpoint, the restarted run's ids must
    * start at k — batch ids below k appearing here again would mean
    * offsets were reprocessed instead of resumed.
    */
  @volatile var lastUpsertBatches: Vector[Long] = Vector.empty

  /** Streaming CDC: drain a change stream (upserts + deletes, stamped
    * with sequence numbers) into a bucketed snapshot table —
    * [[graft.sinks.SnapshotMerge.applyCdc]] per micro-batch, the
    * MERGE-from-change-stream deployment shape. Within a micro-batch
    * the sequence numbers order changes exactly; across micro-batches
    * later batches win (source offset order IS the stream's change
    * order). Checkpointed + AvailableNow: re-drains process only new
    * change files, and a crashed batch's retry re-applies onto the
    * intact previous snapshot idempotently (same seq → same fold).
    */
  def cdcStream(spark: SparkSession, incoming: DataFrame,
      targetDir: String, keys: Seq[String], seqCol: String, opCol: String,
      partitionCols: Seq[String], checkpointDir: String): Unit = {
    val q = incoming.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sinks.SnapshotMerge.applyCdc(
            spark, targetDir, batch, keys, seqCol, opCol, partitionCols)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming COLUMN-SPARSE merge-on-read ingest — the reference's
    * cron deployment end-to-end (`db/occurrence.py:46-48` updates 2
    * of 5 columns per cycle; `modal` cron stages the batches): each
    * micro-batch commits through
    * [[graft.sinks.SnapshotMerge.upsertMorSparse]] — matched keys
    * stage ONLY key+partition+`updateCols` as a sparse slice (no
    * tombstones, no partition rewrites), unmatched keys insert whole
    * rows — with the compaction autopilot holding slice depth at
    * `autoCompactMaxSlices`. Checkpointed + AvailableNow: re-drains
    * process only new files. Retry-idempotent by the sparse path's
    * own semantics: a batch re-applied after a post-commit crash
    * re-patches matched keys with the same absolute values and treats
    * its own previously-inserted keys as patches of identical values
    * — content converges (SparseMorSpec pins the double-apply).
    */
  def sparseMorStream(spark: SparkSession, incoming: DataFrame,
      targetDir: String, keys: Seq[String], updateCols: Seq[String],
      partitionCols: Seq[String], checkpointDir: String,
      autoCompactMaxSlices: Int = 4): Unit = {
    val q = incoming.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sinks.SnapshotMerge.upsertMorSparse(spark, targetDir, batch,
            keys, partitionCols, updateCols,
            autoCompactMaxSlices = autoCompactMaxSlices)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-stream INNER join with watermarks on BOTH sides: each
    * click matched to the same user's purchases in the preceding
    * hour. The time-interval join condition plus the two watermarks
    * let Spark PROVE state is bounded — a click older than
    * (watermark − 1 h) can never match a future purchase, so both
    * sides' join state is evicted as the watermark advances (without
    * the interval bound, stream-stream join state grows forever).
    * This is the streaming face of the batch `ev_interval_join` /
    * `ev_asof_join` family: same micro-batch semantics under
    * AvailableNow, results emitted as soon as both sides' rows have
    * arrived. StreamingSpec pins exact batch parity (inner joins emit
    * eagerly — no withheld tail, unlike append-mode aggregations).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("c_ts"))
      .select(col("c_id"), col("user_id"), col("p_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
  }

  /** LEFT OUTER stream-stream join: every click, matched purchases
    * within the preceding hour, UNMATCHED clicks emitted with a null
    * purchase side — the semantics Spark can only produce by EVICTING
    * join state: a null-match row for click c exists exactly when the
    * global join watermark (min over both inputs) has passed c's join
    * window and no purchase arrived. Unlike the inner join (eager
    * emission, no withheld tail), the outer join's null rows are
    * watermark-GATED, so an AvailableNow drain equals the batch left
    * join only if the final watermark passed every click — the
    * sentinel-wave fixture (strm_outer_join query) arranges exactly
    * that, pinning the eviction/emission machinery end-to-end.
    */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("c_ts"),
      "left_outer")
      .select(col("c_id"), col("user_id"), col("p_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
  }

  /** Streaming exactly-once dedup: drop duplicate `event_id`s arriving
    * within the watermark delay (`dropDuplicatesWithinWatermark` keeps
    * dedup state only until the watermark passes, so state is bounded —
    * the reference's PG unique-index dedup, re-expressed as bounded
    * stream state). Batch parity: equals `dropDuplicates("event_id")`
    * when all duplicates arrive within the delay (StreamingSpec).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Drain a streaming frame into an in-memory table with
    * AvailableNow semantics; returns the collected result as a LOCAL
    * frame. Used by tests and the local demo CLI — production would
    * writeStream to parquet/foreachBatch instead.
    *
    * SESSION-STATE HYGIENE (measured r13: each drain left its
    * memory-sink temp view registered — pinning the sink's driver-side
    * row buffer — and its state-store providers resident, which
    * inflated the unrelated queries that ran NEXT in a full-catalog
    * bench 2–6×): the sink's rows are materialized once, the temp view
    * is DROPPED so the buffer is unreachable, and the drained query's
    * state-store providers are unloaded — its temp checkpoint is
    * deleted with the query, so the resident maps can serve no future
    * restart. `unloadAll` on a shared test session merely forces a
    * concurrent stream's next batch to reload from ITS checkpoint —
    * correctness-neutral by design.
    */
  def drainToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      extraConfs: Map[String, String] = Map.empty): DataFrame =
    // Drains SERIALIZE on this lock: the scoped conf below mutates
    // session-global settings around start(), and the lastDrain*
    // observability fields are last-writer-wins — two concurrent
    // drains on the shared session could plan with each other's
    // scoped values or restore a stale one. All in-repo callers are
    // single-threaded; the lock makes the contract structural instead
    // of conventional. (A concurrent BATCH query on the same session
    // can still observe the scoped value for the microseconds around
    // start(); callers needing full isolation should drain on
    // `spark.newSession()` — same SparkContext, private conf.)
    drainLock.synchronized { drainLocked(spark, df, name, mode, extraConfs) }

  private val drainLock = new Object

  private def drainLocked(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode, extraConfs: Map[String, String]): DataFrame = {
    // STATE-PARTITION SIZING: a stateful micro-batch pays a FIXED
    // per-partition cost per trigger (state-store provider init, delta
    // file, commit) regardless of rows — at the session's batch-tuned
    // 32 shuffle partitions the drains here spend more wall-clock on
    // empty-partition state plumbing than on data (measured: see
    // NOTES_r14). Stateful-key cardinality in these drains is O(10³)
    // (users / windows / sessions), so 8 partitions keep every
    // partition far below spill while quartering the fixed cost. The
    // partition count binds at FIRST start from the session conf and
    // lives in the checkpoint thereafter; drains here use fresh temp
    // checkpoints, so scoping the conf around start() is exact. A
    // production deployment sizes this to executor count ×
    // state-key mass — override via SPARK_GRAFT_STREAM_SHUFFLE.
    val conf = spark.conf
    val scoped = Map("spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8")) ++ extraConfs
    val prev = scoped.keys.map(k => k -> conf.getOption(k)).toMap
    scoped.foreach { case (k, v) => conf.set(k, v) }
    val q = try {
      df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
    // Teardown runs in finally: a FAILED drain must still drop the
    // memory-sink temp view (its driver-side row buffer) and unload
    // resident state-store providers — exactly the leaks the r13
    // hygiene fix exists to remove; an awaitTermination throw must
    // not resurrect them (r14 advice).
    try {
      q.awaitTermination()
      // Observability for the late-arrival pin (StreamingSpec): total
      // input rows the drain's stateful operators REJECTED as late.
      // Read before teardown — progress objects die with the query.
      lastDrainDroppedByWatermark = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      lastDrainProgressJson = q.recentProgress.map(_.json).mkString("[", ",", "]")
      val out = spark.table(name)
      val rows = out.collect()
      val schema = out.schema
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally {
      try spark.catalog.dropTempView(name)
      catch { case _: Exception => () } // view never registered if start failed mid-flight
      org.apache.spark.sql.GraftShims.unloadStateStores()
    }
  }

  /** Watermark-dropped-row count of the most recent [[drainToMemory]]
    * call (sum of `numRowsDroppedByWatermark` across the drained
    * query's stateful operators). Test observability only — lets
    * StreamingSpec prove the strm_late_drop fixture's stale wave was
    * actually REJECTED by an armed late filter rather than the oracle
    * passing vacuously (e.g. because the wave staged empty).
    */
  @volatile var lastDrainDroppedByWatermark: Long = -1L

  /** Raw progress JSON of the most recent [[drainToMemory]] — lets
    * StreamingSpec prove a scoped state-backend conf actually BOUND
    * (the RocksDB provider reports rocksdb* custom metrics; a silently
    * ignored providerClass would still match the oracle, since results
    * are backend-independent by contract).
    */
  @volatile var lastDrainProgressJson: String = ""
}
