package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.sinks.{SnapshotMerge, SnapshotStore}
import graft.streaming.EventStreams

/** Streaming/batch parity: the streaming tumbling aggregation must
  * produce exactly the batch `ev_tumbling` result when drained with
  * AvailableNow, and keyed state must reproduce a batch groupBy.
  */
class StreamingSpec extends SparkFunSuite with BeforeAndAfterAll {

  /** File streams consume directories: stage the single events
    * parquet into one, shared by the suite and deleted after it.
    */
  private val eventsRoot = Files.createTempDirectory("events_stream")
  private lazy val eventsDir: String = {
    Files.copy(Paths.get(s"$sfDir/events.parquet"), eventsRoot.resolve("events.parquet"))
    eventsRoot.toString
  }

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(eventsRoot.toFile) finally super.afterAll()

  test("validateEventSchema: clear error when files contradict the declared schema") {
    import org.apache.spark.sql.types._
    // empty folder: nothing to contradict — a no-op (stream not yet fed)
    val empty = tempDir("ev_schema_empty").toString
    EventStreams.validateEventSchema(spark, empty,
      StructType(Seq(StructField("ts", TimestampNTZType))))
    // folder later filled by a BIGINT-nanos producer while the stream
    // declared the TIMESTAMP_NTZ fallback: must fail with the
    // restart-hint error, not misread
    import spark.implicits._
    val nanosDir = tempDir("ev_schema_nanos").toString
    Seq((1L, 1700000000000000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(nanosDir)
    val declared = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
    val e = intercept[IllegalStateException] {
      EventStreams.validateEventSchema(spark, nanosDir, declared)
    }
    assert(e.getMessage.contains("'ts'") && e.getMessage.contains("restart"))
    // agreeing files: no-op
    EventStreams.validateEventSchema(spark, nanosDir, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType))))
  }

  test("streaming tumbling window == batch ev_tumbling") {
    val stream = EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.drainToMemory(spark, stream, "tumbling_out")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = SparkEntry.queries("ev_tumbling")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
  }

  test("strm_tumbling catalog entry equals batch twin and survives reruns") {
    // the driver-checked streaming entry: stages the corpus file into
    // a drop folder, drains with AvailableNow, and must (a) equal the
    // batch twin row for row and (b) tolerate repeated invocation in
    // one session (unique memory-sink names)
    def run() = SparkEntry.queries("strm_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val s1 = run()
    val want = SparkEntry.queries("ev_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(s1 == want)
    assert(run() == want, "second invocation must not collide or drift")
  }

  test("streaming session windows emit a correct subset of batch sessions") {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = EventStreams.sessionCounts(
      EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.drainToMemory(spark, stream, "session_out",
      OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = SparkEntry.queries("ev_session")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // append mode withholds sessions the watermark hasn't closed (the
    // tail of the data) — everything emitted must match batch exactly
    assert(got.nonEmpty, "watermark should have closed most sessions")
    got.foreach { case (k, v) =>
      assert(want.get(k).contains(v), s"streamed session $k -> $v not in batch result")
    }
    assert(got.size >= want.size / 2,
      s"only ${got.size}/${want.size} sessions emitted")
  }

  test("strm_session catalog entry (Complete drain) == batch ev_session, exactly") {
    val got = SparkEntry.queries("strm_session")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = SparkEntry.queries("ev_session")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // Complete mode emits the FULL retained session state — open
    // sessions included — so the drain equals batch key-for-key
    assert(got == want,
      s"complete-mode drain drifted from batch: ${got.size} vs ${want.size}")
  }

  test("stream-stream interval join == batch join, exactly") {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = EventStreams.clickPurchaseJoin(
      EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.drainToMemory(spark, stream, "ssj_out",
      OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val ev = Tables.load(spark, sfDir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val want = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"))
      .select(col("c_id"), col("p_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture should produce click-purchase matches")
    assert(got == want, s"stream diff: missing=${want.diff(got).size} " +
      s"extra=${got.diff(want).size}")
  }

  test("foreachBatch streaming MERGE upserts idempotently") {
    import spark.implicits._
    val targetDir = tmp("merge_target")
    // seed target: event 0 with a stale value, plus a row the stream
    // never touches
    val seed = Seq((0L, -1.0), (-42L, 7.0)).toDF("event_id", "value")
      .withColumn("pk", pmod(col("event_id"), lit(8L)))
    SnapshotMerge.upsertUpdate(spark, targetDir, seed, Seq("event_id"), Seq("pk"))
    val incoming = EventStreams.readEvents(spark, eventsDir)
      .select(col("event_id"), col("value"), pmod(col("event_id"), lit(8L)).as("pk"))
    EventStreams.upsertStream(spark, incoming, targetDir, Seq("event_id"), Seq("pk"))
    val merged = SnapshotMerge.read(spark, targetDir, seed.schema)
    val batch = Tables.load(spark, sfDir, "events")
    assert(merged.count() == batch.count() + 1) // untouched row survives
    val v0 = merged.where($"event_id" === 0L).select("value").as[Double].collect()(0)
    val want0 = batch.where($"event_id" === 0L)
      .select("value").as[Double].collect()(0)
    assert(v0 == want0) // stale value overwritten by the stream
    assert(merged.where($"event_id" === -42L).count() == 1)
  }

  test("streaming MERGE handles a missing target on the first batch") {
    val targetDir = tmp("merge_first") // does NOT exist yet
    val incoming = EventStreams.readEvents(spark, eventsDir)
      .select(col("event_id"), col("value"), pmod(col("event_id"), lit(8L)).as("pk"))
    EventStreams.upsertStream(spark, incoming, targetDir, Seq("event_id"), Seq("pk"))
    val merged = SnapshotMerge.read(spark, targetDir, incoming.schema)
    assert(merged.count() == Tables.load(spark, sfDir, "events").count())
  }

  test("partitioned streaming MERGE rewrites only affected partitions") {
    import spark.implicits._
    val targetDir = tmp("merge_part")
    // seed: a stale row for event 0 in its key-derived partition, plus
    // a row in a partition the stream never touches (pk=99)
    val seed = Seq((0L, -1.0, 0L), (-42L, 7.0, 99L)).toDF("event_id", "value", "pk")
    SnapshotMerge.upsertUpdate(spark, targetDir, seed, Seq("event_id"), Seq("pk"))
    val store = new SnapshotStore(spark, new org.apache.hadoop.fs.Path(targetDir))
    val m1 = store.current().get._2
    // corrupt decoy in pk=99's committed dir: a merge that opened the
    // untouched partition would fail on its footer
    val untouched = Paths.get(new org.apache.hadoop.fs.Path(
      store.dataPath(m1("pk=99")), "pk=99").toUri.getPath)
    val decoy = untouched.resolve("part-99999-decoy.snappy.parquet")
    Files.write(decoy, "not a parquet file".getBytes)
    def files = {
      import scala.jdk.CollectionConverters._
      val st = Files.list(untouched)
      try st.iterator().asScala
        .filter(p => !p.getFileName.toString.startsWith("."))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally st.close()
    }
    val before = files
    val incoming = EventStreams.readEvents(spark, eventsDir)
      .select(col("event_id"), col("value"),
        pmod(col("event_id"), lit(8L)).as("pk"))
    EventStreams.upsertStream(spark, incoming, targetDir, Seq("event_id"),
      partitionCols = Seq("pk"))
    assert(store.current().get._2("pk=99") == m1("pk=99"),
      "untouched partition pk=99 must carry forward by reference")
    assert(files == before, "untouched partition pk=99 was rewritten")
    Files.delete(decoy) // so the full-table reads below stay valid
    val merged = SnapshotMerge.read(spark, targetDir, seed.schema)
    val batch = Tables.load(spark, sfDir, "events")
    assert(merged.count() == batch.count() + 1)
    val v0 = merged.where($"event_id" === 0L).select("value").as[Double].collect()(0)
    assert(v0 == batch.where($"event_id" === 0L).select("value").as[Double].collect()(0))
  }

  test("an upsertStream micro-batch runs no emptiness pre-job inside foreachBatch") {
    import spark.implicits._
    val root = tempDir("upsert_stream_jobs")
    val drop = root.resolve("drop").toString
    Seq((1L, 1.0, 1L), (2L, 2.0, 0L)).toDF("event_id", "value", "pk").coalesce(1)
      .write.parquet(drop)
    val target = root.resolve("t").toString
    SnapshotMerge.upsertUpdate(spark, target,
      Seq((0L, 0.0, 0L)).toDF("event_id", "value", "pk"), Seq("event_id"), Seq("pk"))
    val schema = spark.read.parquet(drop).schema
    // one micro-batch: upsertUpdate's pin and its staged write
    val (_, n) = org.apache.spark.JobCounter.executionsDuring(
        spark.sparkContext, nestedOnly = true) {
      EventStreams.upsertStream(spark, spark.readStream.schema(schema).parquet(drop),
        target, Seq("event_id"), Seq("pk"), root.resolve("ckpt").toString)
    }
    assert(n <= 2, s"one micro-batch ran $n SQL executions inside foreachBatch")
    assert(SnapshotMerge.read(spark, target, schema).count() == 3L)
  }

  test("checkpoint restart resumes at the failed batch, never reprocessing batch 0") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    // three single-file waves, one per micro-batch; run 1 commits
    // batch 0 then crashes at batch 1 (injected); run 2 restarts from
    // the same checkpoint. The pin the oracle row cannot carry: the
    // resumed run's COMPLETED batch ids start at the failed batch —
    // id 0 reappearing would mean offsets were reprocessed (recompute,
    // not recovery), even though the idempotent merge would hide it.
    val root = tempDir("restart_pin")
    def wave(rows: Seq[(Long, Double, Long)], name: String, mtime: Long): Unit = {
      val tmp = root.resolve(s"stage_$name")
      rows.toDF("event_id", "value", "pk").coalesce(1)
        .write.parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
        finally st.close()
      Files.createDirectories(root.resolve("drop"))
      Files.move(Paths.get(part), root.resolve("drop").resolve(name))
      Files.setLastModifiedTime(root.resolve("drop").resolve(name),
        FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    wave(Seq((1L, 1.0, 1L), (2L, 2.0, 0L)), "w1.parquet", t0 - 120000)
    wave(Seq((2L, 102.0, 0L), (3L, 3.0, 1L)), "w2.parquet", t0 - 60000)
    wave(Seq((4L, 4.0, 0L)), "w3.parquet", t0)
    val drop = root.resolve("drop").toString
    val schema = spark.read.parquet(drop).schema
    def stream(target: String, ckpt: String, failAt: Long): Unit =
      EventStreams.upsertStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(drop),
        target, Seq("event_id"), Seq("pk"), ckpt, failAt)
    def table(target: String) = SnapshotMerge.read(spark, target, schema)
    val target = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      stream(target, ckpt, failAt = 1L)
    }
    // run 1 completed exactly batch 0 before dying
    assert(EventStreams.lastUpsertBatches == Vector(0L),
      s"crashed run completed ${EventStreams.lastUpsertBatches}")
    // batch 0's merge really committed pre-crash, as exactly one version
    assert(table(target).count() == 2)
    val store = new SnapshotStore(spark, new org.apache.hadoop.fs.Path(target))
    assert(store.currentVersion().contains(1L),
      s"crashed run committed version(s) up to ${store.currentVersion()}")
    stream(target, ckpt, failAt = -1L)
    val resumed = EventStreams.lastUpsertBatches
    assert(!resumed.contains(0L),
      s"restart reprocessed batch 0: $resumed")
    assert(resumed.headOption.contains(1L),
      s"restart did not resume at the failed batch: $resumed")
    assert(resumed.contains(2L), s"restart never reached batch 2: $resumed")
    val got = table(target)
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
    // one-shot control: fresh checkpoint + fresh target, no crash
    val target2 = root.resolve("t2").toString
    stream(target2, root.resolve("ckpt2").toString, failAt = -1L)
    val oneShot = table(target2)
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
    assert(got == oneShot)
    assert(got == Set((1L, 1.0), (2L, 102.0), (3L, 3.0), (4L, 4.0)))
  }

  test("streaming dedup within watermark == batch distinct on event_id") {
    // stage the same events file TWICE: the stream sees every event
    // duplicated; dropDuplicatesWithinWatermark must emit each once
    val dir = tempDir("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("b.parquet"))
    import org.apache.spark.sql.streaming.OutputMode
    val deduped = EventStreams.dedupEvents(
      EventStreams.readEvents(spark, dir.toString))
    val got = EventStreams.drainToMemory(spark, deduped, "dedup_out",
      OutputMode.Append())
    val batch = Tables.load(spark, sfDir, "events")
    assert(got.count() == batch.count(),
      "each duplicated event must be emitted exactly once")
    assert(got.select("event_id").distinct().count() == batch.count())
  }

  test("cdc stream folds change files into the snapshot table, deletes included") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = tempDir("cdc_stream")
    val drop = root.resolve("changes"); java.nio.file.Files.createDirectories(drop)
    val target = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("seq", IntegerType),
      StructField("op", StringType), StructField("v", StringType),
      StructField("pk", LongType)))
    def drain(): Unit = EventStreams.cdcStream(spark,
      spark.readStream.schema(schema).parquet(drop.toString),
      target, Seq("k"), "seq", "op", Seq("pk"), ckpt)
    // file streams list FILES, not nested dirs: stage each change
    // batch as a single parquet file inside the drop folder
    def dropFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = root.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      java.nio.file.Files.move(
        java.nio.file.Paths.get(part), drop.resolve(name))
    }
    def table(): Map[Long, String] =
      graft.sinks.SnapshotMerge.read(spark, target,
          StructType(schema.filterNot(f => f.name == "seq" || f.name == "op")))
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

    // batch 1: three inserts across two partitions (one intra-batch
    // supersede: k=2 upserted twice, seq 2 wins)
    dropFile(Seq((1L, 1, "upsert", "a", 0L), (2L, 1, "upsert", "b0", 1L),
      (2L, 2, "upsert", "b", 1L), (3L, 1, "upsert", "c", 1L))
      .toDF("k", "seq", "op", "v", "pk"), "c1.parquet")
    drain()
    assert(table() == Map(1L -> "a", 2L -> "b", 3L -> "c"))

    // batch 2: delete k=1 (empties partition 0), update k=2, insert k=4
    dropFile(Seq((1L, 1, "delete", "-", 0L), (2L, 1, "upsert", "B", 1L),
      (4L, 1, "upsert", "d", 1L))
      .toDF("k", "seq", "op", "v", "pk"), "c2.parquet")
    drain()
    assert(table() == Map(2L -> "B", 3L -> "c", 4L -> "d"))
    // the emptied partition dropped from the manifest atomically
    val store = new graft.sinks.SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(target))
    assert(!store.current().get._2.keySet.exists(_.startsWith("pk=0")))

    // re-drain with nothing new: no-op (checkpointed exactly-once)
    val v = store.currentVersion()
    drain()
    assert(store.currentVersion() == v)
  }

  test("streaming EWMA state fold == batch ev_ewma, bit-identical") {
    import org.apache.spark.sql.streaming.OutputMode
    val ewma = EventStreams.userEwma(
      spark, EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.drainToMemory(
      spark, ewma.toDF("user_id", "n", "ewma"), "ewma_out", OutputMode.Update())
      // running emissions across micro-batches: the final one per user
      // is the row with the largest count
      .groupBy(col("user_id")).agg(max(struct(col("n"), col("ewma"))).as("f"))
      .collect().map(r => (r.getLong(0),
        (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1)))).toMap
    val want = SparkEntry.queries("ev_ewma")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("transformWithState EWMA == mapGroupsWithState EWMA == batch, on RocksDB") {
    import org.apache.spark.sql.streaming.OutputMode
    // the successor state API must be a drop-in for the fold: same
    // final (count, ewma) per user as both the mapGroupsWithState
    // drain and the batch sorted fold (bit-identical doubles)
    val got = SparkEntry.queries("strm_ewma_tws")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    // mechanism pin: transformWithState runs on the RocksDB provider
    // (it REQUIRES it — but assert the progress shows it so a future
    // silent fallback can't pass vacuously)
    assert(EventStreams.lastDrainProgressJson.contains("rocksdb"),
      "tws drain progress shows no rocksdb metrics")
    assert(EventStreams.lastDrainProgressJson.contains("transformWithState") ||
      EventStreams.lastDrainProgressJson.contains("TransformWithState"),
      "drain progress does not name the transformWithState operator")
    val batch = SparkEntry.queries("ev_ewma")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    assert(got == batch)
    val mgws = SparkEntry.queries("strm_ewma")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    assert(got == mgws)
    // the scoped provider conf must not leak into the session
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("timer-driven sessions equal batch islands; without sentinels the tail is withheld") {
    import org.apache.spark.sql.streaming.OutputMode
    // the catalog row: full parity with the batch sessionization.
    // Every output row here was emitted by handleExpiredTimer —
    // handleInputRows returns Iterator.empty by construction — so a
    // non-empty equal result proves timers registered, fired on
    // watermark passage, and evicted state exactly once per session.
    val got = SparkEntry.queries("strm_session_timers")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val want = SparkEntry.queries("ev_session")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // negative control: WITHOUT the sentinel wave the watermark ends
    // 1 h below max(ts), so sessions closing in that last hour have
    // unexpired timers and must be WITHHELD — if this drain also
    // equaled the batch result, the sentinel machinery (and the
    // timer gating it exists to prove) would be vacuous
    val bare = EventStreams.drainToMemory(spark,
      EventStreams.userSessionsTws(spark,
        EventStreams.readEvents(spark, eventsDir))
        .toDF("user_id", "start_us", "n_events", "cents"),
      "sess_tws_bare", OutputMode.Append(),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))
    assert(bare.count() < want.size,
      "bare drain emitted every session — watermark gating is not real")
  }

  test("a continuously-active key's CLOSED sessions drain mid-stream, not at quiesce") {
    import org.apache.spark.sql.streaming.OutputMode
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    // ADVICE r16 regression pin: one user stays active in EVERY
    // micro-batch, so the current session's expiry timer is superseded
    // batch after batch. The first session gap-closes in wave 2; the
    // ONLY timer that can ever drain it is the one registered for that
    // session's own expiry — the pre-fix code deleted it as
    // "superseded" and the completed session was withheld until
    // quiesce. Three single-file micro-batches (mtime-paced), no
    // sentinel wave, no quiesce help:
    //   w1: session A = 2 events at T, T+60s        (expiry T+31m)
    //   w2: event at T+2h  → closes A, opens B      (wm after: T+1h)
    //   w3: event at T+2h5m → EXTENDS B (key active); the surviving
    //       timer at T+31m <= wm fires here and must emit A while B
    //       is live. B's expiry T+2h35m stays above the final wm
    //       (T+1h5m), so B must remain withheld — pinning that the
    //       fix did not weaken watermark gating.
    val base = 1700000000000000L // micros
    val drop = tempDir("sess_active_waves")
    val stage = tempDir("sess_active_stage")
    def wave(rows: Seq[(Long, Long, Long, Double)], name: String, mtime: Long): Unit = {
      import spark.implicits._
      val df = rows.toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
      df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$name")
      val part = Files.list(Paths.get(s"$stage/$name")).iterator()
      var p: java.nio.file.Path = null
      while (part.hasNext) { val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f }
      Files.copy(p, drop.resolve(s"$name.parquet"))
      Files.setLastModifiedTime(drop.resolve(s"$name.parquet"),
        FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    val h = 3600L * 1000000L
    wave(Seq((1L, base, 1L, 10.0), (1L, base + 60000000L, 2L, 5.5)),
      "w1", t0 - 120000)
    wave(Seq((1L, base + 2L * h, 3L, 1.0)), "w2", t0 - 60000)
    wave(Seq((1L, base + 2L * h + 300000000L, 4L, 2.0)), "w3", t0)
    val got = EventStreams.drainToMemory(spark,
      EventStreams.userSessionsTws(spark,
        EventStreams.readEventsPaced(spark, drop.toString, Some(1)))
        .toDF("user_id", "start_us", "n_events", "cents"),
      "sess_active_out", OutputMode.Append(),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set((1L, base, 2L, 1550L)),
      s"closed session withheld or wrong for a continuously-active key: $got")
  }

  test("transformWithState state AND timers survive a checkpoint restart") {
    import org.apache.spark.sql.streaming.OutputMode
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    // The strm_restart_resume row pins offset/commit recovery for the
    // MERGE sink; this pins the stateful-processor side: ValueState
    // (the open session), ListState (closed sessions awaiting drain),
    // the registered event-time TIMER, and the watermark itself must
    // all come back from the checkpoint. Session A's rows arrive
    // entirely in run 1 — which emits NOTHING (no-data batches
    // disabled, so no batch in run 1 ever runs with wm >= A's expiry).
    // Run 2 restarts from the same checkpoint with only w3 new: its
    // one data batch plans against the RESTORED watermark (T+1h) and
    // the RESTORED timer (T+31m) fires, emitting A — possible only if
    // every piece of run-1 state survived the restart.
    val base = 1700000000000000L // micros
    val h = 3600L * 1000000L
    val drop = tempDir("sess_restart_waves")
    val stage = tempDir("sess_restart_stage")
    val cp = tempDir("sess_restart_cp")
    def wave(rows: Seq[(Long, Long, Long, Double)], name: String, mtime: Long): Unit = {
      import spark.implicits._
      val df = rows.toDF("user_id", "us", "event_id", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("value"))
      df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$name")
      val part = Files.list(Paths.get(s"$stage/$name")).iterator()
      var p: java.nio.file.Path = null
      while (part.hasNext) { val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f }
      Files.copy(p, drop.resolve(s"$name.parquet"))
      Files.setLastModifiedTime(drop.resolve(s"$name.parquet"),
        FileTime.fromMillis(mtime))
    }
    // file sink + explicit checkpointLocation: the memory sink refuses
    // checkpoint recovery by design, and recovery is the whole point —
    // the parquet sink's manifest commits make run 2 a true RESTART of
    // run 1's query. Scoped confs bind at start() (the stream clones
    // the session), restored right after, as drainToMemory does.
    val outDir = tmp("sess_restart_out")
    def drain(): Set[(Long, Long, Long, Long)] = {
      val scoped = Map(
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"),
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      val prev = scoped.keys.map(k => k -> spark.conf.getOption(k)).toMap
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = try {
        EventStreams.userSessionsTws(spark,
          EventStreams.readEventsPaced(spark, drop.toString, Some(1)))
          .toDF("user_id", "start_us", "n_events", "cents")
          .writeStream.outputMode(OutputMode.Append())
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      try q.awaitTermination()
      finally org.apache.spark.sql.GraftShims.unloadStateStores()
      try spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      catch { // zero emitted rows = zero data files under the sink
        case _: org.apache.spark.sql.AnalysisException =>
          Set.empty[(Long, Long, Long, Long)]
      }
    }
    val t0 = System.currentTimeMillis()
    wave(Seq((1L, base, 1L, 10.0), (1L, base + 60000000L, 2L, 5.5)),
      "w1", t0 - 120000)
    wave(Seq((1L, base + 2L * h, 3L, 1.0)), "w2", t0 - 60000)
    val run1 = drain()
    assert(run1.isEmpty,
      s"run 1 must withhold everything (wm below every expiry at " +
        s"every data batch): $run1")
    // w3 extends B from the RESTORED ValueState — if cur had been
    // lost, w3 would open a fresh session and A's timer would be gone
    wave(Seq((1L, base + 2L * h + 300000000L, 4L, 2.0)), "w3", t0)
    val run2 = drain()
    assert(run2 == Set((1L, base, 2L, 1550L)),
      s"restart lost state or timers (expected session A only): $run2")
  }

  test("a FAILED drain still drops its memory-sink view and surfaces the error") {
    import org.apache.spark.sql.streaming.OutputMode
    // the r15 finally-teardown pin: the drain's stream fails mid-batch
    // (raise_error on every row), awaitTermination throws — and the
    // memory-sink temp view (the driver-side row buffer the r13
    // hygiene fix exists to unpin) must STILL be gone afterwards
    val boom = EventStreams.readEvents(spark, eventsDir)
      .selectExpr("raise_error('drain must fail') AS x")
    val name = "drain_fail_pin"
    intercept[Exception] {
      EventStreams.drainToMemory(spark, boom, name,
        OutputMode.Append())
    }
    assert(!spark.catalog.tableExists(name),
      "failed drain left its memory-sink temp view registered")
    // and the scoped shuffle conf was restored despite the failure
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "8" ||
      sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE").contains(
        spark.conf.get("spark.sql.shuffle.partitions")))
  }

  test("concurrent drains serialize and both produce correct results") {
    import org.apache.spark.sql.streaming.OutputMode
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the r15 drain lock: two threads draining on the shared session
    // must not race the scoped session-global conf or each other's
    // lastDrain* fields — both finish, both equal their batch twins
    val want = SparkEntry.queries("ev_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val fs = (1 to 2).map { i =>
      Future {
        EventStreams.drainToMemory(spark,
          EventStreams.tumblingCounts(
            EventStreams.readEvents(spark, eventsDir)),
          s"conc_drain_$i").collect().map(_.toSeq).toSet
      }
    }
    val got = Await.result(Future.sequence(fs), 5.minutes)
    got.foreach(g => assert(g == want))
  }

  test("MapState tally carries across micro-batches and equals batch GROUP BY") {
    import org.apache.spark.sql.streaming.OutputMode
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    // split events into two waves with staggered mtimes, paced one
    // file per micro-batch, so the SAME user hits the MapState in two
    // separate batches — the final count is right only if the second
    // batch's point-read saw the first batch's point-write
    val ev = Tables.load(spark, sfDir, "events")
    val drop = tempDir("tcnt_waves")
    val stage = tempDir("tcnt_stage")
    def wave(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$name")
      val part = Files.list(Paths.get(s"$stage/$name")).iterator()
      var p: java.nio.file.Path = null
      while (part.hasNext) { val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f }
      Files.copy(p, drop.resolve(s"$name.parquet"))
      Files.setLastModifiedTime(drop.resolve(s"$name.parquet"),
        FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    wave(ev.where(col("event_id") % 2 === 0), "w1", t0 - 60000)
    wave(ev.where(col("event_id") % 2 =!= 0), "w2", t0)
    val drained = EventStreams.drainToMemory(spark,
      EventStreams.userTypeCountsTws(spark,
        EventStreams.readEventsPaced(spark, drop.toString, Some(1)))
        .toDF("user_id", "event_type", "n"),
      "tcnt_waves_out", OutputMode.Update(),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")))
    val got = drained.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = ev.groupBy(col("user_id"), col("event_type")).count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // the carry was real: at least one (user, type) got rows in
    // BOTH waves (guaranteed by the parity split on this corpus),
    // and its drained emissions show a strictly increasing tally
    val twoBatch = drained.groupBy(col("user_id"), col("event_type"))
      .agg(countDistinct(col("n")).as("emissions"))
      .where(col("emissions") >= 2).count()
    assert(twoBatch > 0, "no key was updated in two separate micro-batches")
  }

  test("bootstrap EWMA seeds from batch state and streams only the tail") {
    // the catalog row equals the batch fold (same oracle as every
    // EWMA engine) — and the split is REAL: the streamed side must
    // cover exactly the users with tail events (a strict subset), so
    // cross-cutoff users' correct finals prove handleInitialState
    // actually seeded the carried (count, ewma)
    val got = SparkEntry.queries("strm_ewma_bootstrap")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    val want = SparkEntry.queries("ev_ewma")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getDouble(2)))).toMap
    assert(got == want)
    val ev = Tables.load(spark, sfDir, "events")
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).collect()(0)
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 4L / 5L
    val histUsers = ev.where(unix_micros(col("ts")) <= cutoff)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    val tailUsers = ev.where(unix_micros(col("ts")) > cutoff)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    val spanning = histUsers.intersect(tailUsers)
    // the fixture must exercise both paths: users the stream never
    // sees (history-only — their rows come from the seed union) and
    // users whose seeded state the stream CONTINUES
    assert(spanning.nonEmpty, "no user spans the cutoff — seeding unexercised")
    val histCounts = ev.where(unix_micros(col("ts")) <= cutoff)
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spanning.foreach { u =>
      assert(got(u)._1 > histCounts(u),
        s"user $u: final count ${got(u)._1} not beyond seeded ${histCounts(u)}")
    }
  }

  test("strm_late_drop: stale wave non-empty and fully dropped by the armed late filter") {
    // the oracle alone can't prove the late filter fired — if the
    // stale wave staged empty, or the spacer batch failed to promote
    // the watermark AND the duplicates happened to be dropped some
    // other way, the row-hash could still match. Pin the mechanism:
    // (a) the fixture stages a NON-EMPTY stale wave, (b) the drain's
    // stateful operators report exactly that many rows dropped by
    // watermark, (c) the surviving aggregation equals batch tumbling.
    val ev = Tables.load(spark, sfDir, "events")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val stale = ev.where(
      unix_micros(col("ts")) < maxUs - 3L * 3600L * 1000000L)
    val staleRows = stale.count()
    // the state store's late filter runs AFTER map-side partial
    // aggregation, so it counts dropped PARTIAL rows: at least one per
    // distinct (window, event_type) group, at most one per input row
    val staleGroups = stale.select(
      window(col("ts"), "1 hour")("start"), col("event_type"))
      .distinct().count()
    assert(staleRows > 0, "fixture vacuous: no events older than max(ts)-3h")
    val got = SparkEntry.queries("strm_late_drop")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val dropped = EventStreams.lastDrainDroppedByWatermark
    assert(dropped >= staleGroups && dropped <= staleRows,
      s"late filter dropped $dropped partial rows; expected in " +
        s"[$staleGroups, $staleRows]")
    val want = SparkEntry.queries("ev_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("strm_outer_join: eviction emits null matches; without sentinels the tail is withheld") {
    import org.apache.spark.sql.streaming.OutputMode
    val ev = Tables.load(spark, sfDir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"), "left_outer")
      .select(col("c_id"), col("user_id"), col("p_id")).collect()
    val batchNulls = batch.count(_.isNullAt(2))
    assert(batchNulls > 0, "fixture vacuous: every click has a purchase match")
    // the catalog entry (sentinel-flushed) must equal batch EXACTLY,
    // null matches included
    val got = SparkEntry.queries("strm_outer_join")(spark, sfDir)
      .select(col("c_id"), col("user_id"), col("p_id")).collect()
    assert(got.count(_.isNullAt(2)) == batchNulls)
    assert(got.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
    // NEGATIVE CONTROL — the same drain WITHOUT sentinels: the final
    // watermark stops 1h short of max(ts), so unmatched clicks in the
    // tail stay in state and their null rows are WITHHELD. This is
    // what proves the sentinel fixture tests eviction rather than the
    // outer join degenerating to eager batch semantics.
    val noSent = EventStreams.drainToMemory(spark,
      EventStreams.clickPurchaseLeftJoin(
        EventStreams.readEvents(spark, eventsDir)),
      "oj_nosent", OutputMode.Append())
      .select(col("c_id"), col("user_id"), col("p_id")).collect()
    assert(noSent.count(_.isNullAt(2)) < batchNulls,
      "no withheld tail without sentinels — eviction pin is vacuous")
    // and what it does emit is always a correct subset
    assert(noSent.map(_.toSeq).toSet.subsetOf(batch.map(_.toSeq).toSet))
  }

  test("strm_rocksdb: RocksDB provider actually binds and equals the batch twin") {
    val got = SparkEntry.queries("strm_rocksdb")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    // mechanism pin: the provider swap must be REAL — RocksDB reports
    // rocksdb* custom metrics in the progress; the default provider
    // reports none (a silently ignored conf would still pass the
    // oracle, results being backend-independent by contract)
    assert(EventStreams.lastDrainProgressJson.contains("rocksdb"),
      "drain progress shows no rocksdb metrics — provider conf did not bind")
    val want = SparkEntry.queries("ev_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // the scoped conf must not leak into the session after the drain
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("mapGroupsWithState running counts == batch groupBy count") {
    import org.apache.spark.sql.streaming.OutputMode
    val counts = EventStreams.userRunningCounts(
      spark, EventStreams.readEvents(spark, eventsDir))
    val got = EventStreams.drainToMemory(
      spark, counts.toDF("user_id", "n"), "state_out", OutputMode.Update())
      // multiple micro-batches emit running values: keep the max per user
      .groupBy(col("user_id")).agg(max(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }
}
