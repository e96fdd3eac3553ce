package graft.operators

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Scratch, Tables}
import graft.sinks.Merge

/** Pipeline-state operators: MERGE-emulation sinks exercised as
  * queries, incremental anchor scans, and the NULL-encoded stage
  * machine (SURVEY.md §2.2, §2.11, §1.2).
  *
  * The reference's "streaming" is incremental batch over a mutable
  * state table: watermark anchors (`db/song.py:19-26` +
  * `bilibili/video.py:84-100`), two-sided backfill bounds
  * (`bilibili/series.py:100-109`), and a row state machine encoded in
  * NULL columns (`db/recording.py:96-210`). Each is re-expressed as a
  * declarative plan over the star schema so the oracle can check it.
  */
object Pipeline extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S7: distributed BYTE-RANGE reads (the reference's HTTP Range-GET
    // audio streaming, re-expressed as seek+readFully over a shared
    // object — graft.sources.RangeReads). The 256 KiB fixture is
    // GENERATIVE (block i = zero-padded i, eight times), so DuckDB
    // reconstructs every byte window from the formula and the driver
    // hash-checks each chunk's md5: a misaligned seek, short read, or
    // off-by-one in any of the 64 block-crossing windows breaks the
    // row hash. Ranges deliberately cross block boundaries
    // (offset = id·4093, len = 997 — coprime to the 64-byte block).
    "s7_range_read" -> ((s, dir) => {
      val content = (0 until 4096).map(i => "%08d".format(i) * 8).mkString
      val ranges = s.range(0, 64).select(
        col("id").as("range_id"),
        (col("id") * 4093L).as("offset"),
        lit(997).as("len")).repartition(8)
      Scratch.dir("graft_ranges") { d =>
        val f = java.nio.file.Files.write(d.resolve("ranges.bin"), content.getBytes("US-ASCII"))
        graft.sources.RangeReads.readRanges(f.toString, ranges).ckpt(true)
      }
    }),

    // K1: upsert-ignore — existing keys keep their row, new keys append.
    "k1_upsert_ignore" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val incoming = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"))
      Merge.upsertIgnore(target, incoming, Seq("o_orderkey"))
    }),

    // K2: upsert-update — incoming wins on collision.
    "k2_upsert_update" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val incoming = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"))
      Merge.upsertUpdate(target, incoming, Seq("o_orderkey"))
    }),

    // K2 through the DataFrameWriter surface: the same partitioned
    // upsert-update as k2_upsert_snapshot, but seeded and merged with
    // `df.write.format("graft-snapshot")` (ErrorIfExists seeds a new
    // table, Append upserts). This row pins the writer-format path —
    // option parsing and the SaveMode mapping onto SnapshotMerge —
    // against the same K2 oracle (pk = key-derived hash bucket, so the
    // partition is determined by the merge key).
    "k2_upsert_partitioned" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      // incoming touches only buckets 0 and 1 — buckets 2-4 carry
      // forward by manifest reference, never read or rewritten
      val incoming = o.where(col("o_orderkey") % 2 === 0 &&
          pmod(col("o_orderkey"), lit(5L)) < 2)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2p_") { d =>
        val base = d.resolve("t").toString
        def save(df: DataFrame, mode: SaveMode): Unit =
          df.write.format("graft-snapshot").option("path", base)
            .option("keys", "o_orderkey").option("partitionBy", "pk")
            .mode(mode).save()
        save(target, SaveMode.ErrorIfExists)
        save(incoming, SaveMode.Append)
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // K2 with cross-partition atomicity: the same partitioned
    // upsert-update, but through SnapshotMerge — replacement
    // partitions land in an immutable batch dir and publish via ONE
    // atomic pointer swap, so a crash can never expose a mixed
    // old/new table (the guarantee the reference gets from a single
    // PG transaction). Oracle-checked against the same K2 semantics.
    "k2_upsert_snapshot" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val incoming = o.where(col("o_orderkey") % 2 === 0 &&
          pmod(col("o_orderkey"), lit(5L)) < 2)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2s_") { d =>
        val base = d.resolve("t").toString
        // seed snapshot v1 = target, then merge incoming as v2
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // K2 under MULTI-WRITER CONCURRENCY: two upserts race on the same
    // base version of a snapshot table from two real threads. The
    // winner's pointer swap advances CURRENT; the loser's fenced
    // commit detects the advance (SnapshotConcurrentWriteException —
    // never a silent lost update) and SnapshotMerge.retrying REBASES it:
    // re-resolve the new base, re-prune, re-merge, commit. The two
    // batches touch DISJOINT key sets (%4==0 vs %4==2), so sequential
    // application commutes and the final table is deterministic no
    // matter which writer wins the race — which is exactly what lets
    // a genuinely racy execution be a hash-checked oracle row. The
    // deterministic FORCED race (loser provably conflicts and
    // retries) is pinned in SnapshotLockSpec with a latched mergeFn.
    "k2_concurrent_upsert" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      def batch(rem: Int, bump: Int, st: String) =
        o.where(col("o_orderkey") % 4 === rem)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") + lit(bump).cast("decimal(18,2)"))
              .cast("double").as("o_totalprice"),
            lit(st).as("o_orderstatus"), pk)
      Scratch.frame("graft_k2c_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        val incs = Seq(batch(0, 1000, "A"), batch(2, 2000, "B"))
        val gate = new java.util.concurrent.CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = incs.map { inc =>
          new Thread(() =>
            try {
              gate.await()
              graft.sinks.SnapshotMerge.retrying(inc)(i =>
                graft.sinks.SnapshotMerge.upsertUpdate(
                  s, base, i, Seq("o_orderkey"), Seq("pk")))
            } catch { case t: Throwable => errs.add(t) })
        }
        threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // STREAMING COLUMN-SPARSE MoR INGEST (r19) — the reference's cron
    // deployment END-TO-END: two mtime-paced waves of updates drain
    // through a checkpointed AvailableNow stream whose every
    // micro-batch commits via upsertMorSparse (updateCols =
    // o_totalprice ONLY; each wave's o_orderstatus carries a sentinel
    // that must never land for matched keys), with the compaction
    // autopilot riding along. Wave 2 re-patches wave-1-patched keys
    // (cross-batch version gate: the LATER absolute value wins) AND
    // patches keys wave 1 INSERTED (patch-over-full-slice-row). The
    // oracle folds both waves; status flips only via wave-1 inserts.
    "strm_mor_sparse" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val wave1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            (price + lit(1000).cast("decimal(18,2)")).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 20 === 1, "Z1-SENTINEL").otherwise("N")
            .as("o_orderstatus"), pk)
      val wave2 = o.where(col("o_orderkey") % 40 === 1 || col("o_orderkey") % 20 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 40 === 1,
            (price + lit(5000).cast("decimal(18,2)")).cast("double"))
            .otherwise((price + lit(7000).cast("decimal(18,2)")).cast("double"))
            .as("o_totalprice"),
          lit("Z2-SENTINEL").as("o_orderstatus"), pk)
      Scratch.frame("strm_smor") { root =>
        val drop = root.resolve("waves")
        java.nio.file.Files.createDirectories(drop)
        val tableDir = root.resolve("table").toString
        val ckptDir = root.resolve("ckpt").toString
        def dropFile(df: DataFrame, name: String): Unit = graft.streaming.EventStreams
          .stageWave(df, root, drop, name, System.currentTimeMillis())
        def drain(): Unit = graft.streaming.EventStreams.sparseMorStream(s,
          s.readStream.schema(target.schema).parquet(drop.toString),
          tableDir, Seq("o_orderkey"), Seq("o_totalprice"), Seq("pk"), ckptDir)
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, tableDir, target, Seq("o_orderkey"), Seq("pk"))
        dropFile(wave1, "w1.parquet")
        drain()
        dropFile(wave2, "w2.parquet")
        drain()
        graft.sinks.SnapshotMerge.read(s, tableDir, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // SHALLOW CLONE (r20, VERDICT r19 #3) — the Delta CREATE TABLE
    // SHALLOW CLONE shape: a metadata-only commit re-referencing the
    // source's immutable batches by absolute path (zero data copied —
    // the require pins the clone's data/ dir ABSENT). The timeline:
    // seed + MoR patch, CLONE, then one write on EACH side — the
    // source's update (plus a retain=1 vacuum, exercising the clone
    // registry's pin end-to-end at driver scale) must be invisible to
    // the clone, and the clone's own sparse patch invisible to the
    // source. The oracle restates the clone: state at clone point +
    // the clone-side patch only.
    "k2_clone" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val patch = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (price + lit(1000).cast("decimal(18,2)")).cast("double")
            .as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      val srcWrite = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), lit(-1.0).as("o_totalprice"),
          lit("S").as("o_orderstatus"), pk)
      val cloneWrite = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), lit("C").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2cl_") { root =>
        val src = root.resolve("src").toString
        val dst = root.resolve("clone").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, src, target, Seq("o_orderkey"), Seq("pk"), retain = 8)
        graft.sinks.SnapshotMerge.upsertMor(
          s, src, patch, Seq("o_orderkey"), Seq("pk"), retain = 8)
        val srcStore = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(src))
        srcStore.cloneTo(new org.apache.hadoop.fs.Path(dst))
        require(!new java.io.File(s"$dst/data").exists(),
          "a shallow clone must copy ZERO data")
        // source diverges AND vacuums hard — the registry pin must
        // keep every batch the clone references alive
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, src, srcWrite, Seq("o_orderkey"), Seq("pk"), retain = 1)
        srcStore.vacuum(1)
        // clone diverges the other way: a sparse patch of the SAME keys
        graft.sinks.SnapshotMerge.upsertMorSparse(
          s, dst, cloneWrite, Seq("o_orderkey"), Seq("pk"),
          Seq("o_orderstatus"), retain = 8)
        val srcNow = graft.sinks.SnapshotMerge.read(s, src, target.schema)
        require(srcNow.where(col("o_orderstatus") === "C").isEmpty,
          "the clone's write leaked into the source")
        require(!srcNow.where(col("o_orderstatus") === "S").isEmpty,
          "the source's own divergent write went missing")
        graft.sinks.SnapshotMerge.read(s, dst, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // STREAMING SPARSE INGEST × SCHEMA EVOLUTION (r20, VERDICT r19
    // #4) — the long-lived cron deployment's real-world composition:
    // wave 1 drains through the checkpointed sparse-MoR stream
    // (patching o_totalprice, inserting new keys), then a MID-STREAM
    // upsertMorEvolve under SnapshotMerge.retrying adds a `score`
    // column (schemaBase-fenced, zero rewrites — old files ride NULL
    // resolution), then wave 2 drains through a NEW feed whose schema
    // is the patch-only narrow frame (keys + partition + score) and
    // sparse-patches the JUST-ADDED column — over evolve-written rows,
    // wave-1-patched rows, and wave-1-INSERTED rows alike. The oracle
    // folds all three stages; a NULL score everywhere else pins that
    // neither the evolve nor the narrow patches disturbed untouched
    // rows.
    "strm_mor_sparse_evolve" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val bumped = (price + lit(1000).cast("decimal(18,2)")).cast("double")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), pk)
      val wave1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1, bumped)
            .otherwise(col("o_totalprice")).as("o_totalprice"), pk)
      // the evolve wave: full rows for %40==1 carrying the NEW column
      // (price restated at wave 1's patched value — an evolve is an
      // upsert, its rows overwrite whole)
      val evolveWave = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), bumped.as("o_totalprice"), pk,
          (col("o_orderkey") % 100).as("score"))
      // wave 2: the NARROW patch-only frame (keys+part+score) over
      // evolve-written (%40==1), wave-1-patched (%20==1) and
      // wave-1-inserted (%20==2) keys
      val wave2 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 20 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1, col("o_orderkey") % 100 + 500)
            .otherwise(col("o_orderkey") % 100 + 700).as("score"), pk)
      Scratch.frame("strm_smev") { root =>
        val tableDir = root.resolve("table").toString
        def dropTo(drop: java.nio.file.Path, df: DataFrame, name: String): Unit = {
          java.nio.file.Files.createDirectories(drop)
          graft.streaming.EventStreams.stageWave(df, root, drop, name,
            System.currentTimeMillis())
        }
        def drain(drop: java.nio.file.Path, ckpt: String,
            schema: org.apache.spark.sql.types.StructType,
            updateCols: Seq[String]): Unit =
          graft.streaming.EventStreams.sparseMorStream(s,
            s.readStream.schema(schema).parquet(drop.toString),
            tableDir, Seq("o_orderkey"), updateCols, Seq("pk"),
            root.resolve(ckpt).toString)
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, tableDir, target, Seq("o_orderkey"), Seq("pk"))
        val drop1 = root.resolve("feed_v1")
        dropTo(drop1, wave1, "w1.parquet")
        drain(drop1, "ckpt1", target.schema, Seq("o_totalprice"))
        // mid-stream schema evolution, fenced + retried like the
        // production writer would run it
        graft.sinks.SnapshotMerge.retrying(evolveWave)(i =>
          graft.sinks.SnapshotMerge.upsertMorEvolve(
            s, tableDir, i, Seq("o_orderkey"), Seq("pk")))
        val drop2 = root.resolve("feed_v2")
        dropTo(drop2, wave2, "w2.parquet")
        drain(drop2, "ckpt2", wave2.schema, Seq("score"))
        graft.sinks.SnapshotMerge.readEvolved(s, tableDir)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("pk").cast("long").as("pk"), col("score"))
          .ckpt(true)
      }
    }),

    // CHECK CONSTRAINTS (r19, the Delta ALTER TABLE ADD CONSTRAINT
    // surface): add `o_totalprice > 0` to a seeded table (validated
    // against existing rows first), land a conforming MoR update,
    // then prove enforcement — a batch carrying one negative price is
    // REFUSED whole (caught in-query; the require pins the message
    // names the constraint) and the table is byte-identical after.
    // The oracle restates seed + the conforming update only.
    "k2_constraint" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val good = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      val bad = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), lit(-1.0).as("o_totalprice"),
          lit("X").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2ck_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"), retain = 8)
        graft.sinks.SnapshotMerge.addConstraint(s, base,
          "price_pos", "o_totalprice > 0")
        graft.sinks.SnapshotMerge.upsertMor(s, base, good,
          Seq("o_orderkey"), Seq("pk"), retain = 8)
        val refused =
          try { graft.sinks.SnapshotMerge.upsertUpdate(
            s, base, bad, Seq("o_orderkey"), Seq("pk")); None }
          catch { case e: IllegalArgumentException => Some(e.getMessage) }
        require(refused.exists(_.contains("price_pos")),
          s"the violating batch must be refused by name, got: $refused")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // RESTORE / rollback (r19): three commits mutate the table (CoW
    // upsert, MoR upsert, row-level DV delete), then
    // SnapshotStore.restore rolls it back to v1 AS A NEW FENCED
    // COMMIT — zero data movement (immutable batches re-referenced),
    // pre-restore history still time-travels (TimeTravelSpec pins
    // that plus the restored schema's re-embedding). The oracle
    // is simply the SEED: a correct rollback erases every later
    // mutation from the current view.
    "k2_restore" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2rs_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"), retain = 8)
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val v1 = store.currentVersion().get
        graft.sinks.SnapshotMerge.upsertMor(s, base, inc,
          Seq("o_orderkey"), Seq("pk"), retain = 8)
        graft.sinks.SnapshotMerge.deleteWhere(s, base, target.schema,
          col("o_orderkey") % 40 === 11)
        val newV = store.restore(v1)
        require(newV == v1 + 3, s"restore must commit as the NEXT version, got $newV")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // MULTI-WRITER CONCURRENCY through the CONDITIONAL-PUT backend
    // (r19): the k2_concurrent_upsert race re-run with every commit
    // published via CommitPointerBackend.cas — one server-side
    // compare-and-swap, NO lock file anywhere (asserted) — the commit
    // protocol a store without atomic exclusive create runs. Two
    // threads race MERGE-ON-READ upserts on the same base through one
    // shared CAS endpoint; the loser is fenced by the CAS result and
    // SnapshotMerge.retrying rebases. Disjoint key sets commute, so
    // the racy execution is hash-checkable; CasBackendSpec pins the
    // forced single-window race and the LOCK-free claim.
    "k2_cas_commit" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      def batch(rem: Int, bump: Int, st: String) =
        o.where(col("o_orderkey") % 4 === rem)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") + lit(bump).cast("decimal(18,2)"))
              .cast("double").as("o_totalprice"),
            lit(st).as("o_orderstatus"), pk)
      Scratch.frame("graft_k2cas_") { d =>
        val base = d.resolve("t").toString
        val root = new org.apache.hadoop.fs.Path(base)
        val backend = new graft.sinks.InProcessCasBackend(s, root)
        def casStore() = {
          val st = new graft.sinks.SnapshotStore(s, root)
          st.pointerBackend = Some(backend)
          st
        }
        graft.sinks.SnapshotMerge.upsertMor(casStore(), target,
          Seq("o_orderkey"), Seq("pk"), retain = 6)
        val incs = Seq(batch(0, 1000, "A"), batch(2, 2000, "B"))
        val gate = new java.util.concurrent.CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = incs.map { inc =>
          new Thread(() =>
            try {
              gate.await()
              val st = casStore()
              graft.sinks.SnapshotMerge.retrying(inc, maxAttempts = 8)(i =>
                graft.sinks.SnapshotMerge.upsertMor(st, i,
                  Seq("o_orderkey"), Seq("pk"), retain = 6))
            } catch { case t: Throwable => errs.add(t) })
        }
        threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        require(!new java.io.File(s"$base/LOCK").exists(),
          "the CAS path must never create the lease file")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // MoR MAINTENANCE AUTOPILOT (r19): the k2_upsert_mor fixture with
    // autoCompactMaxSlices=2 — each commit's post-check folds
    // slice-hot partitions as a side effect, so the caller never
    // schedules compaction; content must equal the plain sequential
    // upserts (the knob only rearranges bytes) and the final manifest
    // must hold fewer than 2 slices per suffix (required in-query;
    // SparseMorSpec pins the depth bound across 6 stacked commits).
    "k2_autocompact" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            (price + lit(1000).cast("decimal(18,2)")).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 20 === 1, "U").otherwise("N")
            .as("o_orderstatus"), pk)
      val inc2 = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"),
          (price + lit(3000).cast("decimal(18,2)")).cast("double")
            .as("o_totalprice"),
          lit("V").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2ac_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMor(s, base, inc1,
          Seq("o_orderkey"), Seq("pk"), autoCompactMaxSlices = 2)
        graft.sinks.SnapshotMerge.upsertMor(s, base, inc2,
          Seq("o_orderkey"), Seq("pk"), autoCompactMaxSlices = 2)
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val cur = store.resolveCurrent().get
        val depth = (cur.mors.map(_._1) ++ cur.smors.map(_.suffix))
          .groupBy(identity).values.map(_.size)
        require(depth.forall(_ < 2),
          s"autopilot left slice depth >= 2: ${cur.mors}")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // WRITER vs COMPACTION concurrency (VERDICT r16 #4 — the OTHER
    // classic warehouse conflict class): a row-level upsert races an
    // OPTIMIZE (clustered compaction) on the same base version from
    // two real threads. Whoever loses the pointer-swap race gets a
    // fenced SnapshotConcurrentWriteException — the compactor because
    // the upserter invalidated the file set it was rewriting, or the
    // upserter because its base manifests were superseded — and the
    // retry wrapper REBASES it against the winner's committed state
    // (SnapshotMerge.retryLoop over compactClustered re-resolves and
    // re-reads the table whole; SnapshotMerge.retrying over upsertUpdate
    // re-prunes and re-merges). Compaction only rearranges rows, so
    // the final CONTENT equals a sequential upsert no matter which
    // order the race resolves — which is what makes a genuinely racy
    // execution hash-checkable. The deterministic FORCED version of
    // both conflict directions is pinned in SnapshotLockSpec.
    // maxRecordsPerFile=500 makes the compaction a real multi-file
    // clustered rewrite, not a rename.
    "k2_compact_conflict" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      // pk = %7, NOT the family's usual %5: keys ≡ 1 (mod 10) all share
      // key % 5 = 1 (10 ≡ 0 mod 5 would collapse the lean seed to one
      // partition), while mod 7 cycles them over every residue.
      val pk = pmod(col("o_orderkey"), lit(7L)).as("pk")
      // leaner seed than the k2_upsert rows (the k2_snapshot_time_travel
      // precedent): the row's point is the conflict FENCE between a
      // racing writer and a clustered OPTIMIZE, not merge throughput —
      // %10 keeps a real multi-partition table and ~30 clustered files
      // at maxRecordsPerFile=500 while the race stays genuinely racy.
      // Incoming mixes UPDATES (%20==1 ⊂ seed keys) and INSERTS
      // (%20==2, even keys absent from the seed).
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc = o.where(pmod(col("o_orderkey"), lit(20)).isin(1, 2))
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("A").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2cc_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        val gate = new java.util.concurrent.CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val writer = new Thread(() =>
          try {
            gate.await()
            graft.sinks.SnapshotMerge.retrying(inc)(i =>
              graft.sinks.SnapshotMerge.upsertUpdate(
                s, base, i, Seq("o_orderkey"), Seq("pk")))
          } catch { case t: Throwable => errs.add(t) })
        val compactor = new Thread(() =>
          try {
            gate.await()
            val st = new graft.sinks.SnapshotStore(s,
              new org.apache.hadoop.fs.Path(base))
            graft.sinks.SnapshotMerge.retryLoop()(st.compactClustered(
              target.schema, Seq("pk"), Seq("o_totalprice"),
              maxRecordsPerFile = 500L))
          } catch { case t: Throwable => errs.add(t) })
        writer.start(); compactor.start(); gate.countDown()
        writer.join(); compactor.join()
        if (!errs.isEmpty) throw errs.peek()
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // PER-PARTITION TABLE CHECKSUM (anti-entropy verification — how
    // replicas, a source and its snapshot copy, or two ends of a
    // migration prove byte-agreement without moving data): per
    // logical partition, row count + an ORDER-FREE modular checksum
    // (SUM of a restatable per-row hash, accumulated in DECIMAL(38)
    // and reduced mod 2³¹−1 — overflow-proof at any partition size,
    // and mergeable: partition checksums compare independently, so
    // anti-entropy repairs ship only the disagreeing partitions).
    // The row hash mixes the key, DECIMAL-exact cents, and the status
    // codepoint — all integer ops both engines restate, so the
    // checksums themselves hash-check.
    "k6_partition_checksum" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(pmod(col("o_orderkey"), lit(5L)).as("pk"),
          col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .withColumn("rowhash", expr(
          """((o_orderkey % 2147483647) * 1048573
              + CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                % 2147483647
              + ascii(o_orderstatus) * 131) % 2147483647"""))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(rowhash AS DECIMAL(38,0))) % 2147483647 AS BIGINT)")
            .as("checksum"))
    }),

    // K2 with ADD-COLUMN SCHEMA EVOLUTION: v1 commits (key, price,
    // pk); v2 upserts a batch that carries a NEW o_orderpriority
    // column. The evolve is metadata-only — v1's files are never
    // rewritten (absent parquet columns resolve to NULL under the
    // widened schema), the effective schema is embedded in each
    // version's manifest, and the reader ([[SnapshotMerge.readEvolved]])
    // needs no knowledge of the table's history. Output coalesces the
    // evolved column to 'NONE' so the null-representation is
    // comparator-proof; the oracle restates the union-widened merge
    // directly.
    "k2_upsert_evolve" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), pk)
      val incoming = o.where(col("o_orderkey") % 2 === 0 &&
          pmod(col("o_orderkey"), lit(5L)) < 2)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          col("o_orderpriority"), pk)
      Scratch.frame("graft_k2e_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.readEvolved(s, base)
          .select(col("o_orderkey"), col("o_totalprice"),
            coalesce(col("o_orderpriority"), lit("NONE")).as("prio"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // K2 with TYPE-WIDENING schema evolution (r17) — the OTHER
    // metadata-only evolution beside add-column: v1 commits cents as
    // INT (every sf's order fits comfortably); v2's batch carries
    // cents as BIGINT with values pushed beyond int range (+3e9), so
    // the widen is semantically forced, not cosmetic. The evolve
    // rewrites NOTHING: v1's untouched files keep their int32
    // physical type and Spark 4's vectorized parquet reader upcasts
    // them natively under the persisted bigint schema
    // ([[graft.sinks.SnapshotMerge.upsertEvolve]], widerOf). The
    // oracle restates the widened merge with CASTs; SnapshotMergeSpec
    // pins the metadata-only claim (untouched partitions keep their
    // v1 batch files) and that lossy pairs (long vs string,
    // long → double) still fail fast.
    "k2_upsert_widen" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), cents.cast("int").as("cents"), pk)
      val incoming = o.where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          (cents.cast("bigint") + lit(3000000000L)).as("cents"), pk)
      Scratch.frame("graft_k2w_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.readEvolved(s, base)
          .select(col("o_orderkey"), col("cents"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // BLOOM-SIDECAR POINT LOOKUP (r17) — the equality complement of
    // the min/max stats family: the table partitions by o_custkey%32,
    // so every partition's o_orderkey band spans the whole key domain
    // and NO band can prune a key lookup; a per-partition bloom
    // sketch over o_orderkey skips the partitions that provably
    // cannot contain any probed key (no false negatives ⇒ pruning is
    // correctness-invariant; false positives only cost a read). Keys
    // mix present and absent at every SF (orderkeys are 0..N-1).
    // Oracle = the plain IN-filter; SnapshotStatsSpec pins the prune
    // (partitions read < total; result identical to the unpruned
    // read).
    "k2_snapshot_bloom_skip" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val target = o.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"), pmod(col("o_custkey"), lit(32L)).as("pk"))
      Scratch.frame("graft_k2bl_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val batch = store.current().get._2.values.head
        store.writeBatchBloom(batch, target.schema, Seq("pk"), "o_orderkey")
        store.readKeyLookup(target.schema, "o_orderkey",
            Seq(1L, 7L, 33L, 4000L, 55555L))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // METADATA-ONLY DROP COLUMN (r17) — the third evolution beside
    // add-column and type-widening: v1 seeds (key, price, status,
    // pk), v2 evolve-adds o_orderpriority for a slice of keys, v3
    // DROPS o_totalprice — zero files rewritten, the persisted-schema
    // read simply never projects the column (parquet prunes it), and
    // time travel below the drop still sees it (per-version schema
    // history, spec'd). The oracle restates the evolve-merge and
    // omits the dropped column. pk is %7 for the same reason as
    // k2_compact_conflict (a %10 lean seed collapses %5).
    "k2_upsert_drop" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(7L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val incoming = o.where(col("o_orderkey") % 20 === 3)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"), pk)
      Scratch.frame("graft_k2dc_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.dropColumn(s, base, "o_totalprice")
        graft.sinks.SnapshotMerge.readEvolved(s, base)
          .select(col("o_orderkey"), col("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("NONE")).as("prio"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // ROW-LEVEL DELETE via positional DELETION VECTORS (r17) — the
    // GDPR/right-to-erasure shape at warehouse scale: remove a sliver
    // of rows from a huge table WITHOUT rewriting data files. Two
    // stacked deleteWhere commits tombstone (file, row-position)
    // pairs into sidecars; every reader anti-joins them out; the next
    // full rewrite materializes them ([[SnapshotStore.deleteWhere]]).
    // The oracle restates both predicates as NOT-filters over the
    // seed relation, hash-pinning that tombstoning by physical
    // position equals logical predicate deletion exactly.
    // DeletionVectorSpec pins the mechanism claims the hash can't
    // see: zero data files rewritten, byte-identical manifest data
    // entries across a delete commit, time-travel/CDC version
    // scoping, no-resurrect under merge, materialization by
    // compaction, DV vacuum.
    "k2_snapshot_delete" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      Scratch.frame("graft_k2dv_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        store.deleteWhere(target.schema,
          col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
        store.deleteWhere(target.schema, col("o_totalprice") > 400000.0)
        store.read(target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // ROW-LEVEL UPDATE via MERGE-ON-READ (r18) — the reference's
    // hottest write path (`db/occurrence.py:22-51`, the per-cron
    // ON CONFLICT DO UPDATE) at its 100 TB cost: TWO stacked
    // upsertMor commits tombstone old row versions through deletion
    // vectors and append the new versions as #mor slices — zero
    // partition rewrites (MorUpdateSpec pins the base entries
    // byte-identical) — and the read assembles base + slices − DVs.
    // The second commit updates keys the FIRST already updated, so
    // slice-resident rows get tombstoned too. The oracle restates
    // sequential upsert semantics; the driver hash pins that
    // merge-on-read equals copy-on-write bit-for-bit.
    "k2_upsert_mor" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            (price + lit(1000).cast("decimal(18,2)")).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 20 === 1, "U").otherwise("N")
            .as("o_orderstatus"), pk)
      val inc2 = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"),
          (price + lit(3000).cast("decimal(18,2)")).cast("double")
            .as("o_totalprice"),
          lit("V").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2mor_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMor(
          s, base, inc1, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMor(
          s, base, inc2, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // COLUMN-SPARSE MERGE-ON-READ UPDATE (r19) — the reference's
    // hottest write updates 2 of 5 columns per cron cycle
    // (`db/occurrence.py:46-48` DO UPDATE SET "start"=…, "page"=…);
    // upsertMorSparse stages ONLY key+partition+changed columns (no
    // tombstones, no base-entry movement — SparseMorSpec pins both
    // and the staged-bytes undercut). Two single-column patches
    // COMPOSE here: the first updates o_totalprice (its
    // o_orderstatus column carries a sentinel that must NEVER land
    // for matched keys, while unmatched keys insert whole rows), the
    // second updates o_orderstatus over the already-patched rows.
    // The oracle restates the layered result, so the driver hash
    // pins the version-gated patch-join resolution end-to-end.
    "k2_upsert_mor_sparse" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            (price + lit(1000).cast("decimal(18,2)")).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 20 === 1, "ZZ-SENTINEL").otherwise("N")
            .as("o_orderstatus"), pk)
      val inc2 = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), lit(-1.0).as("o_totalprice"),
          lit("V").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2ms_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMorSparse(
          s, base, inc1, Seq("o_orderkey"), Seq("pk"), Seq("o_totalprice"))
        graft.sinks.SnapshotMerge.upsertMorSparse(
          s, base, inc2, Seq("o_orderkey"), Seq("pk"), Seq("o_orderstatus"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val cur = store.resolveCurrent().get
        require(cur.dvs.isEmpty, "a pure patch commits no tombstones")
        require(cur.smors.nonEmpty, "the sparse path must stage #smor slices")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // MAP-TYPED COLUMN-SPARSE PATCHES (r20, VERDICT r19 #1) — the
    // sparse resolver's latest-patch argmax is deliberately
    // type-agnostic (max + self-join on the version, not a struct-max,
    // which refuses map-typed columns); this row drives it through the
    // FULL oracle gate. Two patches with DIFFERENT signatures share
    // the map column — inc1 patches {attrs} only (its sentinel status
    // must never land), inc2 patches {attrs, o_orderstatus} — so the
    // per-column effective-version chain resolves a MAP across
    // signature groups. Patch semantics replace the WHOLE map value
    // (column overwrite, not entry merge). The map is canonicalized
    // for the DuckDB hash gate by EXPLODING to (mkey, mval) rows —
    // row-set equality is map equality, and the driver sorts rows.
    "k2_upsert_mor_sparse_map" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      def baseAttrs = map(
        lit("a"), col("o_orderkey") % 7,
        lit("b"), col("o_orderkey") % 11)
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), baseAttrs.as("attrs"),
          col("o_orderstatus"), pk)
      val inc1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            map(lit("a"), col("o_orderkey") % 7 + 100, lit("x"), lit(1L)))
            .otherwise(baseAttrs).as("attrs"),
          when(col("o_orderkey") % 20 === 1, "ZZ-SENTINEL").otherwise("N")
            .as("o_orderstatus"), pk)
      val inc2 = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"), map(lit("z"), lit(9L)).as("attrs"),
          lit("V").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2msm_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMorSparse(
          s, base, inc1, Seq("o_orderkey"), Seq("pk"), Seq("attrs"))
        graft.sinks.SnapshotMerge.upsertMorSparse(
          s, base, inc2, Seq("o_orderkey"), Seq("pk"),
          Seq("attrs", "o_orderstatus"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val cur = store.resolveCurrent().get
        require(cur.dvs.isEmpty, "a pure patch commits no tombstones")
        require(cur.smors.map(_.cols).distinct.size == 2,
          "the fixture must leave two DISTINCT patch signatures outstanding")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"),
            explode(col("attrs")).as(Seq("mkey", "mval")),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .select(col("o_orderkey"), col("mkey"), col("mval"),
            col("o_orderstatus"), col("pk"))
          .ckpt(true)
      }
    }),

    // SCHEMA EVOLUTION through MERGE-ON-READ (r18) — the same
    // int→bigint widening fixture as k2_upsert_widen, but the second
    // evolve commits via upsertMorEvolve: v1's files stay untouched
    // (narrow int32, riding the reader's native upcast) AND v2's
    // update rewrites nothing (DV + slice). Identical oracle to
    // k2_upsert_widen, so the driver hash pins that the two write
    // paths converge on the same evolved table bit-for-bit.
    "k2_upsert_mor_evolve" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), cents.cast("int").as("cents"), pk)
      val incoming = o.where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          (cents.cast("bigint") + lit(3000000000L)).as("cents"), pk)
      Scratch.frame("graft_k2me_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMorEvolve(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.readEvolved(s, base)
          .select(col("o_orderkey"), col("cents"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // MoR MAINTENANCE: the same two stacked merge-on-read commits as
    // k2_upsert_mor, then compactSlices folds the slice-hot
    // partitions (materializing their slices AND tombstones) before
    // the read — the oracle is IDENTICAL to k2_upsert_mor's, so the
    // driver hash pins that slice compaction is content-invariant
    // end-to-end (the spec pins the mechanism: only hot partitions
    // rewritten, cold entries byte-identical).
    "k2_mor_compact" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val inc1 = o.where(col("o_orderkey") % 20 === 1 || col("o_orderkey") % 10 === 2)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 1,
            (price + lit(1000).cast("decimal(18,2)")).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          when(col("o_orderkey") % 20 === 1, "U").otherwise("N")
            .as("o_orderstatus"), pk)
      val inc2 = o.where(col("o_orderkey") % 40 === 1)
        .select(col("o_orderkey"),
          (price + lit(3000).cast("decimal(18,2)")).cast("double")
            .as("o_totalprice"),
          lit("V").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2mc_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMor(
          s, base, inc1, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertMor(
          s, base, inc2, Seq("o_orderkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        store.compactSlices(target.schema, Seq("pk"), maxSlices = 2)
        // fixture shape: target keys ≡1 (mod 10) all land in pk=1 (10
        // is a multiple of 5), inserts ≡2 (mod 10) in pk=2 — so pk=1
        // carries both slices (hot at maxSlices=2) and pk=2 none; the
        // fold must leave ZERO slice lines
        val mors = store.resolveCurrent().get.mors
        require(mors.isEmpty, s"slice compaction left slices: $mors")
        graft.sinks.SnapshotMerge.read(s, base, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // METADATA-ONLY COLUMN RENAME via column mapping (r18) — the
    // reference's pic -> cover (`modal/recording.py:47-49`), which a
    // name-based store could only spell add+backfill+drop: seed v1
    // carries `pic`, the rename commit moves ONLY metadata (the
    // embedded schema maps logical `cover` to physical `pic`), and a
    // post-rename evolve-upsert writes `cover` values INTO the old
    // physical column. The read projects old files' pic bytes and
    // new files' bytes under one logical name — the oracle restates
    // the merge with the rename applied, so the driver hash pins the
    // whole logical→physical routing. SnapshotMergeSpec pins the
    // metadata-only claim (identical data entries), time travel
    // below the rename, and the guards.
    "k2_upsert_rename" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 4)
        .select(col("o_orderkey"), col("o_orderpriority").as("pic"), pk)
      val incoming = o.where(col("o_orderkey") % 20 === 4 || col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 20 === 4, concat(lit("C-"), col("o_orderpriority")))
            .otherwise(col("o_orderpriority")).as("cover"), pk)
      Scratch.frame("graft_k2rn_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.renameColumn(s, base, "pic", "cover")
        graft.sinks.SnapshotMerge.upsertEvolve(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.readEvolved(s, base)
          .select(col("o_orderkey"), col("cover"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // STRING-KEY bloom-sidecar point lookup (r18) — the reference's
    // natural lookup is `WHERE bvid = ?` (`db/recording.py:119-138`),
    // a STRING key: same shape as k2_snapshot_bloom_skip but the
    // sketch hashes the key's UTF-8 bytes (xxhash64, mirrored
    // driver-side by XxHash64Function) instead of a bigint. Keys mix
    // present and absent; oracle = the plain IN-filter.
    "k2_snapshot_bloom_skip_str" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val skey = concat(lit("BV"), lpad(col("o_orderkey").cast("string"), 10, "0"))
      val target = o.select(skey.as("bvid"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(32L)).as("pk"))
      Scratch.frame("graft_k2bls_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("bvid"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val batch = store.current().get._2.values.head
        store.writeBatchBloom(batch, target.schema, Seq("pk"), "bvid")
        store.readKeyLookupStr(target.schema, "bvid",
            Seq(1L, 7L, 33L, 4000L, 55555L).map(k => f"BV$k%010d"))
          .select(col("bvid"), col("o_totalprice"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // CHANGE-FEED FOLLOWER drain (r18) — the poll-based CDC consumer
    // ([[graft.streaming.ChangeFeedFollower]]): seed v1, update-merge
    // v2, deletion-vector delete v3; a follower drains poll 1 after
    // v2, persists its anchor, is "restarted", and drains poll 2
    // after v3 — commits delivered strictly in version order, each
    // stamped with its version. The v3 delete arrives through DV
    // change detection (the manifest's data entries are
    // byte-identical across a delete — only the #dv diff names the
    // affected partitions). The oracle restates both commits' deltas
    // from the inputs; the deleted keys' pre-images carry the v2
    // UPDATED values (%40 ⊂ %20), which pins that the feed reads
    // per-commit state, not the seed.
    "k2_feed_follow" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val price = col("o_totalprice").cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val incoming = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (price + lit(1000).cast("decimal(18,2)")).cast("double")
            .as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2ff_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"), retain = 4)
        val store = new graft.sinks.SnapshotStore(
          s, new org.apache.hadoop.fs.Path(base))
        val drained = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
        def drain(anchor: Long): Long =
          graft.streaming.ChangeFeedFollower.drainOnce(
            store, target.schema, Seq("o_orderkey"), anchor) { (v, df) =>
            drained += df.withColumn("commit_version", lit(v)).ckpt(true)
          }
        var anchor = store.currentVersion().get // consumer starts at v1
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"), retain = 4)
        anchor = drain(anchor) // poll 1 delivers v2
        // "restart": the persisted anchor is all the state a consumer
        // carries; v3 lands while it was down
        store.deleteWhere(target.schema, col("o_orderkey") % 40 === 1)
        anchor = drain(anchor) // poll 2 delivers v3
        drained.reduce(_.unionByName(_))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"),
            col("_change"), col("commit_version").cast("long").as("commit_version"))
          .ckpt(true)
      }
    }),

    // Time-travel read through the snapshot version log (r11): seed
    // the table (v1), merge an update batch on top (v2), then read AS
    // OF v1 while CURRENT points at v2 — the oracle is simply the
    // seed relation, so the driver hash-pins that readAt reconstructs
    // the pre-merge table bit-for-bit through the version log (the
    // MVCC read the reference gets free from Postgres; fenced-loser
    // and vacuum edge cases are spec'd in TimeTravelSpec).
    "k2_snapshot_time_travel" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      // leaner seed than k2_upsert_snapshot (which already pays the
      // full-size merge shape): the twin's point is the version-log
      // read, not merge throughput
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val incoming = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2tt_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        val v = store.currentVersion().get
        store.readAt(v - 1, target.schema)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"), col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // STATS-PRUNED range read over the snapshot table (the sidecar
    // data-skipping layer, SnapshotStore.readRange): seed v1 and
    // update-merge v2 with per-(partition, column) min/max bands
    // recorded for o_totalprice, then read a value band. Pruning is
    // metadata-only — manifest entries whose recorded band cannot
    // intersect never become scan inputs — and is pinned in
    // SnapshotStatsSpec (disjoint-band fixture, band refresh, missing
    // sidecar, vacuum); the residual filter makes correctness
    // independent of how much was skipped. The oracle restates the
    // post-merge table filtered by the band, so the driver hash-pins
    // the whole stats-read path end-to-end. At 100 TB this is the
    // difference between a point lookup that opens three partitions
    // and one that lists the world (partition pruning can't help — pk
    // says nothing about price).
    "k2_snapshot_skip" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val updates = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      Scratch.frame("graft_k2sk_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"),
          statsCols = Seq("o_totalprice"))
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, updates, Seq("o_orderkey"), Seq("pk"),
          statsCols = Seq("o_totalprice"))
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        store
          .readRange(target.schema, "o_totalprice", 50000.0, 150000.0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // Z-ORDERED box read over the snapshot table: seed the store,
    // rewrite with compactClustered on (l_partkey, l_suppkey) — rows
    // sort by the interleaved-bit morton value of per-column QUANTILE
    // codes, so every file's band is narrow in BOTH columns — then
    // read a 2-D box through readBoxFiles (partition bands, then file
    // bands, each predicate pruning independently; residual filter
    // keeps correctness pruning-independent). The selectivity win
    // over 1-D clustering is pinned in SnapshotStatsSpec (10 vs 32 of
    // 256 files on the grid fixture); the oracle here restates the
    // box over the raw relation, hash-pinning the whole
    // quantile-code → morton-sort → sidecar → box-prune path. At
    // 100 TB this is OPTIMIZE ZORDER BY: multi-dimensional lookups
    // touch O(1) files without a partition scheme per dimension.
    "k2_snapshot_zorder" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // the synthetic lineitem does NOT keep (l_orderkey, l_linenumber)
      // unique, so the upsert key is the full distinct tuple — both
      // sides dedup identically
      val target = li.where(col("l_orderkey") % 3 === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          pmod(col("l_orderkey"), lit(4L)).as("pk"))
        .distinct()
      Scratch.frame("graft_k2zo_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target,
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        store.compactClustered(target.schema, Seq("pk"),
          Seq("l_partkey", "l_suppkey"), maxRecordsPerFile = 2000L)
        store
          .readBoxFiles(target.schema,
            Seq(("l_partkey", 500.0, 700.0), ("l_suppkey", 50.0, 80.0)))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            col("pk").cast("long").as("pk"))
          .ckpt(true)
      }
    }),

    // Change-data-feed READ between two snapshot versions: seed v1,
    // merge v2 (updates to every %20==1 key + inserts of unseen
    // %10==2 keys), then readChangesBetween(v1, v2) must emit exactly
    // the update post-images and the inserted rows tagged in _change —
    // the oracle restates the expected delta from the raw inputs, so
    // the driver hash-pins the whole manifest-diff + row-diff path.
    // Deletes and partition pruning are spec'd in TimeTravelSpec
    // (DuckDB can't see the intermediate table states anyway).
    "k2_snapshot_changes" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val incoming = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
        .unionByName(o.where(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk))
      Scratch.frame("graft_k2ch_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, incoming, Seq("o_orderkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        val v = store.currentVersion().get
        store.readChangesBetween(v - 1, v, target.schema, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
            col("pk").cast("long").as("pk"), col("_change"))
          .ckpt(true)
      }
    }),

    // Per-commit change HISTORY (the table_changes(from, to) face):
    // seed v1, update-merge v2, CDC v3 (inserts + deletes), then
    // readChangesEach((v1, v3]) must attribute every delta to its
    // commit — updates at v2, inserts and deletes (pre-images) at v3.
    // The oracle restates the full history from the raw inputs; the
    // collapse-vs-history distinction is spec'd in TimeTravelSpec.
    // Merges run with retain=3 — the vacuum-retention knob a table
    // with change-feed followers must widen to its deepest lag.
    "k2_snapshot_history" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), pk)
      val updates = o.where(col("o_orderkey") % 20 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
            .cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), pk)
      val cdc =
        o.where(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("upsert").as("op"),
            col("o_totalprice"), col("o_orderstatus"), pk)
        .unionByName(o.where(col("o_orderkey") % 20 === 11)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("delete").as("op"),
            col("o_totalprice"), col("o_orderstatus"), pk))
      Scratch.frame("graft_k2h_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"), retain = 3)
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, updates, Seq("o_orderkey"), Seq("pk"), retain = 3)
        graft.sinks.SnapshotMerge.applyCdc(
          s, base, cdc, Seq("o_orderkey"), "seq", "op", Seq("pk"), retain = 3)
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        val v = store.currentVersion().get
        store.readChangesEach(v - 2, v, target.schema, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
            col("pk").cast("long").as("pk"), col("_change"),
            (col("_commit_version") - (v - 3)).as("commit_step"))
          .ckpt(true)
      }
    }),

    // Incremental VIEW MAINTENANCE from the change feed — the payoff
    // of readChangesBetween: a per-partition sum/count view maintained
    // with delta arithmetic (+insert +update −update_preimage −delete)
    // instead of a v2 full scan, so keeping a materialized aggregate
    // current costs O(|delta|), not O(|table|) — at 100 TB the
    // difference between a view you can afford to keep and one you
    // re-derive nightly. v2 applies all three change kinds via CDC
    // (updates %20==1, inserts %10==2, deletes %20==11); the oracle
    // recomputes the v2 aggregate from the raw inputs, so the driver
    // hash-pins that maintained == recomputed, decimal-exact.
    "incr_view_maintenance" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val pk = pmod(col("o_orderkey"), lit(5L)).as("pk")
      val target = o.where(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), pk)
      val changes =
        o.where(col("o_orderkey") % 20 === 1)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("upsert").as("op"),
            (col("o_totalprice").cast("decimal(18,2)") + lit(1000).cast("decimal(18,2)"))
              .cast("double").as("o_totalprice"), pk)
        .unionByName(o.where(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("upsert").as("op"),
            col("o_totalprice"), pk))
        .unionByName(o.where(col("o_orderkey") % 20 === 11)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("delete").as("op"),
            col("o_totalprice"), pk))
      Scratch.frame("graft_ivm_") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, base, target, Seq("o_orderkey"), Seq("pk"))
        graft.sinks.SnapshotMerge.applyCdc(
          s, base, changes, Seq("o_orderkey"), "seq", "op", Seq("pk"))
        val store = new graft.sinks.SnapshotStore(s, new org.apache.hadoop.fs.Path(base))
        val v = store.currentVersion().get
        // the standing view at v1 (in production this is the already-
        // materialized aggregate, not a re-read)
        val v1view = store.readAt(v - 1, target.schema)
          .groupBy(col("pk"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s1"),
            count(lit(1)).as("n1"))
        val delta = store.readChangesBetween(v - 1, v, target.schema,
          Seq("o_orderkey"), includeUpdatePreimages = true)
        val adj = delta.select(col("pk"),
            when(col("_change").isin("insert", "update"),
              col("o_totalprice").cast("decimal(18,2)"))
              .otherwise(-col("o_totalprice").cast("decimal(18,2)")).as("d"),
            when(col("_change").isin("insert", "update"), lit(1L))
              .otherwise(lit(-1L)).as("dn"))
          .groupBy(col("pk")).agg(sum(col("d")).as("sd"), sum(col("dn")).as("sn"))
        v1view.join(adj, Seq("pk"), "full_outer")
          .select(col("pk").cast("long").as("pk"),
            (coalesce(col("s1"), lit(0).cast("decimal(18,2)"))
              + coalesce(col("sd"), lit(0).cast("decimal(18,2)")))
              .cast("double").as("total"),
            (coalesce(col("n1"), lit(0L)) + coalesce(col("sn"), lit(0L))).as("n"))
          .where(col("n") > 0)
          .ckpt(true)
      }
    }),

    // K3: bulk join-update — set order priority from a per-customer
    // updates relation; unmatched rows keep their value. The scan
    // marker uses a fixed literal timestamp (deterministic stand-in
    // for the reference's NOW(), dblocal.py:235).
    // CDC apply: an ordered change batch (upserts + deletes, stamped
    // with sequence numbers) folds onto the target last-writer-wins —
    // the Delta/Iceberg MERGE-from-change-stream contract, one rung
    // above K1–K3. Changes are synthesized deterministically from
    // lineitem (seq = l_linenumber, every 4th change a delete, every
    // 5th rerouted to an unseen key so INSERT semantics are pinned
    // too; the synthetic data repeats line numbers within an order,
    // so the oracle restates applyCdc's full-struct lexicographic
    // tie-break). See [[graft.sinks.Merge.applyCdc]] for the
    // sort-free argmax + anti-join shape.
    "cdc_apply" -> ((s, dir) => {
      val target = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val changes = Tables.load(s, dir, "lineitem")
        .where(pmod(col("l_partkey"), lit(5)) === 0)
        .select(
          when(pmod(col("l_linenumber"), lit(5)) === 2,
            col("l_orderkey") + 1000000000L)
            .otherwise(col("l_orderkey")).as("o_orderkey"),
          col("l_linenumber").as("seq"),
          when(pmod(col("l_linenumber"), lit(4)) === 0, "delete")
            .otherwise("upsert").as("op"),
          col("l_returnflag").as("o_orderstatus"),
          col("l_extendedprice").as("o_totalprice"))
      Merge.applyCdc(target, changes, Seq("o_orderkey"), "seq", "op")
    }),

    // STREAMING CATALOG ENTRY — the CDC fold above run as a REAL
    // checkpointed change STREAM (EventStreams.cdcStream): the same
    // synthesized changes are split into two chronological change
    // files (seq 1-3, then seq 4-7 — batch order aligned with seq
    // order, so "later micro-batch wins" coincides with "higher seq
    // wins" and one SQL fold restates both), dropped into a watched
    // folder, and drained TWICE under Trigger.AvailableNow with a
    // persistent checkpoint — the second drain processes ONLY the
    // second file (exactly-once offsets), each drain folding its
    // micro-batch into the partitioned snapshot table via
    // SnapshotMerge.applyCdc. The driver hash-checks the full
    // stage→stream→checkpoint→merge→read pipeline against the SAME
    // oracle as cdc_apply: a key upserted in file 1 and deleted in
    // file 2 must vanish, deleted-then-reinserted must survive, and
    // the within-batch tie-break must match the batch twin exactly.
    // At scale this is the standing MERGE-from-change-stream
    // deployment: per-drain cost is O(|affected partitions|), not
    // O(|target|), and offsets make re-drains no-ops.
    "strm_cdc" -> ((s, dir) => {
      val target = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("pk", pmod(col("o_orderkey"), lit(8L)))
      val changes = Tables.load(s, dir, "lineitem")
        .where(pmod(col("l_partkey"), lit(5)) === 0)
        .select(
          when(pmod(col("l_linenumber"), lit(5)) === 2,
            col("l_orderkey") + 1000000000L)
            .otherwise(col("l_orderkey")).as("o_orderkey"),
          col("l_linenumber").as("seq"),
          when(pmod(col("l_linenumber"), lit(4)) === 0, "delete")
            .otherwise("upsert").as("op"),
          col("l_returnflag").as("o_orderstatus"),
          col("l_extendedprice").as("o_totalprice"))
        .withColumn("pk", pmod(col("o_orderkey"), lit(8L)))
      Scratch.frame("strm_cdc") { root =>
        val drop = root.resolve("changes")
        java.nio.file.Files.createDirectories(drop)
        val tableDir = root.resolve("table").toString
        val ckptDir = root.resolve("ckpt").toString
        // file streams list FILES, not nested dirs: stage each change
        // batch as one parquet file inside the drop folder
        def dropFile(df: DataFrame, name: String): Unit = graft.streaming.EventStreams
          .stageWave(df, root, drop, name, System.currentTimeMillis())
        def drain(): Unit = graft.streaming.EventStreams.cdcStream(s,
          s.readStream.schema(changes.schema).parquet(drop.toString),
          tableDir, Seq("o_orderkey"), "seq", "op", Seq("pk"), ckptDir)
        // seed the snapshot with the target, then stream the changes in
        graft.sinks.SnapshotMerge.upsertUpdate(
          s, tableDir, target, Seq("o_orderkey"), Seq("pk"))
        dropFile(changes.where(col("seq") <= 3), "c1.parquet")
        drain()
        dropFile(changes.where(col("seq") >= 4), "c2.parquet")
        drain()
        graft.sinks.SnapshotMerge.read(s, tableDir, target.schema)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .ckpt(true)
      }
    }),

    "k3_join_update" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val updates = Tables.load(s, dir, "customer")
        .where(col("c_acctbal") > 9000.0)
        .select(col("c_custkey").as("o_custkey"),
          lit("0-REVIEWED").as("o_orderpriority"),
          lit("2026-01-01 00:00:00").as("scanned_at"))
      Merge.joinUpdate(
        o.select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          lit(null).cast("string").as("scanned_at")),
        updates, "o_custkey", Seq("o_orderpriority", "scanned_at"))
    }),

    // S5/A1: incremental watermark scan — per-customer anchor =
    // max(o_orderdate) over the "already ingested" era; new rows are
    // strictly later (or from customers never seen).
    "incr_anchor_scan" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val anchors = o.where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("o_custkey")).agg(max(col("o_orderdate")).as("anchor"))
      o.join(anchors, Seq("o_custkey"), "left")
        .where(col("anchor").isNull || col("o_orderdate") > col("anchor"))
        .select(col("o_custkey"), col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
    }),

    // S6: two-sided bounded backfill — known range per customer from
    // the 1996–1997 era; accept rows strictly outside [oldest, newest]
    // (NOT(older-than-newest AND newer-than-oldest)).
    "incr_two_sided" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val bounds = o.where(year(col("o_orderdate")).between(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("newest"), min(col("o_orderdate")).as("oldest"))
      o.join(bounds, Seq("o_custkey"), "inner")
        .where(!(col("o_orderdate") <= col("newest") &&
          col("o_orderdate") >= col("oldest")))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
    }),

    // §1.2: NULL-state stage machine with PG array semantics. A
    // synthetic audio_keys array is NULL / empty / populated;
    // PG's array_length('{}') IS NULL while Spark's size([]) is 0, so
    // the predicate normalizes through nullif(size, 0) (SURVEY P3).
    "state_machine" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .withColumn("audio_keys",
          when(col("o_orderkey") % 4 === 0, lit(null).cast("array<string>"))
            .when(col("o_orderkey") % 4 === 1, array())
            .otherwise(array(concat(lit("a/"), col("o_orderkey")))))
        .withColumn("transcript_key",
          when(col("o_orderkey") % 3 === 0, concat(lit("t/"), col("o_orderkey")))
            .otherwise(lit(null).cast("string")))
        .withColumn("scanned_at",
          when(col("o_orderkey") % 6 === 0, lit("2026-01-01"))
            .otherwise(lit(null).cast("string")))
      o.withColumn("stage",
          when(col("transcript_key").isNull &&
            nullif(size(coalesce(col("audio_keys"), array())), lit(0)).isNull &&
            col("scanned_at").isNull, "needs_stream")
            .when(col("transcript_key").isNull &&
              size(coalesce(col("audio_keys"), array())) > 0, "needs_transcribe")
            .when(col("scanned_at").isNull &&
              col("transcript_key").isNotNull, "needs_scan")
            .otherwise("done"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n"))
    })
  )

  def oracle: Map[String, String] = Map(
    // the fixture is GENERATIVE (block i = lpad(i,8,'0') ×8), so the
    // oracle reconstructs every byte window from the same formula and
    // md5-checks each distributed seek+readFully chunk exactly
    "s7_range_read" ->
      """WITH blocks AS (
           SELECT i, repeat(lpad(CAST(i AS VARCHAR), 8, '0'), 8) AS b
           FROM range(0, 4096) t(i)),
         f AS (SELECT string_agg(b, '' ORDER BY i) AS s FROM blocks),
         r AS (SELECT CAST(x AS BIGINT) AS range_id,
                      CAST(x * 4093 AS BIGINT) AS "offset",
                      997 AS len
               FROM range(0, 64) t(x))
         SELECT range_id, "offset", len,
           md5(substr(f.s, CAST("offset" AS INT) + 1, len)) AS chunk_md5
         FROM r, f""",
    "k1_upsert_ignore" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'U' AS o_orderstatus
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT * FROM target
         UNION ALL
         SELECT * FROM incoming
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)""",
    "k2_upsert_update" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'U' AS o_orderstatus
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT * FROM incoming
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    "k2_upsert_partitioned" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'U' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 < 2)
         SELECT * FROM incoming
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    "k2_upsert_snapshot" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'U' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 < 2)
         SELECT * FROM incoming
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    // both waves folded: wave-2 absolute prices win for re-patched
    // keys; wave-1 inserts keep their whole rows (status N) with
    // wave-2's patch applied on top; sentinels never land
    "strm_mor_sparse" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(5000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(7000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'N' AS o_orderstatus, o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 20 = 2
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2 AND o_orderkey % 20 <> 2""",
    // the CLONE's state: clone point (seed + price patch) + the
    // clone-side status patch; the source's post-clone write (-1.0
    // prices, status S) must contribute NOTHING
    "k2_clone" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'C' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1""",
    // all three stages folded: wave-1 price patches, the evolve's new
    // column (restating wave-1 prices for its keys), wave-2 patches of
    // score over every class of row; NULL score everywhere untouched
    "strm_mor_sparse_evolve" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1),
         i AS (
           SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 2)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           pk, o_orderkey % 100 + 500 AS score
         FROM t WHERE o_orderkey % 20 = 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, pk, CAST(NULL AS BIGINT)
         FROM t WHERE o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, pk, o_orderkey % 100 + 700
         FROM i WHERE o_orderkey % 20 = 2
         UNION ALL
         SELECT o_orderkey, o_totalprice, pk, CAST(NULL AS BIGINT)
         FROM i WHERE o_orderkey % 20 <> 2""",
    // seed + the conforming update; the refused batch contributes
    // nothing (enforcement is all-or-nothing per write)
    "k2_constraint" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1""",
    // a correct rollback erases every later mutation: the oracle is
    // the seed, verbatim
    "k2_restore" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 1""",
    // the CAS-backend race: same commuting fixture as
    // k2_concurrent_upsert (disjoint key sets), same sequential
    // restatement — the publish protocol must not change content
    "k2_cas_commit" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         a AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'A' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 0),
         b AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 2000 AS DOUBLE) AS o_totalprice,
             'B' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 2)
         SELECT * FROM a
         UNION ALL
         SELECT * FROM b
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM a)
           AND o_orderkey NOT IN (SELECT o_orderkey FROM b)""",
    // the autopilot only rearranges bytes: identical oracle to
    // k2_upsert_mor
    "k2_autocompact" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(3000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'V' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 10 = 1 AND o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2""",
    // sequential application of the two commuting racers: disjoint
    // key sets (%4==0 / %4==2), so either commit order yields this
    "k2_concurrent_upsert" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         a AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'A' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 0),
         b AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 2000 AS DOUBLE) AS o_totalprice,
             'B' AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 2)
         SELECT * FROM a
         UNION ALL
         SELECT * FROM b
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM a)
           AND o_orderkey NOT IN (SELECT o_orderkey FROM b)""",
    // compaction only rearranges rows: whatever order the race
    // resolved, the content equals the sequential upsert of batch A
    "k2_compact_conflict" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 7 AS pk
           FROM orders WHERE o_orderkey % 10 = 1),
         a AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             'A' AS o_orderstatus,
             o_orderkey % 7 AS pk
           FROM orders WHERE o_orderkey % 20 IN (1, 2))
         SELECT * FROM a
         UNION ALL
         SELECT * FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM a)""",
    // the same restatable row hash and modular sum; HUGEINT sum
    // reduced before the BIGINT cast
    "k6_partition_checksum" ->
      """SELECT o_orderkey % 5 AS pk, count(*) AS n_rows,
           CAST(sum(((o_orderkey % 2147483647) * 1048573
              + CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                % 2147483647
              + unicode(o_orderstatus) * 131) % 2147483647)
             % 2147483647 AS BIGINT) AS checksum
         FROM orders GROUP BY o_orderkey % 5""",
    // the union-widened merge restated: pre-evolution rows carry the
    // NONE-coalesced null in the evolved column
    "k2_upsert_evolve" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE) AS o_totalprice,
             o_orderpriority, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 < 2)
         SELECT o_orderkey, o_totalprice,
           coalesce(o_orderpriority, 'NONE') AS prio, pk
         FROM incoming
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'NONE' AS prio, pk
         FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    "k2_upsert_widen" ->
      """WITH target AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS INT) AS cents,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 3000000000 AS cents,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 0)
         SELECT o_orderkey, cents, pk FROM incoming
         UNION ALL
         SELECT o_orderkey, CAST(cents AS BIGINT) AS cents, pk
         FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    "k2_snapshot_bloom_skip" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
                o_custkey % 32 AS pk
         FROM orders
         WHERE o_orderkey IN (1, 7, 33, 4000, 55555)""",
    "k2_upsert_drop" ->
      """WITH target AS (
           SELECT o_orderkey, o_orderstatus, o_orderkey % 7 AS pk
           FROM orders WHERE o_orderkey % 10 = 3),
         incoming AS (
           SELECT o_orderkey, o_orderstatus, o_orderpriority,
                  o_orderkey % 7 AS pk
           FROM orders WHERE o_orderkey % 20 = 3)
         SELECT o_orderkey, o_orderstatus,
           coalesce(o_orderpriority, 'NONE') AS prio, pk
         FROM incoming
         UNION ALL
         SELECT o_orderkey, o_orderstatus, 'NONE' AS prio, pk
         FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    "k2_snapshot_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders
         WHERE o_orderkey % 10 = 1
           AND NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
           AND NOT (o_totalprice > 400000)""",
    // CoW-evolve and MoR-evolve must converge: identical oracle to
    // k2_upsert_widen
    "k2_upsert_mor_evolve" ->
      """WITH target AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS INT) AS cents,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 3 <> 0),
         incoming AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 3000000000 AS cents,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 4 = 0)
         SELECT o_orderkey, cents, pk FROM incoming
         UNION ALL
         SELECT o_orderkey, CAST(cents AS BIGINT) AS cents, pk
         FROM target
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)""",
    // content-invariance of slice compaction: identical oracle to
    // k2_upsert_mor (the fold only rearranges bytes)
    "k2_mor_compact" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(3000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'V' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 10 = 1 AND o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2""",
    // the two single-column patches layered: %40==1 keys carry the
    // FIRST patch's price AND the second's status; the first patch's
    // sentinel status never lands for matched keys; inserts take
    // whole rows
    "k2_upsert_mor_sparse" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'V' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2""",
    // the map patches layered and EXPLODED to entry rows (row-set
    // equality is map equality): %40==1 keys carry the second patch's
    // whole-map replacement {z:9} plus its status; %20==1 keys the
    // first patch's map with their ORIGINAL status (the sentinel never
    // lands — updateCols excluded it); everyone else the seed map;
    // inserts take whole rows
    "k2_upsert_mor_sparse_map" ->
      """WITH t AS (
           SELECT o_orderkey, o_orderstatus, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey, 'z' AS mkey, CAST(9 AS BIGINT) AS mval,
                'V' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey, 'a', o_orderkey % 7 + 100, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, 'x', CAST(1 AS BIGINT), o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, 'a', o_orderkey % 7, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, 'b', o_orderkey % 11, o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, 'a', o_orderkey % 7, 'N', o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2
         UNION ALL
         SELECT o_orderkey, 'b', o_orderkey % 11, 'N', o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2""",
    // sequential upsert semantics restated: the LAST update wins per
    // key — merge-on-read must equal copy-on-write bit-for-bit
    "k2_upsert_mor" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(3000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'V' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 40 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk
         FROM t WHERE o_orderkey % 20 = 1 AND o_orderkey % 40 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk
         FROM t WHERE o_orderkey % 10 = 1 AND o_orderkey % 20 <> 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'N' AS o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 2""",
    // the rename applied: old rows' pic surfaces as cover, updated
    // rows carry the new value written under the old physical column
    "k2_upsert_rename" ->
      """WITH t AS (
           SELECT o_orderkey, o_orderpriority AS pic, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 4),
         inc AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 20 = 4 THEN 'C-' || o_orderpriority
                  ELSE o_orderpriority END AS cover,
             o_orderkey % 5 AS pk
           FROM orders
           WHERE o_orderkey % 20 = 4 OR o_orderkey % 10 = 5)
         SELECT o_orderkey, cover, pk FROM inc
         UNION ALL
         SELECT o_orderkey, pic AS cover, pk FROM t
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)""",
    "k2_snapshot_bloom_skip_str" ->
      """SELECT 'BV' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS bvid,
                o_totalprice, o_custkey % 32 AS pk
         FROM orders
         WHERE o_orderkey IN (1, 7, 33, 4000, 55555)""",
    // both polls' deltas: v2 updates (post-images), v3 DV-deletes
    // whose pre-images carry the v2 UPDATED values (%40 implies %20)
    "k2_feed_follow" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
                  o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk, 'update' AS _change,
           CAST(2 AS BIGINT) AS commit_version
         FROM t WHERE o_orderkey % 20 = 1
         UNION ALL
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk, 'delete' AS _change,
           CAST(3 AS BIGINT) AS commit_version
         FROM t WHERE o_orderkey % 40 = 1""",
    // readAt(v1) after a v2 merge must return exactly the seed
    // relation — the pre-merge table, not the merged one.
    "k2_snapshot_time_travel" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
                o_orderkey % 5 AS pk
         FROM orders WHERE o_orderkey % 10 = 1""",
    // the full per-commit history restated from the raw inputs:
    // updates land at step 2, inserts and deletes (pre-images) at 3
    "k2_snapshot_history" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, pk, 'update' AS _change,
           CAST(2 AS BIGINT) AS commit_step
         FROM t WHERE o_orderkey % 20 = 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus,
           o_orderkey % 5 AS pk, 'insert' AS _change,
           CAST(3 AS BIGINT) AS commit_step
         FROM orders WHERE o_orderkey % 10 = 2
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk,
           'delete' AS _change, CAST(3 AS BIGINT) AS commit_step
         FROM t WHERE o_orderkey % 20 = 11""",
    // the maintained view must equal a from-scratch recompute of the
    // v2 state (updates %20==1 applied, %10==2 inserted, %20==11
    // deleted), decimal-exact
    "incr_view_maintenance" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1),
         v2 AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice, pk
           FROM t WHERE o_orderkey % 20 = 1
           UNION ALL
           SELECT o_orderkey, o_totalprice, pk FROM t
           WHERE o_orderkey % 20 != 1 AND o_orderkey % 20 != 11
           UNION ALL
           SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 2)
         SELECT pk,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
         FROM v2 GROUP BY pk""",
    // the post-merge table filtered by the stats band — pruning is
    // invisible to the oracle by design (it must never change rows)
    "k2_snapshot_zorder" ->
      """SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_orderkey % 4 AS pk
         FROM lineitem
         WHERE l_orderkey % 3 = 1
           AND l_partkey BETWEEN 500 AND 700
           AND l_suppkey BETWEEN 50 AND 80""",
    "k2_snapshot_skip" ->
      """WITH t AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 20 = 1
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 20 = 1 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_orderkey % 5 AS pk
           FROM orders WHERE o_orderkey % 10 = 1)
         SELECT o_orderkey, o_totalprice, o_orderstatus, pk FROM t
         WHERE o_totalprice >= 50000 AND o_totalprice <= 150000""",
    // the v1->v2 delta restated from the raw inputs: update
    // post-images for every %20==1 key, the inserted %10==2 rows
    "k2_snapshot_changes" ->
      """SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                + CAST(1000 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           'U' AS o_orderstatus, o_orderkey % 5 AS pk,
           'update' AS _change
         FROM orders WHERE o_orderkey % 20 = 1
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus,
           o_orderkey % 5 AS pk, 'insert' AS _change
         FROM orders WHERE o_orderkey % 10 = 2""",
    "k3_join_update" ->
      """SELECT o_orderkey, o_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN '0-REVIEWED'
                ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN u.c_custkey IS NOT NULL THEN '2026-01-01 00:00:00'
                ELSE NULL END AS scanned_at
         FROM orders LEFT JOIN
           (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0) u
           ON o_custkey = u.c_custkey""",
    "cdc_apply" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         c AS (
           SELECT CASE WHEN l_linenumber % 5 = 2 THEN l_orderkey + 1000000000
                       ELSE l_orderkey END AS o_orderkey,
             l_linenumber AS seq,
             CASE WHEN l_linenumber % 4 = 0 THEN 'delete'
                  ELSE 'upsert' END AS op,
             l_returnflag AS o_orderstatus,
             l_extendedprice AS o_totalprice
           FROM lineitem WHERE l_partkey % 5 = 0),
         last AS (
           SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM (
             SELECT c.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC, op DESC, o_orderstatus DESC,
                        o_totalprice DESC) AS rk FROM c) x
           WHERE rk = 1)
         SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
         FROM t LEFT JOIN last l USING (o_orderkey)
         WHERE l.o_orderkey IS NULL
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM last
         WHERE op != 'delete'""",
    // the two chronological change files partition the changes by seq
    // (1-3 then 4-7), so the checkpointed two-drain streaming fold
    // equals ONE global last-writer fold — the same SQL as cdc_apply
    "strm_cdc" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         c AS (
           SELECT CASE WHEN l_linenumber % 5 = 2 THEN l_orderkey + 1000000000
                       ELSE l_orderkey END AS o_orderkey,
             l_linenumber AS seq,
             CASE WHEN l_linenumber % 4 = 0 THEN 'delete'
                  ELSE 'upsert' END AS op,
             l_returnflag AS o_orderstatus,
             l_extendedprice AS o_totalprice
           FROM lineitem WHERE l_partkey % 5 = 0),
         last AS (
           SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM (
             SELECT c.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC, op DESC, o_orderstatus DESC,
                        o_totalprice DESC) AS rk FROM c) x
           WHERE rk = 1)
         SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
         FROM t LEFT JOIN last l USING (o_orderkey)
         WHERE l.o_orderkey IS NULL
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM last
         WHERE op != 'delete'""",
    "incr_anchor_scan" ->
      """WITH anchors AS (
           SELECT o_custkey, MAX(o_orderdate) AS anchor FROM orders
           WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey)
         SELECT o.o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od
         FROM orders o LEFT JOIN anchors a ON o.o_custkey = a.o_custkey
         WHERE a.anchor IS NULL OR o.o_orderdate > a.anchor""",
    "incr_two_sided" ->
      """WITH bounds AS (
           SELECT o_custkey, MAX(o_orderdate) AS newest, MIN(o_orderdate) AS oldest
           FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1997
           GROUP BY o_custkey)
         SELECT o.o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od
         FROM orders o JOIN bounds b ON o.o_custkey = b.o_custkey
         WHERE NOT (o.o_orderdate <= b.newest AND o.o_orderdate >= b.oldest)""",
    "state_machine" ->
      """WITH t AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  WHEN o_orderkey % 4 = 1 THEN 0
                  ELSE 1 END AS n_audio,
             CASE WHEN o_orderkey % 3 = 0 THEN 't/' || o_orderkey END AS transcript_key,
             CASE WHEN o_orderkey % 6 = 0 THEN '2026-01-01' END AS scanned_at
           FROM orders)
         SELECT CASE
             WHEN transcript_key IS NULL AND nullif(coalesce(n_audio, 0), 0) IS NULL
                  AND scanned_at IS NULL THEN 'needs_stream'
             WHEN transcript_key IS NULL AND coalesce(n_audio, 0) > 0 THEN 'needs_transcribe'
             WHEN scanned_at IS NULL AND transcript_key IS NOT NULL THEN 'needs_scan'
             ELSE 'done' END AS stage,
           COUNT(*) AS n
         FROM t GROUP BY 1"""
  )
}
