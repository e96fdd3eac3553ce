package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Time-travel reads on the snapshot table (VERDICT r10 #4): the
  * version log written inside the commit lease makes "the committed
  * winner of version v" provable, so [[SnapshotStore.readAt]] is
  * sound even while a fenced loser's same-version manifest still sits
  * in manifests/ awaiting vacuum — the scenario that justified
  * rejecting time travel in round 10.
  */
class TimeTravelSpec extends SparkFunSuite {
  import spark.implicits._

  private def v1Rows = (0L until 10L).map(i => (i, s"t$i", i % 5)).toDF("id", "v", "pk")
  private def v2Rows = Seq((0L, "U0", 0L), (10L, "N10", 0L)).toDF("id", "v", "pk")
  private def v3Rows = Seq((1L, "U1", 1L), (11L, "N11", 1L)).toDF("id", "v", "pk")

  private def vals(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  /** Three committed versions of one table, returning the store and
    * the expected id->v content of each version.
    */
  private def seed3(): (String, SnapshotStore, Seq[Map[Long, String]]) = {
    val dir = tmp("ttravel")
    val base = vals(v1Rows)
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir, v2Rows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir, v3Rows, Seq("id"), Seq("pk"))
    val c2 = base ++ Map(0L -> "U0", 10L -> "N10")
    val c3 = c2 ++ Map(1L -> "U1", 11L -> "N11")
    (dir, new SnapshotStore(spark, new Path(dir)), Seq(base, c2, c3))
  }

  test("readAt returns each committed version's exact content") {
    val (_, store, want) = seed3()
    val cur = store.currentVersion().get
    assert(cur == 3L)
    // each merge vacuums with retain=2, so v1 has already left the
    // window by design — the in-window versions are 2 and 3
    assert(store.versions() == Seq(2L, 3L))
    (2L to 3L).foreach { v =>
      assert(vals(store.readAt(v, v1Rows.schema)) == want((v - 1).toInt),
        s"version $v content drifted")
    }
    // as-of current == the plain read
    assert(vals(store.readAt(cur, v1Rows.schema)) ==
      vals(store.read(v1Rows.schema)))
  }

  test("a fenced loser's staged manifest cannot shadow the winner") {
    val (_, store, want) = seed3()
    // A fenced loser writes its manifest file BEFORE the in-lock fence
    // rejects it, so a same-version manifest with WRONG content sits
    // on disk. readAt must resolve version 3 through the version log,
    // never by globbing manifests/.
    val loser = new Path(new Path(store.root, "manifests"), "v-000000000003-loser000")
    val body = "graft-snapshot 6\npk=0\tb-000000000001-bogus\t0"
    val out = store.fs.create(loser, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    assert(vals(store.readAt(3L, v1Rows.schema)) == want(2),
      "readAt(3) must return the committed winner, not the fenced loser's staging")
    assert(vals(store.readAt(2L, v1Rows.schema)) == want(1))
  }

  test("a crash between pointer swap and log write is healed by the next commit") {
    val (_, store, want) = seed3()
    // Simulate the crash window: version 3 committed (pointer moved)
    // but its log entry was never written.
    val logEntry = new Path(new Path(store.root, "versions"), "v-000000000003")
    assert(store.fs.exists(logEntry))
    store.fs.delete(logEntry, false)
    // current-version reads fall back to the pointer meanwhile
    assert(vals(store.readAt(3L, v1Rows.schema)) == want(2))
    // the next committer backfills version 3's entry from the pointer
    // it read under its own lease
    val cur = store.resolveCurrent().get
    store.commitSized(cur.version + 1, cur.entries, Some(cur.version))
    assert(store.fs.exists(logEntry), "next commit must backfill the missing log entry")
    assert(vals(store.readAt(3L, v1Rows.schema)) == want(2))
  }

  test("vacuum: pinned in-window versions stay readable, below-window reads fail clearly") {
    val (_, store, want) = seed3()
    // merges vacuum with the default retain=2, so after v3 the window
    // floor is v2: v1 must be gone, v2 and v3 fully readable (their
    // manifests retain every batch they reference).
    assert(vals(store.readAt(2L, v1Rows.schema)) == want(1))
    assert(vals(store.readAt(3L, v1Rows.schema)) == want(2))
    val below = intercept[IllegalArgumentException](store.readAt(1L, v1Rows.schema))
    assert(below.getMessage.contains("retention"))
    val future = intercept[IllegalArgumentException](store.readAt(99L, v1Rows.schema))
    assert(future.getMessage.contains("has not committed"))
    assert(store.versions() == Seq(2L, 3L))
  }

  test("readChangesBetween: inserts, updates, deletes, and manifest pruning") {
    val dir = tmp("ttchanges")
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"))
    // v2: one update (id 0 -> U0), one insert (id 10), one delete
    // (id 5, pk=0) — all confined to partition pk=0
    val changes = Seq(
      (0L, 1L, "upsert", "U0", 0L),
      (10L, 2L, "upsert", "N10", 0L),
      (5L, 3L, "delete", "x", 0L)
    ).toDF("id", "seq", "op", "v", "pk")
    SnapshotMerge.applyCdc(spark, dir, changes, Seq("id"), "seq", "op", Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val (v1, v2) = (store.currentVersion().get - 1, store.currentVersion().get)
    // pruning: only the touched partition's manifest entry moved, so
    // the diff provably reads pk=0's dirs and nothing else
    assert(store.changedPartitionsBetween(v1, v2) == Set("pk=0"))
    val got = store.readChangesBetween(v1, v2, v1Rows.schema, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
    assert(got == Set(
      (0L, "U0", "update"), // post-image
      (10L, "N10", "insert"),
      (5L, "t5", "delete") // pre-image, not the change row's payload
    ))
    // self-diff is empty; the unchanged partitions never even differ
    assert(store.readChangesBetween(v2, v2, v1Rows.schema, Seq("id")).isEmpty)
    assert(store.changedPartitionsBetween(v2, v2).isEmpty)
    // with pre-images requested, each update gains its fromVersion row
    // (the subtraction side of incremental view maintenance); inserts
    // and deletes are unchanged
    val withPre = store.readChangesBetween(v2 - 1, v2, v1Rows.schema,
        Seq("id"), includeUpdatePreimages = true)
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
    assert(withPre == got + ((0L, "t0", "update_preimage")))
  }

  test("readChangesBetween: a partition deleted empty still yields its delete rows") {
    // CDC deletes that empty a partition drop its manifest entry
    // entirely (SnapshotMerge contract) — the diff must treat the
    // vanished entry as "all rows deleted", not skip it because the
    // toVersion manifest no longer mentions it.
    val dir = tmp("ttdrop")
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"))
    // ids 3 and 8 are ALL of partition pk=3
    val changes = Seq((3L, 1L, "delete", "x", 3L), (8L, 2L, "delete", "x", 3L))
      .toDF("id", "seq", "op", "v", "pk")
    SnapshotMerge.applyCdc(spark, dir, changes, Seq("id"), "seq", "op", Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val v = store.currentVersion().get
    assert(store.changedPartitionsBetween(v - 1, v) == Set("pk=3"))
    val got = store.readChangesBetween(v - 1, v, v1Rows.schema, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
    assert(got == Set((3L, "t3", "delete"), (8L, "t8", "delete")))
  }

  test("readChangesEach preserves per-commit history the endpoint diff collapses") {
    val dir = tmp("tteach")
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"))
    // v2 updates id 0; v3 deletes it — the sequence an endpoint diff
    // cannot distinguish from a plain delete
    // retain=3 keeps the whole span readable — the knob a table with
    // change-feed followers runs its merges with
    val up = Seq((0L, 1L, "upsert", "U0", 0L)).toDF("id", "seq", "op", "v", "pk")
    val del = Seq((0L, 1L, "delete", "x", 0L)).toDF("id", "seq", "op", "v", "pk")
    SnapshotMerge.applyCdc(spark, dir, up, Seq("id"), "seq", "op", Seq("pk"), retain = 3)
    SnapshotMerge.applyCdc(spark, dir, del, Seq("id"), "seq", "op", Seq("pk"), retain = 3)
    val store = new SnapshotStore(spark, new Path(dir))
    val v3 = store.currentVersion().get
    val hist = store.readChangesEach(v3 - 2, v3, v1Rows.schema, Seq("id"))
      .collect().map(r => (r.getAs[Long]("_commit_version"), r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
    assert(hist == Set(
      (v3 - 1, 0L, "U0", "update"),
      (v3, 0L, "U0", "delete")))
    // the endpoint diff collapses the same span to one delete of the
    // ORIGINAL value
    val flat = store.readChangesBetween(v3 - 2, v3, v1Rows.schema, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("_change"))).toSet
    assert(flat == Set((0L, "t0", "delete")))
    // an empty span yields an empty, correctly-shaped frame
    assert(store.readChangesEach(v3, v3, v1Rows.schema, Seq("id")).isEmpty)
  }

  test("change-feed follower: ordered delivery, crash replay converges") {
    import graft.streaming.ChangeFeedFollower
    val dir = tmp("ttfollow")
    def cdc(rows: Seq[(Long, Long, String, String, Long)]): Unit =
      graft.sinks.SnapshotMerge.applyCdc(spark, dir,
        rows.toDF("id", "seq", "op", "v", "pk"),
        Seq("id"), "seq", "op", Seq("pk"), retain = 10)
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"), retain = 10)
    cdc(Seq((0L, 1L, "upsert", "U0", 0L)))
    cdc(Seq((0L, 1L, "delete", "x", 0L), (20L, 1L, "upsert", "N20", 0L)))
    val store = new SnapshotStore(spark, new Path(dir))
    // an idempotent keyed fold — the apply shape the contract demands
    var view = Map.empty[Long, String]
    var seen = Vector.empty[Long]
    def applyDelta(v: Long, df: org.apache.spark.sql.DataFrame): Unit = {
      seen :+= v
      df.collect().foreach { r =>
        val (id, value, ch) = (r.getAs[Long]("id"),
          r.getAs[String]("v"), r.getAs[String]("_change"))
        if (ch == "delete") view -= id else view += id -> value
      }
    }
    // bootstrap from v1's full state, then follow
    store.readAt(1L, v1Rows.schema).collect()
      .foreach(r => view += r.getAs[Long]("id") -> r.getAs[String]("v"))
    val a1 = ChangeFeedFollower.drainOnce(store, v1Rows.schema, Seq("id"), 1L)(applyDelta)
    assert(a1 == store.currentVersion().get)
    assert(seen == Vector(2L, 3L), "commits must arrive in version order")
    assert(view == vals(store.read(v1Rows.schema)), "followed view drifted")
    // crash BEFORE the anchor persisted: replay from the old anchor
    // re-applies both commits — the idempotent fold converges to the
    // same view, and a caught-up drain is a no-op
    val replayed = ChangeFeedFollower.drainOnce(store, v1Rows.schema, Seq("id"), 1L)(applyDelta)
    assert(replayed == a1)
    assert(view == vals(store.read(v1Rows.schema)), "replay must be idempotent")
    assert(ChangeFeedFollower.drainOnce(store, v1Rows.schema, Seq("id"), a1)(
      (_, _) => fail("caught-up drain must not deliver")) == a1)
  }

  test("a compaction yields zero spurious changes (pruning over-approximates soundly)") {
    // compact() rewrites partitions into a fresh batch WITHOUT
    // changing content: the manifest diff flags them (pruning is an
    // over-approximation there — documented), but the row diff must
    // come back empty, because a change feed that invents updates
    // across maintenance operations would corrupt every incremental
    // consumer downstream.
    val dir = tmp("ttcompact")
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir, v2Rows, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.currentVersion().get
    store.compact(v1Rows.schema, Seq("pk"))
    val after = store.currentVersion().get
    assert(after == before + 1, "compaction must commit a new version")
    assert(store.changedPartitionsBetween(before, after).nonEmpty)
    assert(store.readChangesBetween(before, after, v1Rows.schema, Seq("id"),
      includeUpdatePreimages = true).isEmpty)
  }

  test("follower end-to-end: upsert, compaction, partition-delete; anchor survives restart") {
    import graft.streaming.ChangeFeedFollower
    val dir = tmp("ttfollow2")
    // the anchor a real consumer persists atomically with its side
    // effects — here a file next to the table, re-read after "restart"
    val anchorFile = java.nio.file.Paths.get(dir + ".anchor")
    def persistAnchor(v: Long): Unit =
      Files.writeString(anchorFile, v.toString)
    def loadAnchor(): Long = Files.readString(anchorFile).trim.toLong

    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"), retain = 10) // v1
    val store = new SnapshotStore(spark, new Path(dir))
    var view = Map.empty[Long, String]
    var delivered = Vector.empty[(Long, Int)] // (version, delta rows)
    def applyDelta(v: Long, df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect()
      rows.foreach { r =>
        val (id, value, ch) = (r.getAs[Long]("id"),
          r.getAs[String]("v"), r.getAs[String]("_change"))
        if (ch == "delete") view -= id else view += id -> value
      }
      delivered :+= (v -> rows.length)
    }
    // bootstrap at v1, persist the anchor
    store.readAt(1L, v1Rows.schema).collect()
      .foreach(r => view += r.getAs[Long]("id") -> r.getAs[String]("v"))
    persistAnchor(1L)

    // commit 2: a plain upsert — delivered as a non-empty delta
    SnapshotMerge.upsertUpdate(spark, dir, v2Rows, Seq("id"), Seq("pk"), retain = 10)
    persistAnchor(ChangeFeedFollower.drainOnce(store, v1Rows.schema, Seq("id"),
      loadAnchor())(applyDelta))
    assert(delivered == Vector(2L -> 2))
    assert(view == vals(store.read(v1Rows.schema)))

    // commit 3: compaction — a MAINTENANCE commit the follower must
    // deliver as a zero-row delta (invented updates would corrupt
    // every downstream fold)
    store.compact(v1Rows.schema, Seq("pk"))
    persistAnchor(ChangeFeedFollower.drainOnce(store, v1Rows.schema, Seq("id"),
      loadAnchor())(applyDelta))
    assert(delivered.last == (3L -> 0), s"compaction delta not empty: $delivered")
    assert(view == vals(store.read(v1Rows.schema)))

    // commit 4: manifest-level PARTITION DELETE of pk=4 (ids 4, 9)
    val cur3 = store.resolveCurrent().get
    assert(cur3.entries.contains("pk=4"))
    store.commitSized(cur3.version + 1, cur3.entries - "pk=4", Some(cur3.version))

    // RESTART: fresh store handle + fresh follower resuming from the
    // PERSISTED anchor — the crash-recovery path of the contract
    val store2 = new SnapshotStore(spark, new Path(dir))
    val resumed = loadAnchor()
    assert(resumed == 3L, "anchor must have survived the restart")
    persistAnchor(ChangeFeedFollower.drainOnce(store2, v1Rows.schema, Seq("id"),
      resumed)(applyDelta))
    assert(delivered.last == (4L -> 2), s"partition delete delta wrong: $delivered")
    assert(!view.contains(4L) && !view.contains(9L),
      "partition-delete rows must arrive as deletes")
    assert(view == vals(store2.read(v1Rows.schema)))
    // caught up: no further delivery, anchor stable
    assert(ChangeFeedFollower.drainOnce(store2, v1Rows.schema, Seq("id"),
      loadAnchor())((_, _) => fail("caught-up drain must not deliver")) == loadAnchor())
  }

  test("restore rolls back to a retained version as a new fenced commit; history intact") {
    // generous retain from the start: vacuum trims the version log as
    // it goes, and a post-hoc wide vacuum cannot resurrect v1's entry
    val dir = tmp("ttrmain")
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertUpdate(spark, dir, v2Rows, Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertUpdate(spark, dir, v3Rows, Seq("id"), Seq("pk"), retain = 8)
    val base = vals(v1Rows)
    val c2 = base ++ Map(0L -> "U0", 10L -> "N10")
    val want = Seq(base, c2, c2 ++ Map(1L -> "U1", 11L -> "N11"))
    val v3 = store.currentVersion().get
    val newV = store.restore(v3 - 2)
    assert(newV == v3 + 1)
    assert(vals(SnapshotMerge.read(spark, dir, v1Rows.schema)) == want(0),
      "the table IS version 1 again")
    // the pre-restore history is untouched: readAt still resolves it
    assert(vals(store.readAt(v3, v1Rows.schema)) == want(2))
    assert(vals(store.readAt(v3 - 1, v1Rows.schema)) == want(1))
    // restore-of-a-restore: roll forward again
    store.restore(v3)
    assert(vals(SnapshotMerge.read(spark, dir, v1Rows.schema)) == want(2))
    // no-op restore to current returns current, commits nothing
    val cur = store.currentVersion().get
    assert(store.restore(cur) == cur && store.currentVersion().get == cur)
  }

  test("restore carries DVs, MoR slices and sparse slices of the restored version") {
    val dir = tmp("ttrestore")
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertUpdate(spark, dir, v1Rows, Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertMor(spark, dir, v2Rows, Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((1L, "P1", 1L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), Seq("v"), retain = 8)
    SnapshotMerge.deleteWhere(spark, dir, v1Rows.schema,
      org.apache.spark.sql.functions.col("id") === 5L)
    val vSliced = store.currentVersion().get
    val sliced = vals(SnapshotMerge.read(spark, dir, v1Rows.schema))
    assert(sliced(1L) == "P1" && !sliced.contains(5L))
    // wreck the table, then restore the slice-carrying version
    SnapshotMerge.replaceAll(spark, dir,
      Seq((999L, "X", 0L)).toDF("id", "v", "pk"), Seq("pk"), retain = 8)
    store.restore(vSliced)
    assert(vals(SnapshotMerge.read(spark, dir, v1Rows.schema)) == sliced,
      "DV + full slice + sparse patch must all apply after the restore")
    val cur = store.resolveCurrent().get
    assert(cur.dvs.nonEmpty && cur.mors.nonEmpty && cur.smors.nonEmpty,
      "the restored manifest must carry all three sidecar kinds")
  }

  test("restore re-persists the restored version's schema; guards hold") {
    val dir = tmp("ttrschema")
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertEvolve(spark, dir, v1Rows, Seq("id"), Seq("pk"), retain = 8)
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "U0", 0L, 7)).toDF("id", "v", "pk", "z"),
      Seq("id"), Seq("pk"), retain = 8)
    val restored = store.restore(v1)
    assert(store.currentSchema().get.fieldNames.toSeq == Seq("id", "v", "pk"),
      "the restored version's schema wins over the later evolve's")
    assert(store.schemaAt(restored) == store.schemaAt(v1),
      "the restore's own manifest embeds the restored schema")
    assert(!SnapshotMerge.readEvolved(spark, dir).columns.contains("z"))
    assert(!new java.io.File(dir, "schemas").exists, "the manifest is the only schema record")
    // below-retention restore fails the readAt way
    val tight = tmp("ttrtight")
    val st2 = new SnapshotStore(spark, new Path(tight))
    SnapshotMerge.upsertUpdate(spark, tight, v1Rows, Seq("id"), Seq("pk"), retain = 1)
    SnapshotMerge.upsertUpdate(spark, tight, v2Rows, Seq("id"), Seq("pk"), retain = 1)
    SnapshotMerge.upsertUpdate(spark, tight, v3Rows, Seq("id"), Seq("pk"), retain = 1)
    assert(intercept[IllegalArgumentException](st2.restore(1L))
      .getMessage.contains("retention"))
  }

  test("restore of a version whose manifest was vacuumed fails with readAt's retention error") {
    val (dir, store, _) = seed3()
    // v2 stays in the window (its version-log entry is kept) but its
    // manifest file is gone, as a vacuum racing the restore leaves it
    val gone = new java.io.File(dir, "manifests").listFiles()
      .filter(_.getName.contains("v-000000000002-"))
    assert(gone.nonEmpty, "fixture: v2's manifest file")
    gone.foreach(f => assert(f.delete()))
    val read = intercept[IllegalArgumentException](store.readAt(2L, v1Rows.schema))
    assert(read.getMessage.contains("widen vacuum retention"))
    val restored = intercept[IllegalArgumentException](store.restore(2L))
    assert(restored.getMessage == read.getMessage)
    assert(store.currentVersion().contains(3L), "a refused restore commits nothing")
  }
}
