package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.sinks.{Merge, SnapshotMerge, SnapshotStore}

/** Merge-on-read row-level UPDATE pins (r18): updates tombstone old
  * row versions via a deletion vector and append the new versions as
  * a `#mor` slice — NO touched partition is rewritten — and every
  * read path (plain, time travel, CDC, range, compaction) sees
  * exactly the copy-on-write result. The reference analogue is the
  * per-cron `ON CONFLICT DO UPDATE` (`db/occurrence.py:22-51`), whose
  * 100 TB cost profile is what MoR exists for.
  */
class MorUpdateSpec extends SparkFunSuite {
  import spark.implicits._

  private def targetRows = (0L until 10L).map(i => (i, s"t$i", i % 5)).toDF("id", "v", "pk")

  private def incomingRows = Seq(
    (0L, "U0", 0L), (5L, "U5", 0L), (1L, "U1", 1L), (6L, "U6", 1L),
    (10L, "N10", 0L), (11L, "N11", 1L)).toDF("id", "v", "pk")

  private def readVals(dir: String): Map[Long, String] =
    SnapshotMerge.read(spark, dir, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  private def seed(): String = {
    val dir = tmp("mor")
    SnapshotMerge.upsertUpdate(spark, dir, targetRows, Seq("id"), Seq("pk"))
    dir
  }

  test("upsertMor equals upsertUpdate, bit for bit") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val want = Merge.upsertUpdate(targetRows, incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want)
  }

  test("MoR rewrites NOTHING: base entries byte-identical, slices appended, DV committed") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val SnapshotStore.Resolved(_, before, dvsBefore, morsBefore, _, _, _) =
      store.resolveCurrent().get
    assert(dvsBefore.isEmpty && morsBefore.isEmpty)
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val SnapshotStore.Resolved(_, after, dvs, mors, _, _, _) =
      store.resolveCurrent().get
    // every base entry — INCLUDING the touched partitions' — is the
    // exact same (batch, bytes) record: zero data rewritten
    assert(after == before, "MoR must not move a single base entry")
    assert(mors.map(_._1).toSet == Set("pk=0", "pk=1"),
      "touched partitions gain exactly one slice each")
    assert(mors.map(_._2.batch).distinct.size == 1, "one staged batch per commit")
    assert(dvs.size == 1, "updated keys' old versions tombstone through one DV")
  }

  test("insert-only MoR commits no deletion vector") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertMor(spark, dir,
      Seq((20L, "N20", 0L), (21L, "N21", 1L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"))
    val SnapshotStore.Resolved(_, _, dvs, mors, _, _, _) =
      store.resolveCurrent().get
    assert(dvs.isEmpty, "nothing matched — no tombstones, no DV file")
    assert(mors.size == 2)
    assert(readVals(dir).keySet == (0L until 10L).toSet + 20L + 21L)
  }

  test("a brand-new partition becomes a base entry in the same MoR commit") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "U0", 0L), (90L, "N90", 9L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"))
    val SnapshotStore.Resolved(_, entries, _, mors, _, _, _) =
      store.resolveCurrent().get
    assert(entries.contains("pk=9"), "new partition must be a base entry")
    assert(mors.map(_._1) == Seq("pk=0"), "existing partition appends a slice")
    assert(readVals(dir)(90L) == "N90" && readVals(dir)(0L) == "U0")
  }

  test("chained MoR: the second update tombstones the first slice's copy") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "U0a", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "U0b", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val vals = readVals(dir)
    assert(vals(0L) == "U0b")
    assert(vals.size == 10, "no duplicate key copies may surface")
    val store = new SnapshotStore(spark, new Path(dir))
    val SnapshotStore.Resolved(_, _, dvs, mors, _, _, _) =
      store.resolveCurrent().get
    assert(mors.count(_._1 == "pk=0") == 2 && dvs.size == 2)
  }

  test("duplicate incoming keys collapse to one arbitrary winner (upsertUpdate contract)") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir,
      Seq((3L, "X", 3L), (3L, "X", 3L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    assert(readVals(dir).size == 10)
    assert(readVals(dir)(3L) == "X")
  }

  test("time travel reads through and before a MoR commit") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"), retain = 3)
    val pre = store.readAt(v1, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(pre == targetRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
      "the pre-MoR version must read without the slice or its DV")
    val post = store.readAt(v1 + 1, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(post == readVals(dir))
  }

  test("CDC across a MoR commit: updates carry post- and pre-images, inserts insert") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"), retain = 3)
    val changes = store.readChangesBetween(v1, v1 + 1, targetRows.schema,
      Seq("id"), includeUpdatePreimages = true).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[String]("_change")))
    val byChange = changes.groupBy(_._3)
    assert(byChange("insert").map(_._1).toSet == Set(10L, 11L))
    assert(byChange("update").map(t => t._1 -> t._2).toMap ==
      Map(0L -> "U0", 5L -> "U5", 1L -> "U1", 6L -> "U6"))
    assert(byChange("update_preimage").map(t => t._1 -> t._2).toMap ==
      Map(0L -> "t0", 5L -> "t5", 1L -> "t1", 6L -> "t6"))
    assert(!byChange.contains("delete"))
  }

  test("compaction materializes slices and DVs: content unchanged, manifest clean") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val before = readVals(dir)
    val store = new SnapshotStore(spark, new Path(dir))
    store.compact(targetRows.schema, Seq("pk"))
    val SnapshotStore.Resolved(_, entries, dvs, mors, _, _, _) =
      store.resolveCurrent().get
    assert(dvs.isEmpty && mors.isEmpty, "full rewrite materializes both")
    assert(entries.values.map(_.batch).toSet.size == 1)
    assert(readVals(dir) == before)
  }

  test("a rewrite merge touching a sliced partition materializes ITS slices only") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    // rewrite path on pk=0 only
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "R0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val SnapshotStore.Resolved(_, _, _, mors, _, _, _) =
      store.resolveCurrent().get
    assert(mors.map(_._1) == Seq("pk=1"),
      "pk=0's slice materialized by the rewrite; pk=1's must survive")
    val vals = readVals(dir)
    assert(vals(0L) == "R0" && vals(1L) == "U1" && vals(6L) == "U6")
  }

  test("deleteWhere tombstones rows living in MoR slices") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val n = SnapshotMerge.deleteWhere(spark, dir, targetRows.schema,
      org.apache.spark.sql.functions.col("v").startsWith("U"))
    assert(n == 4L)
    val vals = readVals(dir)
    assert(!vals.values.exists(_.startsWith("U")))
    assert(vals.keySet == Set(2L, 3L, 4L, 7L, 8L, 9L, 10L, 11L))
  }

  test("stats-pruned readRange stays exact over slices (per-slice bands)") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // band sidecar for the seed batch
    store.writeBatchStats(store.resolveCurrent().get.entries.values.head.batch,
      targetRows.schema, Seq("pk"), Seq("id"))
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val got = store.readRange(targetRows.schema, "id", 5.0, 11.0).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(got == readVals(dir).view.filterKeys(k => k >= 5 && k <= 11).toMap,
      "slice rows (id 10, 11 and updated 5, 6) must all surface exactly once")
  }

  test("forced race: MoR loser rebases onto a racing delete's commit") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    @volatile var fired = false
    store.beforeMorCommitHook = () => {
      if (!fired) {
        fired = true
        // the racer deletes id=5 AND id=2 after the MoR writer
        // resolved its base — the loser's staged positions are stale
        val n = racer.deleteWhere(targetRows.schema,
          org.apache.spark.sql.functions.col("id").isin(5L, 2L))
        assert(n == 2L)
      }
    }
    val (v, conflicts) = SnapshotMerge.retrying(incomingRows, maxAttempts = 5)(
      inc => SnapshotMerge.upsertMor(store, inc, Seq("id"), Seq("pk"), retain = 4))
    assert(conflicts == 1, "exactly one fenced conflict must be retried")
    assert(v.isDefined)
    // sequential semantics: delete(5,2) then upsertMor — id=5 comes
    // BACK via the update (upsert inserts unmatched keys), id=2 stays
    // deleted
    val want = Merge.upsertUpdate(
      targetRows.where(!$"id".isin(5L, 2L)), incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want)
  }

  test("forced race: MoR loser rebases onto a racing compaction") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "U0a", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    @volatile var fired = false
    store.beforeMorCommitHook = () => {
      if (!fired) {
        fired = true
        // the compaction rewrites every file the loser's staged DV
        // references — stale positions against dead files would
        // silently tombstone NOTHING if committed; the fence + rebase
        // recomputes them against the compacted files
        racer.compact(targetRows.schema, Seq("pk"))
      }
    }
    val (_, conflicts) = SnapshotMerge.retrying(
      Seq((0L, "U0b", 0L), (7L, "U7", 2L)).toDF("id", "v", "pk"),
      maxAttempts = 5)(
      inc => SnapshotMerge.upsertMor(store, inc, Seq("id"), Seq("pk"), retain = 4))
    assert(conflicts == 1)
    val vals = readVals(dir)
    assert(vals(0L) == "U0b" && vals(7L) == "U7" && vals.size == 10)
  }

  test("manifest format: v2 until the first slice, v3 after, unknown markers rejected") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    def manifestBody(): String = {
      val name = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/CURRENT")).trim
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/manifests/$name"))
    }
    // a table that never MoR-updates keeps writing v2 — a pre-slice
    // build can still read it
    assert(manifestBody().startsWith("graft-snapshot 2\n"))
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "U0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val body = manifestBody()
    assert(body.startsWith("graft-snapshot 3\n"))
    assert(body.linesIterator.count(_.startsWith("#mor\t")) == 1)
    // materializing the slice returns the table to v2
    store.compact(targetRows.schema, Seq("pk"))
    assert(manifestBody().startsWith("graft-snapshot 2\n"))
    // an unknown marker line must fail loudly, never parse as data
    val name = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/CURRENT")).trim
    val p = java.nio.file.Paths.get(s"$dir/manifests/$name")
    java.nio.file.Files.writeString(p,
      java.nio.file.Files.readString(p) + "\n#xyz\tjunk\tb-1\t0")
    // the out-of-band edit invalidates ChecksumFs's .crc sidecar —
    // drop it so the read reaches the parser instead of crc-failing
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/manifests/.$name.crc"))
    assert(intercept[IllegalArgumentException] {
      store.resolveCurrent()
    }.getMessage.contains("unrecognized marker"))
  }

  test("two racing upsertMor writers: loser rebases, both effects land exactly once") {
    val dir = seed()
    // two threads, two store instances, same base version — the
    // MoR-vs-MoR direction of the conflict matrix (MoR-vs-delete and
    // MoR-vs-compact are pinned above). Incomings overlap on key 0,
    // so the rebase must also tombstone the winner's freshly-sliced
    // copy when the loser retries.
    val a = new SnapshotStore(spark, new Path(dir))
    val b = new SnapshotStore(spark, new Path(dir))
    val incA = Seq((0L, "A0", 0L), (5L, "A5", 0L)).toDF("id", "v", "pk")
    val incB = Seq((0L, "B0", 0L), (1L, "B1", 1L)).toDF("id", "v", "pk")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int =
          SnapshotMerge.retrying(incA, maxAttempts = 6)(inc =>
            SnapshotMerge.upsertMor(a, inc, Seq("id"), Seq("pk"), retain = 6))._2
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int =
          SnapshotMerge.retrying(incB, maxAttempts = 6)(inc =>
            SnapshotMerge.upsertMor(b, inc, Seq("id"), Seq("pk"), retain = 6))._2
      })
      fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    val vals = readVals(dir)
    assert(vals.size == 10, s"no duplicate key copies may surface: $vals")
    assert(vals(5L) == "A5" && vals(1L) == "B1",
      "both writers' non-overlapping updates must land")
    assert(Set("A0", "B0").contains(vals(0L)),
      "the overlapping key holds exactly the LAST committer's value")
  }

  test("vacuum keeps slice batches alive") {
    val dir = seed()
    SnapshotMerge.upsertMor(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    // push the version window forward past the MoR commit
    (0 until 3).foreach { i =>
      SnapshotMerge.upsertMor(spark, dir,
        Seq((100L + i, s"W$i", 2L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    }
    store.vacuum(retain = 2)
    val want = (Merge.upsertUpdate(targetRows, incomingRows, Seq("id")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")) ++
      (0 until 3).map(i => (100L + i) -> s"W$i")).toMap
    assert(readVals(dir) == want, "every slice referenced by CURRENT must survive vacuum")
  }
}
