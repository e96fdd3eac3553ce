package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Mechanism pins for positional deletion vectors
  * ([[graft.sinks.SnapshotStore.deleteWhere]]) — the claims the
  * `k2_snapshot_delete` oracle hash cannot see: a delete commit moves
  * ZERO data bytes, tombstones scope to versions (time travel / CDC),
  * merges cannot resurrect deleted rows, full rewrites materialize
  * the tombstones, and vacuum collects unreferenced DV files.
  */
class DeletionVectorSpec extends SparkFunSuite {
  import spark.implicits._

  private def rows = (0L until 10L).map(i => (i, s"t$i", i % 2)).toDF("id", "v", "pk")

  private def seed(): (String, SnapshotStore) = {
    val dir = tmp("sdv")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"))
    (dir, new SnapshotStore(spark, new Path(dir)))
  }

  private def ids(dir: String): Set[Long] =
    SnapshotMerge.read(spark, dir, rows.schema).collect()
      .map(_.getAs[Long]("id")).toSet

  /** Every data file under the table with its length — the delete
    * commit must leave this map byte-identical.
    */
  private def dataFiles(dir: String): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".parquet")) out(f.getPath) = f.length()
    walk(new java.io.File(dir, "data"))
    out.toMap
  }

  test("deleteWhere tombstones rows without touching a data byte") {
    val (dir, store) = seed()
    val before = dataFiles(dir)
    val entriesBefore = store.current().get._2
    val n = store.deleteWhere(rows.schema, col("id") % 3 === 0)
    assert(n == 4L) // 0, 3, 6, 9
    assert(ids(dir) == Set(1L, 2L, 4L, 5L, 7L, 8L))
    // zero data movement: same files, same lengths, same manifest
    // data entries — only the pointer, one manifest, one DV moved
    assert(dataFiles(dir) == before)
    assert(store.current().get._2 == entriesBefore)
    assert(store.currentVersion().contains(2L))
    // a delete matching nothing commits nothing
    assert(store.deleteWhere(rows.schema, col("id") === 999L) == 0L)
    assert(store.currentVersion().contains(2L))
  }

  test("deletes accumulate; already-tombstoned rows are never re-counted") {
    val (dir, store) = seed()
    assert(store.deleteWhere(rows.schema, col("id") < 4) == 4L)
    // overlapping predicate: only the NEW rows count (id 4, 5)
    assert(store.deleteWhere(rows.schema, col("id") < 6) == 2L)
    assert(ids(dir) == Set(6L, 7L, 8L, 9L))
  }

  test("time travel and the change feed scope tombstones to their versions") {
    val (dir, store) = seed()
    store.deleteWhere(rows.schema, col("id") === 4L) // v2
    store.deleteWhere(rows.schema, col("id") === 7L) // v3
    assert(store.readAt(1L, rows.schema).count() == 10L)
    assert(store.readAt(2L, rows.schema).collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet - 4L)
    assert(ids(dir) == (0L until 10L).toSet - 4L - 7L)
    // the DV-only commit changed no manifest entry, but the change
    // feed must still surface it: id=4 lives in pk=0
    assert(store.changedPartitionsBetween(1L, 2L) == Set("pk=0"))
    val ch = store.readChangesBetween(1L, 2L, rows.schema, Seq("id")).collect()
    assert(ch.map(r => (r.getAs[Long]("id"), r.getAs[String]("_change"))).toSet ==
      Set((4L, "delete")))
  }

  test("a merge cannot resurrect deleted rows, touched or untouched") {
    val (dir, store) = seed()
    store.deleteWhere(rows.schema, col("id") === 2L || col("id") === 3L)
    // upsert touches pk=0 only: id=2 (pk=0) is rewritten-away, id=3
    // (pk=1) must stay tombstoned through the carried DV list
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "U0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    assert(ids(dir) == Set(0L, 1L, 4L, 5L, 6L, 7L, 8L, 9L))
    val vals = SnapshotMerge.read(spark, dir, rows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(vals(0L) == "U0")
    // and the rewritten partition materialized its delete: reading
    // pk=0 with NO deletion vectors applied still lacks id=2
    val SnapshotStore.Resolved(_, entries, dvs, _, _, _, _) =
      store.resolveCurrent().get
    assert(dvs.nonEmpty, "untouched partition's DV must carry forward")
    val raw = store.readSlices(entries.toSeq.map(kv => kv._1 -> kv._2.batch),
      rows.schema, Set("pk=0"), Nil)
    assert(!raw.collect().map(_.getLong(0)).contains(2L))
  }

  test("compaction materializes tombstones and vacuum collects the DV files") {
    val (dir, store) = seed()
    store.deleteWhere(rows.schema, col("id") >= 6L)
    assert(new java.io.File(dir, "deletes").listFiles().nonEmpty)
    store.compactClustered(rows.schema, Seq("pk"), Seq("id"), maxRecordsPerFile = 100L)
    val SnapshotStore.Resolved(_, _, dvs, _, _, _, _) =
      store.resolveCurrent().get
    assert(dvs.isEmpty, "a full rewrite must drop the DV list")
    assert(ids(dir) == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // push the DV's version below the retention window; it is
    // unreferenced by every retained manifest -> orphan
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "U0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((1L, "U1", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    store.vacuum(2)
    val left = Option(new java.io.File(dir, "deletes").listFiles())
      .map(_.toSeq).getOrElse(Nil)
    assert(left.isEmpty, s"materialized DV files must be vacuumed: $left")
    assert(ids(dir) == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("a fully-tombstoned partition compacts AWAY instead of wedging OPTIMIZE") {
    val (dir, store) = seed()
    // tombstone every row of pk=0 (the evens) — the partition is now
    // logically empty but physically present
    assert(store.deleteWhere(rows.schema, col("pk") === 0L) == 5L)
    assert(ids(dir) == Set(1L, 3L, 5L, 7L, 9L))
    // compaction writes no dir for it; dropping it from the manifest
    // IS the materialization of that delete (pre-fix this threw
    // 'must preserve the partition set' forever, leaving no way to
    // ever materialize)
    store.compactClustered(rows.schema, Seq("pk"), Seq("id"), maxRecordsPerFile = 100L)
    val SnapshotStore.Resolved(_, entries, dvs, _, _, _, _) =
      store.resolveCurrent().get
    assert(entries.keySet == Set("pk=1"))
    assert(dvs.isEmpty)
    assert(ids(dir) == Set(1L, 3L, 5L, 7L, 9L))
  }

  test("a single-batch table with outstanding DVs still compacts (materialization path)") {
    val (dir, store) = seed() // one batch
    store.deleteWhere(rows.schema, col("id") === 4L)
    // pre-fix the <=1-batch guard returned early and the DV could
    // never materialize through compact()
    store.compact(rows.schema, Seq("pk"))
    val SnapshotStore.Resolved(_, _, dvs, _, _, _, _) =
      store.resolveCurrent().get
    assert(dvs.isEmpty)
    assert(ids(dir) == (0L until 10L).toSet - 4L)
  }

  test("a fenced delete rebases: forced race, one conflict, both effects land") {
    val (dir, store) = seed()
    // writer B (an upsert touching pk=1) commits INSIDE A's conflict
    // window — after A resolved its base, before A's fenced commit —
    // so A's first commit provably hits the fence and the retry
    // recomputes positions against B's committed state
    var fired = false
    store.beforeDeleteCommitHook = () => {
      if (!fired) {
        fired = true
        SnapshotMerge.upsertUpdate(spark, dir,
          Seq((11L, "N11", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
      }
    }
    try {
      val (n, conflicts) = SnapshotMerge.retryLoop(maxAttempts = 5)(
        store.deleteWhere(rows.schema, col("id") === 3L || col("id") === 11L))
      // the retry sees B's new row 11 too: both tombstone
      assert(conflicts == 1, s"expected exactly one fenced conflict, got $conflicts")
      assert(n == 2L, s"rebase must see the winner's rows: tombstoned $n")
      assert(ids(dir) == ((0L until 10L).toSet - 3L),
        "final state must equal sequential upsert-then-delete")
      // the loser's staged DV was cleaned: exactly one DV file remains
      val dvFiles = new java.io.File(dir, "deletes").listFiles()
      assert(dvFiles.length == 1, s"fenced loser's DV not cleaned: ${dvFiles.toSeq}")
    } finally store.beforeDeleteCommitHook = () => ()
  }

  test("stats-pruned range reads apply tombstones") {
    val dir = tmp("sdvr")
    val t = (0L until 100L).map(i => (i, i.toDouble, i % 4)).toDF("id", "x", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"),
      statsCols = Seq("x"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.deleteWhere(t.schema, col("id") === 50L) == 1L)
    val got = store.readRange(t.schema, "x", 45.0, 55.0).collect()
      .map(_.getLong(0)).toSet
    assert(got == (45L to 55L).toSet - 50L)
  }
}
