package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.JobCounter
import graft.sinks.{Merge, SnapshotMerge, SnapshotStore}

/** Cross-partition atomicity pins for the snapshot/manifest commit
  * layer: a crash at ANY point before the pointer swap must leave a
  * reader on the complete previous snapshot (all-old), and the swap
  * itself flips every touched partition at once (all-new) — never a
  * mixed table. This is the parquet re-expression of the reference's
  * single-transaction upsert (`db/occurrence.py:22-51`).
  */
class SnapshotMergeSpec extends SparkFunSuite {
  import spark.implicits._

  private def targetRows = (0L until 10L).map(i => (i, s"t$i", i % 5)).toDF("id", "v", "pk")

  private def incomingRows = Seq(
    (0L, "U0", 0L), (5L, "U5", 0L), (1L, "U1", 1L), (6L, "U6", 1L),
    (10L, "N10", 0L), (11L, "N11", 1L)).toDF("id", "v", "pk")

  private def readVals(dir: String): Map[Long, String] =
    SnapshotMerge.read(spark, dir, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  private def seed(): String = {
    val dir = tmp("smerge")
    SnapshotMerge.upsertUpdate(spark, dir, targetRows, Seq("id"), Seq("pk"))
    dir
  }

  test("snapshot upsertUpdate equals the whole-frame merge") {
    val dir = seed()
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val want = Merge.upsertUpdate(targetRows, incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want)
  }

  test("snapshot upsertIgnore keeps existing rows") {
    val dir = seed()
    SnapshotMerge.upsertIgnore(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val want = targetRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ++
      Map(10L -> "N10", 11L -> "N11")
    assert(readVals(dir) == want)
  }

  test("upsertIgnore of only known keys returns 0 and commits no version, no vacuum") {
    val dir = seed()
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val v = store.currentVersion()
    val entries = store.current().get._2
    val rows = readVals(dir)
    // an orphan below the retention window: any vacuum would take it
    val orphan = store.dataPath("b-000000000001-orphan")
    store.fs.mkdirs(orphan)
    val known = Seq((0L, "X0", 0L), (6L, "X6", 1L), (6L, "Y6", 1L), (11L, "X11", 1L))
      .toDF("id", "v", "pk")
    assert(SnapshotMerge.upsertIgnore(spark, dir, known, Seq("id"), Seq("pk")) == 0L)
    assert(store.currentVersion() == v, "nothing new must commit no version")
    assert(store.current().get._2 == entries)
    assert(store.fs.exists(orphan), "nothing new must run no vacuum")
    assert(readVals(dir) == rows)
  }

  test("upsertIgnore keeps a partition with only known keys by reference while another gains rows") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.current().get._2
    // ids 0 and 5 live in pk=0 already; id 11 is new in pk=1
    val inc = Seq((0L, "X0", 0L), (5L, "X5", 0L), (11L, "N11", 1L)).toDF("id", "v", "pk")
    assert(SnapshotMerge.upsertIgnore(spark, dir, inc, Seq("id"), Seq("pk")) == 1L)
    val after = store.current().get._2
    assert(after("pk=0") == before("pk=0"),
      "a touched partition that gains no row must keep its batch entry")
    assert(after("pk=1") != before("pk=1"))
    (2L to 4L).foreach(pk => assert(after(s"pk=$pk") == before(s"pk=$pk")))
    assert(readVals(dir) ==
      targetRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap + (11L -> "N11"))
  }

  test("upsertIgnore's count is exact with duplicated and republished keys") {
    val dir = seed()
    // new keys 20, 21, 22 (20 and 21 twice each); 3 and 8 republished
    val inc = Seq((20L, "A", 0L), (20L, "B", 0L), (21L, "C", 1L), (21L, "C", 1L),
      (3L, "R3", 3L), (8L, "R8", 3L), (22L, "D", 3L)).toDF("id", "v", "pk")
    assert(SnapshotMerge.upsertIgnore(spark, dir, inc, Seq("id"), Seq("pk")) == 3L)
    val vals = readVals(dir)
    assert(SnapshotMerge.read(spark, dir, targetRows.schema).count() == 13L,
      "each new key lands once")
    assert(vals(3L) == "t3" && vals(8L) == "t8", "known keys keep their row")
    assert(Set("A", "B").contains(vals(20L)) && vals(21L) == "C" && vals(22L) == "D")
    // the same batch again adds nothing
    assert(SnapshotMerge.upsertIgnore(spark, dir, inc, Seq("id"), Seq("pk")) == 0L)
  }

  test("untouched partitions are carried forward by reference — same batch, same bytes") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.current().get._2
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val after = store.current().get._2
    (2L to 4L).foreach { pk =>
      assert(after(s"pk=$pk") == before(s"pk=$pk"),
        s"untouched pk=$pk must keep its original batch entry (zero data movement)")
    }
    assert(after("pk=0") != before("pk=0") && after("pk=1") != before("pk=1"))
  }

  test("crash before the pointer swap leaves a reader on all-old; the swap flips to all-new") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = readVals(dir)
    // Simulate the crash window: stage the whole next batch + manifest
    // by hand, dying just before commit's pointer rename.
    val batch = "b-000000000002-crashtest"
    val merged = Merge.upsertUpdate(
      store.readPartitions(targetRows.schema, Set("pk=0", "pk=1")),
      incomingRows, Seq("id"))
    merged.write.partitionBy("pk").parquet(store.dataPath(batch).toString)
    // reader still sees v1 in full — the staged batch is invisible
    assert(readVals(dir) == v1, "uncommitted batch must be invisible")
    // now the commit point: one pointer swap publishes every touched
    // partition at once
    val entries = store.current().get._2 -- Set("pk=0", "pk=1") ++
      Map("pk=0" -> batch, "pk=1" -> batch)
    store.commit(2L, entries)
    val want = Merge.upsertUpdate(targetRows, incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want, "committed snapshot must be all-new")
  }

  test("emptying a partition drops it atomically from the manifest") {
    val dir = seed()
    // a merge that deletes every row of pk=3 (and touches nothing else)
    val doomed = targetRows.where($"pk" === 3L)
    SnapshotMerge.merge(spark, dir, doomed, Seq("pk"))(
      (target, inc) => target.join(inc, Seq("id"), "left_anti"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(!store.current().get._2.contains("pk=3"), "emptied partition must leave the manifest")
    assert(readVals(dir) == targetRows.where($"pk" =!= 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("vacuum keeps the retention window, collects below-window orphans, spares in-flight work") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // below-window orphan (a long-dead writer's leftover) vs a
    // FUTURE-version batch — the staging dir of a fenced writer that
    // is retrying right now; the winner's vacuum must never delete it
    // out from under the retry (it only becomes collectable once the
    // committed version passes it by the retention window)
    val deadOrphan = store.dataPath("b-000000000001-orphan")
    val inflight = store.dataPath("b-000000000099-inflight")
    store.fs.mkdirs(deadOrphan)
    store.fs.mkdirs(inflight)
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "U0b", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    assert(!store.fs.exists(deadOrphan), "below-window orphan must be collected")
    assert(store.fs.exists(inflight), "future-version (possibly in-flight) batch must survive")
    val versions = store.fs.listStatus(new Path(dir, "manifests"))
      .map(_.getPath.getName.stripPrefix("v-").split('-').head.toLong).toSet
    assert(versions == Set(2L, 3L),
      s"retention window is current + previous, got versions $versions")
    assert(readVals(dir)(0L) == "U0b")
  }

  test("vacuum sweeps only commit temp files tagged below the retention window") {
    val dir = seed()
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentVersion().contains(3L))
    // retain = 2 keeps versions 2 and 3: a tag of 4 is a commit in
    // flight, a tag of 1 a crashed writer's leftover
    def tmps(v: Long) = Seq(s"manifests/.tmp-v-00000000000$v-x",
      s"versions/.tmp-v-00000000000$v-x", s".CURRENT.tmp-v-00000000000$v-x")
      .map(n => new Path(dir, n))
    (tmps(1L) ++ tmps(4L)).foreach(p => store.fs.create(p, true).close())
    store.vacuum(2)
    tmps(4L).foreach(p => assert(store.fs.exists(p), s"in-flight $p must survive"))
    tmps(1L).foreach(p => assert(!store.fs.exists(p), s"below-window $p must go"))
  }

  test("a vacuum between a writer's temp write and its rename does not fail the commit") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // the hook runs with the pointer temp file written, right before
    // its rename: a concurrent writer's trailing vacuum lands there
    store.beforeSwapHook = () => new SnapshotStore(spark, new Path(dir)).vacuum()
    val v = store.resolveCurrent().get.version
    store.commitSized(v + 1, store.resolveCurrent().get.entries, Some(v))
    assert(store.currentVersion().contains(v + 1))
    assert(readVals(dir) == targetRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("a reader pinned before a commit+vacuum still reads its version in full") {
    // Mechanical pin of the grace-window contract (class doc: "vacuum
    // retains the previous manifest and its uniquely-referenced
    // batches"): a reader that resolved the table BEFORE a writer
    // commits and vacuums must still collect its complete version —
    // and the window is exactly one version deep, so a second
    // commit+vacuum collects the pinned version's rewritten batches.
    val dir = seed() // version 1: t0..t9
    val store = new SnapshotStore(spark, new Path(dir))
    val pinned = SnapshotMerge.read(spark, dir, targetRows.schema) // resolves v1
    val v1Batches = store.fs.listStatus(new Path(dir, "data"))
      .map(_.getPath.getName).toSet

    // writer advances to v2, rewriting EVERY partition (pk 0..4), so
    // nothing of batch 1 is carried forward — v1's batch survives the
    // first vacuum only through the grace window
    SnapshotMerge.upsertUpdate(spark, dir,
      (0L until 5L).map(i => (i, s"u$i", i)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"))
    val got = pinned.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(got == (0L until 10L).map(i => i -> s"t$i").toMap,
      s"pinned reader must see its full version after one commit+vacuum, got $got")

    // a second commit+vacuum passes the window: batch 1 is collected
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "U0c", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val liveBatches = store.fs.listStatus(new Path(dir, "data"))
      .map(_.getPath.getName).toSet
    assert((v1Batches intersect liveBatches).isEmpty,
      s"v1's now-unreferenced batches must be collected after the window: " +
        s"v1=$v1Batches live=$liveBatches")
    assert(readVals(dir)(0L) == "U0c")
  }

  test("schema evolution: a widened merge upgrades in place, old batches read as null") {
    val dir = seed() // (id, v, pk), version 1
    // a later producer adds a column; only pk=0 is touched
    val widened = Seq((0L, "U0", "extra", 0L)).toDF("id", "v", "v2", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, widened, Seq("id"), Seq("pk"))
    val wide = SnapshotMerge.read(spark, dir, widened.schema).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("v"), r.getAs[String]("v2")))
      .toMap
    assert(wide.size == 10)
    assert(wide(0L) == ("U0", "extra"))
    // the rewritten pk=0 partition carries the column (null for
    // untouched keys in it); never-rewritten partitions read as null
    // through the wider caller schema
    (1L until 10L).foreach(i => assert(wide(i) == (s"t$i", null)))
    // a legacy reader with the narrow schema still works (projection)
    assert(readVals(dir) == (0L until 10L)
      .map(i => i -> (if (i == 0) "U0" else s"t$i")).toMap)
  }

  test("upsertEvolve persists the evolved schema; readers need no history") {
    val dir = tmp("sevolve")
    // v1 through the evolve path: schema file written from the start
    SnapshotMerge.upsertEvolve(spark, dir, targetRows, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentSchema().map(_.fieldNames.toSeq)
      .contains(Seq("id", "v", "pk")))
    val before = store.resolveCurrent().get.entries

    // v2 adds a column; only pk=0 touched
    val widened = Seq((0L, "U0", "extra", 0L)).toDF("id", "v", "v2", "pk")
    SnapshotMerge.upsertEvolve(spark, dir, widened, Seq("id"), Seq("pk"))
    // persisted schema = union, stored field order first
    assert(store.currentSchema().map(_.fieldNames.toSeq)
      .contains(Seq("id", "v", "pk", "v2")))
    // schema history: v1's persisted schema is still the narrow one
    assert(store.schemaAt(1L).map(_.fieldNames.toSeq)
      .contains(Seq("id", "v", "pk")))

    // history-free read: evolved column null for pre-evolution rows
    val wide = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("v"), r.getAs[String]("v2")))
      .toMap
    assert(wide.size == 10)
    assert(wide(0L) == ("U0", "extra"))
    (1L until 10L).foreach(i => assert(wide(i) == (s"t$i", null)))

    // the evolve was metadata-only for untouched partitions: every
    // non-pk=0 partition still references its v1 batch
    val after = store.resolveCurrent().get.entries
    before.keys.filterNot(_.startsWith("pk=0")).foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p was rewritten")
    }

    // type conflict fails fast instead of silently coercing
    val bad = Seq((1L, 7L, 1L)).toDF("id", "v", "pk") // v: long vs string
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertEvolve(spark, dir, bad, Seq("id"), Seq("pk"))
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("upsertEvolve widens int->bigint metadata-only; lossy pairs still fail fast") {
    val dir = tmp("swiden")
    // v1: cents is INT, two partitions
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, 100, 0L), (1L, 200, 1L), (2L, 300, 0L))
        .toDF("id", "cents", "pk"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentSchema().get("cents").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val before = store.resolveCurrent().get.entries

    // v2: cents arrives as BIGINT beyond int range, touching pk=1 only
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((1L, 3000000200L, 1L)).toDF("id", "cents", "pk"),
      Seq("id"), Seq("pk"))
    assert(store.currentSchema().get("cents").dataType ==
      org.apache.spark.sql.types.LongType)
    // metadata-only: the untouched pk=0 partition keeps its v1 batch
    // (its int32 files are never rewritten for the widen)
    val after = store.resolveCurrent().get.entries
    before.keys.filter(_.startsWith("pk=0")).foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p was rewritten")
    }
    // reader upcasts the old int32 files natively under the persisted
    // bigint schema; the replaced row reads back its long-range value
    val got = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cents")).toMap
    assert(got == Map(0L -> 100L, 1L -> 3000000200L, 2L -> 300L))
    // a NARROWER later batch casts up on write: schema stays bigint
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((2L, 400, 0L)).toDF("id", "cents", "pk"), Seq("id"), Seq("pk"))
    assert(store.currentSchema().get("cents").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cents")).toMap ==
      Map(0L -> 100L, 1L -> 3000000200L, 2L -> 400L))
    // time travel still reads v1 under ITS narrow persisted schema
    assert(store.schemaAt(1L).get("cents").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // long -> double is LOSSY above 2^53 and must fail fast, exactly
    // like a string conflict
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertEvolve(spark, dir,
        Seq((0L, 1.5d, 0L)).toDF("id", "cents", "pk"), Seq("id"), Seq("pk"))
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("dropColumn is metadata-only; history, guards, and fresh-null re-add are pinned") {
    val dir = tmp("sdrop")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "a", 10L, 0L), (1L, "b", 20L, 1L)).toDF("id", "v", "score", "pk"),
      Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.resolveCurrent().get.entries
    SnapshotMerge.dropColumn(spark, dir, "score")
    // metadata-only: identical data entries, no rewrite
    assert(store.resolveCurrent().get.entries == before)
    assert(store.currentSchema().get.fieldNames.toSeq == Seq("id", "v", "pk"))
    val got = SnapshotMerge.readEvolved(spark, dir)
    assert(!got.columns.contains("score"))
    // time travel below the drop still reads the column
    assert(store.schemaAt(1L).get.fieldNames.contains("score"))
    assert(store.readAt(1L, store.schemaAt(1L).get).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("score")).toMap ==
      Map(0L -> 10L, 1L -> 20L))
    // guards: partition column, missing column, last column
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.dropColumn(spark, dir, "pk")
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.dropColumn(spark, dir, "nope")
    }.getMessage.contains("does not exist"))
    // COLUMN MAPPING (r18): re-adding the dropped name allocates a
    // FRESH physical name, so pre-drop bytes still sitting in
    // un-rewritten files can never resurrect — rows not re-upserted
    // read NULL under the re-added column (the r17 name-based
    // resurrect limit is gone)
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((2L, "c", 99L, 0L)).toDF("id", "v", "score", "pk"),
      Seq("id"), Seq("pk"), retain = 4)
    val revived = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.get(r.fieldIndex("score")))).toMap
    assert(revived(2L).contains(99L))
    assert(revived(1L).isEmpty, // pk=1 file untouched since v1
      "pre-drop bytes must NOT resurrect under the re-added name (column mapping)")
    assert(revived(0L).isEmpty,
      "a row re-upserted before the re-add must read NULL too")
    // ... while time travel below the drop still reads the ORIGINAL
    // column through its original physical name
    assert(SnapshotMerge.readEvolvedAt(spark, dir, 1L).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("score")).toMap ==
      Map(0L -> 10L, 1L -> 20L))
  }

  test("renameColumn is metadata-only; reads, writes, and time travel route through column mapping") {
    val dir = tmp("srename")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "p0", 0L), (1L, "p1", 1L)).toDF("id", "pic", "pk"),
      Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    val before = store.resolveCurrent().get.entries
    SnapshotMerge.renameColumn(spark, dir, "pic", "cover")
    // metadata-only: identical data entries, no rewrite
    assert(store.resolveCurrent().get.entries == before)
    assert(store.currentSchema().get.fieldNames.toSeq == Seq("id", "cover", "pk"))
    // old files' 'pic' bytes project under the new logical name
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cover")).toMap ==
      Map(0L -> "p0", 1L -> "p1"))
    // writes with the new logical name land in the OLD physical column
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "c0", 0L), (2L, "c2", 0L)).toDF("id", "cover", "pk"),
      Seq("id"), Seq("pk"), retain = 4)
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cover")).toMap ==
      Map(0L -> "c0", 1L -> "p1", 2L -> "c2"))
    // the staged batch's files physically carry 'pic', not 'cover'
    val pk0Batch = store.current().get._2("pk=0")
    assert(spark.read.parquet(store.dataPath(pk0Batch).toString)
      .schema.fieldNames.contains("pic"))
    // time travel below the rename still reads 'pic'
    val pre = SnapshotMerge.readEvolvedAt(spark, dir, v1)
    assert(pre.columns.contains("pic") && !pre.columns.contains("cover"))
    assert(pre.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("pic"))
      .toMap == Map(0L -> "p0", 1L -> "p1"))
    // a second rename keeps routing through the original physical name
    SnapshotMerge.renameColumn(spark, dir, "cover", "artwork")
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("artwork")).toMap ==
      Map(0L -> "c0", 1L -> "p1", 2L -> "c2"))
    // guards: partition column, collision with an existing name
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.renameColumn(spark, dir, "pk", "bucket")
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.renameColumn(spark, dir, "id", "artwork")
    }.getMessage.contains("already exists"))
    // the keyed write fronts ACCEPT logical names on the renamed
    // table — upsertUpdate (CoW) and upsertMor (merge-on-read) both
    // translate to the physical column before staging
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((3L, "x3", 0L)).toDF("id", "artwork", "pk"), Seq("id"), Seq("pk"),
      retain = 4)
    SnapshotMerge.upsertMor(spark, dir,
      Seq((1L, "m1", 1L), (4L, "m4", 1L)).toDF("id", "artwork", "pk"),
      Seq("id"), Seq("pk"), retain = 4)
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("artwork")).toMap ==
      Map(0L -> "c0", 1L -> "m1", 2L -> "c2", 3L -> "x3", 4L -> "m4"))
    // ... while the GENERIC merge front still refuses the logical
    // name (its mergeFn captures caller column names the layer cannot
    // translate)
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.merge(spark, dir,
        Seq((9L, "z", 0L)).toDF("id", "artwork", "pk"), Seq("pk"))(
        (t, i) => t.unionByName(i))
    }.getMessage.contains("column mapping"))
  }

  test("compactSlices folds only slice-hot partitions; content and cold entries untouched") {
    val dir = tmp("sslice")
    SnapshotMerge.upsertUpdate(spark, dir,
      (0L until 10L).map(i => (i, s"t$i", i % 5)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    // pk=0 takes three MoR slices (hot); pk=1 takes one (cold)
    Seq((0L, "a", 0L), (5L, "b", 0L), (0L, "c", 0L)).zipWithIndex.foreach {
      case ((id, v, pk), _) =>
        SnapshotMerge.upsertMor(spark, dir,
          Seq((id, v, pk)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"),
          retain = 8)
    }
    SnapshotMerge.upsertMor(spark, dir,
      Seq((1L, "d", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    val schema = (0L until 1L).map(i => (i, "x", i)).toDF("id", "v", "pk").schema
    val before = SnapshotMerge.read(spark, dir, schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    val SnapshotStore.Resolved(_, entriesB, _, morsB, _, _, _) =
      store.resolveCurrent().get
    assert(morsB.count(_._1 == "pk=0") == 3 && morsB.count(_._1 == "pk=1") == 1)
    store.compactSlices(schema, Seq("pk"), maxSlices = 3)
    val SnapshotStore.Resolved(_, entriesA, dvsA, morsA, _, _, _) =
      store.resolveCurrent().get
    assert(morsA.map(_._1) == Seq("pk=1"),
      "only the slice-hot partition's slices materialize")
    assert(entriesA("pk=0") != entriesB("pk=0"), "hot partition rewritten")
    assert((entriesA - "pk=0") == (entriesB - "pk=0"),
      "cold partitions carried by reference, byte-identical")
    assert(SnapshotMerge.read(spark, dir, schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap == before)
    // below the threshold: a no-op commit-wise
    val vBefore = store.currentVersion().get
    store.compactSlices(schema, Seq("pk"), maxSlices = 3)
    assert(store.currentVersion().get == vBefore)
    assert(dvsA.nonEmpty, "fixture sanity: the MoR updates left tombstones to carry")
    // the BYTES trigger: pk=1's single slice is a large fraction of
    // its one-row base — a tight fraction folds it though its COUNT
    // (1) is far below maxSlices; content unchanged
    store.compactSlices(schema, Seq("pk"), maxSlices = 99,
      maxSliceBytesFrac = 0.1)
    val SnapshotStore.Resolved(_, _, _, morsC, _, _, _) =
      store.resolveCurrent().get
    assert(morsC.isEmpty, s"bytes trigger must fold the fat-slice partition: $morsC")
    assert(SnapshotMerge.read(spark, dir, schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap == before)
  }

  test("stale writer sending a pre-rename name is refused, not silently routed (ADVICE r18)") {
    val dir = tmp("sstale")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "p0", 0L)).toDF("id", "pic", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.renameColumn(spark, dir, "pic", "cover")
    // `pic` is no longer a logical field but IS cover's physical
    // column — a stale writer's bytes would land INSIDE cover through
    // the identity pass-through; every keyed front must fail loudly
    val stale = Seq((1L, "stale!", 1L)).toDF("id", "pic", "pk")
    Seq(
      () => SnapshotMerge.upsertUpdate(spark, dir, stale, Seq("id"), Seq("pk")),
      () => SnapshotMerge.upsertIgnore(spark, dir, stale, Seq("id"), Seq("pk")),
      () => { SnapshotMerge.upsertMor(spark, dir, stale, Seq("id"), Seq("pk")); () },
      () => { SnapshotMerge.upsertMorSparse(spark, dir,
        Seq((0L, "x", 0L)).toDF("id", "pic", "pk"),
        Seq("id"), Seq("pk"), Seq("pic")); () }
    ).foreach { f =>
      assert(intercept[IllegalArgumentException](f())
        .getMessage.contains("collide with a renamed field's physical"))
    }
    // the table is untouched and still reads through the rename
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("cover")).toMap ==
      Map(0L -> "p0"))
    // a frame in CURRENT logical names still flows
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((1L, "c1", 1L)).toDF("id", "cover", "pk"), Seq("id"), Seq("pk"))
    assert(SnapshotMerge.readEvolved(spark, dir).count() == 2L)
  }

  test("cross-talk names: re-adding a renamed column's OLD name routes every write path correctly") {
    // rename pic→cover leaves cover's bytes under physical `pic`;
    // re-adding `pic` as a brand-new logical column allocates a fresh
    // physical name — and from then on, frames in PHYSICAL space
    // legitimately contain a column (`pic`) that is ALSO another
    // field's logical name. A second translation (or the mapped-name
    // guard) on such frames would corrupt or misfire — this pins that
    // every front routes correctly through the cross-talk.
    val dir = tmp("sxtalk")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "p0", 0L), (1L, "p1", 1L)).toDF("id", "pic", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.renameColumn(spark, dir, "pic", "cover")
    // re-add the OLD name as a new logical column (CoW evolve)
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "c0", "n0", 0L)).toDF("id", "cover", "pic", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    val store = new SnapshotStore(spark, new Path(dir))
    val sch = store.currentSchema().get
    assert(sch.fieldNames.toSet == Set("id", "cover", "pk", "pic"))
    def readAll(): Map[Long, (String, String)] =
      SnapshotMerge.readEvolved(spark, dir).collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("cover"), r.getAs[String]("pic")))).toMap
    assert(readAll() == Map(0L -> (("c0", "n0")), 1L -> (("p1", null))),
      "cover keeps its renamed bytes; re-added pic is fresh, never cover's")
    // MoR evolve through the cross-talk space (phys frame carries a
    // column named `pic` that is also a logical name)
    SnapshotMerge.upsertMorEvolve(spark, dir,
      Seq((1L, "c1", "n1", 1L)).toDF("id", "cover", "pic", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    assert(readAll() == Map(0L -> (("c0", "n0")), 1L -> (("c1", "n1"))))
    // the keyed CoW and MoR fronts with LOGICAL names
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((2L, "c2", "n2", 0L)).toDF("id", "cover", "pic", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, "c0b", "n0b", 0L)).toDF("id", "cover", "pic", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    assert(readAll() == Map(0L -> (("c0b", "n0b")), 1L -> (("c1", "n1")),
      2L -> (("c2", "n2"))))
    // physical layout sanity: the latest slice carries `pic` (cover's
    // physical) AND `pic__r1` (the re-added column's), never a
    // doubled name
    val SnapshotStore.Resolved(_, _, _, mors, _, _, _) =
      store.resolveCurrent().get
    val sliceCols = spark.read.parquet(
      store.dataPath(mors.last._2.batch).toString).schema.fieldNames.toSet
    assert(sliceCols.contains("pic") && sliceCols.contains("pic__r1") &&
      !sliceCols.contains("cover"), s"physical slice columns: $sliceCols")
  }

  test("upsertMorEvolve: add-column + widening land through a zero-rewrite MoR commit") {
    val dir = tmp("smorev")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, 10, 0L), (1L, 20, 1L), (5L, 50, 0L)).toDF("id", "score", "pk"),
      Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.resolveCurrent().get.entries
    // incoming WIDENS score (int -> bigint) and ADDS note — through
    // merge-on-read: base entries must stay byte-identical
    SnapshotMerge.upsertMorEvolve(spark, dir,
      Seq((0L, 9999999999L, "n0", 0L), (2L, 3L, "n2", 1L))
        .toDF("id", "score", "note", "pk"),
      Seq("id"), Seq("pk"), retain = 4)
    val SnapshotStore.Resolved(_, after, dvs, mors, _, _, _) =
      store.resolveCurrent().get
    assert(after == before, "MoR evolve must not move a single base entry")
    assert(mors.map(_._1).toSet == Set("pk=0", "pk=1"),
      s"slices land on the touched partitions only: $mors")
    assert(dvs.size == 1, "the updated key's old version tombstones")
    assert(store.currentSchema().get.fieldNames.toSeq ==
      Seq("id", "score", "pk", "note"))
    assert(store.currentSchema().get("score").dataType ==
      org.apache.spark.sql.types.LongType)
    val got = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("score"), r.getAs[String]("note"))).toMap
    assert(got == Map(
      0L -> ((9999999999L, "n0")), 1L -> ((20L, null)),
      2L -> ((3L, "n2")), 5L -> ((50L, null))),
      s"old narrow files upcast + NULL-resolve under the evolved read: $got")
  }

  test("upsertEvolve with a narrower incoming keeps the schema; replaced rows null the absent column") {
    val dir = tmp("snarrow")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "a", "x0", 0L), (1L, "b", "x1", 1L)).toDF("id", "v", "extra", "pk"),
      Seq("id"), Seq("pk"))
    // incoming WITHOUT `extra`: schema stays the union (no column
    // drop), and because upsert is ROW replacement, the replaced key's
    // absent column becomes null — the defined (and pinned) semantics
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "a2", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentSchema().get.fieldNames.toSeq ==
      Seq("id", "v", "extra", "pk"))
    val got = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("v"), r.getAs[String]("extra"))).toMap
    assert(got == Map(0L -> (("a2", null)), 1L -> (("b", "x1"))))
  }

  test("upsertEvolve adopts a pre-evolution table via footer inference") {
    val dir = seed() // plain upsertUpdate: no schema file on disk
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentSchema().isEmpty)
    val widened = Seq((5L, "U5", 42L, 0L)).toDF("id", "v", "score", "pk")
    SnapshotMerge.upsertEvolve(spark, dir, widened, Seq("id"), Seq("pk"))
    // inferred (id, v, pk) + appended score; persisted from now on
    val names = store.currentSchema().get.fieldNames.toSet
    assert(names == Set("id", "v", "pk", "score"))
    val got = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("v"), Option(r.get(r.fieldIndex("score"))))).toMap
    assert(got(5L)._1 == "U5" && got(5L)._2.contains(42L))
    assert(got(1L)._2.isEmpty)
  }

  test("df.write.format(graft-snapshot): SaveMode mapping end-to-end") {
    import org.apache.spark.sql.SaveMode
    val dir = tmp("ssink")
    def write(df: org.apache.spark.sql.DataFrame, mode: SaveMode,
        extra: Map[String, String] = Map.empty): Unit = {
      val w = df.write.format("graft-snapshot")
        .option("path", dir).option("keys", "id").option("partitionBy", "pk")
        .mode(mode)
      extra.foreach { case (k, v) => w.option(k, v) }
      w.save()
    }
    // ErrorIfExists seeds a fresh table...
    write(targetRows, SaveMode.ErrorIfExists)
    assert(readVals(dir) == (0L until 10L).map(i => i -> s"t$i").toMap)
    // ...and refuses a committed one
    intercept[IllegalStateException] { write(targetRows, SaveMode.ErrorIfExists) }
    // Append = K2 upsert-update
    write(incomingRows, SaveMode.Append)
    val afterUpsert = readVals(dir)
    assert(afterUpsert(0L) == "U0" && afterUpsert(10L) == "N10"
      && afterUpsert(2L) == "t2")
    // Ignore = K1 (existing rows win)
    write(Seq((0L, "LOSER", 0L), (20L, "N20", 0L)).toDF("id", "v", "pk"),
      SaveMode.Ignore)
    val afterIgnore = readVals(dir)
    assert(afterIgnore(0L) == "U0" && afterIgnore(20L) == "N20")
    // Overwrite = full logical replacement: pk=1 not reproduced → gone
    write(Seq((100L, "W", 0L)).toDF("id", "v", "pk"), SaveMode.Overwrite)
    assert(readVals(dir) == Map(100L -> "W"))
    // evolve opt-in routes through schema evolution
    write(Seq((100L, "W2", 9L, 0L)).toDF("id", "v", "score", "pk"),
      SaveMode.Append, Map("evolve" -> "true"))
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentSchema().get.fieldNames.contains("score"))
    // missing required option is a clear error
    val e = intercept[IllegalArgumentException] {
      targetRows.write.format("graft-snapshot").option("path", dir)
        .mode(SaveMode.Append).save()
    }
    assert(e.getMessage.contains("keys"))
  }

  test("upsertIgnore without partition columns is refused before any job runs") {
    // with no partition columns the touched set is one empty suffix
    // that matches no manifest entry: the anti-join would read nothing
    // and call every committed key new
    val dir = seed()
    val (e, jobs) = JobCounter.jobsDuring(spark.sparkContext)(
      intercept[IllegalArgumentException] {
        SnapshotMerge.upsertIgnore(spark, dir, incomingRows, Seq("id"), Nil)
      })
    assert(e.getMessage.contains("snapshot tables are partitioned"), e.getMessage)
    assert(jobs == 0, s"the refused insert ran $jobs job(s)")
  }

  test("null and empty-string partition values are rejected up front") {
    val dir = tmp("sval")
    val empty = Seq((1L, "a", "")).toDF("id", "v", "pk")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, dir, empty, Seq("id"), Seq("pk"))
    }
    assert(e1.getMessage.contains("empty-string"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertIgnore(spark, dir, empty, Seq("id"), Seq("pk"))
    }
    assert(e2.getMessage.contains("empty-string"))
  }

  test("upserts collapse keys duplicated within incoming (target key uniqueness holds)") {
    val dup = Seq((50L, "X1", 0L), (50L, "X2", 0L)).toDF("id", "v", "pk")
    val ig = Merge.upsertIgnore(targetRows, dup, Seq("id"))
    assert(ig.where($"id" === 50L).count() == 1)
    val up = Merge.upsertUpdate(targetRows, dup, Seq("id"))
    assert(up.where($"id" === 50L).count() == 1)
    assert(up.count() == targetRows.count() + 1)
  }

  test("a retry after crashing between manifest write and pointer swap succeeds") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // crashed attempt: manifest for the NEXT version exists on disk,
    // pointer still at v1 — the stale manifest must not block a retry
    store.fs.create(new Path(dir + "/manifests/v-000000000002"), true).close()
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    assert(store.currentVersion().contains(2L))
    val want = Merge.upsertUpdate(targetRows, incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want)
  }

  test("a racing writer is fenced: the loser aborts cleanly and a retry lands both merges") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // writers A and B both read base version 1
    val (baseV, baseEntries) = store.current().get
    // A stages its replacement for pk=1 against that base (invisible:
    // nothing references the batch yet)
    val batchA = "b-000000000002-writera"
    val rowsA = Seq((21L, "A21", 1L)).toDF("id", "v", "pk")
    Merge.upsertUpdate(
      store.readPartitions(targetRows.schema, Set("pk=1")), rowsA, Seq("id"))
      .write.partitionBy("pk").parquet(store.dataPath(batchA).toString)
    // B commits first through the normal merge path
    val rowsB = Seq((20L, "B20", 0L)).toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, rowsB, Seq("id"), Seq("pk"))
    val afterB = readVals(dir)
    assert(afterB(20L) == "B20")
    // A's publish of the stale merge must fail, not last-write-win
    val entriesA = baseEntries - "pk=1" + ("pk=1" -> batchA)
    intercept[graft.sinks.SnapshotConcurrentWriteException] {
      store.commit(baseV + 1, entriesA, Some(baseV))
    }
    // B's commit is undamaged: same version, same data, manifest readable
    assert(store.currentVersion().contains(baseV + 1))
    assert(readVals(dir) == afterB, "fenced abort must leave the winner's snapshot intact")
    // A retries on the fresh snapshot — both writers' rows land
    SnapshotMerge.upsertUpdate(spark, dir, rowsA, Seq("id"), Seq("pk"))
    assert(readVals(dir) == afterB + (21L -> "A21"))
  }

  test("legacy suffix-less manifest layout still resolves, and the next merge fences on it") {
    val dir = tmp("slegacy")
    val store = new SnapshotStore(spark, new Path(dir))
    // hand-write a v1 table in the pre-fencing format: manifest file
    // and pointer body both the bare version name
    val batch = "b-000000000001-legacy"
    targetRows.write.partitionBy("pk").parquet(store.dataPath(batch).toString)
    val entries = store.listPartitionDirs(store.dataPath(batch)).map(_ -> batch).toMap
    val body = ("graft-snapshot 1" +:
      entries.toSeq.sortBy(_._1).map { case (s, b) => s"$s\t$b" }).mkString("\n")
    store.fs.mkdirs(new Path(dir, "manifests"))
    val m = store.fs.create(new Path(dir, "manifests/v-000000000001"), true)
    m.write(body.getBytes("UTF-8")); m.close()
    val p = store.fs.create(new Path(dir, "CURRENT"), true)
    p.write("v-000000000001".getBytes("UTF-8")); p.close()

    assert(store.currentVersion().contains(1L))
    assert(readVals(dir) == targetRows.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    assert(store.currentVersion().contains(2L))
    val want = Merge.upsertUpdate(targetRows, incomingRows, Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(readVals(dir) == want)
  }

  test("timestamp partition columns are rejected up front (suffix contract)") {
    val dir = tmp("sty")
    val rows = Seq((1L, "a", new java.sql.Timestamp(0L))).toDF("id", "v", "ts")
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("ts"))
    }
    assert(e.getMessage.contains("partition column 'ts'"))
  }

  test("string partition values keep their exact form (no numeric inference)") {
    val dir = tmp("sstr")
    // "00123" would infer as int 123 and read back as "123"
    val rows = Seq((1L, "a", "00123"), (2L, "b", "7x")).toDF("id", "v", "part")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("part"))
    val got = SnapshotMerge.read(spark, dir, rows.schema)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("part")).toMap
    assert(got == Map(1L -> "00123", 2L -> "7x"))
  }

  test("compaction folds all live partitions into one batch, data unchanged") {
    val dir = seed()
    SnapshotMerge.upsertUpdate(spark, dir, incomingRows, Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((2L, "U2", 2L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val before = readVals(dir)
    assert(store.current().get._2.values.toSet.size > 1, "fixture should be fragmented")
    store.compact(targetRows.schema, Seq("pk"))
    assert(store.current().get._2.values.toSet.size == 1, "one batch after compaction")
    assert(readVals(dir) == before, "compaction must not change the data")
    // compacting a compact table is a no-op version-wise
    val v = store.currentVersion()
    store.compact(targetRows.schema, Seq("pk"))
    assert(store.currentVersion() == v)
  }

  test("incremental compaction folds churn batches only; cold batch stays byte-identical") {
    val dir = seed() // batch 1: pk=0..4
    val store = new SnapshotStore(spark, new Path(dir))
    // hot-partition churn: two merges each touching one partition
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((100L, "H0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((101L, "H1", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val m1 = store.current().get._2
    assert(m1.values.toSet.size == 3, "seed batch + two churn batches")
    val coldBatch = m1("pk=2")
    assert(Set("pk=3", "pk=4").forall(m1(_) == coldBatch))
    val before = readVals(dir)

    // mechanical pin: the fold must never list the kept cold batch's
    // dirs — a corrupt decoy there fails any full-rewrite regression
    val decoy = java.nio.file.Paths.get(
      new Path(store.dataPath(coldBatch), "pk=2").toUri.getPath,
      "part-99999-decoy.snappy.parquet")
    java.nio.file.Files.write(decoy, "not a parquet file".getBytes)
    store.compactIncremental(targetRows.schema, Seq("pk"), maxBatches = 2)
    java.nio.file.Files.delete(decoy)

    val m2 = store.current().get._2
    assert(m2.values.toSet.size == 2, "churn folded into one batch beside the kept seed")
    assert(Set("pk=2", "pk=3", "pk=4").forall(m2(_) == coldBatch),
      "cold partitions must keep their original batch reference")
    assert(m2("pk=0") == m2("pk=1") && m2("pk=0") != m1("pk=0"),
      "hot partitions land together in the fold batch")
    assert(readVals(dir) == before, "folding must not change the data")

    // already within bounds → no-op version-wise
    val v = store.currentVersion()
    store.compactIncremental(targetRows.schema, Seq("pk"), maxBatches = 2)
    assert(store.currentVersion() == v)
  }

  test("manifest v2 records the bytes each merge wrote") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val entries = store.resolveCurrent().get.entries
    entries.foreach { case (suffix, e) =>
      assert(e.bytes > 0L, s"$suffix must record a positive size")
      val onDisk = store.fs.getContentSummary(
        new Path(store.dataPath(e.batch), suffix)).getLength
      assert(e.bytes == onDisk,
        s"$suffix manifest bytes ${e.bytes} != on-disk $onDisk")
    }
  }

  test("incremental compaction ranks batches from manifest bytes, not FS walks") {
    val dir = seed() // seed batch: pk=0..4, by far the most real bytes
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((100L, "H0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((101L, "H1", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    val SnapshotStore.Resolved(v, entries, _, _, _, _, _) =
      store.resolveCurrent().get
    val churn0 = entries("pk=0").batch
    val seedBatch = entries("pk=2").batch
    assert(Set(churn0, entries("pk=1").batch, seedBatch).size == 3)
    // Lie in the manifest: claim the one-partition pk=0 churn batch is
    // huge and everything else tiny. If compaction ranked from disk it
    // would keep the seed batch (10 rows vs 1); ranking from the
    // manifest it must keep the churn batch — which mechanically
    // proves the steady-state path does zero per-partition FS
    // metadata calls.
    val lied = entries.map {
      case (s, e) if e.batch == churn0 =>
        s -> graft.sinks.SnapshotStore.SnapshotEntry(e.batch, 1000000000L)
      case (s, e) => s -> graft.sinks.SnapshotStore.SnapshotEntry(e.batch, 1L)
    }
    store.commitSized(v + 1, lied, Some(v))
    val before = readVals(dir)
    store.compactIncremental(targetRows.schema, Seq("pk"), maxBatches = 2)
    val after = store.resolveCurrent().get.entries
    assert(after("pk=0").batch == churn0,
      "the manifest-ranked biggest batch must be kept as-is")
    assert(Set("pk=1", "pk=2", "pk=3", "pk=4").map(after(_).batch).size == 1 &&
      after("pk=1").batch != seedBatch,
      "the manifest-ranked small batches must fold into a fresh one")
    assert(readVals(dir) == before, "folding must not change the data")
  }

  test("incremental compaction re-records legacy sizes for KEPT batches too") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((100L, "H0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((101L, "H1", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    // Downgrade the whole manifest to v1 semantics (bytes unknown), as
    // a table inherited from a pre-size build would be.
    val SnapshotStore.Resolved(v, entries, _, _, _, _, _) =
      store.resolveCurrent().get
    store.commit(v + 1, entries.view.mapValues(_.batch).toMap, Some(v))
    assert(store.resolveCurrent().get.entries.values.forall(_.bytes < 0L))
    val before = readVals(dir)
    store.compactIncremental(targetRows.schema, Seq("pk"), maxBatches = 2)
    val after = store.resolveCurrent().get.entries
    // every entry — folded AND carried-forward — now records real bytes,
    // so the one-time getContentSummary fallback never repeats
    assert(after.values.forall(_.bytes > 0L),
      s"kept legacy entries must be re-recorded with sizes: $after")
    assert(readVals(dir) == before)
  }

  test("merge with empty incoming is a no-op commit-wise") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v = store.currentVersion()
    val empty = incomingRows.limit(0)
    SnapshotMerge.upsertUpdate(spark, dir, empty, Seq("id"), Seq("pk"))
    assert(store.currentVersion() == v)
    // every front a streaming sink calls commits nothing for an empty
    // frame, so the sinks need no emptiness pre-job of their own
    SnapshotMerge.applyCdc(spark, dir,
      empty.withColumn("seq", org.apache.spark.sql.functions.lit(1L))
        .withColumn("op", org.apache.spark.sql.functions.lit("upsert")),
      Seq("id"), "seq", "op", Seq("pk"))
    assert(store.currentVersion() == v, "applyCdc committed an empty frame")
    assert(SnapshotMerge.upsertMorSparse(spark, dir, empty, Seq("id"), Seq("pk"),
      Seq("v")).isEmpty)
    assert(SnapshotMerge.merge(spark, dir, empty, Seq("pk"))(
      (target, inc) => Merge.upsertUpdate(target, inc, Seq("id"))).isEmpty)
    assert(store.currentVersion() == v)
    assert(readVals(dir) == targetRows.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
  }
}
