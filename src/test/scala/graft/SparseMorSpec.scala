package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** COLUMN-SPARSE merge-on-read pins (r19): an update restricted to
  * `updateCols` stages only key+partition+changed columns (manifest
  * `#smor` lines, format v4) with NO tombstones and NO base-entry
  * movement; reads resolve patches by a version-gated left join. The
  * reference's hottest write updates 2 of 5 columns per cron cycle
  * (`db/occurrence.py:46-48`) — at wide schemas the full-row slice
  * re-amplifies exactly what merge-on-read exists to avoid.
  */
class SparseMorSpec extends SparkFunSuite {
  import spark.implicits._

  // a deliberately WIDE row: the write-amplification fixture
  private def wideRows: DataFrame =
    (0L until 20L).map(i => (i, i % 4, s"a$i", s"b$i", s"c$i", s"d$i",
      s"e$i", s"f$i", s"g$i", s"h$i"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")

  private def seed(): String = {
    val dir = tmp("smor")
    SnapshotMerge.upsertUpdate(spark, dir, wideRows, Seq("id"), Seq("pk"))
    dir
  }

  private def readAll(dir: String): Map[Long, Seq[String]] =
    SnapshotMerge.read(spark, dir, wideRows.schema).collect()
      .map(r => r.getAs[Long]("id") ->
        Seq("a", "b", "c", "d", "e", "f", "g", "h").map(r.getAs[String]))
      .toMap

  test("sparse upsert patches ONLY updateCols; other columns keep current values") {
    val dir = seed()
    // incoming carries GARBAGE in the non-update columns — the sparse
    // path must never look at them for matched keys
    val inc = Seq((0L, 0L, "XXX", "B0!", "XXX", "XXX", "XXX", "XXX", "XXX", "XXX"),
      (5L, 1L, "XXX", "B5!", "XXX", "XXX", "XXX", "XXX", "XXX", "XXX"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")
    SnapshotMerge.upsertMorSparse(spark, dir, inc, Seq("id"), Seq("pk"), Seq("b"))
    val got = readAll(dir)
    assert(got(0L) == Seq("a0", "B0!", "c0", "d0", "e0", "f0", "g0", "h0"))
    assert(got(5L) == Seq("a5", "B5!", "c5", "d5", "e5", "f5", "g5", "h5"))
    assert(got(1L) == Seq("a1", "b1", "c1", "d1", "e1", "f1", "g1", "h1"),
      "untouched keys must be untouched")
    assert(got.size == 20)
  }

  test("unmatched keys INSERT whole rows in the same commit") {
    val dir = seed()
    val inc = Seq((0L, 0L, "XXX", "B0!", "XXX", "XXX", "XXX", "XXX", "XXX", "XXX"),
      (100L, 0L, "A+", "B+", "C+", "D+", "E+", "F+", "G+", "H+"),
      (200L, 7L, "A7", "B7", "C7", "D7", "E7", "F7", "G7", "H7"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")
    SnapshotMerge.upsertMorSparse(spark, dir, inc, Seq("id"), Seq("pk"), Seq("b"))
    val got = readAll(dir)
    assert(got(100L) == Seq("A+", "B+", "C+", "D+", "E+", "F+", "G+", "H+"),
      "a new key inserts the FULL incoming row")
    assert(got(200L).head == "A7", "a brand-new partition inserts too")
    assert(got(0L) == Seq("a0", "B0!", "c0", "d0", "e0", "f0", "g0", "h0"))
    val store = new SnapshotStore(spark, new Path(dir))
    val cur = store.resolveCurrent().get
    assert(cur.entries.contains("pk=7"), "new partition becomes a base entry")
    assert(cur.smors.map(_.suffix).toSet == Set("pk=0"))
    assert(cur.mors.map(_._1).toSet == Set("pk=0"),
      "the matched-key patch and the insert slice are separate batches")
    assert(cur.smors.head.batch != cur.mors.head._2.batch)
  }

  test("sparse slice stages ~width-fraction of a full MoR slice's bytes; no DV, no base movement") {
    val dir = seed()
    val dirFull = tmp("smorfull")
    SnapshotMerge.upsertUpdate(spark, dirFull, wideRows, Seq("id"), Seq("pk"))
    val inc = (0L until 10L).map(i => (i, i % 4, "X", s"B$i!", "X", "X", "X",
      "X", "X", "X")).toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")
    val store = new SnapshotStore(spark, new Path(dir))
    val before = store.resolveCurrent().get
    SnapshotMerge.upsertMorSparse(spark, dir, inc, Seq("id"), Seq("pk"), Seq("b"))
    SnapshotMerge.upsertMor(spark, dirFull, inc, Seq("id"), Seq("pk"))
    val cur = store.resolveCurrent().get
    assert(cur.entries == before.entries, "zero base entries may move")
    assert(cur.dvs.isEmpty, "a pure patch needs no tombstones")
    val sparseBytes = cur.smors.map(_.bytes).sum
    val fullBytes = new SnapshotStore(spark, new Path(dirFull))
      .resolveCurrent().get.mors.map(_._2.bytes).sum
    assert(sparseBytes < fullBytes,
      s"sparse staged $sparseBytes B must undercut full-row $fullBytes B")
  }

  test("patches COMPOSE column-wise across commits; later same-column patch wins") {
    val dir = seed()
    def patch(cols: Seq[String], rows: DataFrame): Unit =
      SnapshotMerge.upsertMorSparse(spark, dir, rows, Seq("id"), Seq("pk"), cols)
    patch(Seq("b"), Seq((0L, 0L, "X", "B1st", "X", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    patch(Seq("c"), Seq((0L, 0L, "X", "X", "Cnew", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    patch(Seq("b"), Seq((0L, 0L, "X", "B2nd", "X", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    val got = readAll(dir)(0L)
    assert(got == Seq("a0", "B2nd", "Cnew", "d0", "e0", "f0", "g0", "h0"),
      s"got $got — b takes the LAST patch, c composes, the rest keep seed values")
  }

  test("a FULL MoR overwrite after a patch wins entirely (stale patch is a no-op)") {
    val dir = seed()
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", "Bpatch", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"))
    SnapshotMerge.upsertMor(spark, dir,
      Seq((0L, 0L, "Afull", "Bfull", "Cfull", "Dfull", "Efull", "Ffull",
        "Gfull", "Hfull")).toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"))
    assert(readAll(dir)(0L) ==
      Seq("Afull", "Bfull", "Cfull", "Dfull", "Efull", "Ffull", "Gfull", "Hfull"),
      "the version gate must stop the OLDER patch from mangling the newer full row")
  }

  test("NULLs in updateCols write through (SQL UPDATE, not coalesce)") {
    val dir = seed()
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", null.asInstanceOf[String], "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"))
    val r = SnapshotMerge.read(spark, dir, wideRows.schema)
      .where(col("id") === 0L).collect().head
    assert(r.isNullAt(r.fieldIndex("b")), "explicit NULL must land")
    assert(r.getAs[String]("a") == "a0")
  }

  test("time travel reads below, at, and above a sparse commit; CDC sees the patch") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", "Bnew", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"), retain = 3)
    val pre = store.readAt(v1, wideRows.schema)
      .where(col("id") === 0L).collect().head
    assert(pre.getAs[String]("b") == "b0", "below the patch: seed value")
    val post = store.readAt(v1 + 1, wideRows.schema)
      .where(col("id") === 0L).collect().head
    assert(post.getAs[String]("b") == "Bnew")
    val changes = store.readChangesBetween(v1, v1 + 1, wideRows.schema,
      Seq("id"), includeUpdatePreimages = true).collect()
      .map(r => (r.getAs[String]("_change"), r.getAs[Long]("id"), r.getAs[String]("b")))
    assert(changes.toSet == Set(("update", 0L, "Bnew"), ("update_preimage", 0L, "b0")),
      s"got ${changes.toSeq} — a sparse commit must diff as exactly one update")
  }

  test("the change feed skips the patches of unchanged partitions; rows match a diff of full reads") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    def row(id: Long, pk: Long, tag: String) =
      (id, pk, s"a$tag", s"b$tag", s"c$tag", s"d$tag", s"e$tag", s"f$tag", s"g$tag", s"h$tag")
    // a patch of pk=1, then a full-row commit of pk=0 only
    SnapshotMerge.upsertMorSparse(spark, dir, Seq(row(1L, 1L, "!")).toDF(wideRows.columns: _*),
      Seq("id"), Seq("pk"), Seq("b"), retain = 4)
    val from = store.currentVersion().get
    val patchBatches = store.resolveCurrent().get.smors.map(_.batch)
    assert(patchBatches.nonEmpty, "fixture: an outstanding patch")
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq(row(0L, 0L, "?"), row(100L, 0L, "+")).toDF(wideRows.columns: _*),
      Seq("id"), Seq("pk"), retain = 4)
    val to = store.currentVersion().get
    val diff = store.readChangesBetween(from, to, wideRows.schema, Seq("id"))
    val read = diff.inputFiles.filter(f => patchBatches.exists(f.contains))
    assert(read.isEmpty, s"the unchanged partition's patch was read: ${read.toSeq}")
    def cells(r: org.apache.spark.sql.Row) = wideRows.columns.toSeq.map(r.getAs[Any])
    def full(v: Long) = store.readAt(v, wideRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> cells(r)).toMap
    val (before, after) = (full(from), full(to))
    val want = (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(r)) => Some("insert" -> r)
        case (Some(r), None) => Some("delete" -> r)
        case (Some(b), Some(a)) if a != b => Some("update" -> a)
        case _ => None
      }
    }
    assert(want.map(_._1) == Set("insert", "update"), s"fixture: $want")
    assert(diff.collect().map(r => r.getAs[String]("_change") -> cells(r)).toSet == want)
  }

  test("deleteWhere evaluates over PATCHED values; killing the base row kills the patched row") {
    val dir = seed()
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", "DOOMED", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"))
    val n = SnapshotMerge.deleteWhere(spark, dir, wideRows.schema,
      col("b") === "DOOMED")
    assert(n == 1L, "the predicate only matches the PATCHED value")
    assert(!readAll(dir).contains(0L), "the patched row must be gone entirely")
    assert(readAll(dir).size == 19)
  }

  test("manifest format: one header with sparse slices and after compact; depth counts both slice kinds") {
    val dir = seed()
    def header(): String = {
      val name = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/CURRENT")).trim
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/manifests/$name")).linesIterator.next()
    }
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", "B!", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"))
    assert(header() == "graft-snapshot 6")
    val before = readAll(dir)
    val store = new SnapshotStore(spark, new Path(dir))
    // one full slice + one sparse slice on pk=0 → depth 2 triggers
    // (id=4 lives in pk=0 — key-determines-partition, as everywhere)
    SnapshotMerge.upsertMor(spark, dir,
      Seq((4L, 0L, "a4new", "B4mor", "c4", "d4", "e4", "f4", "g4", "h4"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"))
    store.compactSlices(wideRows.schema, Seq("pk"), maxSlices = 2)
    val cur = store.resolveCurrent().get
    assert(cur.smors.isEmpty && cur.mors.isEmpty,
      "both slice kinds fold together once the combined depth trips")
    val after = readAll(dir)
    assert(after == before + (4L -> Seq("a4new", "B4mor", "c4", "d4", "e4", "f4",
      "g4", "h4")), "compaction must not change content")
    assert(header() == "graft-snapshot 6")
  }

  test("every read front returns the same rows over a base entry, a #mor slice, a #smor patch and a DV") {
    val dir = tmp("smorfronts")
    val rows = (0L until 20L).map(i => (i, i % 2, i.toDouble, s"s$i")).toDF("id", "pk", "v", "s")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val store = new SnapshotStore(spark, new Path(dir))
    store.writeBatchBloom(store.resolveCurrent().get.entries.values.head.batch,
      rows.schema, Seq("pk"), "id")
    // a full-row MoR update (a #mor slice plus a DV on its old copy),
    // a sparse patch of `s`, and a delete (a second DV)
    SnapshotMerge.upsertMor(spark, dir, Seq((3L, 1L, 30.0, "m3")).toDF("id", "pk", "v", "s"),
      Seq("id"), Seq("pk"))
    SnapshotMerge.upsertMorSparse(spark, dir, Seq((4L, 0L, -1.0, "p4")).toDF("id", "pk", "v", "s"),
      Seq("id"), Seq("pk"), Seq("s"))
    store.deleteWhere(rows.schema, col("id") === 7L)
    val cur = store.resolveCurrent().get
    assert(cur.mors.nonEmpty && cur.smors.nonEmpty && cur.dvs.size == 2)
    def sorted(df: DataFrame): Seq[(Long, Long, Double, String)] =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("pk"),
        r.getAs[Double]("v"), r.getAs[String]("s"))).toSeq.sorted
    val want = sorted(store.read(rows.schema))
    assert(want.map(_._1) == (0L until 20L).filterNot(_ == 7L))
    assert(want.contains((3L, 1L, 30.0, "m3")) && want.contains((4L, 0L, 4.0, "p4")))
    Seq(
      "SnapshotMerge.read" -> SnapshotMerge.read(spark, dir, rows.schema),
      "readAt(current)" -> store.readAt(cur.version, rows.schema),
      "readPartitions" -> store.readPartitions(rows.schema, cur.entries.keySet),
      "readRange" -> store.readRange(rows.schema, "v", -1e9, 1e9),
      "readKeyLookup" -> store.readKeyLookup(rows.schema, "id", 0L until 20L),
      "readBoxFiles" -> store.readBoxFiles(rows.schema, Seq(("v", -1e9, 1e9)))
    ).foreach { case (front, df) => assert(sorted(df) == want, front) }
  }

  test("readRange stays exact when a patch moves a value INTO the queried band") {
    val dir = tmp("smorrange")
    val rows = (0L until 20L).map(i => (i, i % 2, i.toDouble)).toDF("id", "pk", "v")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    // pk=0's band is [0,18]; patch id=0 to 1000, then query [900,1100]
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, 1000.0)).toDF("id", "pk", "v"), Seq("id"), Seq("pk"), Seq("v"))
    val store = new SnapshotStore(spark, new Path(dir))
    val got = store.readRange(rows.schema, "v", 900.0, 1100.0).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v")))
    assert(got.toSeq == Seq((0L, 1000.0)),
      "the pre-patch band must NOT prune the partition the patch moved a value into")
  }

  test("forced race: sparse loser rebases onto a racing full MoR of the same key") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    @volatile var fired = false
    store.beforeMorCommitHook = () => {
      if (!fired) {
        fired = true
        SnapshotMerge.upsertMor(racer,
          Seq((0L, 0L, "Ar", "Br", "Cr", "Dr", "Er", "Fr", "Gr", "Hr"))
            .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
          Seq("id"), Seq("pk"), retain = 4)
      }
    }
    val (v, conflicts) = SnapshotMerge.retrying(
      Seq((0L, 0L, "X", "Bmine", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      maxAttempts = 5)(inc => SnapshotMerge.upsertMorSparse(store, inc,
      Seq("id"), Seq("pk"), Seq("b"), retain = 4))
    assert(conflicts == 1 && v.isDefined)
    // sequential semantics: full overwrite first, THEN the patch of b
    assert(readAll(dir)(0L) == Seq("Ar", "Bmine", "Cr", "Dr", "Er", "Fr", "Gr", "Hr"))
  }

  test("autoCompactMaxSlices: stacked sparse upserts never exceed the configured depth") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    (0 until 6).foreach { i =>
      SnapshotMerge.upsertMorSparse(spark, dir,
        Seq((0L, 0L, "X", s"B$i", "X", "X", "X", "X", "X", "X"))
          .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
        Seq("id"), Seq("pk"), Seq("b"), autoCompactMaxSlices = 3)
      val depth = store.resolveCurrent().get.smors.count(_.suffix == "pk=0")
      assert(depth < 3, s"after upsert $i depth is $depth — the knob must hold the line")
    }
    assert(readAll(dir)(0L)(1) == "B5", "the last patch must survive every fold")
  }

  test("dropColumn refuses a sparse join key; dropping a PATCHED column is fine") {
    val dir = seed()
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((0L, 0L, "X", "B!", "X", "X", "X", "X", "X", "X"))
        .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"),
      Seq("id"), Seq("pk"), Seq("b"))
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.dropColumn(spark, dir, "id")
    }
    assert(e.getMessage.contains("join key of outstanding sparse"))
    SnapshotMerge.dropColumn(spark, dir, "b")
    val evolved = SnapshotMerge.readEvolved(spark, dir)
    assert(!evolved.columns.contains("b"))
    assert(evolved.where(col("id") === 0L).collect().head.getAs[String]("a") == "a0")
  }

  test("MAP-typed patched columns resolve through the latest-patch argmax (struct-max would refuse)") {
    val dir = tmp("smormap")
    val rows = Seq((0L, 0L, Map("a" -> 1), "x0"), (1L, 0L, Map("b" -> 2), "x1"))
      .toDF("id", "pk", "m", "v")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"))
    def patch(m: Map[String, Int]): Unit =
      SnapshotMerge.upsertMorSparse(spark, dir,
        Seq((0L, 0L, m, "IGNORED")).toDF("id", "pk", "m", "v"),
        Seq("id"), Seq("pk"), Seq("m"))
    // two stacked SAME-signature patches force the per-key version
    // argmax over a map column — the case the max+self-join spelling
    // exists for (map types have no ordering; max(struct(ver, m))
    // would throw)
    patch(Map("z" -> 9))
    patch(Map("z" -> 10, "w" -> 1))
    val got = SnapshotMerge.read(spark, dir, rows.schema)
      .where(col("id") === 0L).collect().head
    assert(got.getAs[Map[String, Int]]("m") == Map("z" -> 10, "w" -> 1),
      "the LATER patch's whole map value wins")
    assert(got.getAs[String]("v") == "x0", "unpatched columns keep seed values")
    // the fold materializes map patches content-invariantly (the
    // rewrite path writes the resolved map column) and leaves zero
    // slice lines behind
    val store = new SnapshotStore(spark, new org.apache.hadoop.fs.Path(dir))
    store.compactSlices(rows.schema, Seq("pk"), maxSlices = 1)
    val cur = store.resolveCurrent().get
    assert(cur.smors.isEmpty && cur.mors.isEmpty)
    val folded = SnapshotMerge.read(spark, dir, rows.schema)
      .where(col("id") === 0L).collect().head
    assert(folded.getAs[Map[String, Int]]("m") == Map("z" -> 10, "w" -> 1))
    assert(folded.getAs[String]("v") == "x0")
  }

  test("cross-signature interleave: a group's stale per-key-latest never reverts a newer shared-column patch") {
    val dir = seed()
    def patch(cols: Seq[String], rows: DataFrame): Unit =
      SnapshotMerge.upsertMorSparse(spark, dir, rows, Seq("id"), Seq("pk"), cols)
    // the r19 close-review scenario: signature {b} patches key 0 at
    // v2; signature {b,c} patches key 0 at v3 (the NEWEST b for key
    // 0); signature {b} patches a DIFFERENT key at v4, dragging its
    // group's max version past v3. A global group order would apply
    // {b}'s per-key-latest (v2) after {b,c} and revert key 0's b to
    // the stale value — the per-column effective-version gate must
    // keep v3's.
    patch(Seq("b"), Seq((0L, 0L, "X", "B-v2-stale", "X", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    patch(Seq("b", "c"), Seq((0L, 0L, "X", "B-v3-newest", "C-v3", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    patch(Seq("b"), Seq((4L, 0L, "X", "B4-v4", "X", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h"))
    val got = readAll(dir)
    assert(got(0L)(1) == "B-v3-newest",
      s"key 0's b reverted to a stale patch: ${got(0L)}")
    assert(got(0L)(2) == "C-v3")
    assert(got(4L)(1) == "B4-v4")
  }

  test("autoCompact through a NARROW patch-only frame keeps every table column") {
    val dir = seed()
    // a patch-only cron caller legally sends just keys+partCols+
    // updateCols; the autopilot's fold must rewrite hot partitions
    // under the TABLE schema (footer-inferred here — never persisted),
    // not the narrow caller frame (r19 close review: the narrow-frame
    // fold silently dropped the other columns from the new base)
    (0 until 3).foreach { i =>
      SnapshotMerge.upsertMorSparse(spark, dir,
        Seq((0L, 0L, s"B$i")).toDF("id", "pk", "b"),
        Seq("id"), Seq("pk"), Seq("b"), autoCompactMaxSlices = 2)
    }
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.resolveCurrent().get.smors.count(_.suffix == "pk=0") < 2,
      "the fold must have fired")
    val got = readAll(dir)
    assert(got(0L) == Seq("a0", "B2", "c0", "d0", "e0", "f0", "g0", "h0"),
      s"folded base lost columns: ${got(0L)}")
    assert(got(4L) == Seq("a4", "b4", "c4", "d4", "e4", "f4", "g4", "h4"))
  }

  test("re-applying the same sparse batch converges (streaming retry idempotence)") {
    val dir = seed()
    val wave = Seq(
      (0L, 0L, "X", "B0!", "X", "X", "X", "X", "X", "X"),
      (100L, 0L, "A+", "B+", "C+", "D+", "E+", "F+", "G+", "H+"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")
    SnapshotMerge.upsertMorSparse(spark, dir, wave, Seq("id"), Seq("pk"), Seq("b"))
    val once = readAll(dir)
    // the post-commit-crash retry of a streaming micro-batch: the
    // previously-INSERTED key is now live, so the retry patches it
    // with identical values; the previously-patched key re-patches —
    // content must converge
    SnapshotMerge.upsertMorSparse(spark, dir, wave, Seq("id"), Seq("pk"), Seq("b"))
    assert(readAll(dir) == once, "double-apply must be content-idempotent")
    assert(once(100L) == Seq("A+", "B+", "C+", "D+", "E+", "F+", "G+", "H+"))
    assert(once(0L)(1) == "B0!")
  }

  test("updateCols validation: keys, partition columns, missing columns all refuse") {
    val dir = seed()
    val inc = Seq((0L, 0L, "X", "B!", "X", "X", "X", "X", "X", "X"))
      .toDF("id", "pk", "a", "b", "c", "d", "e", "f", "g", "h")
    assert(intercept[IllegalArgumentException](SnapshotMerge.upsertMorSparse(
      spark, dir, inc, Seq("id"), Seq("pk"), Seq("id")))
      .getMessage.contains("key or partition"))
    assert(intercept[IllegalArgumentException](SnapshotMerge.upsertMorSparse(
      spark, dir, inc, Seq("id"), Seq("pk"), Seq("pk")))
      .getMessage.contains("key or partition"))
    assert(intercept[IllegalArgumentException](SnapshotMerge.upsertMorSparse(
      spark, dir, inc.drop("b"), Seq("id"), Seq("pk"), Seq("b")))
      .getMessage.contains("missing column"))
    // the patch resolver's OWN working columns (__pv carries the patch
    // version through the argmax join, __sv_* the per-column effective
    // versions) must refuse like every other working name — a real
    // column named __pv would be silently overwritten during
    // resolution instead (ADVICE r19)
    assert(intercept[IllegalArgumentException](SnapshotMerge.upsertMorSparse(
      spark, dir, inc.withColumn("__pv", lit(1L)),
      Seq("id"), Seq("pk"), Seq("b")))
      .getMessage.contains("__pv"))
    assert(intercept[IllegalArgumentException](SnapshotMerge.upsertMorSparse(
      spark, dir, inc.withColumn("__sv_b", lit(1L)),
      Seq("id"), Seq("pk"), Seq("b")))
      .getMessage.contains("__sv"))
  }
}
