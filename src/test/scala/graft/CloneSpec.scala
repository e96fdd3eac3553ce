package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Shallow CLONE pins (r20, VERDICT r19 #3): a metadata-only commit
  * under a new root that re-references the source's immutable batches
  * by absolute path — clone reads = source at clone point, both sides
  * diverge independently, and the pinned vacuum contract (clone
  * registry at the source) keeps a source vacuum from ever breaking a
  * clone.
  */
class CloneSpec extends SparkFunSuite {
  import spark.implicits._

  private def rows = (0L until 20L).map(i => (i, s"v$i", i % 4)).toDF("id", "v", "pk")

  private def seed(): (String, SnapshotStore) = {
    val dir = tmp("clsrc")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"), retain = 8)
    // leave a DV, a MoR slice and a sparse patch outstanding so the
    // clone must carry ALL reference kinds
    val store = new SnapshotStore(spark, new Path(dir))
    store.deleteWhere(rows.schema, col("id") === 19L)
    SnapshotMerge.upsertMor(spark, dir,
      Seq((3L, "m3", 3L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((4L, "p4", 0L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), Seq("v"), retain = 8)
    (dir, store)
  }

  private def vals(dir: String): Map[Long, String] =
    SnapshotMerge.read(spark, dir, rows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  test("clone reads = source at clone point (DVs, slices, sparse patches carried); zero data copied") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    store.cloneTo(new Path(dst))
    val expected = vals(src)
    assert(vals(dst) == expected)
    assert(expected(3L) == "m3" && expected(4L) == "p4" && !expected.contains(19L))
    // shallow: the clone's data dir holds NOTHING (all refs external)
    assert(!new java.io.File(s"$dst/data").exists(),
      "a shallow clone must not copy data")
    // and the clone keeps the source's version counter (sparse-gate
    // monotonicity), not 1
    val tgt = new SnapshotStore(spark, new Path(dst))
    assert(tgt.currentVersion() == store.currentVersion())
  }

  test("post-clone writes diverge: invisible to the other side; clone's own writes win its sparse gate") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    store.cloneTo(new Path(dst))
    SnapshotMerge.upsertUpdate(spark, src,
      Seq((0L, "SRC", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    // the clone overwrites the key the SOURCE had sparse-patched: the
    // clone's commit version must postdate the inherited patch or the
    // patch would revert it (the version-counter continuation pin)
    SnapshotMerge.upsertMor(spark, dst,
      Seq((4L, "CLONE", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    assert(vals(src)(0L) == "SRC" && vals(src)(4L) == "p4")
    assert(vals(dst)(0L) == "v0" && vals(dst)(4L) == "CLONE")
  }

  test("source vacuum never breaks a clone (registry pin); dropCloneRegistry releases; clone vacuum never reaches source") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    val cloneId = store.cloneTo(new Path(dst))
    val expected = vals(dst)
    // rewrite the WHOLE source and vacuum hard: without the registry
    // the old batches (all external refs of the clone) would die
    SnapshotMerge.replaceAll(spark, src,
      Seq((100L, "NEW", 0L)).toDF("id", "v", "pk"), Seq("pk"))
    (1 to 3).foreach(_ => SnapshotMerge.upsertUpdate(spark, src,
      Seq((100L, "NEW", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"),
      retain = 1))
    store.vacuum(1)
    assert(vals(dst) == expected,
      "source vacuum deleted batches a clone references — the registry pin failed")
    // clone-side writes + vacuum stay inside the clone's root
    SnapshotMerge.upsertUpdate(spark, dst,
      Seq((0L, "D", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 1)
    new SnapshotStore(spark, new Path(dst)).vacuum(1)
    assert(vals(dst)(1L) == "v1", "clone must keep reading source batches")
    // the operator's audit view lists the pin with its names
    val regs = store.cloneRegistries()
    assert(regs.keySet == Set(cloneId) && regs(cloneId).nonEmpty)
    // release the pin: the next source vacuum may collect — the clone
    // is now (deliberately) broken, which is the documented contract
    store.dropCloneRegistry(cloneId)
    assert(store.cloneRegistries().isEmpty)
    store.vacuum(1)
    assert(!new java.io.File(s"$dst/clones").exists())
  }

  test("clone of a CLONE pins at the ORIGINAL root; evolved schema + constraints travel") {
    val dir = tmp("clev")
    SnapshotMerge.upsertEvolve(spark, dir,
      (0L until 8L).map(i => (i, i * 1.0, i % 2)).toDF("id", "x", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x >= 0")
    val store = new SnapshotStore(spark, new Path(dir))
    val c1 = tmp("clc1"); val c2 = tmp("clc2")
    store.cloneTo(new Path(c1))
    new SnapshotStore(spark, new Path(c1)).cloneTo(new Path(c2))
    // grandchild's refs point at the ORIGINAL batches and its registry
    // pin landed at the ORIGINAL root (c1 has no data of its own)
    def regList(d: String): Seq[String] =
      Option(new java.io.File(s"$d/clones").list()).fold(Seq.empty[String])(
        _.toSeq.filter(_.startsWith("clone-")))
    assert(regList(dir).length == 2,
      s"both clones must pin at the origin, got ${regList(dir)}")
    assert(regList(c1).isEmpty)
    assert(SnapshotMerge.readEvolved(spark, c2).count() == 8)
    // the constraint rides the cloned manifest: violating writes refuse
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, c2,
        Seq((1L, -5.0, 1L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"))
    }.getMessage.contains("x_pos"))
    // schema evolution works independently on the clone
    SnapshotMerge.upsertEvolve(spark, c2,
      Seq((9L, 1.0, 1L, "w")).toDF("id", "x", "pk", "w"),
      Seq("id"), Seq("pk"), retain = 8)
    assert(SnapshotMerge.readEvolved(spark, c2).columns.toSet ==
      Set("id", "x", "pk", "w"))
    assert(SnapshotMerge.readEvolved(spark, dir).columns.toSet ==
      Set("id", "x", "pk"), "the source must not see the clone's evolve")
  }

  test("time travel and the change feed work on the clone from its clone-point version") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    store.cloneTo(new Path(dst))
    val tgt = new SnapshotStore(spark, new Path(dst))
    val v0 = tgt.currentVersion().get
    val atClone = vals(dst)
    SnapshotMerge.upsertUpdate(spark, dst,
      Seq((0L, "D0", 0L), (50L, "NEW", 2L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    // time travel back to the clone point (the clone's version log
    // starts there — the commit wrote its winning manifest entry)
    val travelled = tgt.readAt(v0, rows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(travelled == atClone)
    // the change feed across the clone's own first write: exactly the
    // clone-side changes, nothing from the inherited history
    val changes = tgt.readChangesBetween(v0, v0 + 1, rows.schema, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change"))).toSet
    assert(changes == Set((0L, "update"), (50L, "insert")), changes)
  }

  test("forced race: a source rewrite+vacuum inside the clone's pin window aborts retryably, never a broken clone") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    @volatile var fired = false
    store.beforeClonePinHook = () => if (!fired) {
      fired = true
      // the hostile interleave: between the clone's snapshot
      // resolution and its registry pins, the source rewrites
      // EVERYTHING and vacuums the resolved batches away
      SnapshotMerge.replaceAll(spark, src,
        Seq((100L, "NEW", 0L)).toDF("id", "v", "pk"), Seq("pk"), retain = 1)
      store.vacuum(1)
    }
    val e = intercept[graft.sinks.SnapshotConcurrentWriteException] {
      store.cloneTo(new Path(dst))
    }
    assert(e.getMessage.contains("vacuumed during the clone"), e.getMessage)
    // no half-clone left behind, and the failed attempt's pins are
    // released (no over-retention leak from the aborted clone)
    assert(!new java.io.File(s"$dst/CURRENT").exists())
    assert(store.cloneRegistries().isEmpty, store.cloneRegistries())
    // the retry resolves the winner's state and lands
    store.cloneTo(new Path(dst))
    assert(vals(dst) == Map(100L -> "NEW"))
  }

  test("restore on the clone works at/after the clone point and fails clearly below it") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    store.cloneTo(new Path(dst))
    val tgt = new SnapshotStore(spark, new Path(dst))
    val v0 = tgt.currentVersion().get
    val atClone = vals(dst)
    SnapshotMerge.upsertUpdate(spark, dst,
      Seq((0L, "D0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    tgt.restore(v0)
    assert(vals(dst) == atClone)
    // below the clone point there is no provable winner in the
    // clone's own history — the source is the place to time travel
    intercept[Exception](tgt.restore(v0 - 1))
  }

  test("refuses a non-empty target; compaction on the clone materializes external refs away") {
    val (src, store) = seed()
    val dst = tmp("cldst")
    store.cloneTo(new Path(dst))
    intercept[IllegalArgumentException](store.cloneTo(new Path(dst)))
    val tgt = new SnapshotStore(spark, new Path(dst))
    val expected = vals(dst)
    tgt.compact(rows.schema, Seq("pk"))
    assert(vals(dst) == expected)
    assert(new java.io.File(s"$dst/data").exists(),
      "compaction must localize the clone's data")
    // after localization + registry release + source vacuum, the clone
    // stands alone
    val cur = tgt.resolveCurrent().get
    assert(cur.entries.values.forall(e => !e.batch.startsWith("/")),
      s"post-compact entries must be local: ${cur.entries.values.take(3)}")
  }
}
