package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.sinks.{SnapshotConcurrentWriteException, SnapshotMerge, SnapshotStore}

/** Schema lost-update race pins (r19, ADVICE r18 medium).
  *
  * Window 1 — schema-read → commit: writer A resolves the schema,
  * writer B's evolve commits, A's merge re-resolves (fence passes —
  * it never saw A's earlier read) and A's commit embeds a union
  * against the STALE schema, silently dropping B's column. Closed by
  * `schemaBase`: the commit paths abort with the retryable conflict
  * when the table moved past the version the schema was resolved at.
  *
  * Window 2 — commit → schema write: a schema written after its
  * commit lags it, so a reader (or another evolve) between the two
  * sees the PREVIOUS schema for a committed version. Closed by
  * keeping the schema JSON in the manifest itself (`#schema` line,
  * atomic with the pointer swap) and nowhere else.
  */
class SchemaRaceSpec extends SparkFunSuite {
  import spark.implicits._

  private def seedRows = (0L until 8L).map(i => (i, s"v$i", i % 2))
    .toDF("id", "v", "pk")

  private def seed(): String = {
    val dir = tmp("race")
    SnapshotMerge.upsertEvolve(spark, dir, seedRows, Seq("id"), Seq("pk"))
    dir
  }

  test("forced race (CoW): concurrent evolve fenced by schemaBase; retry unions BOTH columns") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    val incZ = Seq((0L, "v0", 0L, 7)).toDF("id", "v", "pk", "z")
    val incW = Seq((1L, "v1", 1L, "w!")).toDF("id", "v", "pk", "w")
    @volatile var fired = false
    store.beforeEvolveCommitHook = () => {
      if (!fired) {
        fired = true
        // B's evolve adds column w and COMMITS inside A's window
        SnapshotMerge.upsertEvolve(racer, incW, Seq("id"), Seq("pk"), 4, Nil)
      }
    }
    // A must abort (the old behavior committed fine and silently
    // dropped w from its stale union), then succeed on a re-plan
    intercept[SnapshotConcurrentWriteException] {
      SnapshotMerge.upsertEvolve(store, incZ, Seq("id"), Seq("pk"), 4, Nil)
    }
    SnapshotMerge.upsertEvolve(store, incZ, Seq("id"), Seq("pk"), 4, Nil)
    val out = SnapshotMerge.readEvolved(spark, dir)
    assert(out.columns.toSet == Set("id", "v", "pk", "z", "w"),
      s"got ${out.columns.toSeq} — BOTH racers' columns must survive")
    assert(out.where(col("id") === 0L).collect().head.getAs[Int]("z") == 7)
    assert(out.where(col("id") === 1L).collect().head.getAs[String]("w") == "w!")
  }

  test("forced race (MoR): same window through upsertMorEvolve") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    val incZ = Seq((0L, "v0", 0L, 7)).toDF("id", "v", "pk", "z")
    val incW = Seq((1L, "v1", 1L, "w!")).toDF("id", "v", "pk", "w")
    @volatile var fired = false
    store.beforeEvolveCommitHook = () => {
      if (!fired) {
        fired = true
        SnapshotMerge.upsertMorEvolve(racer, incW, Seq("id"), Seq("pk"), 4)
      }
    }
    intercept[SnapshotConcurrentWriteException] {
      SnapshotMerge.upsertMorEvolve(store, incZ, Seq("id"), Seq("pk"), 4)
    }
    SnapshotMerge.upsertMorEvolve(store, incZ, Seq("id"), Seq("pk"), 4)
    val out = SnapshotMerge.readEvolved(spark, dir)
    assert(out.columns.toSet == Set("id", "v", "pk", "z", "w"))
    assert(out.where(col("id") === 0L).collect().head.getAs[Int]("z") == 7)
    assert(out.where(col("id") === 1L).collect().head.getAs[String]("w") == "w!")
  }

  test("forced race (r20): an evolve races a sparse-MoR micro-batch commit; the retry lands BOTH") {
    // the strm_mor_sparse_evolve composition's race shape: the cron
    // stream's upsertMorSparse commits INSIDE the evolve's window
    // (schema resolved, batch staged, base not yet re-resolved). The
    // evolve must abort retryably — its schemaBase predates the
    // micro-batch's commit — and the retry must union on top of the
    // patched table, losing neither the patch nor the new column.
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val racer = new SnapshotStore(spark, new Path(dir))
    val evolveInc = Seq((0L, "v0", 0L, 7)).toDF("id", "v", "pk", "z")
    val patch = Seq((1L, "PATCHED", 1L)).toDF("id", "v", "pk")
    @volatile var fired = false
    store.beforeEvolveCommitHook = () => {
      if (!fired) {
        fired = true
        SnapshotMerge.upsertMorSparse(racer, patch,
          Seq("id"), Seq("pk"), Seq("v"), 4)
      }
    }
    intercept[SnapshotConcurrentWriteException] {
      SnapshotMerge.upsertMorEvolve(store, evolveInc, Seq("id"), Seq("pk"), 4)
    }
    SnapshotMerge.upsertMorEvolve(store, evolveInc, Seq("id"), Seq("pk"), 4)
    val out = SnapshotMerge.readEvolved(spark, dir)
    assert(out.columns.toSet == Set("id", "v", "pk", "z"))
    assert(out.where(col("id") === 1L).head().getAs[String]("v") == "PATCHED",
      "the racing micro-batch's sparse patch must survive the evolve retry")
    assert(out.where(col("id") === 0L).head().getAs[Int]("z") == 7)
    // and the new column patches through the narrow frame afterwards
    // (the strm_mor_sparse_evolve wave-2 shape, unit-scale)
    SnapshotMerge.upsertMorSparse(spark, dir,
      Seq((1L, 42, 1L)).toDF("id", "z", "pk"), Seq("id"), Seq("pk"), Seq("z"))
    assert(SnapshotMerge.readEvolved(spark, dir)
      .where(col("id") === 1L).head().getAs[Int]("z") == 42)
  }

  test("retrying spells the evolve fronts' recovery loop") {
    val dir = seed()
    // no race here — the combinator must be a plain pass-through
    assert(SnapshotMerge.retrying(
      Seq((2L, "v2", 0L, 1)).toDF("id", "v", "pk", "z"))(inc =>
      SnapshotMerge.upsertEvolve(spark, dir, inc, Seq("id"), Seq("pk")))._2 == 0)
    val (v, conflicts) = SnapshotMerge.retrying(
      Seq((3L, "v3", 1L, "w3")).toDF("id", "v", "pk", "w"))(inc =>
      SnapshotMerge.upsertMorEvolve(spark, dir, inc, Seq("id"), Seq("pk")))
    assert(v.isDefined && conflicts == 0)
    assert(SnapshotMerge.readEvolved(spark, dir).columns.toSet ==
      Set("id", "v", "pk", "z", "w"))
  }

  test("embedded schema survives sidecar loss: the manifest is the authority for its version") {
    val dir = seed()
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "v0", 0L, 9)).toDF("id", "v", "pk", "z"), Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    // nothing is written beside the manifest, so there is no sidecar
    // to lag or lose: the embedded copy is the whole record
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/schemas")),
      "a schema sidecar was written")
    assert(store.currentSchema().get.fieldNames.contains("z"),
      "a committed version's schema must be its manifest's")
    val out = SnapshotMerge.readEvolved(spark, dir)
    assert(out.where(col("id") === 0L).collect().head.getAs[Int]("z") == 9)
  }

  test("rename/drop embed their new schema; time travel resolves per-version embedded schemas") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.renameColumn(spark, dir, "v", "val")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "V0!", 0L)).toDF("id", "val", "pk"), Seq("id"), Seq("pk"),
      retain = 5)
    // embedded schema at each version
    assert(store.schemaAt(v1).get.fieldNames.toSeq == Seq("id", "v", "pk"))
    assert(store.schemaAt(v1 + 1).get.fieldNames.toSeq == Seq("id", "val", "pk"))
    val below = SnapshotMerge.readEvolvedAt(spark, dir, v1)
    assert(below.columns.contains("v") && !below.columns.contains("val"))
    val at = SnapshotMerge.readEvolved(spark, dir)
    assert(at.where(col("id") === 0L).collect().head.getAs[String]("val") == "V0!")
  }

  test("embedded-manifest schemas feed the physical-name history: no resurrect after sidecar loss") {
    val dir = seed()
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "v0", 0L, 77)).toDF("id", "v", "pk", "z"),
      Seq("id"), Seq("pk"), retain = 8)
    // no sidecar holds the history: the physical-name history must
    // know `z` was used from the manifest's issued set alone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/schemas")))
    assert(new SnapshotStore(spark, new Path(dir)).resolveCurrent().get.issued.contains("z"))
    SnapshotMerge.dropColumn(spark, dir, "z")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((1L, "v1", 1L, 88)).toDF("id", "v", "pk", "z"),
      Seq("id"), Seq("pk"), retain = 8)
    val out = SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("z"))) None else Some(r.getInt(r.fieldIndex("z"))))).toMap
    assert(out(1L).contains(88))
    assert(out(0L).isEmpty,
      "the re-added column must read fresh NULLs — resolving to the dropped " +
        "column's physical bytes means the issued set missed `z`")
  }

  test("orphan manifests never pollute the schema history (fenced loser's embedded schema ignored)") {
    val dir = tmp("orphan")
    // a PLAIN table, never evolved
    val rows = (0L until 4L).map(i => (i, s"v$i", i % 2)).toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"), retain = 8)
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "U0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 8)
    // plant a FENCED LOSER's orphan: a manifest file carrying an
    // embedded schema and issued name that never committed (no
    // version-log entry, not the pointer) — exactly what a
    // crashed/fenced evolve leaves until vacuum
    val fakeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ghost",
        org.apache.spark.sql.types.IntegerType)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/manifests/v-000000000099-deadbeef"),
      s"graft-snapshot 6\npk=0\tb-bogus\t0\n#schema\t${fakeSchema.json}\n#issued\tghost")
    store.restore(v1)
    val cur = store.resolveCurrent().get
    assert(cur.schemaJson.isEmpty && cur.issued.isEmpty,
      "an uncommitted manifest's schema or names leaked into the table")
    assert(SnapshotMerge.read(spark, dir, rows.schema).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(0L -> "v0", 1L -> "v1", 2L -> "v2", 3L -> "v3"))
  }
}
