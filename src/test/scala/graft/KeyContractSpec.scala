package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Executable key-determines-partition contract (r20, VERDICT r19
  * #2): every keyed front prunes its scan to the partitions the
  * incoming batch touches, so a key whose partition VALUE changed
  * has its old copy outside every scan — these specs pin BOTH halves
  * of the contract: the documented silent-duplicate outcome when it
  * is violated (why the scaladoc screams about it), and the opt-in
  * `checkKeyPartition` audit that turns the violation into a loud
  * refusal with the table untouched.
  */
class KeyContractSpec extends SparkFunSuite {
  import spark.implicits._

  private def rows = (0L until 20L).map(i => (i, s"v$i", i % 5)).toDF("id", "v", "pk")

  private def seed(): String = {
    val dir = tmp("keyc")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"), retain = 8)
    dir
  }

  // key 7 lives in pk=2; this batch claims pk=4 — a contract violation
  private def moved = Seq((7L, "MOVED", 4L)).toDF("id", "v", "pk")

  test("violating the contract DUPLICATES silently — the documented outcome on every keyed front") {
    Seq[(String, (String) => Unit)](
      ("upsertUpdate", d => SnapshotMerge.upsertUpdate(
        spark, d, moved, Seq("id"), Seq("pk"), retain = 8)),
      ("upsertIgnore", d => SnapshotMerge.upsertIgnore(
        spark, d, moved, Seq("id"), Seq("pk"), retain = 8)),
      ("upsertMor", d => { SnapshotMerge.upsertMor(
        spark, d, moved, Seq("id"), Seq("pk"), retain = 8); () }),
      ("upsertMorSparse", d => { SnapshotMerge.upsertMorSparse(
        spark, d, moved, Seq("id"), Seq("pk"), Seq("v"), retain = 8); () })
    ).foreach { case (front, write) =>
      val dir = seed()
      write(dir)
      val copies = SnapshotMerge.read(spark, dir, rows.schema)
        .where(col("id") === 7L).collect()
      assert(copies.length == 2,
        s"$front: a moved key must leave BOTH copies (old copy is outside " +
          s"the pruned scan) — got ${copies.mkString(", ")}")
      assert(copies.map(_.getAs[Long]("pk")).toSet == Set(2L, 4L))
    }
  }

  test("checkKeyPartition=true refuses loudly on every front; the table is untouched") {
    val dir = seed()
    Seq[() => Unit](
      () => SnapshotMerge.upsertUpdate(spark, dir, moved,
        Seq("id"), Seq("pk"), checkKeyPartition = true),
      () => SnapshotMerge.upsertIgnore(spark, dir, moved,
        Seq("id"), Seq("pk"), checkKeyPartition = true),
      () => { SnapshotMerge.upsertMor(spark, dir, moved,
        Seq("id"), Seq("pk"), checkKeyPartition = true); () },
      () => { SnapshotMerge.upsertMorSparse(spark, dir, moved,
        Seq("id"), Seq("pk"), Seq("v"), checkKeyPartition = true); () }
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("key-determines-partition"), e.getMessage)
    }
    assert(SnapshotMerge.read(spark, dir, rows.schema).count() == 20)
    // contract-respecting batches pass WITH the audit on (same key,
    // same derived partition; plus a brand-new key)
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((7L, "OK", 2L), (100L, "NEW", 0L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), retain = 8, checkKeyPartition = true)
    val after = SnapshotMerge.read(spark, dir, rows.schema)
    assert(after.count() == 21)
    assert(after.where(col("id") === 7L).head().getAs[String]("v") == "OK")
  }

  test("the audit reports the OLD copies with their current partitions; DV-deleted copies are not violations") {
    val dir = seed()
    val v = SnapshotMerge.keyPartitionViolations(
      spark, dir, moved, Seq("id"), Seq("pk")).collect()
    assert(v.length == 1 && v.head.getAs[Long]("id") == 7L &&
      v.head.getAs[Long]("pk") == 2L, v.mkString(", "))
    // delete the old copy first -> the "move" is now a plain insert
    val store = new SnapshotStore(spark, new Path(dir))
    store.deleteWhere(rows.schema, col("id") === 7L)
    assert(SnapshotMerge.keyPartitionViolations(
      spark, dir, moved, Seq("id"), Seq("pk")).isEmpty)
    SnapshotMerge.upsertUpdate(spark, dir, moved,
      Seq("id"), Seq("pk"), retain = 8, checkKeyPartition = true)
    assert(SnapshotMerge.read(spark, dir, rows.schema)
      .where(col("id") === 7L).count() == 1)
    // a batch touching EVERY partition audits to empty trivially
    assert(SnapshotMerge.keyPartitionViolations(
      spark, dir, rows, Seq("id"), Seq("pk")).isEmpty)
  }

  test("the audit scans key+partition columns of UNTOUCHED partitions only (bounded, pruned)") {
    val dir = seed()
    // violation detectable; the moved batch touches pk=4 only, so the
    // audit's scan set is the OTHER four partitions — pin via the
    // violations frame's schema (key + partition columns, nothing
    // else: the column pruning that keeps the audit thin at 100 TB)
    val vdf = SnapshotMerge.keyPartitionViolations(
      spark, dir, moved, Seq("id"), Seq("pk"))
    assert(vdf.columns.toSet == Set("id", "pk"),
      s"audit must project keys + partition columns only, got " +
        vdf.columns.mkString(", "))
    // and on a renamed table the audit routes logical keys through
    // column mapping like every keyed front
    SnapshotMerge.renameColumn(spark, dir, "v", "label")
    val v2 = SnapshotMerge.keyPartitionViolations(
      spark, dir, Seq((7L, "M", 4L)).toDF("id", "label", "pk"),
      Seq("id"), Seq("pk")).collect()
    assert(v2.length == 1 && v2.head.getAs[Long]("pk") == 2L)
  }
}
