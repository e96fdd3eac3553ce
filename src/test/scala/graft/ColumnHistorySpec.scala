package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** The physical-name history: every manifest carries the set of
  * physical column names the table ever issued (`#issued`), and a
  * re-added column takes a name outside it — so a dropped column's
  * bytes, still sitting in un-rewritten files, never come back. The
  * set lives in the manifest alone: it survives vacuum past any
  * retention, travels with a clone, and outlives a restore below the
  * first evolve. No front writes metadata beside the manifest.
  */
class ColumnHistorySpec extends SparkFunSuite {
  import spark.implicits._

  /** Two rows in two partitions, plain (never evolved) table. */
  private def seedPlain(dir: String, retain: Int = 2): Unit =
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, "a", 10L, 0L), (1L, "b", 20L, 1L)).toDF("id", "v", "score", "pk"),
      Seq("id"), Seq("pk"), retain = retain)

  /** Re-add `score` with one new row (id 2, in pk=0); every id's score. */
  private def readd(dir: String, retain: Int = 2): Map[Long, Option[Long]] = {
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((2L, "c", 99L, 0L)).toDF("id", "v", "score", "pk"),
      Seq("id"), Seq("pk"), retain = retain)
    SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("score"))).map(_.asInstanceOf[Long]))
      .toMap
  }

  private def noSidecarDirs(root: String): Unit =
    Seq("schemas", "constraints").foreach(d =>
      assert(!Files.exists(Paths.get(root, d)), s"$root/$d was written"))

  test("a dropped column of a never-evolved table stays dropped when re-added") {
    val dir = tmp("hdrop")
    seedPlain(dir)
    SnapshotMerge.dropColumn(spark, dir, "score")
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.resolveCurrent().get.issued == Set("id", "v", "score", "pk"),
      "the drop must record the footer-inferred names it started from")
    val got = readd(dir)
    assert(got(2L).contains(99L))
    assert(got(0L).isEmpty && got(1L).isEmpty,
      s"pre-drop bytes came back under the re-added name: $got")
  }

  test("the history survives vacuum past retention") {
    val dir = tmp("hvac")
    seedPlain(dir, retain = 1)
    SnapshotMerge.dropColumn(spark, dir, "score")
    (1 to 3).foreach(i => SnapshotMerge.upsertUpdate(spark, dir,
      Seq((0L, s"u$i", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 1))
    val store = new SnapshotStore(spark, new Path(dir))
    store.vacuum(1)
    assert(store.versions() == store.currentVersion().toSeq,
      "fixture: every earlier manifest is vacuumed")
    val got = readd(dir, retain = 1)
    assert(got(1L).isEmpty, // pk=1's file is the seed's, score bytes and all
      s"a vacuumed history let the dropped bytes back: $got")
    assert(got(0L).isEmpty && got(2L).contains(99L))
  }

  test("a clone inherits the history: re-adding a column the source dropped reads NULL") {
    val src = tmp("hsrc")
    seedPlain(src)
    SnapshotMerge.dropColumn(spark, src, "score")
    val dst = tmp("hdst")
    new SnapshotStore(spark, new Path(src)).cloneTo(new Path(dst))
    val got = readd(dst)
    assert(got(2L).contains(99L))
    assert(got(0L).isEmpty && got(1L).isEmpty,
      s"the clone resurrected the source's dropped bytes: $got")
  }

  test("restore below the first evolve succeeds; the later history stays taken") {
    val dir = tmp("hrestore")
    val rows = Seq((0L, "a", 0L), (1L, "b", 1L)).toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"), retain = 8)
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((0L, "a", 10L, 0L)).toDF("id", "v", "score", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    store.restore(v1)
    assert(store.currentSchema().isEmpty, "v1 embedded no schema, nor may its restore")
    assert(SnapshotMerge.readEvolved(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap == Map(0L -> "a", 1L -> "b"))
    readd(dir, retain = 8)
    assert(store.currentSchema().get("score").metadata.getString("graft.phys") == "score__r1",
      "the restore must carry the current history, in which `score` was issued")
  }

  test("no front writes a schemas/ or constraints/ dir") {
    val dir = tmp("hfronts")
    val store = new SnapshotStore(spark, new Path(dir))
    seedPlain(dir, retain = 8)
    val v1 = store.currentVersion().get
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((2L, "c", 30L, 0L, "x")).toDF("id", "v", "score", "pk", "tag"),
      Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.upsertMorEvolve(spark, dir,
      Seq((3L, "d", 40L, 1L, "y", 1.5)).toDF("id", "v", "score", "pk", "tag", "w"),
      Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.renameColumn(spark, dir, "tag", "label")
    SnapshotMerge.dropColumn(spark, dir, "w")
    SnapshotMerge.addConstraint(spark, dir, "score_pos", "score > 0")
    SnapshotMerge.dropConstraint(spark, dir, "score_pos")
    store.restore(v1)
    val clone = tmp("hclone")
    store.cloneTo(new Path(clone))
    noSidecarDirs(dir)
    noSidecarDirs(clone)
    assert(store.resolveCurrent().get.issued ==
      Set("id", "v", "score", "pk", "tag", "w"))
  }

  test("the issued set round-trips names holding commas, tabs and newlines") {
    val dir = tmp("hcodec")
    val store = new SnapshotStore(spark, new Path(dir))
    val names = Set("a,b", "t\tab", "n\nl", "x%2Cy", "plus+sp ace", "é")
    store.commitSized(1L, Map.empty, None, issued = names)
    assert(store.resolveCurrent().get.issued == names)
    store.commitSized(2L, Map.empty, Some(1L), issued = Set("more"))
    assert(store.resolveCurrent().get.issued == names + "more",
      "a commit carries the base's set and never shrinks it")
  }
}
