package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** CHECK-constraint pins (r19): versioned constraint metadata
  * (fenced add/drop commits + latest-at-or-before sidecars) with SQL
  * CHECK enforcement — a row violates only when the expression is
  * explicitly FALSE (NULL passes) — applied by every write front to
  * the incoming frame, and validated against the EXISTING table at
  * add time so committed data always passed.
  */
class ConstraintSpec extends SparkFunSuite {
  import spark.implicits._

  private def rows = (1L until 9L).map(i => (i, i * 10.0, i % 2)).toDF("id", "x", "pk")

  private def seed(): String = {
    val dir = tmp("chk")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"), retain = 8)
    dir
  }

  test("add validates existing data; violating writes refuse across every front; drop re-allows") {
    val dir = seed()
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    // good write lands
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((100L, 5.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"), retain = 8)
    // violating writes refuse at every front, table untouched
    val bad = Seq((200L, -1.0, 0L)).toDF("id", "x", "pk")
    val before = SnapshotMerge.read(spark, dir, rows.schema).count()
    Seq(
      () => SnapshotMerge.upsertUpdate(spark, dir, bad, Seq("id"), Seq("pk")),
      () => SnapshotMerge.upsertIgnore(spark, dir, bad, Seq("id"), Seq("pk")),
      () => { SnapshotMerge.upsertMor(spark, dir, bad, Seq("id"), Seq("pk")); () },
      () => { SnapshotMerge.upsertMorSparse(spark, dir, bad,
        Seq("id"), Seq("pk"), Seq("x")); () },
      () => SnapshotMerge.upsertEvolve(spark, dir, bad, Seq("id"), Seq("pk")),
      () => { SnapshotMerge.upsertMorEvolve(spark, dir, bad, Seq("id"), Seq("pk")); () },
      () => SnapshotMerge.replaceAll(spark, dir, bad, Seq("pk"))
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("x_pos"), e.getMessage)
    }
    assert(SnapshotMerge.read(spark, dir, rows.schema).count() == before)
    // a constraint the existing data violates is refused at add time
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.addConstraint(spark, dir, "x_small", "x < 50")
    }.getMessage.contains("existing rows violate"))
    // drop re-allows
    SnapshotMerge.dropConstraint(spark, dir, "x_pos")
    SnapshotMerge.upsertUpdate(spark, dir, bad, Seq("id"), Seq("pk"), retain = 8)
    assert(SnapshotMerge.read(spark, dir, rows.schema).count() == before + 1)
  }

  test("SQL CHECK semantics: NULL passes, explicit FALSE refuses") {
    val dir = tmp("chknull")
    val t = Seq((1L, java.lang.Double.valueOf(10.0), 0L))
      .toDF("id", "x", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    // NULL x: the predicate is NULL, not FALSE — must pass
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((2L, null.asInstanceOf[java.lang.Double], 0L)).toDF("id", "x", "pk"),
      Seq("id"), Seq("pk"), retain = 8)
    assert(SnapshotMerge.read(spark, dir, t.schema).count() == 2)
    intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((3L, java.lang.Double.valueOf(-1.0), 0L)).toDF("id", "x", "pk"),
        Seq("id"), Seq("pk"))
    }
  }

  test("constraints are versioned: restore rolls them back; CDC deletes are exempt") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    assert(store.currentConstraints() == Map("x_pos" -> "x > 0"))
    // restore below the add: the constraint rolls back with the data
    store.restore(v1)
    assert(store.currentConstraints().isEmpty,
      "a rollback below the add must drop the constraint")
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((300L, -5.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"), retain = 8)
    // re-add fails now (the violating row landed), so clean it via CDC
    // DELETE — whose payload is junk on purpose: deletes are exempt
    SnapshotMerge.applyCdc(spark, dir,
      Seq((300L, -999.0, 0L, 1L, "delete")).toDF("id", "x", "pk", "seq", "op"),
      Seq("id"), "seq", "op", Seq("pk"), retain = 8)
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    // and a CDC upsert row IS enforced
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.applyCdc(spark, dir,
        Seq((301L, -1.0, 1L, 2L, "upsert")).toDF("id", "x", "pk", "seq", "op"),
        Seq("id"), "seq", "op", Seq("pk"))
    }.getMessage.contains("x_pos"))
  }

  test("metadata guards: duplicate add, missing drop, no-snapshot add") {
    val dir = seed()
    SnapshotMerge.addConstraint(spark, dir, "c", "id >= 0")
    assert(intercept[IllegalArgumentException](
      SnapshotMerge.addConstraint(spark, dir, "c", "id >= 1"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      SnapshotMerge.dropConstraint(spark, dir, "nope"))
      .getMessage.contains("does not exist"))
    intercept[IllegalStateException] {
      SnapshotMerge.addConstraint(spark, tmp("chkempty"), "c", "id >= 0")
    }
  }

  // --- manifest-embedded constraint set (r20) -------------------------

  private def currentManifestText(dir: String): String = {
    val fs = graft.sinks.AtomicDir.fileSystem(spark, new Path(dir))
    def slurp(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    slurp(new Path(new Path(dir), "manifests/" + slurp(new Path(dir, "CURRENT"))))
  }

  test("the constraint set is EMBEDDED in the manifest (v5), atomic with the commit; sidecar loss changes nothing") {
    val dir = seed()
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    val m = currentManifestText(dir)
    assert(m.startsWith("graft-snapshot 5"), m.linesIterator.next())
    assert(m.contains("#constraintset\t1") && m.contains("#constraint\tx_pos\tx > 0"), m)
    // the sidecar history is a MIRROR, not the authority: wipe it
    val fs = graft.sinks.AtomicDir.fileSystem(spark, new Path(dir))
    fs.delete(new Path(dir, "constraints"), true)
    val store = new SnapshotStore(spark, new Path(dir))
    assert(store.currentConstraints() == Map("x_pos" -> "x > 0"))
    intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((200L, -1.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"))
    }
    // data commits CARRY the embedded set forward without being told
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((201L, 1.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"), retain = 8)
    assert(currentManifestText(dir).contains("#constraint\tx_pos\tx > 0"))
    // drop embeds authoritative EMPTINESS (never falls back to stale
    // sidecar history — there is none left to fall back to anyway)
    SnapshotMerge.dropConstraint(spark, dir, "x_pos")
    assert(currentManifestText(dir).contains("#constraintset\t0"))
    assert(store.currentConstraints().isEmpty)
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((202L, -1.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"), retain = 8)
  }

  test("validate-then-commit fence: a commit publishing a set the writer did not validate aborts retryably") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // the ADVICE-r19 end state: the writer validated {} at the front
    // top, a concurrent addConstraint landed, the writer resolved the
    // POST-add version as its base (so the plain version fence
    // passes) — the constraint fence must abort it
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    val cur = store.resolveCurrent().get
    val e = intercept[graft.sinks.SnapshotConcurrentWriteException] {
      store.commitSized(cur.version + 1, cur.entries, Some(cur.version),
        cur.dvs, cur.mors, cur.smors, cur.schemaJson,
        validatedConstraints = Some(Map.empty))
    }
    assert(e.getMessage.contains("constraint set changed"), e.getMessage)
    // validated the set actually in force -> commits
    store.commitSized(cur.version + 1, cur.entries, Some(cur.version),
      cur.dvs, cur.mors, cur.smors, cur.schemaJson,
      validatedConstraints = Some(Map("x_pos" -> "x > 0")))
    assert(store.currentVersion().contains(cur.version + 1))
  }

  test("a constraint added inside the write window aborts the write; the retry re-validates") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val bad = Seq((500L, -1.0, 0L)).toDF("id", "x", "pk")
    var fired = false
    store.beforeEvolveCommitHook = () => if (!fired) {
      fired = true
      SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    }
    // first attempt: validated {} (pre-add), then the add lands inside
    // the window -> fenced abort, NOT a silent commit of unvalidated rows
    intercept[graft.sinks.SnapshotConcurrentWriteException] {
      SnapshotMerge.upsertEvolve(store, bad, Seq("id"), Seq("pk"), 8, Nil)
    }
    // the retry (what SnapshotMerge.retrying does) re-validates against the
    // NEW set and now refuses the rows loudly
    assert(intercept[IllegalArgumentException] {
      SnapshotMerge.upsertEvolve(store, bad, Seq("id"), Seq("pk"), 8, Nil)
    }.getMessage.contains("x_pos"))
    assert(SnapshotMerge.read(spark, dir, rows.schema)
      .where(col("x") < 0).count() == 0, "unvalidated rows must never land")
  }

  test("restore rolls the constraint set back ATOMICALLY (embedded), even with the sidecar history gone") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    val v1 = store.currentVersion().get
    SnapshotMerge.addConstraint(spark, dir, "x_pos", "x > 0")
    val fs = graft.sinks.AtomicDir.fileSystem(spark, new Path(dir))
    fs.delete(new Path(dir, "constraints"), true)
    store.restore(v1)
    assert(store.currentConstraints().isEmpty,
      "restore below the add must publish the rolled-back (empty) set " +
        "in its own manifest, not depend on a post-commit sidecar")
    assert(currentManifestText(dir).contains("#constraintset\t0"))
  }

  test("pre-embedding tables resolve through the sidecar history and migrate to embedded on their next commit") {
    val dir = seed()
    val store = new SnapshotStore(spark, new Path(dir))
    // simulate an r19-format table: constraint exists ONLY as a sidecar
    store.writeConstraintsFile(store.currentVersion().get, Map("x_pos" -> "x > 0"))
    assert(!currentManifestText(dir).contains("#constraintset"))
    assert(store.currentConstraints() == Map("x_pos" -> "x > 0"))
    intercept[IllegalArgumentException] {
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((200L, -1.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"))
    }
    // first write migrates the set into the manifest…
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((201L, 1.0, 0L)).toDF("id", "x", "pk"), Seq("id"), Seq("pk"), retain = 8)
    assert(currentManifestText(dir).contains("#constraint\tx_pos\tx > 0"))
    // …after which the sidecars are pure history
    val fs = graft.sinks.AtomicDir.fileSystem(spark, new Path(dir))
    fs.delete(new Path(dir, "constraints"), true)
    assert(store.currentConstraints() == Map("x_pos" -> "x > 0"))
  }

  test("a renamed column referenced by a constraint fails writes LOUDLY, never silently skips") {
    val dir = tmp("chkrn")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((1L, "p", 0L)).toDF("id", "pic", "pk"), Seq("id"), Seq("pk"), retain = 8)
    SnapshotMerge.addConstraint(spark, dir, "pic_nonempty", "pic <> ''")
    SnapshotMerge.renameColumn(spark, dir, "pic", "cover")
    // the stale constraint cannot resolve against the new logical
    // frame — the write must fail loudly (drop + re-add to fix)
    intercept[Exception] {
      SnapshotMerge.upsertEvolve(spark, dir,
        Seq((2L, "q", 0L)).toDF("id", "cover", "pk"), Seq("id"), Seq("pk"))
    }
    SnapshotMerge.dropConstraint(spark, dir, "pic_nonempty")
    SnapshotMerge.addConstraint(spark, dir, "cover_nonempty", "cover <> ''")
    SnapshotMerge.upsertEvolve(spark, dir,
      Seq((2L, "q", 0L)).toDF("id", "cover", "pk"), Seq("id"), Seq("pk"), retain = 8)
    assert(SnapshotMerge.readEvolved(spark, dir).count() == 2)
  }
}
