package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.hadoop.fs.Path
import graft.sinks.{SnapshotConcurrentWriteException, SnapshotStore}

/** The commit lease: fence+swap under a create-exclusive LOCK file
  * must serialize racing writers completely — zero lost updates under
  * a two-writer hammer — while a crashed holder is taken over by age
  * and a live foreign holder only stalls a contender for the bounded
  * wait, never forever.
  */
class SnapshotLockSpec extends SparkFunSuite {

  /** Seed a v1 table whose manifest the hammer threads then grow. The
    * batch dirs never need data files — commit() is pure metadata.
    */
  private def seedStore(dir: String): SnapshotStore = {
    val store = new SnapshotStore(spark, new Path(dir))
    store.commit(1L, Map("pk=seed" -> "b-000000000001-seed"), None)
    store
  }

  test("two-writer commit hammer: every update lands, zero lost, zero deadlock") {
    val dir = tmp("slock")
    seedStore(dir)
    val perWriter = 60
    val writers = 2
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          // each thread gets its own store handle — separate writers
          val st = new SnapshotStore(spark, new Path(dir))
          start.await()
          try {
            (0 until perWriter).foreach { i =>
              // optimistic loop, exactly the merge paths' shape:
              // read-current, derive next, commit, retry when fenced
              var done = false
              while (!done) {
                val (v, entries) = st.current().get
                try {
                  st.commit(v + 1,
                    entries + (s"pk=w$w-$i" -> s"b-${"%012d".format(v + 1)}-w$w"),
                    Some(v))
                  done = true
                } catch { case _: SnapshotConcurrentWriteException => () }
              }
            }
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "hammer deadlocked")
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    val store = new SnapshotStore(spark, new Path(dir))
    val (version, entries) = store.current().get
    // every one of the 2×perWriter optimistic commits succeeded exactly
    // once and none overwrote another's manifest entry
    assert(version == 1L + writers * perWriter,
      s"expected ${1 + writers * perWriter} committed versions, got $version")
    val want = (for (w <- 0 until writers; i <- 0 until perWriter)
      yield s"pk=w$w-$i").toSet + "pk=seed"
    assert(entries.keySet == want,
      s"lost updates: ${want -- entries.keySet}")
    // the lease is released after the last commit
    assert(!store.fs.exists(new Path(dir, "LOCK")))
  }

  test("merge race: the fenced loser rebases and retries to the sequential state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.sinks.{Merge, SnapshotMerge}
    // Deterministic forced race on a real DATA merge (the lock-hammer
    // tests above race pure-metadata commits): writer B resolves its
    // base version, then BLOCKS inside its merge function while
    // writer A commits — so B's first commit is GUARANTEED to hit the
    // fence. The mergeFn latch works because merge() resolves
    // resolveCurrent() before invoking mergeFn and commits after: the
    // pause sits exactly inside the read→commit conflict window.
    def pk(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pk", pmod(col("k"), lit(2L)))
    val dir = tmp("sconf")
    SnapshotMerge.upsertUpdate(spark, dir,
      pk(Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("k", "v")),
      Seq("k"), Seq("pk"))
    val incA = pk(Seq((2L, 20L), (6L, 60L)).toDF("k", "v")) // pk=0 only
    val incB = pk(Seq((3L, 30L), (5L, 50L)).toDF("k", "v")) // pk=1 only
    val aCommitted = new CountDownLatch(1)
    val bEntered = new CountDownLatch(1)
    val bAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var bResult: (Option[Long], Int) = null
    @volatile var bErr: Throwable = null
    val b = new Thread(() =>
      try {
        bResult = SnapshotMerge.retrying(incB)(inc =>
          SnapshotMerge.merge(spark, dir, inc, Seq("pk")) { (t, i) =>
            if (bAttempts.incrementAndGet() == 1) {
              bEntered.countDown()
              assert(aCommitted.await(60, TimeUnit.SECONDS), "A never committed")
            }
            Merge.upsertUpdate(t, i, Seq("k"))
          })
      } catch { case t: Throwable => bErr = t })
    b.start()
    assert(bEntered.await(60, TimeUnit.SECONDS), "B never reached its mergeFn")
    SnapshotMerge.upsertUpdate(spark, dir, incA, Seq("k"), Seq("pk"))
    aCommitted.countDown()
    b.join(TimeUnit.MINUTES.toMillis(3))
    assert(bErr == null, s"loser must retry to success, got $bErr")
    // exactly one fenced conflict, one rebase: attempts 2, conflicts 1
    assert(bAttempts.get() == 2, s"expected 2 attempts, got ${bAttempts.get()}")
    assert(bResult._2 == 1, s"expected 1 recorded conflict, got ${bResult._2}")
    // B committed on top of A: versions seed=1, A=2, B=3
    assert(bResult._1.contains(3L), s"expected B at v3, got ${bResult._1}")
    // Final table = sequential application — including A's pk=0 rows,
    // which B's rebase must carry forward by reference even though B
    // only rewrites pk=1.
    val got = SnapshotMerge.read(spark, dir, incA.schema)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 20L, 3L -> 30L, 4L -> 0L,
      5L -> 50L, 6L -> 60L), s"merged state wrong: $got")
  }

  test("compaction race, compactor loses: fenced OPTIMIZE rebases over the writer's commit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.sinks.SnapshotMerge
    // Forced writer-vs-OPTIMIZE conflict, compactor-loses direction:
    // the compactor stages its full clustered rewrite, then BLOCKS
    // (beforeCompactCommitHook) while a row-level upsert commits —
    // the staged rewrite no longer covers the table, the fenced
    // commit MUST abort, and the retry must re-cluster the winner's
    // rows (not resurrect the stale rewrite, which would silently
    // drop the upsert).
    def pk(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pk", pmod(col("k"), lit(2L)))
    val dir = tmp("scompact")
    val seed = pk((1L to 8L).map(k => (k, k * 10L)).toDF("k", "v"))
    SnapshotMerge.upsertUpdate(spark, dir, seed, Seq("k"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val staged = new CountDownLatch(1)
    val writerDone = new CountDownLatch(1)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    store.beforeCompactCommitHook = () => {
      if (stages.incrementAndGet() == 1) {
        staged.countDown()
        assert(writerDone.await(60, TimeUnit.SECONDS), "writer never committed")
      }
    }
    @volatile var conflicts = -1
    @volatile var cErr: Throwable = null
    val compactor = new Thread(() =>
      try {
        // route through the SAME store instance so the hook applies
        conflicts = {
          var n = 0
          var done = false
          while (!done) {
            try { store.compactClustered(seed.schema, Seq("pk"), Seq("v"), 2L); done = true }
            catch { case _: graft.sinks.SnapshotConcurrentWriteException => n += 1 }
          }
          n
        }
      } catch { case t: Throwable => cErr = t })
    compactor.start()
    assert(staged.await(60, TimeUnit.SECONDS), "compactor never staged its rewrite")
    SnapshotMerge.upsertUpdate(spark, dir,
      pk(Seq((2L, 999L), (9L, 90L)).toDF("k", "v")), Seq("k"), Seq("pk"))
    writerDone.countDown()
    compactor.join(TimeUnit.MINUTES.toMillis(3))
    assert(cErr == null, s"compactor died instead of rebasing: $cErr")
    assert(conflicts == 1, s"expected exactly 1 fenced conflict, got $conflicts")
    assert(stages.get() == 2, s"expected 2 staged rewrites, got ${stages.get()}")
    // versions: seed=1, writer=2, compaction=3 — and the content is
    // the sequential state (compaction rearranges, never drops)
    assert(store.currentVersion().contains(3L))
    val got = SnapshotMerge.read(spark, dir, seed.schema)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((1L to 8L).map(k => k -> k * 10L).toMap + (2L -> 999L)) + (9L -> 90L)
    assert(got == want, s"post-rebase content wrong: $got")
  }

  test("compaction race, writer loses: fenced upsert rebases onto the compacted layout") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.sinks.{Merge, SnapshotMerge}
    // The other direction: the upserter resolves its base, BLOCKS
    // inside its merge function while an OPTIMIZE commits (rewriting
    // the upserter's base file set), then must fence, rebase, and
    // re-merge against the compacted table.
    def pk(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pk", pmod(col("k"), lit(2L)))
    val dir = tmp("scompactw")
    val seed = pk((1L to 8L).map(k => (k, k * 10L)).toDF("k", "v"))
    SnapshotMerge.upsertUpdate(spark, dir, seed, Seq("k"), Seq("pk"))
    val entered = new CountDownLatch(1)
    val compacted = new CountDownLatch(1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var res: (Option[Long], Int) = null
    @volatile var wErr: Throwable = null
    val writer = new Thread(() =>
      try {
        res = SnapshotMerge.retrying(
          pk(Seq((3L, 333L), (10L, 100L)).toDF("k", "v")))(inc =>
          SnapshotMerge.merge(spark, dir, inc, Seq("pk")) { (t, i) =>
            if (attempts.incrementAndGet() == 1) {
              entered.countDown()
              assert(compacted.await(60, TimeUnit.SECONDS), "OPTIMIZE never committed")
            }
            Merge.upsertUpdate(t, i, Seq("k"))
          })
      } catch { case t: Throwable => wErr = t })
    writer.start()
    assert(entered.await(60, TimeUnit.SECONDS), "writer never reached its mergeFn")
    val n = SnapshotMerge.retryLoop()(new SnapshotStore(spark, new Path(dir))
      .compactClustered(seed.schema, Seq("pk"), Seq("v"), maxRecordsPerFile = 2L))._2
    assert(n == 0, "unopposed OPTIMIZE must commit first try")
    compacted.countDown()
    writer.join(TimeUnit.MINUTES.toMillis(3))
    assert(wErr == null, s"writer died instead of rebasing: $wErr")
    assert(attempts.get() == 2, s"expected 2 merge attempts, got ${attempts.get()}")
    assert(res._2 == 1, s"expected 1 recorded conflict, got ${res._2}")
    assert(res._1.contains(3L), s"writer must land at v3, got ${res._1}")
    val got = SnapshotMerge.read(spark, dir, seed.schema)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((1L to 8L).map(k => k -> k * 10L).toMap + (3L -> 333L)) + (10L -> 100L)
    assert(got == want, s"post-rebase content wrong: $got")
  }

  test("every compaction is fenced by a commit landing before its own; the racer's rows stay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.types.StructType
    import graft.sinks.SnapshotMerge
    def pk(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pk", pmod(col("k"), lit(4L)))
    val compactions: Seq[(String, (SnapshotStore, StructType) => Unit)] = Seq(
      "compact" -> ((st, s) => st.compact(s, Seq("pk"))),
      "compactClustered on one column" ->
        ((st, s) => st.compactClustered(s, Seq("pk"), Seq("v"), 2L)),
      "compactClustered on two columns" ->
        ((st, s) => st.compactClustered(s, Seq("pk"), Seq("k", "v"), 2L)),
      "compactIncremental" -> ((st, s) => st.compactIncremental(s, Seq("pk"), 2)),
      "compactSlices" -> ((st, s) => st.compactSlices(s, Seq("pk"), 1)))
    compactions.foreach { case (name, run) =>
      // four live batches and one #mor slice: work for every compaction
      val dir = tmp("scfence")
      val seed = pk((1L to 16L).map(k => (k, k * 10L)).toDF("k", "v"))
      SnapshotMerge.upsertUpdate(spark, dir, seed, Seq("k"), Seq("pk"))
      SnapshotMerge.upsertUpdate(spark, dir, pk(Seq((4L, 41L)).toDF("k", "v")),
        Seq("k"), Seq("pk"))
      SnapshotMerge.upsertUpdate(spark, dir, pk(Seq((5L, 51L)).toDF("k", "v")),
        Seq("k"), Seq("pk"))
      SnapshotMerge.upsertMor(spark, dir, pk(Seq((6L, 61L)).toDF("k", "v")),
        Seq("k"), Seq("pk"))
      val store = new SnapshotStore(spark, new Path(dir))
      val racer = pk(Seq((7L, 71L), (17L, 170L)).toDF("k", "v"))
      var fired = 0
      store.beforeCompactCommitHook = () => {
        fired += 1
        SnapshotMerge.upsertUpdate(spark, dir, racer, Seq("k"), Seq("pk"))
      }
      val before = store.currentVersion().get
      intercept[SnapshotConcurrentWriteException](run(store, seed.schema))
      assert(fired == 1, s"$name fired its commit hook $fired times")
      assert(store.currentVersion().contains(before + 1),
        s"$name must not commit over the racer")
      val got = SnapshotMerge.read(spark, dir, seed.schema)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (1L to 16L).map(k => k -> k * 10L).toMap ++
        Map(4L -> 41L, 5L -> 51L, 6L -> 61L, 7L -> 71L, 17L -> 170L)
      assert(got == want, s"$name: the racer's rows must stay, got $got")
    }
  }

  test("a crashed holder's stale lock is taken over by age") {
    val dir = tmp("slockstale")
    val store = new SnapshotStore(spark, new Path(dir),
      lockWaitMs = 10000L, lockStaleMs = 500L)
    store.commit(1L, Map("pk=seed" -> "b-000000000001-seed"), None)
    // fake the crash: a LOCK left behind, older than lockStaleMs
    val lock = new Path(dir, "LOCK")
    val out = store.fs.create(lock, false)
    out.write("dead-writer".getBytes("UTF-8")); out.close()
    store.fs.setTimes(lock, System.currentTimeMillis() - 60000L, -1L)
    // next commit must take the lock over, not wait 10s or abort
    val t0 = System.currentTimeMillis()
    store.commit(2L, Map("pk=seed" -> "b-000000000002-new"), Some(1L))
    assert(System.currentTimeMillis() - t0 < 5000L, "takeover should be fast")
    assert(store.currentVersion().contains(2L))
    assert(!store.fs.exists(lock), "taken-over lock must be released after commit")
  }

  test("a holder that lost its lease mid-commit aborts at the swap, never clobbers") {
    val dir = tmp("slockusurp")
    val store = seedStore(dir)
    val lock = new Path(dir, "LOCK")
    // Deterministic stand-in for a GC-length stall: between staging the
    // pointer tmp and the swap, the lease changes hands (what a
    // contender's age-takeover does to a wedged holder).
    store.beforeSwapHook = () => {
      store.fs.delete(lock, false)
      val out = store.fs.create(lock, false)
      out.write("usurper".getBytes("UTF-8")); out.close()
    }
    intercept[SnapshotConcurrentWriteException] {
      store.commit(2L, Map("pk=seed" -> "b-000000000002-new"), Some(1L))
    }
    store.beforeSwapHook = () => ()
    assert(store.currentVersion().contains(1L),
      "a commit whose lease was taken over must not publish")
    // and the loser's release must not delete the usurper's lock
    assert(store.fs.exists(lock))
    val body = new String(Files.readAllBytes(
      java.nio.file.Paths.get(lock.toUri.getPath)), "UTF-8")
    assert(body == "usurper", "foreign lease must survive the loser's release")
    store.fs.delete(lock, false)
    // table is healthy: the same commit succeeds once the lease is free
    store.commit(2L, Map("pk=seed" -> "b-000000000002-new"), Some(1L))
    assert(store.currentVersion().contains(2L))
  }

  test("a live foreign lock blocks only for the bounded wait, then aborts cleanly") {
    val dir = tmp("slockheld")
    val store = new SnapshotStore(spark, new Path(dir),
      lockWaitMs = 300L, lockStaleMs = 3600_000L)
    store.commit(1L, Map("pk=seed" -> "b-000000000001-seed"), None)
    val lock = new Path(dir, "LOCK")
    val out = store.fs.create(lock, false)
    out.write("live-writer".getBytes("UTF-8")); out.close()
    intercept[SnapshotConcurrentWriteException] {
      store.commit(2L, Map("pk=seed" -> "b-000000000002-new"), Some(1L))
    }
    // the foreign holder's lease must survive the contender's abort
    assert(store.fs.exists(lock))
    assert(store.currentVersion().contains(1L), "aborted commit must not publish")
    store.fs.delete(lock, false)
    // with the lock gone the same commit goes through
    store.commit(2L, Map("pk=seed" -> "b-000000000002-new"), Some(1L))
    assert(store.currentVersion().contains(2L))
  }
}
