package graft

import org.apache.hadoop.fs.{FileContext, Options, Path}
import graft.sinks.{CommitPointerBackend, Merge, SnapshotConcurrentWriteException,
  SnapshotMerge, SnapshotStore}

/** Conditional-PUT commit backend pins (r19, VERDICT r18 #2): on an
  * object store without atomic exclusive create, the commit lease
  * degrades to advisory — the production answer is to delegate the
  * pointer swap to the store's own conditional PUT. These specs run
  * the multi-writer races through a CAS-only double (server-side
  * atomicity emulated by a JVM mutex, pointer I/O deliberately plain)
  * and pin that the loser is fenced BY THE CAS RESULT, with the LOCK
  * file never created.
  */
class CasBackendSpec extends SparkFunSuite {
  import spark.implicits._

  /** The object-store double: one instance = one store endpoint. The
    * mutex stands in for the service's server-side If-Match
    * atomicity; everything else is plain file I/O — in particular NO
    * create-exclusive call anywhere, which is exactly what such a
    * store cannot offer.
    */
  private final class CasDouble(rootDir: String) extends CommitPointerBackend {
    val casCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val casLost = new java.util.concurrent.atomic.AtomicInteger(0)
    private val mutex = new Object
    private val root = new Path(rootDir)
    private val pointer = new Path(root, "CURRENT")
    def cas(expected: Option[String], next: String): Boolean = mutex.synchronized {
      casCalls.incrementAndGet()
      val fs = graft.sinks.AtomicDir.fileSystem(spark, root)
      val cur =
        if (!fs.exists(pointer)) None
        else {
          val in = fs.open(pointer)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
          finally in.close()
        }
      if (cur != expected) { casLost.incrementAndGet(); false }
      else {
        val tmpP = new Path(root, s".CURRENT.cas-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmpP, true)
        try out.write(next.getBytes("UTF-8")) finally out.close()
        val fc = FileContext.getFileContext(root.toUri,
          spark.sessionState.newHadoopConf())
        fc.rename(tmpP, pointer, Options.Rename.OVERWRITE)
        true
      }
    }
  }

  private def casStore(dir: String, backend: CasDouble): SnapshotStore = {
    val st = new SnapshotStore(spark, new Path(dir))
    st.pointerBackend = Some(backend)
    st
  }

  private def targetRows = (0L until 10L).map(i => (i, s"t$i", i % 5)).toDF("id", "v", "pk")

  private def readVals(dir: String): Map[Long, String] =
    SnapshotMerge.read(spark, dir, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  test("first commit goes through cas(None, _); LOCK is never created") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    val st = casStore(dir, backend)
    SnapshotMerge.upsertMor(st, targetRows, Seq("id"), Seq("pk"), retain = 2)
    assert(backend.casCalls.get() == 1 && backend.casLost.get() == 0)
    assert(!new java.io.File(s"$dir/LOCK").exists(),
      "the CAS path must never touch the lease file")
    assert(readVals(dir).size == 10)
  }

  test("forced race: loser is fenced by the CAS result, not by create-exclusivity; retry rebases") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    val seedSt = casStore(dir, backend)
    SnapshotMerge.upsertMor(seedSt, targetRows, Seq("id"), Seq("pk"), retain = 6)
    val a = casStore(dir, backend)
    val b = casStore(dir, backend)
    @volatile var fired = false
    // beforeSwapHook fires BETWEEN the version fence and the cas()
    // call — the only window where the CAS itself must adjudicate
    // (anything earlier is caught by the cheap pre-fence, anything
    // later is impossible: cas is atomic)
    a.beforeSwapHook = () => {
      if (!fired) {
        fired = true
        // B commits THROUGH THE SAME CAS ENDPOINT inside A's window
        SnapshotMerge.upsertMor(b,
          Seq((0L, "B0", 0L), (2L, "B2", 2L)).toDF("id", "v", "pk"),
          Seq("id"), Seq("pk"), retain = 6)
      }
    }
    val (v, conflicts) = SnapshotMerge.retrying(
      Seq((0L, "A0", 0L), (6L, "A6", 1L)).toDF("id", "v", "pk"),
      maxAttempts = 5)(inc =>
      SnapshotMerge.upsertMor(a, inc, Seq("id"), Seq("pk"), retain = 6))
    assert(conflicts == 1 && v.isDefined)
    assert(backend.casLost.get() >= 1, "the loss must be adjudicated by cas()")
    assert(!new java.io.File(s"$dir/LOCK").exists())
    // sequential semantics: B then A — A's overlapping key 0 wins
    val vals = readVals(dir)
    assert(vals(0L) == "A0" && vals(2L) == "B2" && vals(6L) == "A6")
    assert(vals.size == 10)
  }

  test("mixed publish modes refuse loudly: a lease writer cannot commit past a CAS-committed table") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    SnapshotMerge.upsertMor(casStore(dir, backend), targetRows,
      Seq("id"), Seq("pk"), retain = 2)
    assert(new java.io.File(s"$dir/BACKEND").exists(),
      "the first CAS commit must leave the mode sentinel")
    // a backend-less writer of the same root is unserialized against
    // CAS swaps (it never consults the arbiter) — it must fail loudly
    // instead of racing, and the table must be untouched
    val e = intercept[IllegalStateException] {
      SnapshotMerge.upsertMor(new SnapshotStore(spark, new Path(dir)),
        Seq((0L, "LEASE", 0L)).toDF("id", "v", "pk"),
        Seq("id"), Seq("pk"), retain = 2)
    }
    assert(e.getMessage.contains("BACKEND"), e.getMessage)
    assert(readVals(dir)(0L) == "t0")
    // reads and further CAS commits are unaffected
    SnapshotMerge.upsertMor(casStore(dir, backend),
      Seq((0L, "C0", 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"), retain = 2)
    assert(readVals(dir)(0L) == "C0")
  }

  test("backendProvider wires the PUBLIC path-based fronts onto the CAS arbiter") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    SnapshotMerge.upsertMor(casStore(dir, backend), targetRows,
      Seq("id"), Seq("pk"), retain = 4)
    // without the provider, the sentinel refuses the path-based front
    // (it constructs a backend-less store internally)
    intercept[IllegalStateException] {
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((1L, "X", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    }
    // with it, every internally-constructed store commits through the
    // SAME arbiter — the deployment-wide wiring a real object-store
    // client installs once at session setup
    val before = backend.casCalls.get()
    SnapshotStore.backendProvider =
      root => if (root.toUri.getPath == new Path(dir).toUri.getPath)
        Some(backend) else None
    try {
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((1L, "PUB", 1L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"),
        retain = 4)
      SnapshotMerge.upsertMorSparse(spark, dir,
        Seq((2L, "SP", 2L)).toDF("id", "v", "pk"),
        Seq("id"), Seq("pk"), Seq("v"), retain = 4)
    } finally SnapshotStore.backendProvider = _ => None
    assert(backend.casCalls.get() > before,
      "the public fronts must have committed through the CAS arbiter")
    assert(!new java.io.File(s"$dir/LOCK").exists())
    assert(readVals(dir)(1L) == "PUB" && readVals(dir)(2L) == "SP")
    // and an unrelated root stays on the lease machinery
    val other = tmp("caso")
    SnapshotMerge.upsertUpdate(spark, other, targetRows,
      Seq("id"), Seq("pk"), retain = 4)
    assert(readVals(other).size == 10)
  }

  test("two-thread hammer through one CAS endpoint: every effect lands exactly once") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    SnapshotMerge.upsertMor(casStore(dir, backend), targetRows,
      Seq("id"), Seq("pk"), retain = 12)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            val st = casStore(dir, backend)
            SnapshotMerge.retrying(
              Seq((i.toLong, s"W$i", i.toLong % 5), (100L + i, s"N$i", i.toLong % 5))
                .toDF("id", "v", "pk"),
              maxAttempts = 10)(inc =>
              SnapshotMerge.upsertMor(st, inc, Seq("id"), Seq("pk"), retain = 12))._2
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val want = (0 until 4).foldLeft(
      targetRows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap) {
      (m, i) => m + (i.toLong -> s"W$i") + ((100L + i) -> s"N$i")
    }
    assert(readVals(dir) == want,
      "no lost update, no duplicate, under pure-CAS concurrency")
    assert(!new java.io.File(s"$dir/LOCK").exists())
  }

  test("version log is written by CAS winners only: time travel works through backend commits") {
    val dir = tmp("cas")
    val backend = new CasDouble(dir)
    val st = casStore(dir, backend)
    SnapshotMerge.upsertMor(st, targetRows, Seq("id"), Seq("pk"), retain = 6)
    val v1 = st.currentVersion().get
    SnapshotMerge.upsertMor(st, Seq((0L, "U0", 0L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), retain = 6)
    SnapshotMerge.retryLoop(maxAttempts = 3)(st.deleteWhere(targetRows.schema,
      org.apache.spark.sql.functions.col("id") === 9L))
    assert(st.versions().size >= 3)
    val pre = st.readAt(v1, targetRows.schema).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(pre(0L) == "t0" && pre.size == 10)
    val cur = readVals(dir)
    assert(cur(0L) == "U0" && !cur.contains(9L))
  }
}
