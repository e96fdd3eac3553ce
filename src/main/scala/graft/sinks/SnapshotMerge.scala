package graft.sinks

import graft.Ckpt.CkptOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partition-pruned merge with cross-partition atomicity, on top of
  * [[SnapshotStore]] — the engine's one durable upsert path.
  *
  * Plan shape: collect the distinct partition tuples `incoming`
  * touches, read just those partitions (manifest-level pruning), merge,
  * and write the replacements into a fresh immutable batch dir. The
  * publish step is ONE atomic pointer swap, so a crash anywhere leaves
  * readers on the previous complete snapshot: all-old or all-new,
  * never mixed (the guarantee the reference gets from a single
  * Postgres transaction, `db/occurrence.py:22-51`).
  *
  * Untouched partitions are carried forward in the manifest by
  * reference — never read, never rewritten, zero data movement.
  * Partitions the merge empties out are dropped from the manifest,
  * which makes deletes atomic too (no torn-delete window at all).
  *
  * Precondition: snapshot tables are partitioned, and the partition
  * columns must be determined by the merge keys (same key => same
  * partition tuple in target and incoming) — e.g. a key-derived date
  * or hash bucket. Otherwise a key could "move" partitions and the
  * partition-scoped merge would miss its old row.
  */
object SnapshotMerge {

  /** K1 on a snapshot table, `INSERT … ON CONFLICT DO NOTHING`
    * (`db/recording.py:44-66`): commits the rows of `incoming` whose
    * keys are not committed yet and returns how many it committed.
    * Keys duplicated within `incoming` collapse to one arbitrary row.
    * Accepts logical names on renamed (column-mapped) tables.
    *
    * Only the partitions that gain a row are rewritten: a touched
    * partition whose incoming keys are all known keeps its manifest
    * entry by reference, and a call that commits 0 rows writes no
    * version and runs no vacuum — so callers need no emptiness or
    * freshness pre-check. Three SQL executions per committing call:
    * pinning `incoming` (an expensive upstream — a paged fetch, a
    * fuzzy scan — runs once) names the touched partitions; pinning its
    * anti-join against their committed keys names the partitions that
    * gain rows and the count; and the staged batch of those
    * partitions is the commit, fenced on the one snapshot resolution
    * the anti-join read.
    *
    * CONTRACT: partition columns must be determined by the merge keys
    * — the scan prunes to the partitions `incoming` touches, so a key
    * that moved partition values silently DUPLICATES (its old copy is
    * outside the pruned scan). `checkKeyPartition = true` opts into
    * the bounded audit ([[keyPartitionViolations]]) and refuses
    * loudly instead; off by default because the contract holds by
    * construction when partition values derive from the key, and the
    * audit reads the untouched partitions' key columns.
    */
  def upsertIgnore(spark: SparkSession, rootDir: String, incoming: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil,
      checkKeyPartition: Boolean = false): Long = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    if (checkKeyPartition)
      requireKeyContract(spark, rootDir, incoming, keys, partCols)
    val cbase = requireConstraints(store, incoming)
    val (inc, ks, sc) = toPhysIncoming(store, incoming, keys, statsCols)
    requirePartitionable(inc.schema, partCols)
    val (pinned, touched, _) = pinTouched(inc.dropDuplicates(ks), partCols)
    if (touched.isEmpty) return 0L
    val cur = store.resolveCurrent()
    val base = cur.getOrElse(SnapshotStore.Resolved.empty)
    // the committed keys of the touched partitions only (keys are
    // never patched, so sparse slices need no resolution here)
    val known = store.readSlices(base.slices, pinned.schema, touched,
      base.dvs).select(ks.map(col): _*)
    val (fresh, gained, n) =
      pinTouched(pinned.join(known, ks, "left_anti"), partCols)
    if (n == 0L) return 0L
    // fresh keys by construction: the partitions that gain a row are
    // their committed rows plus the fresh ones, with no second dedup
    // or anti-join
    val existing = store.readSlices(base.slices, pinned.schema, gained,
      base.dvs, base.smors)
    store.commitRewrite(cur, existing.unionByName(fresh), gained, partCols, sc,
      validated = Some(cbase), retain = retain)
    n
  }

  /** K2 on a snapshot table: incoming wins on key collision.
    * Accepts logical names on renamed (column-mapped) tables.
    * Key-determines-partition contract and the opt-in
    * `checkKeyPartition` audit: see [[upsertIgnore]].
    */
  def upsertUpdate(spark: SparkSession, rootDir: String, incoming: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil,
      checkKeyPartition: Boolean = false): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    if (checkKeyPartition)
      requireKeyContract(spark, rootDir, incoming, keys, partCols)
    val cbase = requireConstraints(store, incoming)
    val (inc, ks, sc) = toPhysIncoming(store, incoming, keys, statsCols)
    mergePhys(store, inc, partCols, retain, sc,
      validated = Some(cbase))((target, i) => Merge.upsertUpdate(target, i, ks))
  }

  /** K2 via MERGE-ON-READ — [[upsertUpdate]] semantics (incoming wins
    * on key collision, duplicate incoming keys collapse to one
    * arbitrary row) WITHOUT rewriting any touched partition: old
    * versions of updated keys are tombstoned through a positional
    * deletion vector and the incoming rows append as a `#mor` slice
    * on top of each touched partition's base entry (brand-new
    * partitions become base entries in the same commit). This is the
    * write path for the reference's hottest query — the per-cycle
    * `ON CONFLICT DO UPDATE` (`db/occurrence.py:22-51`) — at 100 TB:
    * a cron cycle that changes a handful of rows per partition costs
    * one batch-sized append plus a sidecar of tombstones, instead of
    * rewriting every touched partition's full data
    * ([[upsertUpdate]]'s cost). Reads pay a widening slice fan-out
    * plus the DV anti-join until the next compaction materializes
    * both — the classic copy-on-write vs merge-on-read trade, chosen
    * per table by which path the workload hammers.
    *
    * Equivalence contract (the `k2_upsert_mor` oracle pins it):
    * `read` after upsertMor == `read` after [[upsertUpdate]] of the
    * same incoming, bit for bit. Same partition-column and
    * key-determines-partition contracts as [[merge]]. Fenced on the
    * exact base it read, like every commit; see [[retrying]] for the
    * optimistic rebase loop. Returns the committed version (None when
    * `incoming` is empty).
    *
    * `autoCompactMaxSlices` > 0 opts into a post-commit
    * [[SnapshotStore.compactSlices]] at that depth — the maintenance
    * autopilot for cron-shaped writers that would otherwise need a
    * separate compaction schedule. Best-effort: a racing writer
    * fences the fold, never the committed upsert.
    *
    * Key-determines-partition contract and the opt-in
    * `checkKeyPartition` audit: see [[upsertIgnore]] — the MoR path
    * shares the exact silent-duplicate shape (its tombstone scan is
    * pruned to the touched partitions too, so a moved key's old copy
    * is never tombstoned).
    */
  def upsertMor(spark: SparkSession, rootDir: String, incoming: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int = 2,
      autoCompactMaxSlices: Int = 0,
      checkKeyPartition: Boolean = false): Option[Long] = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    if (checkKeyPartition)
      requireKeyContract(spark, rootDir, incoming, keys, partCols)
    val v = upsertMor(store, incoming, keys, partCols, retain)
    if (v.isDefined)
      autoCompactSlices(store, incoming.schema, partCols, autoCompactMaxSlices)
    v
  }

  /** Store-instance variant — the seam the forced-race spec drives
    * (the conflict hooks are per-store-instance).
    */
  private[graft] def upsertMor(store: SnapshotStore, incoming0: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int): Option[Long] = {
    val cbase = requireConstraints(store, incoming0)
    // renamed (column-mapped) tables: logical incoming routes to the
    // physical columns, exactly like the CoW fronts
    val (incMapped, keysPhys, _) = toPhysIncoming(store, incoming0, keys)
    upsertMorPhys(store, incMapped, keysPhys, partCols, retain,
      validated = Some(cbase))
  }

  /** The PHYSICAL-space MoR commit — callers already in physical
    * column space ([[upsertMorEvolve]], and [[upsertMor]] after its
    * translation) enter here. Separate from the translating front
    * because translating TWICE corrupts on cross-talk names: after
    * `rename pic→cover` plus a re-ADD of logical `pic` (phys
    * `pic__r1`), a physical frame legitimately carries a column
    * named `pic` (cover's bytes) that a second translation would
    * re-route into `pic__r1`.
    */
  private[graft] def upsertMorPhys(store: SnapshotStore, incMapped: DataFrame,
      keysPhys: Seq[String], partCols: Seq[String], retain: Int,
      schemaBase: Option[Option[Long]] = None,
      embedSchema: Option[StructType] = None,
      validated: Option[Map[String, String]] = None): Option[Long] = {
    requirePartitionable(incMapped.schema, partCols)
    // dropDuplicates BEFORE the pin: Merge.upsertUpdate's
    // arbitrary-winner collapse, evaluated once
    val (incoming, touched, _) =
      pinTouched(incMapped.dropDuplicates(keysPhys), partCols)
    if (touched.isEmpty) return None

    val cur = store.resolveCurrent()
    requireSchemaBase(store, schemaBase, cur.map(_.version))
    val base @ SnapshotStore.Resolved(curVersion, curEntries, curDvs, curMors,
      curSmors, _, _) = cur.getOrElse(SnapshotStore.Resolved.empty)
    store.beforeMorCommitHook()

    // Positions of the CURRENT copies of incoming keys — across the
    // touched partitions' base slices AND earlier MoR slices (a key
    // updated twice tombstones its previous slice copy), already
    // DV-filtered so nothing is re-tombstoned. Key-determines-
    // partition bounds the scan to the touched partitions, never the
    // table. Sparse patches are NOT resolved here: only key columns
    // are consumed, and keys are never patched — skipping the patch
    // joins is free correctness.
    val liveMeta = store.liveWithMeta(base.slices, incoming.schema,
      touched, curDvs)
    val hits = liveMeta
      .join(incoming.select(keysPhys.map(col): _*), keysPhys, "left_semi")
      .select(col("__dv_path").as("path"), col("__dv_pos").as("pos"))

    // Stage the append slice (unreferenced until the commit): the
    // incoming rows themselves, partition-laid-out like any batch.
    val newVersion = curVersion + 1
    val (batch, written) = store.stageBatch(incoming, partCols, newVersion)
    require(written.keySet.subsetOf(touched),
      s"upsertMor produced unexpected partitions: ${(written.keySet -- touched).mkString(", ")}")

    // Stage the tombstones (one sidecar file, deleteWhere's contract).
    val (dvName, nTombstoned) = store.stageDv(hits, newVersion)

    // New partitions become base entries; existing partitions gain a
    // slice line on top of their (byte-identical) base entry.
    val (novel, sliced) = written.partition { case (s, _) => !curEntries.contains(s) }
    val entries = curEntries ++ novel.map { case (s, sz) =>
      s -> SnapshotStore.SnapshotEntry(batch, sz)
    }
    val mors = curMors ++ sliced.map { case (s, sz) =>
      s -> SnapshotStore.SnapshotEntry(batch, sz)
    }
    // sparse patches carry forward whole: this commit rewrites no
    // partition, and an overwritten key's old patches become no-ops
    // through the version gate (the new slice row post-dates them)
    val dvs = if (nTombstoned == 0L) curDvs else curDvs :+ dvName
    try store.commitSized(newVersion, entries, cur.map(_.version), dvs, mors,
      curSmors, embedSchema.map(_.json).orElse(cur.flatMap(_.schemaJson)),
      validatedConstraints = validated)
    catch {
      // a fenced loser's staged DV was never referenced — removal is
      // pure hygiene (the staged batch is versioned above the window
      // and vacuums later, like every fenced merge's)
      case t: Throwable =>
        if (nTombstoned > 0L) store.fs.delete(store.dvPath(dvName), true); throw t
    }
    store.vacuum(retain)
    Some(newVersion)
  }

  /** OPTIMISTIC-CONCURRENCY RETRY — the multi-writer contract a real
    * warehouse deployment exercises first (Delta/Iceberg
    * commit-conflict semantics): two writers race on the same base
    * version; the loser's fenced commit throws
    * [[SnapshotConcurrentWriteException]] instead of silently dropping
    * the winner's write, and this loop turns that abort into a REBASE.
    * Every write path here resolves the current commit afresh per
    * call, so re-running `body` re-prunes, recomputes tombstone
    * positions (only meaningful against the exact base they were read
    * from) and re-merges against the winner's committed state; the
    * final table equals sequential application in commit order. The
    * same holds for a maintenance rewrite racing a writer (every
    * compaction re-resolves and rewrites the winner's rows) and for
    * `store.deleteWhere` (whose fenced loser removes its own staged
    * DV).
    *
    * Runs `body` until it commits, up to `maxAttempts` total attempts;
    * after that many fenced aborts the last exception propagates — at
    * that contention level the caller needs a queue, not more retries.
    * Returns (result, conflicts retried). This frame-less form suits
    * writes without an incoming frame; writes of one use [[retrying]].
    */
  def retryLoop[T](maxAttempts: Int = 5)(body: => T): (T, Int) = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var conflicts = 0
    while (true) {
      try return (body, conflicts)
      catch {
        case e: SnapshotConcurrentWriteException =>
          conflicts += 1
          if (conflicts >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[retryLoop]] over a write of `incoming` — any front here or its
    * store-instance variant, e.g.
    * `retrying(inc)(i => upsertMor(spark, dir, i, keys, partCols))`.
    * `incoming` is eagerly checkpointed ONCE, on the first attempt,
    * and `write` receives that pinned frame on every attempt: a retry
    * re-runs only the write against the cached blocks — never the
    * expensive upstream plan — and a non-deterministic upstream
    * cannot yield different rows across attempts (ADVICE r16). A
    * write's own internal ckpt of the pinned frame only copies cached
    * blocks. The evolve fronts re-run their WHOLE schema resolution
    * per attempt, so a retry unions against the winner's committed
    * schema. Returns (result, conflicts retried).
    */
  def retrying[T](incoming: DataFrame, maxAttempts: Int = 5)(
      write: DataFrame => T): (T, Int) = {
    // lazy: a refused bound pins nothing
    lazy val inc = incoming.ckpt(true)
    retryLoop(maxAttempts)(write(inc))
  }

  /** K2 via COLUMN-SPARSE merge-on-read — [[upsertMor]] semantics
    * restricted to `updateCols`: on key collision the incoming row
    * overwrites ONLY those columns (every other column keeps its
    * current value); unmatched keys insert WHOLE rows. This is the
    * exact shape of the reference's hottest write — `ON CONFLICT DO
    * UPDATE SET "start" = EXCLUDED."start", "page" = EXCLUDED."page"`
    * (`db/occurrence.py:46-48`) updates 2 of 5 columns per cron cycle
    * — and at wide schemas it is the next write-amplification rung
    * below [[upsertMor]]: the staged patch slice holds ONLY
    * `keys ++ partCols ++ updateCols` for the updated rows (no
    * tombstones either — the base row stays live as the patch's
    * value provider), so staged bytes scale with the columns the
    * workload actually changes, not the table width. Reads resolve
    * patches with one left join per outstanding sparse slice
    * (AQE-broadcast — the slice is batch-sized); [[SnapshotStore
    * .compactSlices]] folds the depth away, and both its triggers
    * count sparse slices.
    *
    * Equivalence contract (the `k2_upsert_mor_sparse` oracle pins
    * it): when `incoming`'s non-update columns carry the table's
    * current values for matched keys, `read` after upsertMorSparse ==
    * `read` after [[upsertUpdate]] of the same incoming, bit for bit.
    * NULLs in `updateCols` are written through (SQL UPDATE semantics,
    * not coalesce). Same partition contracts as [[merge]]; logical
    * names accepted on renamed tables. `autoCompactMaxSlices` > 0
    * opts into a post-commit [[SnapshotStore.compactSlices]] at that
    * depth (best-effort: a racing writer aborts the maintenance fold,
    * never the committed upsert). Returns the committed version.
    *
    * Key-determines-partition contract and the opt-in
    * `checkKeyPartition` audit: see [[upsertIgnore]] — the sparse
    * path's update/insert split joins live keys of the TOUCHED
    * partitions only, so a moved key both duplicates AND
    * misclassifies as an insert.
    */
  def upsertMorSparse(spark: SparkSession, rootDir: String,
      incoming: DataFrame, keys: Seq[String], partCols: Seq[String],
      updateCols: Seq[String], retain: Int = 2,
      autoCompactMaxSlices: Int = 0,
      checkKeyPartition: Boolean = false): Option[Long] = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    if (checkKeyPartition)
      requireKeyContract(spark, rootDir, incoming, keys, partCols)
    val v = upsertMorSparse(store, incoming, keys, partCols, updateCols, retain)
    if (v.isDefined)
      autoCompactSlices(store, incoming.schema, partCols, autoCompactMaxSlices)
    v
  }

  private[graft] def upsertMorSparse(store: SnapshotStore, incoming0: DataFrame,
      keys: Seq[String], partCols: Seq[String], updateCols: Seq[String],
      retain: Int): Option[Long] = {
    // NOTE: enforced on the WHOLE incoming frame even though matched
    // keys only land their updateCols — a constraint over untouched
    // columns sees the caller's (possibly sentinel) values. Callers
    // using sentinels must keep them constraint-clean; the
    // alternative (enforcing post-patch resolution) would cost a
    // table read per write.
    val cbase = requireConstraints(store, incoming0)
    val (incMapped, keysPhys, updPhys) =
      toPhysIncoming(store, incoming0, keys, updateCols)
    upsertMorSparsePhys(store, incMapped, keysPhys, updPhys, partCols, retain,
      validated = Some(cbase))
  }

  private[graft] def upsertMorSparsePhys(store: SnapshotStore,
      incMapped: DataFrame, keysPhys: Seq[String], updPhys: Seq[String],
      partCols: Seq[String], retain: Int,
      validated: Option[Map[String, String]] = None): Option[Long] = {
    requirePartitionable(incMapped.schema, partCols)
    require(updPhys.nonEmpty, "updateCols must name at least one column")
    require(updPhys.intersect(keysPhys ++ partCols).isEmpty,
      s"updateCols may not include key or partition columns: " +
        s"${updPhys.intersect(keysPhys ++ partCols).mkString(", ")}")
    (keysPhys ++ updPhys).foreach(c =>
      require(!c.exists(",\t\n.`".contains(_)),
        s"column name '$c' cannot be used in sparse upserts (contains ',', " +
          "tab, newline, '.', or backtick — the manifest encoding and the " +
          "patch resolver's derived working names need plain identifiers); " +
          "rename it first"))
    ((keysPhys ++ updPhys ++ partCols).distinct).foreach(c =>
      require(incMapped.columns.contains(c),
        s"incoming frame is missing column '$c'"))
    require(!incMapped.columns.contains("__sp_live"),
      "incoming columns must not collide with the split's working name (__sp_live)")
    require(!incMapped.columns.exists(c => c == "__pv" || c.startsWith("__sv")),
      "incoming columns must not collide with the patch resolver's working " +
        "names (__pv, __sv, __sv_*)")
    val spark = store.spark
    val (incoming, touched, _) =
      pinTouched(incMapped.dropDuplicates(keysPhys), partCols)
    if (touched.isEmpty) return None

    val cur = store.resolveCurrent()
    val base @ SnapshotStore.Resolved(curVersion, curEntries, curDvs, curMors,
      curSmors, _, _) = cur.getOrElse(SnapshotStore.Resolved.empty)
    store.beforeMorCommitHook()

    // Split on LIVE key membership within the touched partitions
    // (key-determines-partition bounds the scan; column pruning keeps
    // it to the key columns; patches skipped — keys are never
    // patched): matched keys become a sparse PATCH, unmatched keys
    // insert whole rows.
    val liveKeys = store.readSlices(base.slices, incoming.schema,
      touched, curDvs).select(keysPhys.map(col): _*)
    // ONE membership join + ONE pin, filtered twice from cache (a
    // semi + anti pair would run the join and the materialization
    // twice; the flag spelling halves the write path's job count)
    val marked = incoming.join(
      liveKeys.withColumn("__sp_live", lit(true)), keysPhys, "left").ckpt(true)
    val updates = marked.where(col("__sp_live")).drop("__sp_live")
    val inserts = marked.where(col("__sp_live").isNull).drop("__sp_live")

    val newVersion = curVersion + 1
    // PATCH slice: keys + partition layout + changed columns only —
    // this projection is the whole point
    var newSmors = Seq.empty[SnapshotStore.SparseSlice]
    if (!updates.isEmpty) {
      val sparseCols = (keysPhys ++ partCols).distinct ++ updPhys
      val (sBatch, written) = store.stageBatch(
        updates.select(sparseCols.map(col): _*), partCols, newVersion)
      require(written.keySet.subsetOf(touched),
        s"sparse upsert produced unexpected partitions: " +
          s"${(written.keySet -- touched).mkString(", ")}")
      require(written.keySet.forall(curEntries.contains),
        "sparse patch against a partition with no base entry — " +
          "key-determines-partition violated")
      newSmors = written.toSeq.map { case (s, sz) =>
        SnapshotStore.SparseSlice(s, sBatch, sz, keysPhys, updPhys)
      }
    }
    // INSERT slice: full rows, exactly upsertMor's insert handling
    // (novel partitions become base entries, existing ones gain a
    // full slice); no tombstones — these keys have no current copy
    var novel = Map.empty[String, SnapshotStore.SnapshotEntry]
    var newMors = Seq.empty[(String, SnapshotStore.SnapshotEntry)]
    if (!inserts.isEmpty) {
      val (iBatch, written) = store.stageBatch(inserts, partCols, newVersion)
      require(written.keySet.subsetOf(touched),
        s"sparse upsert produced unexpected partitions: " +
          s"${(written.keySet -- touched).mkString(", ")}")
      val (nov, sliced) = written.partition { case (s, _) => !curEntries.contains(s) }
      novel = nov.map { case (s, sz) => s -> SnapshotStore.SnapshotEntry(iBatch, sz) }
      newMors = sliced.toSeq.map { case (s, sz) =>
        s -> SnapshotStore.SnapshotEntry(iBatch, sz)
      }
    }
    store.commitSized(newVersion, curEntries ++ novel, cur.map(_.version),
      curDvs, curMors ++ newMors, curSmors ++ newSmors,
      cur.flatMap(_.schemaJson), validatedConstraints = validated)
    store.vacuum(retain)
    Some(newVersion)
  }

  /** Post-commit slice-depth check for the MoR write fronts' opt-in
    * `autoCompactMaxSlices` knob: one manifest read (metadata-scale,
    * zero data reads) decides; the fold itself is best-effort — a
    * racing writer fences the MAINTENANCE action, never the already-
    * committed upsert. The rewrite schema is the table's persisted
    * (physical) schema when one exists — an evolved table must not be
    * folded through a narrower caller frame — else the caller's.
    */
  private def autoCompactSlices(store: SnapshotStore, fallback: StructType,
      partCols: Seq[String], maxSlices: Int): Unit = {
    if (maxSlices <= 0) return
    // the rewrite schema must be the TABLE's, never a possibly-narrow
    // caller frame: a patch-only sparse writer legally sends just
    // keys+partCols+updateCols, and folding hot partitions through
    // that would silently drop every other column from their new base
    // entries (r19 close review). Persisted schema first, then footer
    // inference from a committed batch; the caller frame only backs a
    // table with no batches to infer from.
    val schema = store.currentSchema().map(physSchema)
      .orElse(storedSchema(store.spark, store)).getOrElse(fallback)
    store.resolveCurrent().foreach { cur =>
      val depths = (cur.mors.map(_._1) ++ cur.smors.map(_.suffix))
        .groupBy(identity).values.map(_.size)
      if (depths.exists(_ >= maxSlices))
        try store.compactSlices(schema, partCols, maxSlices)
        catch { case _: SnapshotConcurrentWriteException => () }
    }
  }

  /** CDC apply on a snapshot table ([[Merge.applyCdc]] semantics:
    * last-writer-wins per key by `seqCol`, `delete` ops REMOVE the
    * key). `changes` carries keys ++ seq ++ op ++ the table's payload
    * columns (incl. `partCols`; keys must determine partition, as
    * ever). Only the partitions the batch touches are read and
    * rewritten — a partition whose last rows are all deleted empties
    * out and drops from the manifest atomically. The target is read
    * through the changes schema, so the spurious null `seqCol`/`opCol`
    * columns are dropped before the fold and never reach the staged
    * batch.
    */
  def applyCdc(spark: SparkSession, rootDir: String, changes: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    requireNoMappedLogicalCols(store, changes.schema)
    // CHECK constraints apply to rows being WRITTEN: delete rows only
    // remove keys (their payload may legitimately be stale/junk), so
    // they are exempt — the SQL-CHECK shape Delta enforces
    val cbase = requireConstraints(store, changes.where(col(opCol) =!= "delete"))
    mergePhys(store, changes, partCols, retain, statsCols,
      validated = Some(cbase))(
      (target, inc) =>
        Merge.applyCdc(target.drop(seqCol, opCol), inc, keys, seqCol, opCol))
  }

  /** Read the committed snapshot (empty frame with `schema` when the
    * table has never committed).
    */
  def read(spark: SparkSession, rootDir: String, schema: StructType): DataFrame =
    new SnapshotStore(spark, new Path(rootDir)).read(schema)

  /** Row-level DELETE via positional deletion vectors — see
    * [[SnapshotStore.deleteWhere]] (no data files rewritten; every
    * read path applies the tombstones; the next full rewrite
    * materializes them). Returns rows tombstoned.
    */
  def deleteWhere(spark: SparkSession, rootDir: String, schema: StructType,
      pred: org.apache.spark.sql.Column): Long =
    new SnapshotStore(spark, new Path(rootDir)).deleteWhere(schema, pred)

  // --- COLUMN MAPPING (r18) -------------------------------------------
  //
  // Logical→physical name indirection, the production-format answer
  // (Delta column mapping / Iceberg field ids) to two limits of a
  // name-based store: RENAME needed add+backfill+drop, and re-ADDING
  // a dropped name resurrected its pre-drop bytes from un-rewritten
  // files. Each persisted schema field may carry metadata key
  // `graft.phys` = the IMMUTABLE physical column name its bytes live
  // under in every data file; absent = the logical name (pre-mapping
  // tables read identically). Writers write files under physical
  // names; readers project physical→logical. Partition columns never
  // map (their values live in directory names — renaming one is a
  // relayout, refused like dropColumn refuses their drop).

  private[sinks] val PhysKey = "graft.phys"

  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  private def physSchema(s: StructType): StructType =
    StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(physName(f), f.dataType, f.nullable)))

  private def toLogical(df: DataFrame, s: StructType): DataFrame =
    df.select(s.fields.toSeq.map(f => col(physName(f)).as(f.name)): _*)

  private def toPhys(df: DataFrame, s: StructType): DataFrame =
    df.select(s.fields.toSeq.map(f => col(f.name).as(physName(f))): _*)

  /** Physical name for `logical` under schema `s` (identity when the
    * field is unmapped or absent).
    */
  private def physOf(s: StructType, logical: String): String =
    s.fields.find(_.name == logical).map(physName).getOrElse(logical)

  /** Guard for the generic [[merge]] front door: once a table has a
    * renamed column, a frame still carrying the renamed field's
    * LOGICAL name would stage files whose bytes the mapped reader can
    * never project (it reads the physical name) — silent data loss.
    * Fail loudly and point at a mapping-aware path instead. (The
    * keyed fronts — [[upsertUpdate]], [[upsertIgnore]], [[upsertMor]]
    * — translate instead of refusing, via [[toPhysIncoming]].)
    */
  private def requireNoMappedLogicalCols(store: SnapshotStore,
      incoming: StructType): Unit =
    store.currentSchema().foreach { sch =>
      val offending = sch.fields
        .filter(f => physName(f) != f.name)
        .map(_.name).filter(incoming.fieldNames.contains)
      require(offending.isEmpty,
        s"table has column mapping for [${offending.mkString(", ")}] " +
          "(renamed columns); write through upsertEvolve/upsertUpdate/" +
          "upsertMor, which route logical names to their physical columns")
    }

  /** Translate a LOGICAL incoming frame + key list to PHYSICAL space
    * when the table maps any column (identity otherwise, and for
    * fields outside the persisted schema) — what lets the keyed write
    * fronts accept logical names on renamed tables.
    */
  private def toPhysIncoming(store: SnapshotStore, incoming: DataFrame,
      keys: Seq[String], statsCols: Seq[String] = Nil)
      : (DataFrame, Seq[String], Seq[String]) =
    store.currentSchema() match {
      case Some(sch) if sch.fields.exists(f => physName(f) != f.name) =>
        // A column OUTSIDE the persisted logical schema passes through
        // as an identity physical name — but when that name IS some
        // mapped field's physical column, the stale writer's bytes
        // would silently land in that field (after rename pic→cover, a
        // writer still sending `pic` writes INTO cover) — the exact
        // silent-routing class requireNoMappedLogicalCols fails loudly
        // on at the generic front (ADVICE r18).
        val strays = incoming.columns.toSeq
          .filterNot(sch.fieldNames.contains)
          .filter(c => sch.fields.exists(f => f.name != c && physName(f) == c))
        require(strays.isEmpty,
          s"incoming column(s) [${strays.mkString(", ")}] are not logical " +
            "fields of the table but collide with a renamed field's physical " +
            "column — a stale writer using pre-rename names; update it to " +
            "the current logical names")
        (incoming.select(incoming.columns.toSeq.map(c =>
          col(c).as(physOf(sch, c))): _*),
          keys.map(physOf(sch, _)), statsCols.map(physOf(sch, _)))
      case _ => (incoming, keys, statsCols)
    }

  /** Metadata-only column RENAME: commits the SAME data entries,
    * slices, and deletion vectors under a schema whose field is
    * logically renamed while its `graft.phys` metadata pins the
    * physical name the existing files already carry — zero bytes
    * rewritten, reads at or after this version project old files'
    * physical column under the new logical name, and time travel
    * below it still reads the old name (per-version schema history).
    * The reference analogue is `pic` -> `cover`
    * (`modal/recording.py:47-49`), which a name-based store could
    * only spell as add+backfill+drop.
    *
    * Refused for partition columns (values live in directory names)
    * and when `newName` already exists. Renaming to a name USED
    * BEFORE (even dropped) is safe: the schema keeps resolving this
    * field through its physical name, and a future re-ADD of any
    * dropped name allocates a fresh physical name
    * ([[freshPhysName]]), so bytes can never cross-talk.
    */
  def renameColumn(spark: SparkSession, rootDir: String,
      oldName: String, newName: String): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val SnapshotStore.Resolved(version, sized, dvs, mors, smors, _, _) =
      store.resolveCurrent().getOrElse(
        throw new IllegalStateException(s"no snapshot at $rootDir"))
    val schema = storedSchema(spark, store).getOrElse(
      throw new IllegalStateException(s"no snapshot at $rootDir"))
    require(schema.fieldNames.contains(oldName),
      s"column '$oldName' does not exist (have: ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists")
    val partCols = sized.keys
      .flatMap(_.split('/').map(_.takeWhile(_ != '='))).toSet
    require(!partCols.contains(oldName),
      s"cannot rename partition column '$oldName' (partition values live in " +
        "directory names; that is a relayout, not a metadata evolution)")
    val newSchema = StructType(schema.fields.map { f =>
      if (f.name != oldName) f
      else org.apache.spark.sql.types.StructField(newName, f.dataType, f.nullable,
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysKey, physName(f)).build())
    })
    // same crash contract as dropColumn: schema written after the
    // commit it describes; a crash between the two leaves a committed
    // version whose schema falls back to its predecessor's (the
    // rename "did not happen") — self-healing, never torn. Sparse
    // slices carry: their manifest lines name PHYSICAL columns, which
    // a rename never moves.
    store.commitSized(version + 1, sized, Some(version), dvs, mors, smors,
      Some(newSchema.json))
    store.writeSchemaFile(version + 1, newSchema)
  }

  /** A physical name for newly-added logical field `name` that no
    * schema in the table's history ever used — re-adding a dropped
    * name must NOT resolve to the dropped column's bytes still
    * present in un-rewritten files (the resurrect limit column
    * mapping exists to remove).
    */
  private def freshPhysName(name: String, usedPhys: Set[String]): String =
    if (!usedPhys(name)) name
    else Iterator.from(1).map(k => s"${name}__r$k").find(!usedPhys(_)).get

  /** Wider member of a SUPPORTED metadata-only type-widening pair —
    * the pairs Spark 4's vectorized parquet reader upcasts natively
    * when old files carry the narrow physical type under a wider
    * declared schema (probed on this build: int32 files read as
    * bigint/double, float as double): the integral ladder
    * byte → short → int → long, float → double, and
    * (byte|short|int) → double (exact — double holds every int32).
    * long → double is NOT here (lossy above 2^53), nor is any
    * string/temporal coercion — silent lossy coercion at 100 TB is
    * how columns rot. None = not widenable, caller fails fast.
    */
  private def widerOf(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val ladder: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    def rank(t: DataType) = ladder.indexOf(t)
    if (a == b) Some(a)
    else if (rank(a) >= 0 && rank(b) >= 0) Some(ladder(math.max(rank(a), rank(b))))
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case (x, DoubleType) if rank(x) >= 0 && rank(x) <= rank(IntegerType) => Some(DoubleType)
      case (DoubleType, x) if rank(x) >= 0 && rank(x) <= rank(IntegerType) => Some(DoubleType)
      case _ => None
    }
  }

  /** K2 with ADD-COLUMN + TYPE-WIDENING SCHEMA EVOLUTION (the
    * Delta/Iceberg `mergeSchema` + type-widening capabilities): the
    * table's effective schema is the UNION of the stored schema and
    * `incoming`'s — stored fields keep their order; a common field
    * with a different type resolves to the WIDER of a supported
    * widening pair ([[widerOf]]: integral ladder, float→double,
    * int→double) and fails fast otherwise (silent lossy coercion at
    * 100 TB is how columns rot); new incoming fields append as
    * nullable. Existing data files are NEVER rewritten for an evolve:
    * parquet under a declared wider schema resolves absent columns to
    * NULL and upcasts narrow physical types natively (Spark 4's
    * vectorized reader), so old partitions keep their bytes and only
    * the manifest + a schemas/ sidecar move — both evolutions are
    * metadata operations, exactly like the production table formats.
    * The effective schema persists per version
    * ([[SnapshotStore.writeSchemaFile]]); readers use
    * [[readEvolved]] without having to know the table's history.
    */
  def upsertEvolve(spark: SparkSession, rootDir: String, incoming: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil): Unit =
    upsertEvolve(new SnapshotStore(spark, new Path(rootDir)), incoming,
      keys, partCols, retain, statsCols)

  /** Store-instance variant — the seam the forced-race spec drives. */
  private[graft] def upsertEvolve(store: SnapshotStore, incoming: DataFrame,
      keys: Seq[String], partCols: Seq[String], retain: Int,
      statsCols: Seq[String]): Unit = {
    val spark = store.spark
    val cbase = requireConstraints(store, incoming)
    val (union, widened, physKeys, physStats, schemaBase) =
      evolvedPlan(spark, store, incoming, keys, partCols, statsCols)
    store.beforeEvolveCommitHook()
    // The sidecar is written ONLY for the version THIS call committed
    // ([[merge]] returns it; None = empty incoming, nothing committed,
    // nothing to describe). Re-reading currentVersion() here instead
    // would race a concurrent commit (attaching this evolve's schema
    // to someone else's version) and an empty incoming would
    // retroactively overwrite the CURRENT version's sidecar, changing
    // schemaAt(v)/time-travel for an existing commit. Written AFTER
    // the commit it describes; see the schemas/ note on SnapshotStore
    // for why the crash window self-heals.
    // widened is ALREADY physical — enter below the mapped-name guard
    // (cross-talk names would misfire it; see mergePhys). schemaBase
    // threads the schema-resolution version into the commit fence: a
    // concurrent commit between the schema read and the merge's own
    // resolution aborts instead of letting this sidecar union drop it
    // (ADVICE r18).
    mergePhys(store, widened, partCols, retain, physStats,
      Some(schemaBase), Some(union), validated = Some(cbase))(
      (target, inc) => Merge.upsertUpdate(target, inc, physKeys))
      .foreach(v => store.writeSchemaFile(v, union))
  }

  /** [[upsertEvolve]] through the MERGE-ON-READ write path: the same
    * schema-union/widening/column-mapping resolution, but the commit
    * is an [[upsertMor]] — old row versions tombstone through a DV
    * and the (widened, physically-named) incoming rows append as a
    * slice, zero partition rewrites. Existing files stay narrow/
    * column-absent and ride the evolved reader's native upcast /
    * NULL resolution exactly as under the CoW evolve — the two paths
    * differ only in write amplification. Returns the committed
    * version (None when `incoming` is empty).
    */
  def upsertMorEvolve(spark: SparkSession, rootDir: String,
      incoming: DataFrame, keys: Seq[String], partCols: Seq[String],
      retain: Int = 2): Option[Long] =
    upsertMorEvolve(new SnapshotStore(spark, new Path(rootDir)), incoming,
      keys, partCols, retain)

  /** Store-instance variant — the seam the forced-race spec drives. */
  private[graft] def upsertMorEvolve(store: SnapshotStore,
      incoming: DataFrame, keys: Seq[String], partCols: Seq[String],
      retain: Int): Option[Long] = {
    val spark = store.spark
    val cbase = requireConstraints(store, incoming)
    val (union, widened, physKeys, _, schemaBase) =
      evolvedPlan(spark, store, incoming, keys, partCols, Nil)
    store.beforeEvolveCommitHook()
    // widened is ALREADY physical — enter below the translating front
    // (a second translation corrupts on cross-talk names, see
    // upsertMorPhys). schemaBase: see upsertEvolve — the sidecar race
    // fix (ADVICE r18).
    val v = upsertMorPhys(store, widened, physKeys, partCols, retain,
      Some(schemaBase), Some(union), validated = Some(cbase))
    v.foreach(store.writeSchemaFile(_, union))
    v
  }

  /** The schema-evolution resolution shared by the CoW and MoR evolve
    * fronts: (union schema with column-mapping metadata, the incoming
    * frame widened + renamed to PHYSICAL columns, physical key and
    * stats column names).
    *
    * Also returns the table VERSION the schema resolution was derived
    * from (None = never committed): the evolve fronts pass it down as
    * the commit paths' `schemaBase`, closing the schema-sidecar
    * lost-update race (ADVICE r18) — without it, a concurrent evolve
    * committing between this schema read and the merge's own
    * resolution would be fenced by NEITHER (the merge re-resolves and
    * happily commits on top), and the sidecar written after the
    * commit would union against the STALE schema, silently dropping
    * the concurrent evolve's column.
    */
  private def evolvedPlan(spark: SparkSession, store: SnapshotStore,
      incoming: DataFrame, keys: Seq[String], partCols: Seq[String],
      statsCols: Seq[String])
      : (StructType, DataFrame, Seq[String], Seq[String], Option[Long]) = {
    // version FIRST, then the schema reads: versions are monotonic
    // and never reused, so if the commit path later observes this
    // same version, every read in between provably saw this version's
    // state
    val v0 = store.currentVersion()
    // Adopting a pre-evolution table infers its schema from parquet
    // footers — but PARTITION columns only exist as `col=val` dir
    // strings there, so their inferred type is a guess ("0" → int).
    // The caller's declared type is authoritative for partition
    // columns (exactly as it was for every pre-evolution read, where
    // the caller always supplied the schema): reconcile them before
    // the conflict check. Persisted schemas recorded real types and
    // skip this.
    val stored: Option[StructType] = storedSchema(spark, store).map { s =>
      if (store.currentSchema().isDefined) s
      else StructType(s.fields.map { f =>
        if (partCols.contains(f.name))
          incoming.schema.find(_.name == f.name)
            .map(inF => f.copy(dataType = inF.dataType)).getOrElse(f)
        else f
      })
    }
    val union: StructType = stored match {
      case None => incoming.schema
      case Some(s) =>
        val incByName = incoming.schema.fields.map(f => f.name -> f).toMap
        val resolved = s.fields.map { f =>
          incByName.get(f.name) match {
            case Some(inF) if inF.dataType != f.dataType =>
              val w = widerOf(f.dataType, inF.dataType)
              require(w.isDefined,
                s"schema evolution type conflict on '${f.name}': " +
                  s"stored ${f.dataType.simpleString} vs " +
                  s"incoming ${inF.dataType.simpleString}")
              f.copy(dataType = w.get, nullable = true)
            case _ => f.copy(nullable = true)
          }
        }
        val storedNames = s.fieldNames.toSet
        // a NEW logical name takes a physical name no schema in the
        // table's history ever used — re-adding a dropped name must
        // get fresh NULLs, never the dropped column's leftover bytes
        // (column mapping, r18)
        val usedPhys: Set[String] =
          (store.schemaHistory() :+ s).flatMap(_.fields.map(physName)).toSet
        val newFields = incoming.schema.fields
          .filterNot(f => storedNames(f.name)).map { f =>
            val p = freshPhysName(f.name, usedPhys)
            if (p == f.name) f.copy(nullable = true)
            else f.copy(nullable = true,
              metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putString(PhysKey, p).build())
          }
        StructType(resolved ++ newFields)
    }
    (union, toPhys(widenTo(incoming, union), union),
      keys.map(physOf(union, _)), statsCols.map(physOf(union, _)), v0)
  }

  /** Metadata-only DROP COLUMN — the third evolution beside add and
    * widen: commits the SAME data entries under a schema without
    * `colName`. No file is rewritten; [[readEvolved]]'s explicit
    * schema simply never projects the column, so the parquet scan
    * prunes it (the bytes stay in old files until the next full
    * rewrite, exactly like Delta/Iceberg's logical drop). Per-version
    * schema history is preserved: time travel below the drop still
    * reads the column.
    *
    * Refused for PARTITION columns (their values live in directory
    * names — dropping one is a physical relayout, not an evolution)
    * and for the last remaining column. Keys are the caller's
    * concern, as everywhere in this layer.
    *
    * Re-ADDING a dropped name via [[upsertEvolve]] yields FRESH
    * NULLs, never the pre-drop values still physically present in
    * un-rewritten files: the re-added field is assigned a physical
    * name no schema in the table's history ever used
    * ([[freshPhysName]] — the column-mapping indirection, r18; the
    * r17 name-based resurrect limit is gone). SnapshotMergeSpec pins
    * the fresh-null behavior.
    */
  def dropColumn(spark: SparkSession, rootDir: String, colName: String): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val SnapshotStore.Resolved(version, sized, dvs, mors, smors, _, _) =
      store.resolveCurrent().getOrElse(
        throw new IllegalStateException(s"no snapshot at $rootDir"))
    val schema = storedSchema(spark, store).getOrElse(
      throw new IllegalStateException(s"no snapshot at $rootDir"))
    require(schema.fieldNames.contains(colName),
      s"column '$colName' does not exist (have: ${schema.fieldNames.mkString(", ")})")
    val partCols = sized.keys
      .flatMap(_.split('/').map(_.takeWhile(_ != '='))).toSet
    require(!partCols.contains(colName),
      s"cannot drop partition column '$colName' (partition values live in " +
        "directory names; that is a relayout, not a metadata evolution)")
    // an outstanding SPARSE slice joins on its key columns at every
    // read — dropping one would break patch resolution for data
    // already committed. (Dropping a PATCHED column is fine: the
    // patch of a dropped column is skipped until compaction folds it
    // away.) Compact the slices first, then drop.
    val physDoomed = physOf(schema, colName)
    require(!smors.exists(_.keys.contains(physDoomed)),
      s"column '$colName' is a join key of outstanding sparse " +
        "merge-on-read slices — run compactSlices first, then drop")
    val newSchema = StructType(schema.fields.filterNot(_.name == colName))
    require(newSchema.nonEmpty, "cannot drop the last column")
    // same crash contract as upsertEvolve's sidecar: schema written
    // after the commit it describes; a crash between the two leaves a
    // committed version whose schema falls back to its predecessor's
    // (the drop "did not happen") — self-healing, never torn
    store.commitSized(version + 1, sized, Some(version), dvs, mors, smors,
      Some(newSchema.json))
    store.writeSchemaFile(version + 1, newSchema)
  }

  /** Read the committed snapshot under its PERSISTED (evolved)
    * schema; falls back to footer inference for a pre-evolution
    * table. Column mapping applies: files are scanned under each
    * field's PHYSICAL name and projected to its logical name, so a
    * rename is visible here the instant its metadata commit lands.
    */
  def readEvolved(spark: SparkSession, rootDir: String): DataFrame = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val schema = storedSchema(spark, store).getOrElse(
      throw new IllegalStateException(s"no snapshot at $rootDir"))
    toLogical(store.read(physSchema(schema)), schema)
  }

  /** Time-travel [[readEvolved]]: the table AS OF committed `version`,
    * under the schema THAT version carried — a read below a rename
    * still sees the old logical name, below a drop still sees the
    * column (per-version schema history, the MVCC face of the
    * evolution layer).
    */
  def readEvolvedAt(spark: SparkSession, rootDir: String,
      version: Long): DataFrame = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val schema = store.schemaAt(version).orElse(storedSchema(spark, store))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $rootDir"))
    toLogical(store.readAt(version, physSchema(schema)), schema)
  }

  /** The table's effective schema: the persisted one when present,
    * else inferred from the current manifest's batch dirs (partition
    * columns parse from the `col=val` suffix dirs).
    */
  private def storedSchema(spark: SparkSession,
      store: SnapshotStore): Option[StructType] =
    store.currentSchema().orElse {
      store.resolveCurrent().map { cur =>
        // ONE batch dir, scanned with itself as basePath: every batch
        // of a pre-evolution table carries the caller-contract schema
        // (evolved tables never reach this fallback), and a multi-dir
        // read would trip Spark's conflicting-partition-roots check
        val batch = cur.slices.map(_._2).sorted.head
        val p = store.dataPath(batch).toString
        spark.read.option("basePath", p).parquet(p).schema
      }
    }

  /** Full logical replacement: after this commit the table IS
    * `incoming` — every pre-existing partition the frame did not
    * reproduce is dropped in the SAME atomic pointer swap (all-old or
    * all-new for any reader, the [[merge]] guarantee without the
    * carry-forward). Fenced on the current version like every commit,
    * so a concurrent writer aborts instead of interleaving.
    *
    * An EMPTY incoming frame commits an empty manifest — i.e.
    * Overwrite-with-empty TRUNCATES the table (the Delta semantic);
    * callers who mean "no-op on empty" must guard before calling.
    */
  def replaceAll(spark: SparkSession, rootDir: String, incoming0: DataFrame,
      partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil): Unit = {
    requirePartitionable(incoming0.schema, partCols)
    val store = new SnapshotStore(spark, new Path(rootDir))
    val cbase = requireConstraints(store, incoming0)
    // an empty frame touches nothing and still commits (truncates)
    val (incoming, touched, _) = pinTouched(incoming0, partCols)
    val cur = store.resolveCurrent()
    // every base partition is rewritten, so its DVs and slices drop
    store.commitRewrite(cur, incoming, cur.fold(touched)(_.entries.keySet ++ touched),
      partCols, statsCols, validated = Some(cbase), retain = retain)
  }

  /** Project `df` onto `schema`: shared fields pass through (types
    * already verified equal), absent fields become typed NULLs.
    */
  private def widenTo(df: DataFrame, schema: StructType): DataFrame = {
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    df.select(schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        // a batch narrower than the (possibly widened) union casts UP
        // here, so every file written from now on carries the wide
        // physical type; only pre-evolution files stay narrow and ride
        // the reader's native upcast
        case Some(inF) if inF.dataType != f.dataType =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(_) => col(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  // --- CHECK constraints (r19) ---------------------------------------

  /** ADD a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * shape): `exprSql` is a boolean SQL expression over the table's
    * LOGICAL columns; from this commit on, every write front refuses
    * an incoming frame containing a row for which it evaluates
    * explicitly FALSE (SQL CHECK semantics — NULL passes). The
    * EXISTING table is validated first, like Delta: a constraint the
    * current data already violates is refused, so readers can rely
    * on every committed row having passed. The add is a fenced
    * metadata commit (same entries under version+1) + a constraints
    * sidecar keyed to it, so a racing writer aborts rather than
    * committing unvalidated rows against the half-added constraint.
    *
    * Constraints reference logical names AS OF add time; a later
    * [[renameColumn]] does not rewrite them — the next write fails
    * LOUDLY on expression resolution (drop and re-add the constraint
    * under the new name), never silently skips enforcement.
    */
  def addConstraint(spark: SparkSession, rootDir: String,
      name: String, exprSql: String): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val cur = store.resolveCurrent().getOrElse(
      throw new IllegalStateException(s"no snapshot at $rootDir"))
    val existing = cur.constraints.getOrElse(Map.empty)
    require(!existing.contains(name), s"constraint '$name' already exists")
    // the whole CURRENT table must already satisfy the predicate
    val table = readEvolved(spark, rootDir)
    val bad = table.where(coalesce(expr(exprSql).cast("boolean"), lit(true))
      === lit(false)).limit(1).count()
    require(bad == 0L,
      s"existing rows violate constraint '$name' ($exprSql) — clean the " +
        "data first (CHECK constraints guarantee every committed row passed)")
    // the new set is EMBEDDED in the fenced commit (atomic — no
    // commit-vs-sidecar window); the sidecar after it is the
    // beyond-retention history mirror, so its ordering is harmless
    store.commitSized(cur.version + 1, cur.entries, Some(cur.version),
      cur.dvs, cur.mors, cur.smors, cur.schemaJson,
      constraints = Some(existing + (name -> exprSql)))
    store.writeConstraintsFile(cur.version + 1, existing + (name -> exprSql))
  }

  /** DROP a CHECK constraint — fenced metadata commit, like the add. */
  def dropConstraint(spark: SparkSession, rootDir: String, name: String): Unit = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val cur = store.resolveCurrent().getOrElse(
      throw new IllegalStateException(s"no snapshot at $rootDir"))
    val existing = cur.constraints.getOrElse(Map.empty)
    require(existing.contains(name),
      s"constraint '$name' does not exist (have: ${existing.keys.toSeq.sorted.mkString(", ")})")
    // embedded like the add: Some(empty) after the last drop stays
    // authoritative (never falls back to the sidecar history)
    store.commitSized(cur.version + 1, cur.entries, Some(cur.version),
      cur.dvs, cur.mors, cur.smors, cur.schemaJson,
      constraints = Some(existing - name))
    store.writeConstraintsFile(cur.version + 1, existing - name)
  }

  /** Write-front enforcement: refuse `incoming` when any row violates
    * a constraint in force (explicit FALSE only — NULL passes, SQL
    * CHECK semantics). Runs on the LOGICAL incoming frame, before any
    * physical-name translation, because constraints are written
    * against logical names. One bounded action per constraint; a
    * violation reports the constraint and one offending row.
    *
    * Returns the set VALIDATED against — the caller threads it into
    * its commit as [[SnapshotStore.commitSized]]'s
    * `validatedConstraints`, which aborts (retryably) when the set in
    * force at commit time differs: a concurrent addConstraint landing
    * anywhere inside the write front can then never be bypassed
    * (ADVICE r19 — the old check-at-front-top left the WHOLE write as
    * the race window).
    */
  private def requireConstraints(store: SnapshotStore,
      incoming: DataFrame): Map[String, String] = {
    val cs = store.currentConstraints()
    if (cs.isEmpty) return cs
    // ONE bounded job for the whole set, not one per constraint: the
    // disjunction of violations filters, and a per-constraint pass
    // vector names the first offender (a table with N constraints
    // must not cost N scans of an expensive incoming plan per write)
    def violated(sql: String) =
      coalesce(expr(sql).cast("boolean"), lit(true)) === lit(false)
    val ordered = cs.toSeq.sortBy(_._1)
    val hit = incoming
      .where(ordered.map(c => violated(c._2)).reduce(_ || _))
      .select(struct(incoming.columns.map(col): _*).as("__row") +:
        ordered.map { case (name, sql) => violated(sql).as(s"__viol_$name") }: _*)
      .limit(1).collect()
    hit.headOption.foreach { r =>
      val name = ordered.collectFirst {
        case (n, _) if r.getAs[Boolean](s"__viol_$n") => n
      }.getOrElse(ordered.head._1)
      require(false,
        s"incoming rows violate CHECK constraint '$name' (${cs(name)}); " +
          s"example: ${r.getAs[Row]("__row")}")
    }
    cs
  }

  /** The schema-resolution fence shared by the evolve commit paths —
    * see `schemaBase` on [[mergePhys]].
    */
  private def requireSchemaBase(store: SnapshotStore,
      schemaBase: Option[Option[Long]], cur: Option[Long]): Unit =
    schemaBase.foreach { sb =>
      if (cur != sb)
        throw new SnapshotConcurrentWriteException(
          s"snapshot table ${store.root} advanced past the schema-resolution " +
            s"base (${sb.fold("<empty>")(v => s"v$v")} -> " +
            s"${cur.fold("<empty>")(v => s"v$v")}) — a concurrent commit's " +
            "schema would be dropped by this evolve's sidecar; re-plan and retry")
    }

  /** AUDIT for the key-determines-partition contract: live rows whose
    * keys `incoming` carries but which sit OUTSIDE the partitions
    * `incoming` itself touches — each is a contract violation (the
    * caller moved a key to a different partition value), and merging
    * such a batch produces a SILENT DUPLICATE: every keyed front
    * prunes its scan to the touched partitions, so the old copy is
    * never seen, never tombstoned, never rewritten (the documented
    * outcome; KeyContractSpec pins it). Returns the violating live
    * rows under `keys ++ partCols` (their CURRENT partition values —
    * point the caller at what to clean).
    *
    * Cost: ONE key-and-partition-column-pruned job over the UNTOUCHED
    * partitions (at 100 TB that is an audit-tier scan of two thin
    * columns, which is why the fronts run it only behind the opt-in
    * `checkKeyPartition` flag: the contract normally holds by
    * construction — partition values derived from the key — and the
    * steady-state write must not pay a table-wide read per cycle).
    * DV-filtered (a deleted old copy is not a duplicate); sparse
    * patches skipped (keys are never patched). Advisory under
    * concurrency like any read: a racing writer moving keys mid-audit
    * is caught by its own commit's fence, not this scan.
    */
  def keyPartitionViolations(spark: SparkSession, rootDir: String,
      incoming: DataFrame, keys: Seq[String],
      partCols: Seq[String]): DataFrame = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    val (inc, keysPhys, _) = toPhysIncoming(store, incoming, keys)
    val narrow = StructType(inc.schema.fields.filter(f =>
      keysPhys.contains(f.name) || partCols.contains(f.name)))
    require(narrow.fieldNames.toSet == (keysPhys ++ partCols).toSet,
      s"incoming frame is missing key/partition columns: " +
        s"${((keysPhys ++ partCols).toSet -- inc.columns.toSet).mkString(", ")}")
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], narrow)
    val cur = store.resolveCurrent().getOrElse(return empty)
    val parts = inc.select(partCols.map(col): _*).distinct().collect()
    if (parts.isEmpty) return empty
    val touched = parts.map(partitionSuffix(partCols, _)).toSet
    val outside = cur.entries.keySet -- touched
    if (outside.isEmpty) return empty
    store.readSlices(cur.slices, narrow, outside, cur.dvs)
      .join(inc.select(keysPhys.map(col): _*).distinct(), keysPhys, "left_semi")
  }

  /** The fronts' opt-in enforcement of [[keyPartitionViolations]]:
    * loud refusal (table untouched) instead of the silent duplicate.
    */
  private def requireKeyContract(spark: SparkSession, rootDir: String,
      incoming: DataFrame, keys: Seq[String], partCols: Seq[String]): Unit = {
    val hit = keyPartitionViolations(spark, rootDir, incoming, keys, partCols)
      .limit(1).collect()
    require(hit.isEmpty,
      s"key-determines-partition contract violated: incoming carries key(s) " +
        s"already live in a DIFFERENT partition (e.g. ${hit.headOption
          .fold("")(_.toString)}); merging would duplicate them — fix the " +
        "partition derivation or delete the old copies first")
  }

  /** Hive-style partition path suffix for one tuple, e.g. "pk=0" or
    * "a=1/b=x%20y" (values escaped the same way Spark's partitioned
    * writer escapes directory names, so manifest suffixes and
    * on-disk dirs always agree).
    */
  private[sinks] def partitionSuffix(partCols: Seq[String], r: Row): String =
    partCols.zipWithIndex.map { case (c, i) =>
      ExternalCatalogUtils.getPartitionPathString(c, String.valueOf(r.get(i)))
    }.mkString("/")

  /** The partition-column contract every front checks up front.
    * Snapshot tables are partitioned: with no partition columns the
    * touched set would be one empty suffix that matches no manifest
    * entry, so [[upsertIgnore]]'s anti-join would silently read
    * nothing and call every committed key new.
    * The suffix contract above relies on `String.valueOf(value)`
    * matching Spark's partition-directory formatting. That holds for
    * integral, string, boolean, and date partition columns — NOT for
    * timestamps (writer emits `2020-01-01 00%3A00%3A00`, valueOf
    * gives `…00:00:00.0`) or fractional types. Reject both cases
    * instead of silently missing every partition.
    */
  private[sinks] def requirePartitionable(schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    require(partCols.nonEmpty,
      "snapshot tables are partitioned: derive a key-determined bucket column " +
        "(e.g. pmod(key, n)) and pass it as the partition column")
    val ok: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
      StringType, BooleanType, DateType)
    partCols.foreach { c =>
      val dt = schema(c).dataType
      require(ok.contains(dt),
        s"partition column '$c' has type ${dt.simpleString}; only integral, " +
          "string, boolean, or date partition columns are supported — other " +
          "types format differently in partition paths than String.valueOf, " +
          "which would break the key->directory contract. Derive a string or " +
          "integral bucket column instead.")
    }
  }

  /** Partition-tuple VALUE contract every write front checks: no
    * NULLs (no directory form) and no empty strings (the partitioned
    * writer emits `__HIVE_DEFAULT_PARTITION__`, which reads back as
    * NULL — the key would silently stop matching and every later merge
    * of it would accrete a duplicate).
    */
  private def requirePartitionValues(parts: Seq[Row]): Unit =
    require(parts.forall(r => (0 until r.length).forall(i =>
      !r.isNullAt(i) && String.valueOf(r.get(i)).nonEmpty)),
      "null or empty-string partition values are not supported: both lose " +
        "their identity through the partition-directory round trip " +
        "(written as __HIVE_DEFAULT_PARTITION__, read back as NULL)")

  /** `retain` forwards to the post-commit [[SnapshotStore.vacuum]]:
    * the number of trailing manifests (and their version-log entries)
    * kept readable. The default 2 suits plain tables; a table with
    * change-feed followers needs `retain` >= 1 + the deepest span a
    * follower may fall behind, or [[SnapshotStore.readChangesEach]]
    * will fail with the below-retention error once it lags.
    *
    * Returns the version THIS call committed (None when `incoming` is
    * empty and nothing was committed) — callers attaching per-version
    * metadata (e.g. [[upsertEvolve]]'s schema sidecar) must key it to
    * this value, never to a re-read of currentVersion(), which a
    * concurrent commit can have moved.
    */
  def merge(spark: SparkSession, rootDir: String, incoming0: DataFrame,
      partCols: Seq[String], retain: Int = 2,
      statsCols: Seq[String] = Nil)(
      mergeFn: (DataFrame, DataFrame) => DataFrame): Option[Long] = {
    val store = new SnapshotStore(spark, new Path(rootDir))
    requireNoMappedLogicalCols(store, incoming0.schema)
    val cbase = requireConstraints(store, incoming0)
    mergePhys(store, incoming0, partCols, retain, statsCols,
      validated = Some(cbase))(mergeFn)
  }

  /** [[merge]] without the mapped-logical-name guard — for callers
    * already in PHYSICAL column space (the evolve fronts), whose
    * frames can legitimately carry a renamed field's physical name
    * even when that name doubles as another field's logical name
    * (the rename + re-add cross-talk case; see [[upsertMorPhys]]).
    *
    * `schemaBase` (the evolve fronts): the table version their schema
    * resolution was derived from — when the resolution below observes
    * a DIFFERENT version, a concurrent commit landed in between and
    * the caller's pending schema sidecar would be stale; abort with
    * the retryable conflict instead of committing data whose sidecar
    * silently drops the concurrent evolve's columns (ADVICE r18).
    */
  private[sinks] def mergePhys(store: SnapshotStore, incoming0: DataFrame,
      partCols: Seq[String], retain: Int, statsCols: Seq[String],
      schemaBase: Option[Option[Long]] = None,
      embedSchema: Option[StructType] = None,
      validated: Option[Map[String, String]] = None)(
      mergeFn: (DataFrame, DataFrame) => DataFrame): Option[Long] = {
    requirePartitionable(incoming0.schema, partCols)

    // One evaluation of the incoming plan: the staged write (whose
    // mergeFn may reference incoming twice) reads the pin — an
    // expensive or non-deterministic upstream must not run per action.
    val (incoming, touched, _) = pinTouched(incoming0, partCols)
    if (touched.isEmpty) return None

    val cur = store.resolveCurrent()
    requireSchemaBase(store, schemaBase, cur.map(_.version))
    val base = cur.getOrElse(SnapshotStore.Resolved.empty)

    // Manifest-level prune from the SAME snapshot resolution that the
    // commit below fences on: only the touched partitions' data dirs
    // become scan inputs; untouched partitions are not even listed.
    // Deletion vectors apply to the target read (a merge must never
    // see — or resurrect — tombstoned rows), and a touched partition's
    // merge-on-read slices — full and sparse — read WITH its base
    // slice (the rewrite below materializes them).
    val pruned = store.readSlices(base.slices, incoming.schema, touched,
      base.dvs, base.smors)
    Some(store.commitRewrite(cur, mergeFn(pruned, incoming), touched, partCols,
      statsCols, embedSchema = embedSchema, validated = validated, retain = retain))
  }

  /** Pin `df` — an eager local checkpoint: its upstream runs once,
    * its lineage is cut, and a lost block fails loudly where `persist`
    * would silently re-run a paged fetch or a fuzzy scan — and return
    * it with the partition suffixes it touches and its row count,
    * after checking the partition values. Suffixes and count are
    * observed metrics of the checkpoint job itself, so the pin is one
    * SQL execution with no aggregate query of its own. An empty `df`
    * touches no suffix.
    */
  private def pinTouched(df: DataFrame, partCols: Seq[String])
      : (DataFrame, Set[String], Long) = {
    val name = s"graft_pin_${java.util.UUID.randomUUID()}"
    val observed = df.observe(name,
      collect_set(struct(partCols.map(col): _*)).as("parts"), count(lit(1)).as("rows"))
    val pinned = observed.ckpt(true)
    // read off the checkpoint's own execution, which has finished and
    // merged its tasks' metrics by now; an Observation would instead
    // wait for a listener-bus event
    val m = observed.queryExecution.observedMetrics(name)
    val parts = m.getSeq[Row](0)
    requirePartitionValues(parts)
    (pinned, parts.map(partitionSuffix(partCols, _)).toSet, m.getLong(1))
  }
}
