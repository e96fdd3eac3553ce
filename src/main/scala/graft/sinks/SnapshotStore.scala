package graft.sinks

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, shiftleft, shiftright, when}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** A [[SnapshotStore.commitSized]] found the table advanced past the
  * version the merge was derived from: another writer committed in
  * between. Nothing was published and nothing committed was damaged —
  * re-read the table and retry the merge (the snapshot twin of a
  * serialization failure in the reference's Postgres transaction,
  * `db/occurrence.py:22-51`).
  */
final class SnapshotConcurrentWriteException(msg: String)
  extends java.io.IOException(msg)

object SnapshotStore {
  /** The first line of every manifest, the one on-disk format a
    * [[SnapshotStore]] writes and reads. A table kept across builds
    * keys its location on it ([[graft.operators.Graph]]'s edge table).
    */
  private[graft] val Header = "graft-snapshot 6"

  /** One live-partition manifest entry: the batch dir holding the
    * partition's current data, and the partition's bytes on disk
    * (always recorded — [[SnapshotStore.commitSized]] refuses an entry
    * without them).
    */
  final case class SnapshotEntry(batch: String, bytes: Long)

  /** One COLUMN-SPARSE merge-on-read patch slice (manifest `#smor`
    * line): the batch dir holds, for `suffix`, only
    * `keys ++ cols` (plus partition dirs) — the changed columns of
    * updated rows, NOT full rows. Readers resolve a patched row by
    * joining the slice onto the partition's full rows on `keys` and
    * overwriting exactly `cols` (including explicit NULLs) for rows
    * whose originating slice predates the patch. The reference's
    * hottest write updates 2 of 5 columns per cycle
    * (`db/occurrence.py:46-48` `DO UPDATE SET "start" = …, "page" =
    * …`); at wide schemas a full-row slice re-amplifies exactly what
    * merge-on-read exists to avoid.
    */
  final case class SparseSlice(suffix: String, batch: String, bytes: Long,
      keys: Seq[String], cols: Seq[String])

  /** One parsed manifest: the committed version, and the only value a
    * manifest is ever read into. Everything a writer must derive BOTH
    * its read and its commit fence from (two pointer reads can
    * straddle a concurrent commit). What a committer carries forward
    * from it: [[SnapshotStore.commitRewrite]]'s carry rule.
    *
    * `schemaJson` — the table schema EMBEDDED in this version's
    * manifest (`#schema` line), the only record of it: written
    * atomically WITH the commit, so a racing schema reader can never
    * observe a committed version whose schema is still in flight.
    * Every committer carries it forward like dvs/mors; the
    * evolve/rename/drop paths REPLACE it with their new schema. None
    * = the table never evolved (readers infer from footers).
    *
    * `constraints` — the CHECK-constraint set in force from this
    * version on, EMBEDDED in the manifest (`#constraintset` marker +
    * one `#constraint` line per entry) exactly like the schema, so
    * add/drop/restore publish data and the constraint set governing
    * it in ONE atomic pointer swap. None = the table never carried
    * constraints; Some(empty) after a drop is authoritative emptiness.
    *
    * `issued` — every physical column name the table has ever issued
    * (`#issued` line), the column-mapping history: a re-added logical
    * name must never resolve to a dropped column's bytes still sitting
    * in un-rewritten files, and this set is what says a name was taken.
    * It only grows, and every commit carries it (see
    * [[SnapshotStore.commitSized]]), so it holds the table's whole
    * history at any retention.
    */
  final case class Resolved(version: Long,
      entries: Map[String, SnapshotEntry], dvs: Seq[String],
      mors: Seq[(String, SnapshotEntry)], smors: Seq[SparseSlice],
      schemaJson: Option[String],
      constraints: Option[Map[String, String]],
      issued: Set[String]) {
    /** Every row-holding (suffix, batch) pair — each partition's base
      * entry plus its merge-on-read append slices — the `slices`
      * argument of [[SnapshotStore.readSlices]].
      */
    def slices: Seq[(String, String)] =
      entries.toSeq.map(kv => kv._1 -> kv._2.batch) ++ mors.map(m => m._1 -> m._2.batch)

    /** Every batch dir this version references — base entries AND
      * merge-on-read slices, full and sparse: [[SnapshotStore.vacuum]]'s
      * liveness set (a slice batch collected early would silently lose
      * rows).
      */
    def batches: Set[String] =
      entries.values.map(_.batch).toSet ++ mors.map(_._2.batch) ++ smors.map(_.batch)

    /** The embedded table schema, decoded. */
    def schema: Option[StructType] =
      schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
  }

  object Resolved {
    /** The base of a table that has never committed: version 0, no
      * entries (a fence still takes the real `Option`, which tells the
      * two apart).
      */
    val empty: Resolved = Resolved(0L, Map.empty, Nil, Nil, Nil, None, None, Set.empty)
  }

  /** Deployment-wide commit-backend wiring: every [[SnapshotStore]]
    * constructed from now on initializes its `pointerBackend` from
    * this function (root path → backend). Install ONCE at session
    * setup (e.g. route every `s3://…` root through the store's
    * conditional-PUT client) so the path-based write fronts — which
    * construct stores internally — commit through the same arbiter as
    * everyone else; per-root consistency is then automatic instead of
    * a per-callsite obligation. Default: no backend anywhere (the
    * lease machinery). Reassignment only affects stores constructed
    * afterwards.
    */
  @volatile var backendProvider: Path => Option[CommitPointerBackend] =
    _ => None

  /** Data bytes per partition leaf dir under `root`, keyed by the
    * relative `col=val[/col=val…]` path — the parents of its DATA
    * files; dirs holding only hidden/marker files (`_SUCCESS`, `.crc`)
    * are not partitions. One recursive listing: each listed file
    * already carries its length, so sizes cost no extra metadata call.
    */
  def partitionSizes(fs: FileSystem, root: Path): Map[String, Long] = {
    val base = root.toUri.getPath
    val out = scala.collection.mutable.Map[String, Long]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = f.getPath.getParent.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (rel.nonEmpty) out.updateWith(rel) {
          case Some(sz) => Some(sz + f.getLen)
          case None => Some(f.getLen)
        }
      }
    }
    out.toMap
  }

  /** Every deletion-vector file's schema: the tombstoned row's data
    * file (`_metadata.file_path`) and row index (`_metadata.row_index`).
    * DV reads declare it, so none of them pays a footer-inference job.
    */
  private[graft] val dvSchema: StructType =
    StructType(Seq(StructField("path", StringType), StructField("pos", LongType)))
}

/** Versioned-snapshot table layout with an atomic pointer commit —
  * cross-partition all-or-nothing for partitioned merges.
  *
  * Swapping partition directories in one by one is crash-safe per
  * partition, but a crash mid-loop over many partitions leaves a
  * mixed old/new table. The reference never sees that window because
  * its whole upsert runs inside one Postgres transaction
  * (`db/occurrence.py:22-51`). This object provides the same
  * all-or-nothing guarantee for a parquet table without a table-format
  * dependency, using the manifest/pointer pattern Iceberg and Delta
  * are built on:
  *
  * {{{
  *   <root>/CURRENT                      pointer file: "v-000000000001"
  *   <root>/manifests/v-000000000001     manifest: partition -> batch
  *   <root>/versions/v-000000000001      version log: winning manifest name
  *   <root>/data/<batch>/pk=0/part-*.parquet   immutable once written
  *   <root>/stats/<batch>[.files]        opt-in min/max bands for data
  *                                       skipping (see writeBatchStats /
  *                                       readRange / compactClustered)
  * }}}
  *
  * A manifest maps every live partition suffix (`pk=0`, `a=1/b=2`) to
  * the batch directory holding its current data. Data directories are
  * NEVER mutated after being written: a merge writes touched
  * partitions into a fresh batch dir, builds the next manifest
  * (touched partitions point at the new batch, untouched partitions
  * carry their old entry forward — zero data movement), and commits by
  * atomically swapping the `CURRENT` pointer (posix/HDFS rename with
  * OVERWRITE via [[FileContext]] — a single metadata op). A reader
  * resolves `CURRENT` once and sees one consistent version; a crash at
  * any point before the pointer swap leaves only unreferenced orphans,
  * which [[vacuum]] collects. Partition DELETES are atomic for free:
  * the suffix is simply absent from the next manifest.
  *
  * Single-writer by contract (the reference's cron is too), with
  * OPTIMISTIC FENCING against contract violations: [[commitSized]] takes
  * the base version the merge read and aborts with
  * [[SnapshotConcurrentWriteException]] if `CURRENT` has advanced past
  * it — a racing second writer loses cleanly and retries on the new
  * snapshot instead of silently last-write-winning the pointer (the
  * mutual exclusion the reference gets free from Postgres,
  * `db/occurrence.py:22-51`). Manifest files carry a per-writer
  * unique suffix and the pointer names the manifest FILE, so two
  * racers can never clobber each other's manifest. The fence+swap
  * itself runs under a create-exclusive `LOCK` file lease
  * (`fs.create(p, overwrite=false)` — one atomic namenode op on
  * HDFS/posix), so two writers can no longer reach the swap in the
  * same round trip: the fence is re-checked INSIDE the lock, making
  * check-then-rename effectively a CAS on any store with atomic
  * exclusive create. A crashed holder cannot brick the table: a
  * contender that finds the lock older than `lockStaleMs` takes it
  * over, with an atomic rename as the arbiter so concurrent takeover
  * attempts elect exactly one winner. (On S3-like stores without
  * atomic exclusive create, the lease degrades to advisory and the
  * fence remains the last line — a conditional-PUT pointer is the
  * object-store answer.) Readers may race the writer freely:
  * [[vacuum]] retains the previous manifest and its
  * uniquely-referenced batches as a grace window; a production
  * deployment would widen retention to its longest reader.
  *
  * This is also the object-store-safe variant promised in
  * [[AtomicDir]]'s scaladoc: on S3, directory renames are copies but a
  * single small pointer object PUT is atomic — the protocol holds one
  * indirection up.
  *
  * TIME TRAVEL: manifest file names alone cannot prove which of two
  * same-version manifests committed — a fenced loser's uniquely-named
  * manifest survives on disk until vacuum (that ambiguity is exactly
  * why [[readAt]] was rejected in round 10). The VERSION LOG resolves
  * it: immediately after the pointer swap, still inside the commit
  * lease, the winner records its manifest file name as
  * `versions/v-NNN` (one immutable file per version — append-only in
  * spirit, no FS append op needed, atomic tmp+rename). Because
  * commits are serialized by the lease, the log entry for version v
  * is written exactly by v's winner; a crash between swap and log
  * write is healed by the NEXT committer, which backfills its base
  * version's entry from the pointer it read under its own lease.
  * [[readAt]] then gives reproducible reads of any version still
  * inside the vacuum retention window — the MVCC the reference gets
  * free from Postgres, for training-data snapshots that must be
  * re-readable bit-for-bit.
  *
  * FORMAT NOTE: there is one manifest format. Every commit writes
  * header `graft-snapshot 6` ([[SnapshotStore.Header]]) and the reader
  * accepts only that header, failing loudly on any other. The manifest
  * is the only table metadata: sizes, slices, deletion vectors, the
  * schema, the constraint set and the physical-name history all ride
  * it (see [[commitSized]]); nothing is written beside it after the
  * commit.
  */
final class SnapshotStore(val spark: SparkSession, val root: Path,
    lockWaitMs: Long = 30000L, lockStaleMs: Long = 600000L) {

  val fs: FileSystem = AtomicDir.fileSystem(spark, root)

  /** Test seam: runs inside the lease, after the pointer tmp is staged
    * and immediately before the ownership re-check + swap — lets specs
    * interleave a lock takeover deterministically (a GC-length stall
    * cannot be scripted otherwise). No-op in production.
    */
  private[graft] var beforeSwapHook: () => Unit = () => ()

  /** Test seam: runs in every compaction after its rewrite is fully
    * staged and immediately before its fenced commit
    * ([[commitRewrite]]) — the window where a racing row-level writer
    * invalidates the file set the compactor just rewrote. Lets specs
    * force the compactor-loses direction of the writer-vs-OPTIMIZE
    * conflict deterministically. No-op in production.
    */
  private[graft] var beforeCompactCommitHook: () => Unit = () => ()

  /** Test seam: runs in [[deleteWhere]] after the base resolution,
    * immediately before the tombstone write + fenced commit — the
    * window where a racing writer invalidates the base the positions
    * are read from. Lets specs force the delete-loses direction
    * deterministically. No-op in production.
    */
  private[graft] var beforeDeleteCommitHook: () => Unit = () => ()

  /** Test seam: runs in [[SnapshotMerge.upsertMor]] after the base
    * resolution, immediately before the slice/DV staging + fenced
    * commit — the window where a racing writer (a compaction, a
    * delete, another upsert) invalidates both the carried entries and
    * the tombstone positions. Lets specs force the MoR-loses
    * direction deterministically. No-op in production.
    */
  private[graft] var beforeMorCommitHook: () => Unit = () => ()

  /** Test seam: runs in the evolve fronts AFTER their schema
    * resolution (`evolvedPlan`) and BEFORE the commit path's own base
    * resolution — the exact window of the schema lost-update race
    * (ADVICE r18): a concurrent evolve committing here used to slip
    * past the commit fence and get its column silently dropped by
    * this writer's stale union schema. No-op in production.
    */
  private[graft] var beforeEvolveCommitHook: () => Unit = () => ()

  /** Test seam: runs in [[cloneTo]] after the source snapshot
    * resolution and immediately before the registry pins are written
    * — the window where a concurrent source rewrite + vacuum can
    * collect a resolved batch. Lets specs force the clone-loses
    * direction deterministically. No-op in production.
    */
  private[graft] var beforeClonePinHook: () => Unit = () => ()

  /** Pluggable atomic-publish primitive — see [[CommitPointerBackend]].
    * None (default) = the built-in lease + fence + overwrite-rename,
    * correct wherever exclusive create is atomic (HDFS/posix). Install
    * an object-store conditional-PUT implementation to commit safely
    * on stores where it is not.
    *
    * Initialized from [[SnapshotStore.backendProvider]] so the
    * PATH-BASED write fronts ([[SnapshotMerge.upsertUpdate]] and
    * friends construct their own store from a rootDir string) pick up
    * the deployment's backend uniformly — without the provider, a CAS
    * table would be unwritable through the public fronts (the BACKEND
    * sentinel refuses their lease commits, by design). Still
    * assignable per instance for tests and special cases.
    */
  var pointerBackend: Option[CommitPointerBackend] =
    SnapshotStore.backendProvider(root)

  private val pointer = new Path(root, "CURRENT")
  private val manifestsDir = new Path(root, "manifests")
  private val versionsDir = new Path(root, "versions")
  private val dataDir = new Path(root, "data")
  private val statsDir = new Path(root, "stats")
  private val deletesDir = new Path(root, "deletes")
  // clone registry: one file per shallow clone taken FROM this root,
  // listing the batch/DV names the clone references — vacuum treats
  // them as live (see cloneTo's pinning contract)
  private val clonesDir = new Path(root, "clones")
  private val lockPath = new Path(root, "LOCK")
  // written once by the first conditional-PUT commit; the lease path
  // refuses to commit past it (mixed publish modes are unserialized —
  // a lease writer never touches the CAS arbiter and vice versa, so
  // one of two racing commits could be lost silently). Delete the
  // sentinel only as part of a deliberate, quiesced migration back to
  // lease commits.
  private val backendSentinel = new Path(root, "BACKEND")

  private def versionName(v: Long): String = f"v-$v%012d"

  /** Version encoded in a manifest file name (or pointer body):
    * `v-000000000007[-<writer suffix>]` -> 7.
    */
  private def parseVersion(name: String): Long =
    name.stripPrefix("v-").split('-').head.toLong

  /** A batch/DV reference that lives OUTSIDE this root — a shallow
    * clone's manifest references its source's immutable batch dirs by
    * ABSOLUTE path (the Delta SHALLOW CLONE shape: zero data
    * movement, the manifest is the indirection). Plain tables only
    * ever carry bare names.
    */
  private def isExternalRef(name: String): Boolean =
    name.startsWith("/") || name.contains("://")

  /** Last path segment — the bare `b-…`/`dv-…` name of a possibly
    * external reference (version parsing and sidecar lookups key on
    * the bare name; external dirs keep their source names, so the
    * version ordering the sparse-patch gate relies on is preserved
    * across a clone).
    */
  private def leafName(name: String): String =
    name.substring(name.lastIndexOf('/') + 1)

  /** A name for a file the commit of `version` writes and then renames
    * into place: `<prefix>v-<version>-<uuid>`. The version tag lets
    * [[vacuum]] keep an in-flight writer's temp file (its version is
    * at or above the window) the way it keeps its staged batch.
    */
  private def tmpName(prefix: String, version: Long): String =
    s"$prefix${versionName(version)}-${java.util.UUID.randomUUID()}"

  /** Version tag of a [[tmpName]] with `prefix`; None when `name` does
    * not carry one (untagged leftovers of older writers).
    */
  private def tmpVersion(prefix: String, name: String): Option[Long] = {
    val rest = name.stripPrefix(prefix)
    if (rest.startsWith("v-")) scala.util.Try(parseVersion(rest)).toOption else None
  }

  /** Version prefix of a `b-<version>-<uuid>` batch dir name; None
    * when the name doesn't carry one.
    */
  private def batchVersion(name: String): Option[Long] =
    scala.util.Try(leafName(name).stripPrefix("b-").split('-').head.toLong).toOption

  /** A fresh batch dir name for the commit of `version` — the one
    * place the `b-<version>-<uuid>` shape [[batchVersion]] parses is
    * minted (vacuum's window and the sparse-patch version gate both
    * order batches by that prefix).
    */
  private[sinks] def newBatch(version: Long): String =
    f"b-$version%012d-${java.util.UUID.randomUUID()}"

  /** Stage `df` into a fresh batch for `version`, one dir per
    * `partCols` tuple (shuffled so each partition writes one file
    * set), and return (batch, data bytes per written partition). The
    * batch is unreferenced until a commit names it — a crash leaves
    * only an orphan for [[vacuum]]. `sort` = (keys, max rows per
    * file) sorts each partition's rows by the keys and splits them
    * into files of at most that many rows: the clustered layout that
    * makes per-file bands selective.
    */
  private[sinks] def stageBatch(df: DataFrame, partCols: Seq[String],
      version: Long, sort: Option[(Seq[Column], Long)] = None): (String, Map[String, Long]) = {
    val batch = newBatch(version)
    val p = dataPath(batch)
    val parted = df.repartition(partCols.map(col): _*)
    sort.fold(parted)(s => parted.sortWithinPartitions(partCols.map(col) ++ s._1: _*))
      .write.mode("overwrite").options(sort.map("maxRecordsPerFile" -> _._2.toString).toMap)
      .partitionBy(partCols: _*).parquet(p.toString)
    (batch, SnapshotStore.partitionSizes(fs, p))
  }

  /** The one partition-rewrite commit: every copy-on-write merge,
    * [[SnapshotMerge.replaceAll]] and every compaction ends here.
    * Stages `rows` as the whole new content of the `rewritten`
    * partitions of `base` (the resolution `rows` was read from),
    * writes the opt-in stats sidecar (`statsCols`; file bands too when
    * `sort` clusters the files — see [[stageBatch]]), commits fenced
    * on `base` and vacuums with `retain`. Returns the committed
    * version. A crash before the commit leaves only an orphan batch;
    * a concurrent commit since `base` aborts it with
    * [[SnapshotConcurrentWriteException]].
    *
    * CARRY RULE, the one statement of what a commit keeps from its
    * base: entries are `(base.entries -- rewritten) ++ written` (a
    * rewritten partition `rows` leaves empty has no dir, so it drops —
    * an atomic delete); the rewritten partitions' `#mor`/`#smor`
    * slices drop (the rewrite materialized them) and every other
    * partition keeps its own. The base's deletion vectors carry —
    * surviving files keep their tombstones, and entries for rewritten
    * files are harmless no-ops against dead paths — unless no base
    * entry survives: then every old file is dead and the list drops,
    * which is how a full rewrite materializes deletes. The embedded
    * schema carries unless `embedSchema` replaces it (the evolve
    * fronts); `validated` is [[commitSized]]'s constraint fence.
    *
    * `compaction` names a maintenance rewrite, which must keep the
    * partition set ([[requirePartitionsPreserved]]) and fires
    * [[beforeCompactCommitHook]] just before its commit.
    */
  private[sinks] def commitRewrite(base: Option[SnapshotStore.Resolved], rows: DataFrame,
      rewritten: Set[String], partCols: Seq[String], statsCols: Seq[String] = Nil,
      sort: Option[(Seq[Column], Long)] = None, embedSchema: Option[StructType] = None,
      validated: Option[Map[String, String]] = None, retain: Int = 2,
      compaction: Option[String] = None): Long = {
    val b = base.getOrElse(SnapshotStore.Resolved.empty)
    val version = b.version + 1
    val (batch, written) = stageBatch(rows, partCols, version, sort)
    require(written.keySet.subsetOf(rewritten),
      s"${compaction.getOrElse("merge")} produced unexpected partitions: " +
        (written.keySet -- rewritten).mkString(", "))
    compaction.foreach(requirePartitionsPreserved(written.keySet, rewritten, b, rows.schema, _))
    writeBatchStats(batch, rows.schema, partCols, statsCols, fileStats = sort.isDefined)
    if (compaction.isDefined) beforeCompactCommitHook()
    val kept = b.entries -- rewritten
    commitSized(version,
      kept ++ written.map { case (s, sz) => s -> SnapshotStore.SnapshotEntry(batch, sz) },
      base.map(_.version), if (kept.isEmpty) Nil else b.dvs,
      b.mors.filterNot(m => rewritten(m._1)), b.smors.filterNot(m => rewritten(m.suffix)),
      embedSchema.map(_.json).orElse(b.schemaJson), validatedConstraints = validated)
    vacuum(retain)
    version
  }

  /** Version prefix of a `dv-<version>-<uuid>` deletion-vector dir
    * name (the version whose commit introduced it); None when the
    * name doesn't carry one.
    */
  private def dvVersion(name: String): Option[Long] =
    scala.util.Try(leafName(name).stripPrefix("dv-").split('-').head.toLong).toOption

  private[graft] def dvPath(name: String): Path =
    if (isExternalRef(name)) new Path(name) else new Path(deletesDir, name)

  /** Stage `tombstones` (path, pos) as the deletion vector of commit
    * `version`: returns (dv name, tombstone count). An empty vector is
    * removed at once and must not be committed; a fenced committer
    * removes its staged DV (never referenced, so pure hygiene). ONE
    * sidecar file per commit: tombstones are metadata-scale (the
    * sparse-delete contract), and a single file keeps the reader's
    * anti-join build and `inputFiles` fan-out proportional to delete
    * COMMITS, not to the writer's parallelism.
    */
  private[graft] def stageDv(tombstones: DataFrame, version: Long): (String, Long) = {
    val name = f"dv-$version%012d-${java.util.UUID.randomUUID()}"
    val out = dvPath(name)
    tombstones.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val n = spark.read.schema(SnapshotStore.dvSchema).parquet(out.toString).count()
    if (n == 0L) fs.delete(out, true)
    (name, n)
  }

  def dataPath(batch: String): Path =
    if (isExternalRef(batch)) new Path(batch) else new Path(dataDir, batch)

  /** Where a batch's stats sidecar lives: under THIS root's stats/
    * for local batches; for an external (cloned) reference, under the
    * SOURCE root's stats/ next to the data it describes — sidecars
    * are immutable once the batch is committed and the clone registry
    * pins them alive with the batch, so reading them in place is both
    * correct and free.
    */
  private def statsPath(batch: String, suffix: String = ""): Path =
    if (isExternalRef(batch))
      new Path(new Path(new Path(batch).getParent.getParent, "stats"),
        leafName(batch) + suffix)
    else new Path(statsDir, batch + suffix)

  private def readSmallFile(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Manifest file name the CURRENT pointer references, if any. The
    * read tolerates two transient local-FS artifacts of a RACING
    * writer's swap, both impossible on a real object store / HDFS
    * (single-op atomic rename there):
    *  - Hadoop's ChecksumFs renames the data file and its `.crc`
    *    sidecar as TWO metadata ops, so a read between them sees the
    *    new bytes verified against the old crc → ChecksumException
    *    (observed once in ~10³ runs of the k2_concurrent_upsert race);
    *  - the exists/open pair can straddle the overwrite-rename →
    *    FileNotFoundException.
    * Both windows are a racing writer's few metadata ops wide —
    * bounded retry, then rethrow.
    */
  private def currentManifestName(): Option[String] = {
    var attempt = 0
    while (true) {
      try return (if (fs.exists(pointer)) Some(readSmallFile(pointer)) else None)
      catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException) =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Current committed version, or None for a table that has never
    * committed.
    */
  def currentVersion(): Option[Long] = currentManifestName().map(parseVersion)

  // --- persisted table schema (schema evolution) ----------------------
  //
  // The table schema is EMBEDDED in the manifest of every evolving
  // commit and carried by every commit after it (plain upserts on a
  // never-evolved table embed none — their schema is the caller's
  // contract). A version's schema is its own manifest's; the physical
  // names it ever issued ride beside it (`Resolved.issued`).

  /** The schema embedded in committed `version`'s manifest (None when
    * the table had not evolved by then, or the manifest is gone).
    */
  def schemaAt(version: Long): Option[StructType] = {
    val name = versionLogEntry(version).orElse(
      currentManifestName().filter(parseVersion(_) == version))
    name.flatMap(n => scala.util.Try(parseManifest(n)).toOption).flatMap(_.schema)
  }

  /** Schema of the current commit, if it embeds one — ONE pointer read. */
  def currentSchema(): Option[StructType] = resolveCurrent().flatMap(_.schema)

  /** ONE parse of a manifest file into [[SnapshotStore.Resolved]], the
    * version taken from its name — the only way a manifest is read.
    * Below the [[SnapshotStore.Header]] line sits one
    * `suffix\tbatch\tbytes` line per live partition, then marker lines:
    * `#mor` APPEND SLICES — (suffix, batch, bytes) whose rows belong to
    * the partition ON TOP of its base entry (the merge-on-read write
    * path: updates tombstone old row versions via a DV and append the
    * new versions as a slice, no partition rewrite); `#smor` sparse
    * patch slices; `#dv` deletion-vector files; `#schema` the embedded
    * schema; `#constraintset` + one `#constraint` per entry the
    * constraint set; `#issued` the physical-name history
    * ([[encodeNames]]). No marker can collide with a real suffix —
    * partition dirs are `col=val` forms and can never start with `#`.
    * The manifest is the sole source of DV/slice applicability — a dir
    * staged by a crashed or fenced writer is never referenced and so
    * never applies, and a later version that materialized them
    * (compaction, full replace) simply lists none. Any other header,
    * an unknown marker or a malformed line fails loudly.
    */
  private def parseManifest(name: String): SnapshotStore.Resolved = {
    val where = s"$manifestsDir/$name"
    val lines = readSmallFile(new Path(manifestsDir, name)).linesIterator.toList
    require(lines.headOption.contains(SnapshotStore.Header),
      s"unrecognized manifest header in $where")
    val (markerLines, dataLines) =
      lines.drop(1).filter(_.nonEmpty).partition(_.startsWith("#"))
    val byTag = markerLines.groupBy(_.takeWhile(_ != '\t'))
    byTag.keySet.diff(Set("#mor", "#smor", "#dv", "#schema", "#constraintset",
      "#constraint", "#issued")).foreach(t =>
      throw new IllegalArgumentException(s"unrecognized marker line in $where: ${byTag(t).head}"))
    // the `n` fields after `tag` of each of its lines; the last field
    // keeps any tab (a constraint's SQL body is one field)
    def fields(tag: String, n: Int): Seq[Array[String]] = byTag.getOrElse(tag, Nil).map { l =>
      val parts = l.split("\t", n + 1)
      require(parts.length == n + 1, s"malformed $tag line in $where: $l")
      parts.drop(1)
    }
    def atMostOne(tag: String): Option[String] = {
      val ls = fields(tag, 1)
      require(ls.size <= 1, s"multiple $tag lines in $where")
      ls.headOption.map(_(0))
    }
    val entries = dataLines.map { l =>
      l.split('\t') match {
        case Array(suffix, batch, bytes) => suffix -> SnapshotStore.SnapshotEntry(batch, bytes.toLong)
        case _ => throw new IllegalArgumentException(s"malformed manifest line in $where: $l")
      }
    }.toMap
    // the bare `#constraintset` marker tells an authoritative EMPTY set
    // (post-drop) from a table that never carried constraints
    val cset = atMostOne("#constraintset")
    val cons = fields("#constraint", 2)
    require(cset.isDefined || cons.isEmpty,
      s"#constraint lines without a #constraintset marker in $where")
    SnapshotStore.Resolved(parseVersion(name), entries,
      fields("#dv", 1).map(_(0)),
      fields("#mor", 3).map { case Array(s, b, sz) => s -> SnapshotStore.SnapshotEntry(b, sz.toLong) },
      fields("#smor", 5).map { case Array(s, b, sz, keys, cols) =>
        SnapshotStore.SparseSlice(s, b, sz.toLong, keys.split(',').toSeq, cols.split(',').toSeq) },
      atMostOne("#schema"),
      cset.map(_ => cons.map(c => c(0) -> c(1)).toMap),
      atMostOne("#issued").fold(Set.empty[String])(decodeNames))
  }

  /** A name set as one manifest field: each name URL-encoded (so `,`,
    * tabs and newlines inside a name survive), comma-joined, sorted.
    */
  private def encodeNames(names: Set[String]): String =
    names.toSeq.sorted.map(encodeCol).mkString(",")

  private def decodeNames(field: String): Set[String] =
    field.split(',').filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")).toSet

  /** One-pointer-read resolution of the CURRENT commit — what every
    * COMMITTER must build from: its read AND its commit fence come from
    * the same manifest file (two pointer reads can straddle a
    * concurrent commit), and carrying its DVs, full and sparse slices
    * forward is the carry-forward contract of [[SnapshotStore.Resolved]].
    */
  def resolveCurrent(): Option[SnapshotStore.Resolved] =
    currentManifestName().map(parseManifest)

  /** `(version, partition -> batch)` of the committed snapshot, if any. */
  def current(): Option[(Long, Map[String, String])] =
    resolveCurrent().map(r => (r.version, r.entries.view.mapValues(_.batch).toMap))

  /** Write manifest `version` then atomically swap the CURRENT
    * pointer to it. The manifest and every batch it references must
    * already be fully written — after the pointer rename the commit is
    * durable; before it, nothing referenced has changed.
    *
    * `expectedBase` is the version this commit was derived FROM (None
    * for a fresh table): if `CURRENT` no longer matches it, another
    * writer committed in between and this merge's view is stale —
    * abort with [[SnapshotConcurrentWriteException]] so the caller
    * re-reads and retries, instead of silently overwriting the other
    * writer's commit. The manifest written before the abort has a
    * unique name and is never referenced — vacuum collects it.
    *
    * `entries` carry each partition's bytes on disk, which the merge
    * and compaction paths learned from their own post-write walk, so
    * later compactions rank batches from the manifest alone; an entry
    * without its size is refused.
    *
    * `dvs` — deletion-vector dir names (under deletes/) whose
    * tombstones apply to this version's reads, written into the
    * manifest as `#dv` lines. Which of the base's a committer carries
    * (and so how a rewrite MATERIALIZES deletes): the carry rule on
    * [[commitRewrite]], which also governs `mors` and `smors`.
    *
    * `mors` — merge-on-read append slices, written as `#mor` lines:
    * additional (suffix, batch) pairs whose rows belong to the
    * partition on top of its base entry. Every slice suffix must have
    * a base entry ([[SnapshotMerge.upsertMor]] promotes brand-new
    * partitions to base entries), so partition-set invariants stay
    * expressible over `entries` alone.
    *
    * `smors` — COLUMN-SPARSE merge-on-read patch slices, written as
    * `#smor` lines (`suffix, batch, bytes, keys, cols` — key/col
    * lists comma-joined; the sparse writer refuses names carrying
    * `,`/tab/newline).
    *
    * `schemaJson` — the table schema to EMBED in this manifest
    * (`#schema` line), atomic with the commit. Committers on an
    * evolved table must CARRY the resolved base's value (like dvs and
    * slices — it is the only record of the schema); the
    * evolve/rename/drop paths pass their NEW schema. None = the table
    * has not evolved.
    *
    * `constraints` — the CHECK-constraint set to EMBED in this
    * manifest (see [[SnapshotStore.Resolved.constraints]]). None
    * (default) = CARRY the base's effective set forward, resolved
    * here so no committer can forget it (dropping the set would
    * silently stop enforcement); the add/drop/restore metadata paths
    * pass Some with their new set.
    *
    * `issued` — physical column names this commit issues beyond its
    * schema's ([[SnapshotMerge.dropColumn]] passes the names of the
    * schema it started from). The `#issued` line is the base's set
    * plus these plus every physical name of a schema this commit
    * changes to, resolved from the same base read as the constraint
    * carry, so the history never shrinks and no committer can drop it
    * (a fresh table's first commit — a clone — passes the whole set).
    *
    * `validatedConstraints` — the constraint set this writer
    * VALIDATED its incoming rows against ([[SnapshotMerge]]'s write
    * fronts thread it): the commit aborts with
    * [[SnapshotConcurrentWriteException]] when the set that will be
    * in force at the new version differs, closing the
    * validate-then-commit race (a concurrent addConstraint landing
    * anywhere inside the write front — reading constraints, staging,
    * resolving the base — can no longer let unvalidated rows commit
    * under the new constraint's "every committed row passed"
    * guarantee; the retry re-validates against the new set).
    */
  def commitSized(version: Long, entries: Map[String, SnapshotStore.SnapshotEntry],
      expectedBase: Option[Long], dvs: Seq[String] = Nil,
      mors: Seq[(String, SnapshotStore.SnapshotEntry)] = Nil,
      smors: Seq[SnapshotStore.SparseSlice] = Nil,
      schemaJson: Option[String] = None,
      constraints: Option[Map[String, String]] = None,
      validatedConstraints: Option[Map[String, String]] = None,
      issued: Set[String] = Set.empty): Unit = {
    require(entries.values.forall(_.bytes >= 0L),
      s"manifest entries without their size: " +
        entries.collect { case (s, e) if e.bytes < 0L => s }.mkString(", "))
    require(mors.forall(m => entries.contains(m._1)),
      s"merge-on-read slice without a base entry: " +
        s"${mors.collect { case (s, _) if !entries.contains(s) => s }.mkString(", ")}")
    require(smors.forall(m => entries.contains(m.suffix)),
      s"sparse slice without a base entry: " +
        s"${smors.collect { case m if !entries.contains(m.suffix) => m.suffix }.mkString(", ")}")
    def fence(): Unit = {
      val cur = currentVersion()
      if (cur != expectedBase)
        throw new SnapshotConcurrentWriteException(
          s"snapshot table $root changed under this writer: expected base " +
            s"${expectedBase.fold("<empty>")(versionName)}, found " +
            s"${cur.fold("<empty>")(versionName)} — re-read and retry the merge")
    }
    // Cheap pre-lock fence: a writer whose view is already stale
    // aborts without ever contending for the lease.
    fence()
    // What this commit carries from its base, read AFTER the pre-lock
    // fence passed, so it is the expectedBase manifest (a commit racing
    // in after this read is caught by the in-lock fence / CAS
    // body-compare, and the loser re-resolves).
    val base = if (expectedBase.isEmpty) None else resolveCurrent()
    // The set in force from `version` on: the caller's replacement
    // set, else the base's effective set carried forward.
    val effectiveConstraints: Option[Map[String, String]] =
      constraints.orElse(base.flatMap(_.constraints))
    // the physical-name history only grows; a carried schema's names
    // were added by the commit that first embedded it
    val issuedNames: Set[String] = base.fold(Set.empty[String])(_.issued) ++ issued ++
      schemaJson.filterNot(j => base.exists(_.schemaJson.contains(j))).toSeq.flatMap(j =>
        SnapshotMerge.physNames(DataType.fromJson(j).asInstanceOf[StructType]))
    // the constraint-validation fence (ADVICE r19): unvalidated rows
    // must never commit under a set the writer did not check
    validatedConstraints.foreach { v =>
      if (effectiveConstraints.getOrElse(Map.empty) != v)
        throw new SnapshotConcurrentWriteException(
          s"snapshot table $root's CHECK-constraint set changed under this " +
            s"writer (validated against {${v.keys.toSeq.sorted.mkString(", ")}}, " +
            s"committing would publish {${effectiveConstraints.getOrElse(Map.empty)
              .keys.toSeq.sorted.mkString(", ")}}) — re-read, re-validate and " +
            "retry the merge")
    }
    fs.mkdirs(manifestsDir)
    schemaJson.foreach(j => require(!j.exists("\t\n\r".contains(_)),
      "embedded schema JSON must be single-line (StructType.json is)"))
    effectiveConstraints.foreach(_.foreach { case (n, sql) =>
      require(!(n + sql).exists("\t\n\r".contains(_)),
        s"constraint '$n' name/expression cannot be embedded (tab/newline)")
    })
    val body = ((SnapshotStore.Header +:
      entries.toSeq.sortBy(_._1).map { case (s, e) =>
        s"$s\t${e.batch}\t${e.bytes}"
      }) ++ mors.sortBy(m => (m._1, m._2.batch)).map { case (s, e) =>
        s"#mor\t$s\t${e.batch}\t${e.bytes}"
      } ++ smors.sortBy(m => (m.suffix, m.batch)).map { m =>
        s"#smor\t${m.suffix}\t${m.batch}\t${m.bytes}\t" +
          s"${m.keys.mkString(",")}\t${m.cols.mkString(",")}"
      } ++ schemaJson.map(j => s"#schema\t$j").toSeq
        ++ effectiveConstraints.toSeq.flatMap(cs =>
          s"#constraintset\t${cs.size}" +:
            cs.toSeq.sortBy(_._1).map { case (n, sql) => s"#constraint\t$n\t$sql" })
        ++ Option(issuedNames).filter(_.nonEmpty).map(ns => s"#issued\t${encodeNames(ns)}")
        ++ dvs.sorted.map(d => s"#dv\t$d")).mkString("\n")
    // Per-writer unique manifest name: two racing writers of the same
    // next version write DIFFERENT files, so the loser can never
    // clobber the winner's committed manifest (a crashed or fenced
    // writer's file is unreferenced garbage for vacuum).
    val manifestName =
      s"${versionName(version)}-${java.util.UUID.randomUUID().toString.take(8)}"
    val manifestTmp = new Path(manifestsDir, tmpName(".tmp-", version))
    writeFile(manifestTmp, body)
    val manifestFinal = new Path(manifestsDir, manifestName)
    if (!fs.rename(manifestTmp, manifestFinal))
      throw new java.io.IOException(s"rename $manifestTmp -> $manifestFinal failed")
    // Object-store path: delegate the publish to the backend's
    // conditional PUT — no LOCK file at all; the loser is fenced by
    // the CAS result. Body-compare subsumes the version fence
    // (manifest names are per-writer unique).
    pointerBackend match {
      case Some(backend) =>
        val expectedBody = currentManifestName()
        if (expectedBody.map(parseVersion) != expectedBase)
          throw new SnapshotConcurrentWriteException(
            s"snapshot table $root changed under this writer: expected base " +
              s"${expectedBase.fold("<empty>")(versionName)}, found " +
              s"${expectedBody.map(parseVersion).fold("<empty>")(versionName)} — " +
              "re-read and retry the merge")
        // mark the table as CAS-committed BEFORE the first swap, so a
        // lease-mode writer racing this very commit already refuses
        // (best-effort exclusive create; exists = already marked)
        if (!scala.util.Try(fs.exists(backendSentinel)).getOrElse(false))
          scala.util.Try {
            val out = fs.create(backendSentinel, false)
            try out.write("conditional-put".getBytes(StandardCharsets.UTF_8))
            finally out.close()
          }
        beforeSwapHook()
        if (!backend.cas(expectedBody, manifestName))
          throw new SnapshotConcurrentWriteException(
            s"conditional-PUT commit on $root lost to a concurrent writer — " +
              "re-read and retry the merge")
        // winners only reach here, serialized per version by the CAS:
        // heal a predecessor's missing log entry, then record this win
        expectedBase.foreach { base =>
          if (versionLogEntry(base).isEmpty)
            expectedBody.foreach(writeVersionLogEntry(base, _))
        }
        writeVersionLogEntry(version, manifestName)
        return
      case None => ()
    }
    // Publish-mode exclusion: every writer of a root must use the SAME
    // commit mode — a lease commit racing a conditional-PUT commit is
    // serialized by NEITHER arbiter (the lease writer never consults
    // the CAS, the CAS writer never takes the lease), so one of the
    // two could silently vanish. The first CAS commit writes the
    // sentinel; from then on a backend-less writer fails loudly here
    // instead (ADVICE r19).
    if (fs.exists(backendSentinel))
      throw new IllegalStateException(
        s"snapshot table $root is committed through a conditional-PUT " +
          "pointer backend (BACKEND sentinel present) — configure the same " +
          "CommitPointerBackend for this writer; mixed publish modes are " +
          "unserialized. (Migrating back to lease commits requires quiescing " +
          "all writers and deleting the sentinel.)")
    // fence + swap under the lease: with the lock held no other writer
    // can move CURRENT between this check and the rename, so the pair
    // acts as a CAS (see class doc for the takeover + degradation
    // story).
    val holder = java.util.UUID.randomUUID().toString
    acquireLock(holder)
    try {
      fence()
      // Heal a predecessor that crashed between its pointer swap and
      // its version-log write: the pointer read under THIS lease is
      // the provable winner of the base version.
      expectedBase.foreach { base =>
        if (versionLogEntry(base).isEmpty)
          currentManifestName().foreach(writeVersionLogEntry(base, _))
      }
      val pointerTmp = new Path(root, tmpName(".CURRENT.tmp-", version))
      writeFile(pointerTmp, manifestName)
      beforeSwapHook()
      // Ownership re-check immediately before the swap: a holder that
      // stalled (GC/FS hiccup) past lockStaleMs inside this critical
      // section may have been taken over, and executing the rename on
      // resume would clobber the usurper's commit. Re-reading LOCK here
      // shrinks that window from the whole critical section to the one
      // metadata op between this read and the rename.
      if (!scala.util.Try(readSmallFile(lockPath)).toOption.contains(holder))
        throw new SnapshotConcurrentWriteException(
          s"commit lease on $root lost before the pointer swap (holder stalled " +
            s"past ${lockStaleMs}ms and was taken over) — re-read and retry the merge")
      // The commit point: one atomic overwrite-rename of the pointer,
      // whose body names the manifest FILE.
      val fc = FileContext.getFileContext(root.toUri, spark.sessionState.newHadoopConf())
      fc.rename(pointerTmp, pointer, Options.Rename.OVERWRITE)
      // Record the winner in the version log — still inside the
      // lease, so log entries are written in commit order by winners
      // only (a fenced loser never reaches this line; see class doc).
      writeVersionLogEntry(version, manifestName)
    } finally releaseLock(holder)
  }

  /** Winning manifest file name the version log records for
    * `version`, if present (absent for versions committed by a
    * pre-log build, vacuumed away, or lost to a swap/log crash window
    * — the last is backfilled by the next commit).
    */
  private def versionLogEntry(version: Long): Option[String] = {
    val p = new Path(versionsDir, versionName(version))
    if (fs.exists(p)) Some(readSmallFile(p)) else None
  }

  /** Atomic (tmp + overwrite-rename) write of one version-log file.
    * Must only be called inside the commit lease.
    */
  private def writeVersionLogEntry(version: Long, manifestName: String): Unit = {
    fs.mkdirs(versionsDir)
    val tmp = new Path(versionsDir, tmpName(".tmp-", version))
    writeFile(tmp, manifestName)
    val fc = FileContext.getFileContext(root.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, new Path(versionsDir, versionName(version)), Options.Rename.OVERWRITE)
  }

  /** Committed versions still readable via [[readAt]], ascending. */
  def versions(): Seq[Long] =
    if (!fs.exists(versionsDir)) currentVersion().toSeq
    else {
      val logged = fs.listStatus(versionsDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v-")).map(parseVersion)
      (logged ++ currentVersion()).distinct.sorted
    }

  /** Read the table AS OF committed `version` — the reproducible
    * training-data snapshot read the reference gets free from
    * Postgres MVCC. The version log proves which same-numbered
    * manifest file actually committed (a fenced loser's staged
    * manifest may still sit in manifests/ awaiting vacuum; it is
    * never named by the log). The current version falls back to the
    * pointer itself when the log has no entry (pre-log tables).
    * Versions outside the vacuum retention window fail with a clear
    * error rather than a partial read: [[vacuum]] deletes manifests
    * and log entries below the window together, and every batch a
    * retained manifest references is itself retained, so a version
    * whose log entry exists is readable in full.
    */
  def readAt(version: Long, schema: StructType): DataFrame = {
    val r = resolvedAt(version)
    readSlices(r.slices, schema, null, r.dvs, r.smors)
  }

  /** The committed manifest of `version`, resolved through the version
    * log with the same winner proof as [[readAt]] (which is this
    * resolution + [[readSlices]]).
    */
  private def manifestNameAt(version: Long): String = {
    val cur = currentVersion().getOrElse(throw new IllegalArgumentException(
      s"snapshot table $root has no committed version"))
    if (version > cur)
      throw new IllegalArgumentException(
        s"${versionName(version)} has not committed on $root (current is ${versionName(cur)})")
    versionLogEntry(version)
      .orElse(if (version == cur) currentManifestName() else None)
      .getOrElse(throw new IllegalArgumentException(
        s"${versionName(version)} is below the vacuum retention window of $root " +
          "(or predates the version log) — no provable winner remains"))
  }

  /** ONE resolution + ONE parse of the winning manifest at `version`,
    * with the retention-window error mapping. DVs committed after
    * `version` must NOT apply to a read of it (the files they
    * reference exist at `version` too, with their rows still live) —
    * which is why the DV list rides the per-version manifest rather
    * than a directory listing.
    */
  private def resolvedAt(version: Long): SnapshotStore.Resolved = {
    val name = manifestNameAt(version)
    try parseManifest(name)
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"${versionName(version)}'s manifest was vacuumed from $root — " +
            "widen vacuum retention to cover the oldest pinned reader")
    }
  }

  /** Partitions whose manifest entry moved between two committed
    * versions — the pruning set for [[readChangesBetween]]. A batch
    * dir is immutable once committed, so a partition whose entry is
    * unchanged provably holds identical rows at both versions; only
    * entries that moved can carry differences. (The set can
    * over-approximate: a compaction rewrites partitions into a fresh
    * batch without changing content — those diff to zero rows.)
    */
  def changedPartitionsBetween(fromVersion: Long, toVersion: Long): Set[String] =
    changeSet(resolvedAt(fromVersion), resolvedAt(toVersion))

  /** The partitions whose rows may differ between `a` and `b`: those
    * whose base entry, merge-on-read slice list or SPARSE slice list
    * differs (a MoR update keeps the base entry identical — that is its
    * point — and a sparse patch also commits no DV, so each list is
    * diffed on its own; slice lines carry the affected suffix
    * directly), plus those a deletion vector added or dropped between
    * them touches ([[dvChangedSuffixes]]).
    */
  private def changeSet(a: SnapshotStore.Resolved, b: SnapshotStore.Resolved): Set[String] = {
    def moved(pairs: SnapshotStore.Resolved => Seq[(String, String)]): Set[String] = {
      def bySuffix(r: SnapshotStore.Resolved) =
        pairs(r).groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val (ga, gb) = (bySuffix(a), bySuffix(b))
      (ga.keySet ++ gb.keySet).filter(s => ga.get(s) != gb.get(s))
    }
    moved(_.entries.toSeq.map(kv => kv._1 -> kv._2.batch)) ++
      moved(_.mors.map(m => m._1 -> m._2.batch)) ++
      dvChangedSuffixes(a.dvs, b.dvs) ++
      moved(_.smors.map(m => m.suffix -> m.batch))
  }

  /** Partitions whose rows changed between two versions through
    * DELETION VECTORS alone — a delete commit keeps every manifest
    * entry identical (that is its whole point), so the entry diff
    * above is blind to it; the DV files added or dropped between the
    * versions name the affected data files, whose paths map back to
    * partition suffixes. Bounded by the files carrying deletes
    * (driver-side collect of distinct paths — sidecar-scale, like
    * every other metadata decision here).
    */
  private def dvChangedSuffixes(dvs1: Seq[String], dvs2: Seq[String]): Set[String] = {
    val d1 = dvs1.toSet
    val d2 = dvs2.toSet
    val diff = ((d1 -- d2) ++ (d2 -- d1)).toSeq
    if (diff.isEmpty) return Set.empty
    val dataPrefix = dataDir.toUri.getPath + "/"
    dvFrame(diff).select(col("path")).distinct().collect()
      .map(_.getString(0)).flatMap { p =>
        val ix = p.indexOf(dataPrefix)
        if (ix < 0) None
        else {
          // <dataDir>/<batch>/<suffix dirs>/<file> — suffix is the
          // middle; a file directly under the batch dir (unpartitioned
          // staging) has none and can't belong to a live partition
          val segs = p.substring(ix + dataPrefix.length).split('/')
          if (segs.length < 3) None
          else Some(segs.drop(1).dropRight(1).mkString("/"))
        }
      }.toSet
  }

  /** Row-level changes between two committed versions — the
    * change-data-feed read derived after the fact from snapshots, the
    * inverse of the CDC APPLY path ([[SnapshotMerge.applyCdc]] writes
    * changes in; this reads changes back out so downstream training
    * pipelines can re-process increments instead of the full table).
    * Output = `schema`'s columns plus `_change` ∈
    * {'insert','update','delete'} describing how `toVersion` differs
    * from `fromVersion`; updates carry the post-image, deletes the
    * pre-image. Rows identical at both versions are absent.
    *
    * Scale shape: both sides read ONLY [[changedPartitionsBetween]]
    * (manifest-level pruning — a merge that touched 3 of 10k
    * partitions diffs 6 partition dirs, not two full tables), then
    * one shuffle join on the key compares pre/post images with
    * null-safe equality. Keys that moved across partitions still
    * match up: both partitions are in the changed set, and the join
    * key is the logical key, not the partition.
    *
    * With `includeUpdatePreimages = true`, every 'update' row (post-
    * image) is accompanied by an 'update_preimage' row carrying the
    * fromVersion values — the extra row type that makes the feed
    * sufficient for incremental view maintenance (a sum maintains as
    * +insert +update −update_preimage −delete; without pre-images the
    * subtraction side of an update is unrecoverable).
    */
  def readChangesBetween(fromVersion: Long, toVersion: Long,
      schema: StructType, keyCols: Seq[String],
      includeUpdatePreimages: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    require(!schema.fieldNames.exists(f => f.startsWith("__cdf_") || f == "_change"),
      "schema columns must not collide with the diff's working names " +
        "(__cdf_* markers, _change output)")
    val (from, to) = (resolvedAt(fromVersion), resolvedAt(toVersion))
    val changed = changeSet(from, to)
    // the changed partitions' slices and patches only
    def side(r: SnapshotStore.Resolved) =
      readSlices(r.slices, schema, changed, r.dvs, r.smors)
    val (before, after) = (side(from), side(to))
    val nonKey = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    val bRen = nonKey.foldLeft(before)((d, c) => d.withColumnRenamed(c, s"__cdf_b_$c"))
      .withColumn("__cdf_b", lit(true))
    val aTag = after.withColumn("__cdf_a", lit(true))
    val same = nonKey.map(c => col(c) <=> col(s"__cdf_b_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val tagged = aTag.join(bRen, keyCols, "full_outer")
      .withColumn("_change",
        when(col("__cdf_b").isNull, "insert")
          .when(col("__cdf_a").isNull, "delete")
          .when(!same, "update"))
      .where(col("_change").isNotNull)
    val post = tagged.select(keyCols.map(col) ++ nonKey.map(c =>
      when(col("_change") === "delete", col(s"__cdf_b_$c")).otherwise(col(c)).as(c))
      :+ col("_change"): _*)
    if (!includeUpdatePreimages) post
    else post.unionByName(tagged.where(col("_change") === "update")
      .select(keyCols.map(col) ++ nonKey.map(c => col(s"__cdf_b_$c").as(c))
        :+ lit("update_preimage").as("_change"): _*))
  }

  /** Per-commit change history — the `table_changes(from, to)` face: one
    * [[readChangesBetween]] per version step in `(fromVersion, toVersion]`,
    * each stamped with its `_commit_version`. Unlike the endpoint diff
    * (which collapses intermediate states: an update at v2 followed by
    * a delete at v3 shows only the delete), the history preserves every
    * commit's delta — what a downstream incremental consumer replays to
    * stay exactly-once on version anchors, and the batch face a
    * streaming drain polls. The readable span is bounded by vacuum
    * retention, which bounds the union width; each step is pruned to
    * its own commit's touched partitions.
    */
  def readChangesEach(fromVersion: Long, toVersion: Long,
      schema: StructType, keyCols: Seq[String],
      includeUpdatePreimages: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val steps = ((fromVersion + 1) to toVersion).map { v =>
      readChangesBetween(v - 1, v, schema, keyCols, includeUpdatePreimages)
        .withColumn("_commit_version", lit(v))
    }
    if (steps.isEmpty)
      readChangesBetween(fromVersion, fromVersion, schema, keyCols)
        .withColumn("_commit_version", lit(fromVersion))
    else steps.reduce(_.unionByName(_))
  }

  // --- CHECK constraints ----------------------------------------------
  //
  // The constraint set is EMBEDDED in each manifest (`#constraintset` +
  // `#constraint` lines) — atomic with the data it governs, carried
  // forward by every commit inside [[commitSized]] and replaced by the
  // add/drop/restore metadata paths, so there is no commit-vs-metadata
  // ordering window at all. Enforcement is SQL CHECK semantics — a row
  // violates only when the expression is explicitly FALSE (NULL
  // passes) — applied by the write fronts to every incoming frame
  // ([[SnapshotMerge.addConstraint]] validates the EXISTING table once
  // at add time), and fenced at commit through [[commitSized]]'s
  // `validatedConstraints`.

  /** Constraints in force for the current commit — the CURRENT
    * manifest's embedded set (atomic with the data it governs).
    */
  def currentConstraints(): Map[String, String] =
    resolveCurrent().flatMap(_.constraints).getOrElse(Map.empty)

  /** ROLL BACK to committed `version` AS A NEW COMMIT (the Delta
    * `RESTORE TABLE ... VERSION AS OF` shape): the restored version's
    * manifest — base entries, deletion vectors, full AND sparse
    * slices, embedded schema and constraint set — is re-committed as
    * the next version, fenced like every commit, so a racing writer
    * aborts instead of interleaving and the rollback itself stays in
    * the history (a restore of a bad restore is just another restore).
    * Zero data movement: batches are immutable, so re-referencing them
    * IS the rollback; vacuum keeps them alive again because the
    * CURRENT manifest references them.
    *
    * Schema: the restored version's embedded schema, or none when it
    * predates the first evolve (readers then infer from footers, as
    * they did at that version). Constraints roll back with the data
    * they validated, atomically with it: the target's set, or the empty
    * set when the target predates the first constraint of a table that
    * has one now — carrying the current set would silently govern
    * restored rows that never passed it. The physical-name history is
    * the CURRENT one, carried by [[commitSized]]: names issued after
    * `version` stay taken, so a later re-add never reuses them.
    *
    * `version` must be inside the vacuum retention window
    * ([[readAt]]'s rule; below it there is no provable winner).
    * Returns the NEW version. No-op (returns current) when `version`
    * is already current.
    */
  def restore(version: Long): Long = {
    val cur = resolveCurrent().getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    if (cur.version == version) return cur.version
    val target = resolvedAt(version)
    commitSized(cur.version + 1, target.entries, Some(cur.version), target.dvs,
      target.mors, target.smors, target.schemaJson,
      target.constraints.orElse(cur.constraints.map(_ => Map.empty)))
    cur.version + 1
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` shape,
    * VERDICT r19 #3): commit, under `targetRoot`, a manifest that
    * re-references THIS table's current immutable batches (and DVs,
    * MoR slices, sparse slices) by ABSOLUTE path — zero data
    * movement, metadata-sized cost at ANY table size. From that
    * commit on the two tables diverge independently: writes to either
    * side land in that side's own data/ dir and are invisible to the
    * other (batches are immutable, the clone's manifest pins the
    * exact files it saw); compaction on the clone gradually
    * materializes the external references away into local batches.
    *
    * The clone keeps the SOURCE's version number (not 1): inherited
    * batch names carry their source commit versions, and the
    * sparse-patch resolver orders patches by those versions — a clone
    * restarting at 1 would let an inherited patch at source-v100
    * overwrite the clone's own later full-row writes. Continuing the
    * counter preserves the monotonicity the gate relies on.
    *
    * VACUUM SEMANTICS (the pinned choice — registry, not
    * copy-on-vacuum): before the clone commit, the referenced batch/
    * DV names are recorded in a `clones/<id>` registry file at each
    * origin root (this root; for a clone-of-a-clone, the ORIGINAL
    * roots its external references point into), and [[vacuum]] treats
    * registered names as live forever after. A source vacuum
    * therefore never breaks a clone; the cost is over-retention of
    * exactly the pinned files until [[dropCloneRegistry]] releases
    * them (crash between registry write and clone commit leaves an
    * orphan registry — over-retention, the safe direction).
    *
    * The clone's one manifest carries the source's schema, constraint
    * set and whole physical-name history, so a column the source
    * dropped can never be re-added onto its old bytes in the clone.
    * Time travel BELOW the clone point is a source-side question (the
    * clone has one manifest) — ask the source. Refused when
    * `targetRoot` already has a snapshot.
    *
    * Returns the registry id (pass to [[dropCloneRegistry]] on the
    * SOURCE store when the clone is deleted).
    */
  def cloneTo(targetRoot: Path): String = {
    val cur = resolveCurrent().getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val tgt = new SnapshotStore(spark, targetRoot)
    require(tgt.currentVersion().isEmpty,
      s"refusing to clone onto $targetRoot: it already has a snapshot")
    def ext(ref: String): String = dataPath(ref).toString
    val entries = cur.entries.view.mapValues(e =>
      SnapshotStore.SnapshotEntry(ext(e.batch), e.bytes)).toMap
    val mors = cur.mors.map { case (s, e) =>
      s -> SnapshotStore.SnapshotEntry(ext(e.batch), e.bytes) }
    val smors = cur.smors.map(m => m.copy(batch = ext(m.batch)))
    val dvs = cur.dvs.map(d => dvPath(d).toString)
    // pin at each ORIGIN root (grouped by the dir the absolute ref
    // lives under): registry lines are bare names, what that root's
    // vacuum liveness sets contain
    val cloneId = java.util.UUID.randomUUID().toString.take(12)
    val refs: Seq[String] =
      (entries.values.map(_.batch) ++ mors.map(_._2.batch) ++
        smors.map(_.batch) ++ dvs).toSeq.distinct
    val byOrigin: Map[Path, Seq[String]] =
      refs.groupBy(r => new Path(r).getParent.getParent)
        .map { case (origin, rs) => origin -> rs.map(leafName) }
    beforeClonePinHook()
    byOrigin.foreach { case (origin, names) =>
      val originStore =
        if (origin.toUri.getPath == root.toUri.getPath) this
        else new SnapshotStore(spark, origin)
      originStore.writeFile(
        new Path(originStore.clonesDir, s"clone-$cloneId"),
        names.sorted.mkString("\n"))
    }
    // Pin-then-verify closes the resolve→pin race: a source writer
    // that rewrote and VACUUMED between this clone's snapshot
    // resolution and the registry write may already have collected a
    // referenced batch — committing would publish a broken clone. A
    // reference that exists AFTER its pin landed can never be
    // collected later (vacuum honors registries from the moment they
    // appear), so existence here proves the clone sound; a missing
    // one aborts retryably with the just-written pins released.
    val gone = refs.filterNot(r => fs.exists(dataPath(r)))
    if (gone.nonEmpty) {
      byOrigin.keys.foreach { origin =>
        val originStore =
          if (origin.toUri.getPath == root.toUri.getPath) this
          else new SnapshotStore(spark, origin)
        scala.util.Try(originStore.fs.delete(
          new Path(originStore.clonesDir, s"clone-$cloneId"), false))
      }
      throw new SnapshotConcurrentWriteException(
        s"source $root was rewritten and vacuumed during the clone " +
          s"(missing: ${gone.take(3).map(leafName).mkString(", ")}…) — " +
          "re-resolve and retry the clone")
    }
    tgt.commitSized(cur.version, entries, None, dvs, mors, smors,
      cur.schemaJson, cur.constraints, issued = cur.issued)
    cloneId
  }

  /** Release a clone's vacuum pins on THIS root (call on the SOURCE
    * after deleting the clone): its registered batches become
    * ordinary vacuum candidates again.
    */
  def dropCloneRegistry(cloneId: String): Unit = {
    val p = new Path(clonesDir, s"clone-$cloneId")
    require(fs.exists(p), s"no clone registry clone-$cloneId at $root")
    fs.delete(p, false)
  }

  /** The clone registries pinning THIS root's files: id → pinned
    * batch/DV names. The operator's view for auditing over-retention
    * (a registry whose clone directory was deleted out-of-band keeps
    * pinning until [[dropCloneRegistry]] releases it — the safe
    * direction, but disk someone should reclaim).
    */
  def cloneRegistries(): Map[String, Seq[String]] =
    if (!fs.exists(clonesDir)) Map.empty
    else fs.listStatus(clonesDir).toSeq
      .filter(_.getPath.getName.startsWith("clone-"))
      .map { st =>
        st.getPath.getName.stripPrefix("clone-") ->
          scala.util.Try(readSmallFile(st.getPath).linesIterator
            .filter(_.nonEmpty).toList).getOrElse(Nil).toSeq
      }.toMap

  /** One atomic exclusive create of the lock file. On HDFS
    * `create(p, overwrite=false)` is a single namenode op; Hadoop's
    * LOCAL filesystem implements it as exists-then-create, which is
    * NOT atomic — there, go straight to the kernel's O_EXCL via
    * java.nio so two same-box writers (and the hammer spec) can never
    * both win.
    */
  private def createLockExclusive(holder: String): Unit =
    if (fs.getScheme == "file") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(lockPath.toUri.getPath),
        holder.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      ()
    } else {
      val out = fs.create(lockPath, false)
      try out.write(holder.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** Take the commit lease: atomic create-exclusive of `LOCK` with
    * this writer's id as the body. Held lock -> bounded exponential
    * backoff up to `lockWaitMs`, then [[SnapshotConcurrentWriteException]]
    * (the caller's merge is cheap to retry; blocking forever on a
    * wedged peer is not). Lock older than `lockStaleMs` -> crashed
    * holder; takeover renames it to a unique tombstone first, so of N
    * concurrent takeover attempts exactly one rename wins and the
    * losers loop back to the create race.
    */
  private def acquireLock(holder: String): Unit = {
    val deadline = System.currentTimeMillis() + lockWaitMs
    var backoff = 2L
    while (true) {
      try {
        createLockExclusive(holder)
        return
      } catch {
        case e: java.io.IOException =>
          // Only a lock that actually exists is contention. A
          // persistent non-contention failure (permission denied,
          // missing root on some FS) must surface as itself, not spin
          // out the wait and masquerade as a concurrent writer.
          val contended = e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
            e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
            scala.util.Try(fs.exists(lockPath)).getOrElse(false)
          if (!contended) throw e
          // Takeover: read body AND mtime in one pass, so after the
          // arbiter rename we can verify the tombstone is the SAME
          // stale lock we observed — between the staleness check and
          // the rename the old holder may release and a NEW writer
          // acquire, and renaming away that fresh lock would let two
          // writers into the critical section.
          val observed = scala.util.Try(
            (readSmallFile(lockPath), fs.getFileStatus(lockPath).getModificationTime)).toOption
          val stale = observed.exists { case (_, mtime) =>
            System.currentTimeMillis() - mtime > lockStaleMs
          }
          if (stale) {
            val tomb = new Path(root, s".LOCK.stale-${java.util.UUID.randomUUID()}")
            if (scala.util.Try(fs.rename(lockPath, tomb)).getOrElse(false)) {
              val tombBody = scala.util.Try(readSmallFile(tomb)).toOption
              if (tombBody == observed.map(_._1)) fs.delete(tomb, false)
              else if (!scala.util.Try(fs.rename(tomb, lockPath)).getOrElse(false)) {
                // Restore failed: yet another writer already re-created
                // LOCK. The displaced holder's commit-point ownership
                // re-check catches the loss; the tombstone is garbage.
                fs.delete(tomb, false)
              }
            }
          } else if (System.currentTimeMillis() > deadline) {
            throw new SnapshotConcurrentWriteException(
              s"commit lease on $root held by another writer past ${lockWaitMs}ms — " +
                "re-read and retry the merge (stale locks are taken over after " +
                s"${lockStaleMs}ms)")
          } else {
            Thread.sleep(backoff)
            backoff = math.min(backoff * 2, 50L)
          }
      }
    }
  }

  /** Drop the lease ONLY if this writer still holds it: a holder that
    * stalled past `lockStaleMs` may have been taken over, and deleting
    * unconditionally would release the usurper's lock under it.
    */
  private def releaseLock(holder: String): Unit =
    if (scala.util.Try(readSmallFile(lockPath)).toOption.contains(holder))
      fs.delete(lockPath, false)

  private def writeFile(p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Read the committed snapshot as one DataFrame (see [[readSlices]]
    * for the scan). Missing table -> empty frame with `schema`.
    */
  def read(schema: StructType): DataFrame = readPartitions(schema, null)

  /** Read only the partitions whose suffix is in `suffixes` (all when
    * `suffixes` is null). This is manifest-level pruning: unlisted
    * partitions contribute no input paths at all, so the scan never
    * lists their directories.
    */
  def readPartitions(schema: StructType, suffixes: Set[String]): DataFrame = {
    val r = resolveCurrent().getOrElse(SnapshotStore.Resolved.empty)
    readSlices(r.slices, schema, suffixes, r.dvs, r.smors)
  }

  /** The general read of a resolved commit: `slices` is EVERY
    * row-holding (suffix, batch) pair — the base entry per partition
    * plus any merge-on-read append slices — kept when its suffix is in
    * `suffixes` (all when null). Deletion vectors anti-join out
    * tombstoned rows across ALL slices (a MoR update's DV may
    * reference base files and earlier slices alike), then the
    * COLUMN-SPARSE patches of the kept suffixes resolve: each `#smor`
    * slice overwrites exactly its changed columns of the live rows it
    * keys onto, but only for rows whose ORIGINATING slice predates the
    * patch (batch names carry their commit version), so a full-row
    * overwrite committed after a patch wins entirely and the stale
    * patch is a no-op. Patches apply in commit order, so two patches
    * of the same key compose column-wise with the later writer
    * winning per column.
    */
  def readSlices(slices: Seq[(String, String)], schema: StructType,
      suffixes: Set[String], dvs: Seq[String],
      smors: Seq[SnapshotStore.SparseSlice] = Nil): DataFrame =
    sliceScan(slices, schema, suffixes, dvs, smors, meta = false)

  /** [[readSlices]] WITH file identity (`__dv_path`, `__dv_pos`) — what
    * a merge-on-read writer joins against to find the positions of the
    * row versions it must tombstone, and what [[deleteWhere]]
    * tombstones. Patched VALUES surface (a `deleteWhere` predicate
    * must see the table as a reader would) while the identity pair
    * stays the UNDERLYING full row's — tombstoning the base row is
    * what kills a patched row. Callers that only consume KEY columns
    * (the MoR writers' hit scans — keys are never patched) pass no
    * `smors` and skip the joins.
    */
  private[sinks] def liveWithMeta(slices: Seq[(String, String)],
      schema: StructType, suffixes: Set[String], dvs: Seq[String],
      smors: Seq[SnapshotStore.SparseSlice] = Nil): DataFrame =
    sliceScan(slices, schema, suffixes, dvs, smors, meta = true)

  /** [[scan]] of the `suffixes`-selected slices and patches. */
  private def sliceScan(slices: Seq[(String, String)], schema: StructType,
      suffixes: Set[String], dvs: Seq[String],
      smors: Seq[SnapshotStore.SparseSlice], meta: Boolean): DataFrame = {
    def kept(suffix: String) = suffixes == null || suffixes.contains(suffix)
    val byBatch = slices.filter(s => kept(s._1)).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (batch, pairs) => batch -> pairs.map(_._1).distinct.sorted }
    scan(byBatch, schema, dvs, smors.filter(s => kept(s.suffix)), meta)
  }

  /** The one scan every read of a snapshot version goes through.
    * `byBatch` lists, in union order, each batch dir with the paths
    * under it to read (partition suffixes, or single files after file
    * pruning); each batch is scanned once with itself as `basePath`
    * (partition columns parse from the `col=val` dirs), then the
    * batches union, `dvs`' tombstones anti-join out and `patches`
    * resolve ([[applyPatches]]). `meta` keeps the file identity
    * (`__dv_path`, `__dv_pos`) after the schema's columns. No batch ->
    * an empty frame of that shape.
    *
    * Tombstone application is a LEFT ANTI on (file, row position): the
    * DV side is parquet with size stats, so AQE broadcasts it when
    * small (the common case — deletes are sparse) and falls back to a
    * shuffled anti-join when a table has accumulated bulk deletes;
    * either way the data side streams once. Tombstones referencing
    * rewritten (dead) files match nothing — stale entries are harmless
    * no-ops, which is what lets every carrying committer forward the
    * whole list.
    */
  private def scan(byBatch: Seq[(String, Seq[String])], schema: StructType,
      dvs: Seq[String], patches: Seq[SnapshotStore.SparseSlice],
      meta: Boolean): DataFrame = {
    requireWorkingNamesFree(schema, meta || dvs.nonEmpty, patches.nonEmpty)
    val metaCols = if (meta) Seq("__dv_path", "__dv_pos") else Nil
    if (byBatch.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields ++ (if (meta) Seq(StructField("__dv_path", StringType),
          StructField("__dv_pos", LongType)) else Nil)))
    var out = byBatch.map { case (batch, paths) =>
      val base = dataPath(batch)
      val extra = (if (meta || dvs.nonEmpty) dvMetaCols else Nil) ++
        (if (patches.nonEmpty) Seq(sliceVersionCol(batch)) else Nil)
      // The caller's schema governs partition-column TYPES: inference
      // would turn a string partition value like "00123" into int 123
      // (dropping the padding) and widen/narrow numerics batch by
      // batch. With an explicit schema the `col=val` dir names parse
      // directly to the declared types.
      spark.read.option("basePath", base.toString).schema(schema)
        .parquet(paths.map(p => new Path(base, p).toString): _*)
        .select(schema.fieldNames.map(col) ++ extra: _*)
    }.reduce(_.unionByName(_))
    if (dvs.nonEmpty)
      out = out.join(
        dvFrame(dvs).select(col("path").as("__dv_path"), col("pos").as("__dv_pos")),
        Seq("__dv_path", "__dv_pos"), "left_anti")
    if (patches.nonEmpty) out = applyPatches(out, schema, patches, metaCols)
    out.select((schema.fieldNames.toSeq ++ metaCols).map(col): _*)
  }

  /** Origin-version column for patch gating: rows read from batch
    * `b-<version>-<uuid>` carry that version (legacy unversioned
    * batch names predate sparse slices — version 0, patched by
    * everything, which is right: any patch was committed after them).
    */
  private def sliceVersionCol(batch: String): org.apache.spark.sql.Column =
    lit(batchVersion(batch).getOrElse(0L)).as("__sv")

  private def requireWorkingNamesFree(schema: StructType,
      dv: Boolean, patch: Boolean): Unit = {
    if (dv)
      require(!schema.fieldNames.exists(_.startsWith("__dv_")),
        "schema columns must not collide with the deletion-vector " +
          "anti-join's working names (__dv_*)")
    if (patch)
      require(!schema.fieldNames.exists(f =>
        f.startsWith("__sp_") || f.startsWith("__sv") || f == "__pv"),
        "schema columns must not collide with the sparse-patch " +
          "resolution's working names (__sp_*, __sv, __sv_*, __pv)")
  }

  /** Apply sparse patch slices to a live frame carrying `__sv` (and
    * any `passthrough` working columns that must survive, e.g. the
    * DV identity pair). ONE left join per distinct (keys, cols)
    * SIGNATURE — not per batch: same-signature patches of a key
    * totally overwrite each other, so only the per-key LATEST matters
    * (an argmax over the stacked slices, computed on the patch side,
    * which stays batch-sized and AQE-broadcasts). A steady-state
    * writer patching the same columns every cron cycle therefore
    * costs the reader one join at ANY outstanding depth, not depth
    * joins.
    *
    * Resolution is ORDER-INDEPENDENT across signature groups: every
    * patched column carries its own EFFECTIVE VERSION through the
    * chain (`__sv_<c>`, initialized to the row's slice version), and
    * a group's patch lands on column c only when its version exceeds
    * c's effective version. When two signatures share a column, a
    * group's per-key latest can be OLDER than another group's patch
    * of the same column for the same key — no single global group
    * order can express that (found in the r19 close review: the
    * max-version group sort let a stale patch revert a newer one);
    * the per-column version gate can, and makes the group order
    * irrelevant. A full-row overwrite committed after a patch wins
    * entirely (its rows initialize every effective version above the
    * patch). Columns a later DROP evolution removed from `schema` are
    * skipped (the patch of a dropped column is dead weight until
    * compaction); a patch whose columns are all dropped joins
    * nothing.
    */
  private def applyPatches(df0: DataFrame, schema: StructType,
      patches: Seq[SnapshotStore.SparseSlice],
      passthrough: Seq[String]): DataFrame = {
    def ver(batch: String): Long =
      batchVersion(batch).getOrElse(throw new IllegalStateException(
        s"sparse slice batch $batch carries no version prefix"))
    val groups = patches.groupBy(p => (p.keys, p.cols)).toSeq
      .map { case ((keys, cols), group) =>
        require(keys.forall(schema.fieldNames.contains),
          s"sparse slice keys [${keys.mkString(",")}] missing from the read " +
            "schema — a patch key column cannot be dropped before its " +
            "slices compact away")
        (keys, cols.filter(schema.fieldNames.contains), group)
      }
      .sortBy { case (_, _, g) => g.map(s => ver(s.batch)).max }
    val patchedCols: Seq[String] = groups.flatMap(_._2).distinct
    def verCol(c: String): String = s"__sv_$c"
    var out = patchedCols.foldLeft(df0)((d, c) =>
      d.withColumn(verCol(c), col("__sv")))
    val keep: Seq[String] = schema.fieldNames.toSeq ++ passthrough ++
      ("__sv" +: patchedCols.map(verCol))
    for ((keys, applied, group) <- groups if applied.nonEmpty) {
      val readSchema = StructType(schema.fields.filter(f =>
        keys.contains(f.name) || applied.contains(f.name)))
      // one scan per patch batch, so each row carries its batch's version
      val all = group.groupBy(_.batch).toSeq.sortBy(_._1)
        .map { case (batch, slices) =>
          scan(Seq(batch -> slices.map(_.suffix).distinct.sorted), readSchema,
            Nil, Nil, meta = false).withColumn("__pv", lit(ver(batch)))
        }.reduce(_.unionByName(_))
      // per-key latest patch WITHIN the group: version argmax via a
      // max + self-join (type-agnostic — a struct-max would refuse
      // map-typed patched columns). Versions are unique per
      // (key, batch) and a batch holds a key at most once, so the
      // join picks one row. Cross-group newest-wins is the
      // effective-version gate's job, not the argmax's.
      val latestVer = all.groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.max(col("__pv")).as("__pv"))
      val p = all.join(latestVer, keys :+ "__pv")
        .select(keys.map(col) ++
          applied.map(c => col(c).as(s"__sp_$c")) :+ col("__pv"): _*)
        .withColumn("__sp_hit", lit(true))
      val appliedSet = applied.toSet
      out = out.join(p, keys, "left").select(keep.map { c =>
        if (appliedSet(c))
          when(col("__sp_hit") && col(verCol(c)) < col("__pv"),
            col(s"__sp_$c")).otherwise(col(c)).as(c)
        else if (c.startsWith("__sv_") && appliedSet(c.stripPrefix("__sv_")))
          when(col("__sp_hit") && col(c) < col("__pv"), col("__pv"))
            .otherwise(col(c)).as(c)
        else col(c)
      }: _*)
    }
    out
  }

  /** The file-identity columns a deletion-vector anti-join keys on —
    * Spark's hidden `_metadata` struct, available on every file-source
    * frame at zero cost until projected.
    */
  private def dvMetaCols: Seq[org.apache.spark.sql.Column] = Seq(
    col("_metadata.file_path").as("__dv_path"),
    col("_metadata.row_index").as("__dv_pos"))

  /** Deletion vectors as one (path, pos) frame: a single scan of
    * every DV file under the fixed [[SnapshotStore.dvSchema]].
    */
  private def dvFrame(dvs: Seq[String]): DataFrame =
    spark.read.schema(SnapshotStore.dvSchema).parquet(dvs.map(dvPath(_).toString): _*)

  /** Write the per-(partition, column) min/max STATS sidecar for a
    * freshly staged batch — the metadata that lets [[readRange]] skip
    * partitions on a NON-partition column, which partition pruning
    * cannot touch (the Delta/Iceberg file-stats idea at this store's
    * partition-per-batch granularity). One bounded aggregation over
    * the just-written batch (its files are page-warm at the only call
    * sites); the sidecar is immutable alongside its batch and is
    * collected with it by [[vacuum]].
    *
    * `statsCols` must be NUMERIC table columns; values are recorded
    * as doubles (exact for longs up to 2^53 — the caveat callers with
    * larger keys must mind). A column that is all-NULL within a
    * partition records no line, and a missing (partition, column)
    * line makes that partition UNPRUNABLE on that column — absence
    * degrades to a full read, never a wrong skip.
    *
    * Format (one line per partition × column, TSV):
    * `suffix<TAB>col<TAB>min<TAB>max`. Written via tmp+rename so a
    * crash mid-write leaves no torn sidecar (a torn file would parse
    * partially; the rename makes it all-or-nothing).
    */
  def writeBatchStats(batch: String, schema: StructType,
      partCols: Seq[String], statsCols: Seq[String],
      fileStats: Boolean = false): Unit = {
    if (statsCols.isEmpty) return
    statsCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"stats column $c not in schema"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"stats column $c must be numeric, is ${f.dataType}")
      require(!partCols.contains(c),
        s"stats column $c is a partition column — partition pruning already covers it")
    }
    val df = spark.read.schema(schema).parquet(dataPath(batch).toString)
    val aggs = statsCols.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).cast("double").as(s"__mn_$c"),
      org.apache.spark.sql.functions.max(col(c)).cast("double").as(s"__mx_$c")))
    val rows = df.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .collect()
    val sb = new StringBuilder
    rows.foreach { r =>
      val suffix = SnapshotMerge.partitionSuffix(partCols, r)
      statsCols.zipWithIndex.foreach { case (c, i) =>
        val mnIdx = partCols.size + 2 * i
        if (!r.isNullAt(mnIdx) && !r.isNullAt(mnIdx + 1))
          sb.append(suffix).append('\t').append(c).append('\t')
            .append(r.getDouble(mnIdx)).append('\t')
            .append(r.getDouble(mnIdx + 1)).append('\n')
      }
    }
    fs.mkdirs(statsDir)
    val tmp = new Path(statsDir, s".tmp-$batch")
    writeFile(tmp, sb.toString)
    // rename returns false instead of throwing on some FSes — a
    // silently missing sidecar would just disable pruning, but the
    // writer deserves to know its metadata write failed
    require(fs.rename(tmp, new Path(statsDir, batch)),
      s"stats sidecar rename failed for $batch")
    if (fileStats) writeBatchFileStats(batch, df, partCols, statsCols)
  }

  /** BLOOM sidecar for a batch — the EQUALITY-lookup complement of
    * the min/max bands (`<batch>.bloom`): one bloom sketch per
    * partition over an integral column, so a point lookup on a
    * column UNCORRELATED with the partitioning (where every
    * partition's min/max band spans the whole domain and bands prune
    * nothing) skips the partitions that provably cannot contain the
    * key. No false negatives (bloom contract) ⇒ pruning is
    * correctness-invariant, exactly like [[readRange]]'s; false
    * positives only cost a read. A partition whose group aggregates
    * to a null sketch (all-NULL column) writes no line and is never
    * pruned — absence degrades to a full read, the stats-sidecar
    * convention.
    *
    * Format (TSV): `suffix<TAB>col<TAB>base64(sketch)`. The sketch is
    * Spark's own [[org.apache.spark.util.sketch.BloomFilter]]
    * serialization (built by BloomFilterAggregate over
    * `xxhash64(cast(col AS bigint))`), so [[readKeyLookup]] probes it
    * driver-side with the identical hash — sidecar-sized metadata,
    * numBits/8 bytes per partition regardless of row count.
    */
  def writeBatchBloom(batch: String, schema: StructType,
      partCols: Seq[String], bloomCol: String,
      expectedItems: Long = 100000L, numBits: Long = 1L << 20): Unit = {
    val f = schema.fields.find(_.name == bloomCol).getOrElse(
      throw new IllegalArgumentException(s"bloom column $bloomCol not in schema"))
    val isStr = f.dataType == org.apache.spark.sql.types.StringType
    require(isStr || Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(f.dataType),
      s"bloom column $bloomCol must be integral or string (probed as " +
        s"xxhash64 of a bigint / of the UTF-8 bytes), is ${f.dataType.simpleString}")
    require(!partCols.contains(bloomCol),
      s"bloom column $bloomCol is a partition column — partition pruning " +
        "already covers it")
    val df = spark.read.schema(schema).parquet(dataPath(batch).toString)
    // integral columns normalize through bigint so every width probes
    // identically; strings hash their UTF-8 bytes directly
    // ([[readKeyLookupStr]] mirrors with XxHash64Function.hash)
    val item = if (isStr) col(bloomCol) else col(bloomCol).cast("long")
    val rows = df.groupBy(partCols.map(col): _*)
      .agg(graft.functions.BloomFilterOps.bloom_agg(
        item, expectedItems, numBits).as("__bf"))
      .collect()
    val sb = new StringBuilder
    rows.foreach { r =>
      val i = partCols.size
      if (!r.isNullAt(i)) {
        sb.append(SnapshotMerge.partitionSuffix(partCols, r)).append('\t')
          .append(bloomCol).append('\t')
          .append(java.util.Base64.getEncoder.encodeToString(
            r.getAs[Array[Byte]](i))).append('\n')
      }
    }
    // PER-COLUMN sidecar file (`<batch>.bloom.<col>`): writers of
    // different columns never touch the same file, so the r18
    // combined-sidecar read-merge-rename lost-update race (two
    // concurrent indexers, last rename drops the other's lines —
    // ADVICE r18) is gone by construction, not by retry. Same-column
    // writers last-win whole-file (a re-index with new sizing wins,
    // as before).
    fs.mkdirs(statsDir)
    val tmp = new Path(statsDir, s".tmp-$batch.bloom.${encodeCol(bloomCol)}")
    writeFile(tmp, sb.toString)
    val fc = FileContext.getFileContext(root.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, new Path(statsDir, s"$batch.bloom.${encodeCol(bloomCol)}"),
      Options.Rename.OVERWRITE)
  }

  /** Column name as a single safe path segment (a column named `a/b`
    * or `a.bloom` must not escape or collide).
    */
  private def encodeCol(c: String): String =
    java.net.URLEncoder.encode(c, "UTF-8")

  /** Point-lookup read through the bloom sidecars: keep only the
    * partitions whose sketch says some key in `keys` MIGHT be
    * present (no sidecar / no line ⇒ keep), then apply the exact
    * IN-filter as the residual — same prune-plus-residual shape as
    * [[readRange]], same correctness argument (a bloom cannot
    * false-negative), deletion vectors applied as everywhere. The
    * probe is a driver-side sidecar computation: sketches deserialize
    * via Spark's own BloomFilter.readFrom and are probed with the
    * exact hash the aggregate inserted (xxhash64 of the bigint value,
    * seed 42).
    */
  def readKeyLookup(schema: StructType, bloomCol: String,
      keys: Seq[Long]): DataFrame =
    readKeyLookupHashed(schema, bloomCol,
      keys.map(k => org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 42L)),
      col(bloomCol).isin(keys: _*))

  /** [[readKeyLookup]] for STRING keys — the reference's natural point
    * lookup shape (`WHERE bvid = ?`, `db/recording.py:119-138`). The
    * sidecar sketch was built over `xxhash64(col)` (seed 42 over the
    * UTF-8 bytes); the driver-side probe hashes each key's UTF8String
    * bytes with the identical function, so prune decisions agree with
    * what the aggregate inserted.
    */
  def readKeyLookupStr(schema: StructType, bloomCol: String,
      keys: Seq[String]): DataFrame =
    readKeyLookupHashed(schema, bloomCol,
      keys.map(k => org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(k),
        org.apache.spark.sql.types.StringType, 42L)),
      col(bloomCol).isin(keys: _*))

  private def readKeyLookupHashed(schema: StructType, bloomCol: String,
      hashes: Seq[Long], residual: org.apache.spark.sql.Column): DataFrame = {
    require(hashes.nonEmpty, "point lookup needs at least one key")
    val r = resolveCurrent().getOrElse(SnapshotStore.Resolved.empty)
    // a partition with an outstanding sparse patch of the LOOKUP
    // column is unprunable: its sketches were built over pre-patch
    // values, so a patch may have moved a probed key INTO it
    val unprunable = r.smors.filter(_.cols.contains(bloomCol)).map(_.suffix).toSet
    val sketchCache = scala.collection.mutable.Map.empty[
      String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
    // the batch's per-column sidecar (`<batch>.bloom.<col>`), if any
    def sketches(batch: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
      sketchCache.getOrElseUpdate(batch, {
        val p = statsPath(batch, s".bloom.${encodeCol(bloomCol)}")
        if (!fs.exists(p)) Map.empty
        else readSmallFile(p).split('\n').toSeq.filter(_.nonEmpty).map { l =>
          val Array(suffix, _, b64) = l.split('\t')
          suffix -> org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
        }.toMap
      })
    // pruning is PER SLICE: a partition's base slice can skip while a
    // later MoR slice (holding a fresher copy of the key) is read
    val keep = r.slices.filter { case (suffix, batch) =>
      unprunable(suffix) || (sketches(batch).get(suffix) match {
        case None => true // no sidecar/line: never a wrong skip
        case Some(bf) => hashes.exists(bf.mightContainLong)
      })
    }
    readSlices(keep, schema, null, r.dvs, r.smors).where(residual)
  }

  /** FILE-granularity twin of the partition sidecar (`<batch>.files`):
    * one band per (file, column), keyed by the file's batch-relative
    * path. Per-file bands only pay off after a CLUSTERED write
    * ([[compactClustered]]) makes them near-disjoint — a shuffled
    * write gives every file the full value range and nothing prunes.
    *
    * Every file is ENUMERATED with a `#` marker line even when all
    * its bands are null — a file absent from the sidecar entirely
    * would otherwise be silently dropped by [[readRangeFiles]], which
    * must never happen (the sidecar is the file listing).
    */
  private def writeBatchFileStats(batch: String, df: DataFrame,
      partCols: Seq[String], statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    val aggs = statsCols.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).cast("double").as(s"__mn_$c"),
      org.apache.spark.sql.functions.max(col(c)).cast("double").as(s"__mx_$c")))
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val marker = s"/$batch/"
    val sb = new StringBuilder
    rows.foreach { r =>
      // input_file_name() returns a URI whose path segments are
      // percent-ENCODED (a dir literally named `pk=us east` or the
      // Hive-escaped `pk=a%3Ab` arrives as `pk=us%20east` /
      // `pk=a%253Ab`); manifest suffixes are the RAW dir names, so
      // decode once or readRangeFiles' startsWith(suffix) match
      // silently drops every file of such a partition
      val uri = new java.net.URI(r.getString(0)).getPath
      val at = uri.indexOf(marker)
      require(at >= 0, s"file $uri not under batch $batch")
      val rel = uri.substring(at + marker.length)
      sb.append(rel).append("\t#\t0\t0\n")
      statsCols.zipWithIndex.foreach { case (c, i) =>
        val mnIdx = 1 + 2 * i
        if (!r.isNullAt(mnIdx) && !r.isNullAt(mnIdx + 1))
          sb.append(rel).append('\t').append(c).append('\t')
            .append(r.getDouble(mnIdx)).append('\t')
            .append(r.getDouble(mnIdx + 1)).append('\n')
      }
    }
    val tmp = new Path(statsDir, s".tmp-$batch.files")
    writeFile(tmp, sb.toString)
    require(fs.rename(tmp, new Path(statsDir, s"$batch.files")),
      s"file-stats sidecar rename failed for $batch")
  }

  /** Parsed file sidecar: relpath -> col -> (min, max). Marker lines
    * make every file present as a key (possibly with no bands). None
    * when the batch has no file sidecar — callers must then fall back
    * to whole-partition reads, NOT treat it as "no files".
    */
  def readBatchFileStats(batch: String):
      Option[Map[String, Map[String, (Double, Double)]]] = {
    val p = statsPath(batch, ".files")
    if (!fs.exists(p)) return None
    val parsed = readSmallFile(p).split('\n').toSeq.filter(_.nonEmpty).map { l =>
      val Array(rel, c, mn, mx) = l.split('\t')
      (rel, c, (mn.toDouble, mx.toDouble))
    }
    Some(parsed.groupBy(_._1).view.mapValues(
      _.filter(_._2 != "#").map(t => t._2 -> t._3).toMap).toMap)
  }

  /** [[readRange]] with FILE-level pruning inside surviving
    * partitions: after the partition bands prune, each remaining
    * partition's files are kept only when their own band intersects
    * (files without a band, and batches without a file sidecar, fall
    * back to being read whole). After [[compactClustered]] a narrow
    * band touches O(1) files per partition instead of all of them —
    * the clustered-table read path.
    */
  def readRangeFiles(schema: StructType, statsCol: String,
      lo: Double, hi: Double): DataFrame =
    readBoxFiles(schema, Seq((statsCol, lo, hi)))

  /** Full rewrite CLUSTERED on `clusterCols` within each partition —
    * rows sort inside their partition dir and split into
    * ≤ `maxRecordsPerFile`-row files, so per-file bands (written
    * alongside, with the partition sidecar, for the cluster columns)
    * become near-disjoint and [[readRangeFiles]] / [[readBoxFiles]]
    * prune to the few files a narrow band or box touches. The
    * OPTIMIZE / ZORDER BY idea, at this store's crash contract:
    * invisible until the fenced pointer swap, orphans for vacuum on a
    * crash.
    *
    * One column sorts by its value. Two or more sort by an
    * interleaved-bit Z-value ([[zValue]]), which makes the bands narrow
    * in EVERY cluster column at once, where a linear sort on column A
    * leaves column B's per-file bands spanning the full range.
    *
    * The sort is per written file only — query results never depend
    * on it (parquet carries no order guarantee downstream); it exists
    * purely to make file statistics selective.
    */
  def compactClustered(schema: StructType, partCols: Seq[String],
      clusterCols: Seq[String], maxRecordsPerFile: Long): Unit = {
    require(clusterCols.nonEmpty, "clustered compaction needs at least one column")
    require(ZBits * clusterCols.size <= 62,
      s"${clusterCols.size} cols × $ZBits bits overflows a long")
    val base = resolveCurrent().getOrElse(return)
    if (base.entries.isEmpty) return
    val rows = readSlices(base.slices, schema, null, base.dvs, base.smors)
    val key = if (clusterCols.size == 1) col(clusterCols.head) else zValue(rows, clusterCols)
    commitRewrite(Some(base), rows, base.entries.keySet, partCols, clusterCols,
      Some((Seq(key), maxRecordsPerFile)), compaction = Some("clustered compaction"))
  }

  /** Z-value bits per column: 2^6 = 64 cells per dimension is plenty
    * to separate files (a file holds many rows, so sub-cell order does
    * not matter).
    */
  private val ZBits = 6

  /** The Z-value sort key of `cols` over `df`. Per-column codes are
    * QUANTILE ranks, not linear scaling: each column maps through its
    * own approx_percentile boundary array (one aggregation pass,
    * collected once — compaction is a maintenance action), so skewed
    * distributions still spread codes uniformly and no dimension
    * starves the interleave.
    */
  private def zValue(df: DataFrame, cols: Seq[String]): Column = {
    val nb = (1 << ZBits) - 1
    val qs = (1 to nb).map(i => i.toDouble / (nb + 1))
    val aggs = cols.map(c =>
      expr(s"approx_percentile(cast(`$c` as double), array(${qs.mkString(",")}), 10000)"))
    val qrow = df.agg(aggs.head, aggs.tail: _*).head()
    // code_c = #boundaries <= value (0..nb); NULLs sort first (code 0)
    val codes = cols.indices.map { i =>
      val bounds: Seq[Double] =
        if (qrow.isNullAt(i)) Seq.empty
        else qrow.getSeq[Any](i).map(v => String.valueOf(v).toDouble)
      bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(cols(i)).cast("double") >= b, 1).otherwise(0)
      }
    }
    // interleave: bit i of code j lands at position i·k + j (k = #cols)
    (0 until ZBits).flatMap { i =>
      codes.zipWithIndex.map { case (code, j) =>
        shiftleft(shiftright(code, i).bitwiseAND(1).cast("long"), i * cols.size + j)
      }
    }.reduce(_ + _)
  }

  /** Parsed stats sidecar of `batch`: suffix -> col -> (min, max).
    * Empty map when the batch has no sidecar (pre-stats batches, or a
    * merge that opted out) — readers then cannot prune it.
    */
  def readBatchStats(batch: String): Map[String, Map[String, (Double, Double)]] = {
    val p = statsPath(batch)
    if (!fs.exists(p)) return Map.empty
    readSmallFile(p).split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val Array(suffix, c, mn, mx) = line.split('\t')
      (suffix, c, (mn.toDouble, mx.toDouble))
    }.groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
  }

  /** The (suffix, batch) slices whose recorded [min, max] band for
    * `statsCol` intersects [lo, hi] — plus every slice with NO
    * recorded band (unprunable, never wrongly skipped). Each slice
    * prunes on ITS OWN batch's sidecar band, so a partition's base
    * slice can skip while a MoR append slice with in-range rows is
    * still read (and vice versa). Pure metadata: reads only the
    * sidecars of referenced batches, lists no data directory.
    */
  def pruneSlicesByStats(slices: Seq[(String, String)], statsCol: String,
      lo: Double, hi: Double): Seq[(String, String)] = {
    val cache = scala.collection.mutable.Map[String,
      Map[String, Map[String, (Double, Double)]]]()
    slices.filter { case (suffix, batch) =>
      cache.getOrElseUpdate(batch, readBatchStats(batch))
        .get(suffix).flatMap(_.get(statsCol)) match {
        case Some((mn, mx)) => bandIntersects(mn, mx, lo, hi)
        case None => true
      }
    }
  }

  /** Full-rewrite lost-partition guard. Without deletion vectors a
    * rewritten partition set must be EXACTLY the base's — any loss is
    * a writer bug. With DVs outstanding, a partition the DV filter
    * emptied legitimately DROPS from the manifest (that drop IS the
    * materialization of its delete) — but ONLY such a partition may
    * drop: each lost suffix is re-read DV-filtered (base + MoR
    * slices) and must come back empty, so a writer bug that loses a
    * partition with live rows still fails loudly instead of hiding
    * behind an unrelated DV (ADVICE r17). The verification read is
    * bounded by the lost set — rare, and fully-tombstoned partitions
    * scan to nothing past the anti-join.
    */
  private def requirePartitionsPreserved(written: Set[String],
      expected: Set[String], base: SnapshotStore.Resolved,
      schema: StructType, what: String): Unit = {
    val lost = expected -- written
    if (lost.isEmpty) return
    require(base.dvs.nonEmpty,
      s"$what must preserve the partition set; lost ${lost.mkString(", ")}")
    val survivors = liveWithMeta(base.slices, schema, lost, base.dvs).limit(1).count()
    require(survivors == 0L,
      s"$what lost partitions with live (non-tombstoned) rows: ${lost.mkString(", ")}")
  }

  /** A recorded band keeps its partition/file when it may intersect
    * [lo, hi]. NaN poisons aggregates — Spark orders NaN as the
    * LARGEST double, so max() over a partition with any NaN returns
    * NaN, and a plain `mx >= lo` on the Scala side is then FALSE,
    * which would prune a partition whose NORMAL values are squarely
    * in range. A NaN endpoint therefore means "unknown" → keep.
    */
  private def bandIntersects(mn: Double, mx: Double,
      lo: Double, hi: Double): Boolean =
    mn.isNaN || mx.isNaN || (mx >= lo && mn <= hi)

  /** Stats-pruned range read: resolve the current manifest once,
    * drop partitions whose recorded band cannot intersect
    * [lo, hi], scan the survivors, and apply the RESIDUAL filter —
    * correctness never depends on pruning (a stale, missing, or
    * coarse band only widens the scan). The filter also pushes into
    * the parquet scan, so row-group stats prune a second time inside
    * the surviving files.
    */
  def readRange(schema: StructType, statsCol: String,
      lo: Double, hi: Double): DataFrame = {
    val r = resolveCurrent().getOrElse(SnapshotStore.Resolved.empty)
    // stats sidecars are written at batch-stage time and never
    // re-tightened by a delete, so post-delete bands can only be
    // WIDER than the live data — pruning stays sound (never a wrong
    // skip), merely less selective until the next compaction. A
    // partition with an outstanding sparse patch of statsCol is
    // UNPRUNABLE (bands predate the patch, which may have moved a
    // value into range).
    val unprunable = r.smors.filter(_.cols.contains(statsCol)).map(_.suffix).toSet
    val kept = pruneSlicesByStats(
        r.slices.filterNot(s => unprunable(s._1)), statsCol, lo, hi) ++
      r.slices.filter(s => unprunable(s._1))
    readSlices(kept, schema, null, r.dvs, r.smors)
      .where(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** ROW-LEVEL DELETE via positional DELETION VECTORS — the
    * Delta/Iceberg answer to "remove 0.01% of rows from a 100 TB
    * table without rewriting a byte of data": tombstone (file,
    * row-position) pairs in a sidecar, applied by every reader as a
    * LEFT ANTI join, materialized for free by the next full rewrite.
    * The delete commit is METADATA-SHAPED — it writes one small
    * parquet of tombstones plus a manifest whose data entries are
    * byte-identical to the base's (that is the point), fenced through
    * the same lease/CAS as every commit, so it composes with the
    * optimistic-concurrency story (a racing writer fences it, a retry
    * recomputes positions against the winner's state — positions are
    * only meaningful against the exact base they were read from).
    *
    * Row identity is Spark's `_metadata.file_path` + `row_index` —
    * stable for immutable batch files (this store never appends to a
    * committed file). Semantics downstream:
    *  - every read path applies the manifest's DV list (plain reads,
    *    time travel at the right version, stats-pruned range/box
    *    reads, the CDC diff — which also treats DV-only commits as
    *    changes);
    *  - merges read DV-filtered targets and carry the DV list
    *    forward, so rewritten partitions materialize their deletes
    *    while untouched partitions keep tombstoning (a deleted row
    *    can never resurrect);
    *  - a rewrite that keeps no base entry (`compact`,
    *    `compactClustered`, `replaceAll`) drops the list — deletes are
    *    materialized ([[commitRewrite]]'s carry rule);
    *  - vacuum collects DV files no retained manifest references.
    *
    * Returns the number of rows tombstoned; 0 = nothing matched and
    * NO version was committed. Stats sidecars are not re-tightened by
    * a delete (bands only get wider than live data — pruning stays
    * sound, less selective until the next compaction).
    */
  def deleteWhere(schema: StructType, pred: org.apache.spark.sql.Column): Long = {
    val cur = resolveCurrent().getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    if (cur.entries.isEmpty) return 0L
    // live view WITH file identity across ALL slices (base + MoR
    // appends), SPARSE-PATCH-resolved — the predicate must see the
    // table as a reader would, while the tombstoned identity stays
    // the underlying full row's (killing the base row kills the
    // patched row; the orphaned patch is a harmless no-op). Existing
    // DVs applied so an already-deleted row is never re-tombstoned
    // (the count stays honest and DV files never accumulate
    // duplicates).
    val live = liveWithMeta(cur.slices, schema, null, cur.dvs, cur.smors)
    beforeDeleteCommitHook()
    val (name, n) = stageDv(live.where(pred)
      .select(col("__dv_path").as("path"), col("__dv_pos").as("pos")), cur.version + 1)
    if (n == 0L) return 0L
    // fenced like every commit. Slices (full AND sparse) carry forward
    // untouched — a delete rewrites nothing.
    try commitSized(cur.version + 1, cur.entries, Some(cur.version), cur.dvs :+ name,
      cur.mors, cur.smors, cur.schemaJson)
    catch { case t: Throwable => fs.delete(dvPath(name), true); throw t }
    n
  }

  /** The files a box read would scan, per batch (batch -> paths under
    * it, in union order) — partition bands prune first, then each
    * surviving partition's files drop when ANY predicate's file band
    * cannot intersect. Package-visible so specs can pin SELECTIVITY
    * (how many files a box touches) without scanning anything.
    * Batches without a file sidecar degrade to whole-partition paths,
    * never to silence.
    */
  private[graft] def boxFilePaths(preds: Seq[(String, Double, Double)])
      : Seq[(String, Seq[String])] =
    boxFilePaths(resolveCurrent().getOrElse(SnapshotStore.Resolved.empty), preds)

  private def boxFilePaths(r: SnapshotStore.Resolved,
      preds: Seq[(String, Double, Double)]): Seq[(String, Seq[String])] = {
    // no band may prune a suffix with a sparse patch of a predicate
    // column: the patch post-dates every recorded band
    val predCols = preds.map(_._1).toSet
    val unprunable = r.smors.filter(_.cols.exists(predCols)).map(_.suffix).toSet
    val surviving = preds.foldLeft(
        r.slices.filterNot(s => unprunable(s._1))) { case (kept, (c, lo, hi)) =>
      pruneSlicesByStats(kept, c, lo, hi)
    } ++ r.slices.filter(s => unprunable(s._1))
    surviving.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (batch, batchEntries) =>
        val suffixes = batchEntries.map(_._1).distinct.sorted
        val paths: Seq[String] = readBatchFileStats(batch) match {
          case None => suffixes
          case Some(fileBands) =>
            suffixes.flatMap { s =>
              val mine = fileBands.filter(_._1.startsWith(s + "/"))
              if (unprunable(s)) mine.keys.toSeq.sorted
              else mine.collect {
                case (rel, bands)
                    if preds.forall { case (c, lo, hi) =>
                      bands.get(c).forall { case (mn, mx) =>
                        bandIntersects(mn, mx, lo, hi) } } => rel
              }
            }
        }
        batch -> paths
    }
  }

  /** Box read with partition- AND file-level pruning on every
    * predicate — the multi-dimensional twin of [[readRangeFiles]],
    * the read path a multi-column [[compactClustered]] exists for.
    * Residual filters keep correctness independent of pruning and push
    * into the parquet scan for a third (row-group) pruning level.
    */
  def readBoxFiles(schema: StructType,
      preds: Seq[(String, Double, Double)]): DataFrame = {
    require(preds.nonEmpty, "box read needs at least one predicate")
    val residual = preds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    // ONE pointer resolution for the file set, the DV list AND the
    // sparse-patch list: a second read could straddle a concurrent
    // compaction (old files resolved at v, v+1's empty DV list read
    // after) and resurrect tombstoned rows — the exact race
    // resolveCurrent() exists for.
    val r = resolveCurrent().getOrElse(SnapshotStore.Resolved.empty)
    scan(boxFilePaths(r, preds).filter(_._2.nonEmpty), schema, r.dvs, r.smors,
      meta = false).where(residual)
  }

  /** Fold the SMALLEST live batches together so the manifest
    * references at most `maxBatches` batch dirs, rewriting only the
    * partitions those batches hold — the incremental twin of
    * [[compact]]. A long-running streaming sink churns hot partitions
    * into a trail of tiny one-partition batches while the cold bulk of
    * the table sits in a few large seed batches; full compaction would
    * rewrite ALL of it to fix fragmentation that lives entirely in the
    * churn. Keeping the `maxBatches - 1` largest batches in place (by
    * BYTES on disk — a churn batch can touch many partitions while
    * holding almost no data, so partition count would misrank it) and
    * folding the rest into one fresh batch bounds reader fan-out at
    * the same crash contract — the fold is invisible until the fenced
    * pointer swap, untouched batches carry forward by reference, and
    * the fold's pruned read never lists a kept batch's directories.
    * Sizes come from the manifest (every entry records what its
    * merge's own post-write walk measured) — ZERO per-partition FS
    * metadata calls. No-op when already within bounds.
    */
  def compactIncremental(schema: StructType, partCols: Seq[String],
      maxBatches: Int, statsCols: Seq[String] = Nil): Unit = {
    require(maxBatches >= 2,
      "maxBatches must leave room for kept batches plus the fold target")
    val base = resolveCurrent().getOrElse(return)
    if (base.batches.size <= maxBatches) return
    // live bytes per batch: sum the batch's LIVE partition entries, not
    // the whole dir — a batch can also hold stale copies of partitions
    // later merges superseded, which must not inflate its rank. MoR
    // slices — full and sparse — count toward their batch's live bytes.
    val bySize: Map[String, Long] =
      (base.entries.toSeq.map(kv => (kv._2.batch, kv._2.bytes)) ++
        base.mors.map(m => (m._2.batch, m._2.bytes)) ++
        base.smors.map(m => (m.batch, m.bytes)))
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val keep = bySize.toSeq.sortBy { case (b, sz) => (-sz, b) }
      .take(maxBatches - 1).map(_._1).toSet
    // a partition folds when ANY of its slices lives in a non-kept
    // batch — the fold rewrites the partition whole (base + appends,
    // patch-resolved, DV-filtered), so every one of its slice lines
    // must drop with it
    val foldParts = (base.slices ++ base.smors.map(m => (m.suffix, m.batch))).collect {
      case (suffix, b) if !keep.contains(b) => suffix
    }.toSet
    commitRewrite(Some(base), readSlices(base.slices, schema, foldParts, base.dvs, base.smors),
      foldParts, partCols, statsCols, compaction = Some("incremental compaction"))
  }

  /** SLICE-TRIGGERED compaction — the merge-on-read maintenance
    * autopilot: rewrite ONLY the partitions whose `#mor` slice count
    * has reached `maxSlices` (base + slices, DV-filtered, into one
    * fresh batch — materializing their slices AND their tombstones),
    * carrying every other partition forward by reference. A table hot
    * partitions hammer with MoR commits accumulates slice fan-out
    * (each slice is one more scan subtree per read) while its cold
    * bulk needs nothing; full compaction would rewrite the world to
    * fix fragmentation that lives in a handful of suffixes. Same
    * crash contract as every rewrite; no-op when nothing is hot.
    *
    * `maxSliceBytesFrac` — the BYTES trigger for skewed batch sizes:
    * a partition is also hot when its slices' recorded bytes reach
    * that fraction of its base entry's (one fat slice can hurt reads
    * as much as many thin ones). Defaults to never firing — count is
    * the universal trigger, bytes the opt-in refinement.
    */
  def compactSlices(schema: StructType, partCols: Seq[String],
      maxSlices: Int,
      maxSliceBytesFrac: Double = Double.PositiveInfinity): Unit = {
    require(maxSlices >= 1, s"maxSlices must be >= 1, got $maxSlices")
    val base = resolveCurrent().getOrElse(return)
    // full and sparse slices both count: each is one more scan
    // subtree (and for sparse, one more patch JOIN) per read
    val bySuffix = (base.mors.map(m => (m._1, m._2.bytes)) ++
      base.smors.map(m => (m.suffix, m.bytes))).groupBy(_._1)
    val hot = bySuffix.collect { case (suffix, slices)
        if slices.size >= maxSlices ||
          slices.map(_._2).sum >= maxSliceBytesFrac * base.entries(suffix).bytes => suffix
      }.toSet
    if (hot.isEmpty) return
    commitRewrite(Some(base), readSlices(base.slices, schema, hot, base.dvs, base.smors),
      hot, partCols, compaction = Some("slice compaction"))
  }

  /** Rewrite every live partition into ONE fresh batch and commit it
    * as the next version — bounds read fragmentation (each referenced
    * batch dir costs the reader a scan subtree) after many incremental
    * merges. Same crash contract as a merge: the rewrite is invisible
    * until the pointer swap, and a crash leaves only orphans for
    * [[vacuum]]. No-op when the table is empty or already compact.
    * For hot-partition churn prefer [[compactIncremental]], which
    * fixes the same fragmentation without rewriting the cold bulk.
    */
  def compact(schema: StructType, partCols: Seq[String],
      statsCols: Seq[String] = Nil): Unit = {
    val base = resolveCurrent().getOrElse(return)
    // a single-batch table still compacts when deletion vectors or
    // MoR slices (full or sparse) are outstanding — that rewrite is
    // how they materialize
    if (base.entries.values.map(_.batch).toSet.size <= 1 && base.dvs.isEmpty &&
      base.mors.isEmpty && base.smors.isEmpty) return
    commitRewrite(Some(base), readSlices(base.slices, schema, null, base.dvs, base.smors),
      base.entries.keySet, partCols, statsCols, compaction = Some("compaction"))
  }

  /** Relative `col=val[/col=val…]` paths of the partition leaf dirs
    * under `batchPath` (the parents of its data files).
    */
  def listPartitionDirs(batchPath: Path): Set[String] =
    SnapshotStore.partitionSizes(fs, batchPath).keySet

  /** Delete orphans: batch dirs, manifests and temp files STRICTLY
    * BELOW the `retain`-version window that nothing retained
    * references. Temp files carry the version they commit
    * ([[tmpName]]); an untagged one is treated as below the window.
    *
    * Anything at or above the window floor survives even when
    * unreferenced — a fenced concurrent writer retries by staging a
    * batch (and manifest) for versions ABOVE the current one, and the
    * winner's trailing vacuum must not delete that in-flight state out
    * from under it (the retry would fence-fail before publishing a
    * damaged snapshot, but its staged work would be destroyed and the
    * window between vacuum's pointer read and its sweep could even
    * collect a manifest a racer just committed). Versioned names make
    * the safety check one prefix parse: a future-versioned orphan from
    * a CRASHED writer is collected later, as soon as the committed
    * version passes it by `retain`. Only state below the window is
    * touched, so vacuum stays crash-safe and idempotent.
    */
  def vacuum(retain: Int = 2): Unit = {
    val cur = currentVersion().getOrElse(return)
    val keepMin = math.max(0L, cur - retain + 1)
    val manifestNames: Seq[String] =
      if (fs.exists(manifestsDir))
        fs.listStatus(manifestsDir).toSeq.map(_.getPath.getName)
      else Nil
    // Batches and DVs referenced by any RETAINED manifest stay
    // ([[SnapshotStore.Resolved.batches]]; time travel inside the
    // window applies the DVs), each manifest parsed once. A fenced or
    // crashed writer's orphan manifest in/above the window keeps its
    // files one extra cycle (harmless); a torn orphan must not abort
    // the sweep (Try); the CURRENT manifest is parsed strictly.
    val curName = currentManifestName()
    val retained: Seq[SnapshotStore.Resolved] = curName.map(parseManifest).toSeq ++
      manifestNames
        .filter(n => n.startsWith("v-") && parseVersion(n) >= keepMin && !curName.contains(n))
        .flatMap(n => scala.util.Try(parseManifest(n)).toOption)
    // batches/DVs a shallow clone references stay live regardless of
    // version windows: the clone's manifest points at these exact
    // files forever (until dropCloneRegistry) — see cloneTo's pinned
    // vacuum contract. A torn registry must not abort the sweep.
    val clonePinned: Set[String] =
      if (!fs.exists(clonesDir)) Set.empty
      else fs.listStatus(clonesDir).toSeq
        .filter(_.getPath.getName.startsWith("clone-"))
        .flatMap(st =>
          scala.util.Try(readSmallFile(st.getPath).linesIterator
            .filter(_.nonEmpty).toList).getOrElse(Nil)).toSet
    val liveBatches = retained.flatMap(_.batches).toSet ++ clonePinned
    // a temp file of a commit at or above the window may belong to a
    // writer between its write and its rename: deleting it would fail
    // that commit (the rename finds no source)
    def tmpBelow(prefix: String, n: String): Boolean =
      n.startsWith(prefix) && tmpVersion(prefix, n).forall(_ < keepMin)
    manifestNames.foreach { n =>
      val doomed = tmpBelow(".tmp-", n) ||
        (n.startsWith("v-") && parseVersion(n) < keepMin)
      if (doomed) fs.delete(new Path(manifestsDir, n), true)
    }
    // Version-log entries leave the window together with their
    // manifests, so readAt fails the same clear way for both.
    if (fs.exists(versionsDir)) fs.listStatus(versionsDir).foreach { st =>
      val n = st.getPath.getName
      if (tmpBelow(".tmp-", n) || (n.startsWith("v-") && parseVersion(n) < keepMin))
        fs.delete(st.getPath, false)
    }
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { st =>
      val n = st.getPath.getName
      // b-<version>-… below the window and unreferenced → orphan; a
      // name that doesn't parse is treated as below-window (legacy)
      val below = batchVersion(n).forall(_ < keepMin)
      if (below && !liveBatches.contains(n)) {
        fs.delete(st.getPath, true)
        // a batch's stats sidecars live and die with the batch
        fs.delete(new Path(statsDir, n), false)
        fs.delete(new Path(statsDir, s"$n.files"), false)
      }
    }
    if (fs.exists(statsDir)) fs.listStatus(statsDir).foreach { st =>
      val n = st.getPath.getName
      // the sidecar's batch name (file sidecars carry a .files
      // suffix, bloom sidecars `.bloom` or `.bloom.<col>`, tmp
      // stagings a .tmp- prefix — all must strip BEFORE the
      // version/liveness checks, or live file sidecars would read as
      // unreferenced and an IN-FLIGHT writer's above-window .tmp-
      // staging would be swept out from under it, violating vacuum's
      // only-below-the-window invariant)
      val b0 = n.stripPrefix(".tmp-")
      val bloomAt = b0.indexOf(".bloom")
      val b = (if (bloomAt >= 0) b0.substring(0, bloomAt) else b0)
        .stripSuffix(".files")
      if (batchVersion(b).forall(_ < keepMin) && !liveBatches.contains(b))
        fs.delete(st.getPath, false)
    }
    // A DV below the window and unreferenced — its deletes were
    // materialized by a full rewrite, or its delete commit was fenced
    // — is an orphan.
    if (fs.exists(deletesDir)) {
      val liveDvs = retained.flatMap(_.dvs).toSet ++
        clonePinned // clone registries list DV names too (dv- prefix)
      fs.listStatus(deletesDir).foreach { st =>
        val n = st.getPath.getName
        if (dvVersion(n).forall(_ < keepMin) && !liveDvs.contains(n))
          fs.delete(st.getPath, true)
      }
    }
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      // .LOCK.stale-* = a lock takeover that crashed between its
      // arbiter rename and the tombstone delete — plain garbage.
      if (tmpBelow(".CURRENT.tmp-", n) || n.startsWith(".LOCK.stale-"))
        fs.delete(st.getPath, false)
    }
  }
}
