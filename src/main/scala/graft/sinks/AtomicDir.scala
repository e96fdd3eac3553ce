package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe publish of write-once artifact directories, and the
  * per-path filesystem resolution the snapshot layer shares.
  *
  * Upserts do not come through here: every durable upsert commits a
  * [[SnapshotMerge]] manifest with one atomic pointer swap. This object
  * publishes dirs that are written once and then only read — the
  * served-PQ codebook, codes and coarse tables — where the naive
  * `delete(target); rename(staging, target)` would lose the artifact if
  * the process died between the two calls. The protocol never exposes
  * that window:
  *
  *   1. writer produces `dir.staging` (complete, self-consistent)
  *   2. [[commit]]: rename `dir` -> `dir.old`   (old data intact, renamed aside)
  *   3. [[commit]]: rename `dir.staging` -> `dir` (new data live)
  *   4. [[commit]]: delete `dir.old`
  *
  * A crash at ANY point leaves exactly one complete copy on disk (`dir`,
  * or `dir.old` when the crash hit between steps 2 and 3); [[recover]]
  * restores the `dir`-is-the-artifact invariant before the next read.
  * Directory renames are atomic per-entry on HDFS and posix
  * filesystems; on object stores the snapshot layer's pointer object is
  * the same protocol one indirection up.
  */
object AtomicDir {

  def oldPath(dir: Path): Path = dir.suffix(".old")
  def stagingPath(dir: Path): Path = dir.suffix(".staging")

  /** Filesystem OF THE TARGET PATH — `FileSystem.get(conf)` would
    * resolve the default scheme and silently operate on the wrong store
    * for any table dir on s3a://, hdfs:// vs local, or explicit file:
    * URIs under an HDFS-default deployment.
    */
  def fileSystem(spark: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  /** Publish `dir.staging` as `dir` via the two-rename swap. */
  def commit(fs: FileSystem, dir: Path): Unit = {
    val staging = stagingPath(dir)
    val old = oldPath(dir)
    require(fs.exists(staging), s"staging dir $staging missing — write it first")
    if (fs.exists(old)) fs.delete(old, true) // leftover of a crashed step 4
    if (fs.exists(dir) && !fs.rename(dir, old))
      throw new java.io.IOException(s"rename $dir -> $old failed")
    if (!fs.rename(staging, dir)) {
      // put the old artifact back before surfacing the error
      if (fs.exists(old)) fs.rename(old, dir)
      throw new java.io.IOException(s"rename $staging -> $dir failed")
    }
    fs.delete(old, true)
    ()
  }

  /** Restore the invariant after a crash: if the artifact was renamed
    * aside but never replaced, bring it back; if the new one went live
    * but the aside copy was never deleted, drop the aside copy.
    * Idempotent; a no-op on a healthy directory.
    */
  def recover(fs: FileSystem, dir: Path): Unit = {
    val old = oldPath(dir)
    if (fs.exists(old)) {
      if (!fs.exists(dir)) fs.rename(old, dir) // crashed between steps 2 and 3
      else fs.delete(old, true)                // crashed at step 4
      ()
    }
  }
}
