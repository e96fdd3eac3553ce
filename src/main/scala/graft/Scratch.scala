package graft

import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, Path, Paths,
  StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-local scratch space: the one place that creates and removes
  * the temp dirs of catalog rows, probes and streaming fixtures.
  *
  * LOCAL MODE ONLY. Every path here is a `java.nio` path under
  * `java.io.tmpdir` on the driver; executors read and write it only
  * because local mode runs them on the driver's filesystem. That is
  * where the query harness, the scale probes and the fixtures run. On
  * a cluster, callers use the sinks directly against shared storage
  * (the library resolves filesystems per path via
  * [[graft.sinks.AtomicDir]]).
  */
object Scratch {

  /** Run `body` in a fresh dir `java.io.tmpdir/<prefix><random>`; the
    * dir is deleted when `body` returns or throws. Fresh per call, so
    * concurrent runs over one SF dir (bench beside verify) never share
    * a path, and a failed call leaves nothing in `java.io.tmpdir`.
    */
  def dir[T](prefix: String)(body: Path => T): T = {
    val d = Files.createTempDirectory(prefix)
    try body(d) finally FileUtils.deleteQuietly(d.toFile)
  }

  /** [[dir]] for a body whose result outlives the dir: the returned
    * frame must not read any file under it. A frame materialized before
    * the dir goes — `.ckpt(true)`, or a drain's local frame — passes; a
    * lazy read of scratch files is refused here, naming the dir, instead
    * of failing later with a missing file. The check reads
    * `inputFiles`, which only plans: it starts no Spark job.
    */
  def frame(prefix: String)(body: Path => DataFrame): DataFrame =
    dir(prefix) { d =>
      val out = body(d)
      val root = d.toAbsolutePath.toString + "/"
      out.inputFiles.map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
        .find(_.startsWith(root)).foreach { f =>
          throw new IllegalStateException(
            s"result reads $f under scratch dir $d, which is deleted on return; " +
              "materialize it first with .ckpt(true)")
        }
      out
    }

  /** The fixture `build` writes, cached as
    * `java.io.tmpdir/graft_strm_fixtures/<name>_<key>_v1`, where key is
    * [[Tables.fingerprintKey]] of `sourcePath`. A fixture is a pure
    * function of its source, so it is built once per source version and
    * callers never delete it; a regenerated source moves the key.
    * `build` fills a private dir that is then published by atomic move.
    * Concurrent builders race benignly: the loser adopts the winner's
    * identical artifact and its own dir is removed. A plain move backs
    * up an atomic move the filesystem refuses (e.g. across devices), and
    * stays loud if it fails too. Mtimes survive the move, so waves paced
    * by mtime keep their order.
    */
  def cached(spark: SparkSession, sourcePath: String, name: String)(
      build: Path => Unit): Path = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"), "graft_strm_fixtures")
    val target = root.resolve(s"${name}_${Tables.fingerprintKey(spark, sourcePath)}_v1")
    if (Files.isDirectory(target)) return target
    Files.createDirectories(root)
    val building = Files.createTempDirectory(root, s"${name}_build_")
    try {
      build(building)
      try Files.move(building, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: FileSystemException if Files.isDirectory(target) => ()
        case _: FileSystemException =>
          try Files.move(building, target)
          catch { case _: FileAlreadyExistsException => () }
      }
    } finally FileUtils.deleteQuietly(building.toFile)
    target
  }
}
