package graft.hadoop

import java.io.FileNotFoundException
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-mode filesystem without process forks (optimization guide
  * §7.3 "commit-protocol frames at the end of a write" / §1.2 step 2
  * per-task work — here per-FILE work on the DRIVER).
  *
  * This sandbox has no native Hadoop library (`NativeCodeLoader:
  * using builtin-java classes`), so `RawLocalFileSystem` falls back
  * to FORKING A SHELL COMMAND for every permission-bearing metadata
  * op: `getFileStatus`/`listStatus` lazily run `ls -ld` when
  * permissions are read, `getFileLinkStatus` runs `readlink` per
  * file during scan listings, and every created file/dir pays a
  * `chmod` fork (`LocalFSFileOutputStream` ctor → `setPermission`).
  * Thread-dump sampling of a warm `k2_restore` loop measured ~14% of
  * wall time inside `Shell.runCommand`, and /proc/stat counted ~380
  * forks per rep — the snapshot-store fixtures create dozens of
  * small files (batch parquet + manifests + CRCs) per commit, and
  * structured-streaming checkpoints create several per micro-batch
  * per state partition.
  *
  * [[NoForkRawLocalFileSystem]] replaces exactly those call sites
  * with `java.nio.file` equivalents (one `unix:` readAttributes stat /
  * one `unix:mode` chmod), which are plain syscalls. Genuine
  * symlinks (absent from every graft layout) still defer to the
  * stock implementation, so semantics are unchanged — only the
  * transport for the same metadata. Installed per session via
  * `spark.hadoop.fs.file.impl`; a cluster deployment reads real
  * storage (HDFS/S3) whose FileSystem impls never shell out, so this
  * shim is local-mode-only by construction and carries zero
  * scale-dependent tuning.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  import NoForkRawLocalFileSystem._

  private def nioPath(p: Path): java.nio.file.Path = pathToFile(p).toPath

  /** One stat through the `unix` attribute view — the `posix` view's
    * permission set holds only the nine rwx bits, while `mode` also
    * carries setuid/setgid/sticky (`/tmp` is 01777, as the stock
    * `ls -ld` parse reports it). None where the view is unsupported:
    * the caller takes the stock path.
    */
  private def attrsOf(p: Path, follow: Boolean)
      : Option[java.util.Map[String, AnyRef]] =
    try Some(
      if (follow) Files.readAttributes(nioPath(p), StatAttrs)
      else Files.readAttributes(nioPath(p), StatAttrs, LinkOption.NOFOLLOW_LINKS))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException => None
    }

  private def toStatus(p: Path, a: java.util.Map[String, AnyRef]): FileStatus = {
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[java.security.Principal].getName
    new FileStatus(a.get("size").asInstanceOf[Long],
      a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(p),
      millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
      name("owner"), name("group"), null,
      p.makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileStatus(f: Path): FileStatus =
    attrsOf(f, follow = true).fold(super.getFileStatus(f))(toStatus(f, _))

  override def getFileLinkStatus(f: Path): FileStatus =
    attrsOf(f, follow = false) match {
      case Some(a) if !a.get("isSymbolicLink").asInstanceOf[Boolean] => toStatus(f, a)
      case _ => super.getFileLinkStatus(f) // rare: honest fallback
    }

  override def listStatus(f: Path): Array[FileStatus] = {
    val localf = pathToFile(f)
    if (localf.isFile) return Array(getFileStatus(f))
    val names = localf.list()
    if (names == null)
      throw new FileNotFoundException(s"File $f does not exist")
    // a child deleted between list() and stat is skipped, matching the
    // stock implementation's FileNotFoundException swallow
    names.flatMap { n =>
      try Some(getFileStatus(new Path(f, n)))
      catch { case _: FileNotFoundException => None }
    }
  }

  /** One chmod of all twelve mode bits (the sticky bit included), like
    * the stock `chmod %04o` fork.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(nioPath(p), "unix:mode",
      Integer.valueOf(permission.toShort & ModeBits))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission) // no unix view: stock path
    }
}

object NoForkRawLocalFileSystem {
  private val StatAttrs =
    "unix:mode,size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,owner,group"
  /** Permission bits of a `st_mode` (type bits stripped). */
  private val ModeBits = 0xfff
}

/** The `file:` scheme FileSystem the graft sessions install
  * (`spark.hadoop.fs.file.impl`): stock [[LocalFileSystem]] checksum
  * semantics over the fork-free raw layer. Subclassing keeps
  * `FileSystem.getLocal`'s `LocalFileSystem` cast valid.
  */
class FastLocalFileSystem
  extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** The FileContext axis of the same fix
  * (`spark.hadoop.fs.AbstractFileSystem.file.impl`): FileContext
  * resolves `file:` through `fs.local.LocalFs`, which wraps its OWN
  * stock RawLocalFileSystem — `fs.file.impl` never reaches it, so the
  * snapshot store's atomic CURRENT swap (FileContext rename OVERWRITE,
  * `SnapshotStore.scala`) and structured streaming's checkpoint
  * manager still paid a forked `readlink` per rename precondition
  * check (`AbstractFileSystem.renameInternal` → `getFileLinkStatus`).
  * Same checksum semantics as stock LocalFs, fork-free raw below.
  */
class NoForkRawLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1 // mirrors fs.local.RawLocalFs
  override def isValidName(src: String): Boolean = true // local paths
}

class FastLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new NoForkRawLocalFs(uri, conf))
