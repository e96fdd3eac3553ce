package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.hadoop.NoForkRawLocalFileSystem

/** The fork-free local filesystem against the stock
  * `RawLocalFileSystem` it replaces: same status fields and the same
  * permission bits — the special (sticky) bit included — in both
  * directions.
  */
class FastLocalFileSystemSpec extends AnyFunSuite with TestScratch {
  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val shim = init(new NoForkRawLocalFileSystem)

  private def tmpDir(): Path =
    new Path("file://" + tempDir("fastfs"))

  private def sameStatus(p: Path): Unit = {
    val (a, b) = (stock.getFileStatus(p), shim.getFileStatus(p))
    assert(b.getPermission == a.getPermission,
      s"$p: shim ${b.getPermission} vs stock ${a.getPermission}")
    assert(b.isDirectory == a.isDirectory)
    assert(b.getLen == a.getLen)
    assert(b.getModificationTime == a.getModificationTime)
    assert(b.getOwner == a.getOwner && b.getGroup == a.getGroup)
    assert(b.getPath == a.getPath)
  }

  test("status of plain files and dirs matches the stock filesystem") {
    val d = tmpDir()
    val f = new Path(d, "part-0.parquet")
    val out = shim.create(f)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    stock.setPermission(f, new FsPermission("640"))
    sameStatus(d)
    sameStatus(f)
    assert(shim.listStatus(d).map(_.getPermission).toSeq ==
      stock.listStatus(d).map(_.getPermission).toSeq)
  }

  test("the sticky bit survives getFileStatus (e.g. /tmp reads 01777 on both)") {
    val d = tmpDir()
    stock.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(stock.getFileStatus(d).getPermission.getStickyBit)
    sameStatus(d)
    assert(shim.getFileLinkStatus(d).getPermission.getStickyBit)
    sameStatus(new Path("file:///tmp"))
  }

  test("setPermission carries the sticky bit") {
    val d = tmpDir()
    shim.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(stock.getFileStatus(d).getPermission.toShort ==
      Integer.parseInt("1777", 8).toShort)
    shim.setPermission(d, new FsPermission("750"))
    assert(stock.getFileStatus(d).getPermission.toShort ==
      Integer.parseInt("750", 8).toShort)
  }

  test("a missing path fails like the stock filesystem") {
    val p = new Path(tmpDir(), "absent")
    intercept[java.io.FileNotFoundException](shim.getFileStatus(p))
    intercept[java.io.FileNotFoundException](
      shim.setPermission(p, new FsPermission("644")))
  }
}
