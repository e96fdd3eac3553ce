package graft

import java.nio.file.{Files, Path}

/** One on-disk snapshot format: `src/main` holds exactly one manifest
  * header literal (`"graft-snapshot ` followed by a digit), so one
  * header is written and one is read, and no code in `sinks/` builds a
  * `Path` on a `"schemas"` or `"constraints"` dir — the manifest is the
  * only table metadata. Comments are blanked before the scan.
  */
class SnapshotFormatLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val headerLiteral = "\"graft-snapshot \\d".r

  /** Lines of `src` holding a manifest-header literal. */
  private def headerLines(src: String): Seq[Int] = {
    val code = SourceLint.stripComments(src)
    headerLiteral.findAllMatchIn(code).map(m => SourceLint.lineAt(code, m.start)).toSeq
  }

  /** Lines of `src` building a `Path` on a schema or constraint dir. */
  private def sidecarDirLines(src: String): Seq[Int] =
    SourceLint.calls(SourceLint.stripComments(src), "Path").collect {
      case (line, args) if """"(?:schemas|constraints)"""".r.findFirstIn(args).isDefined => line
    }.distinct

  private lazy val graftRoot: Path = SourceLint.srcRoot.resolve("main/scala/graft")

  private def files(dir: Path): Seq[(String, String)] =
    SourceLint.scalaFiles(dir).map(f => graftRoot.relativize(f).toString -> Files.readString(f))

  test("the scans flag planted offenders and pass clean code") {
    val headers =
      """val h = "graft-snapshot 5"
        |// val old = "graft-snapshot 4"
        |val format = "graft-snapshot"
        |val body = s"graft-snapshot 6\n$rest"
        |""".stripMargin
    assert(headerLines(headers) == Seq(1, 4))
    val dirs =
      """private val schemasDir = new Path(root, "schemas")
        |val p = new Path(new Path(root, "constraints"), name)
        |/* new Path(root, "schemas") */
        |val stats = new Path(root, "stats")
        |""".stripMargin
    assert(sidecarDirLines(dirs) == Seq(1, 2))
  }

  test("src/main holds exactly one manifest-header literal") {
    val found = files(graftRoot).flatMap { case (rel, src) => headerLines(src).map(rel -> _) }
    assert(found.size == 1, found.map { case (rel, line) =>
      s"$rel:$line: manifest-header literal; write and read SnapshotStore.Header only"
    }.mkString("\n", "\n", ""))
    assert(found.head._1 == "sinks/SnapshotStore.scala", found)
  }

  test("no sinks/ code builds a schemas/ or constraints/ dir") {
    val found = files(graftRoot.resolve("sinks")).flatMap { case (rel, src) =>
      sidecarDirLines(src).map(rel -> _)
    }
    assert(found.isEmpty, found.map { case (rel, line) =>
      s"$rel:$line: a schema or constraint sidecar dir; the manifest carries both"
    }.mkString("\n", "\n", ""))
  }
}
