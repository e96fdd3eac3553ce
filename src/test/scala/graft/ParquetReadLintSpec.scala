package graft

import java.nio.file.{Files, Path}

/** Hot-path read lint: a `read…parquet(` without `.schema(` in the
  * sinks or in `Tables.scala` pays a footer-inference Spark job on every
  * call. Every such read must be on the allow-list below, with its
  * reason; an entry that no longer matches a read fails too, so the
  * list stays exact. The scan blanks comments (a `//` inside a string
  * literal is not one), then matches `read` followed by any chain of
  * `.option/.options/.format/.schema(…)` calls and `.parquet(…)`.
  */
class ParquetReadLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** (file under src/main/scala/graft, read with whitespace removed) → reason. */
  private val allowed: Map[(String, String), String] = Map(
    ("Tables.scala", "read.parquet(path)") ->
      "the one footer inference per file version, stored and reused by every later load",
    ("sinks/SnapshotMerge.scala", "read.option(\"basePath\",p).parquet(p)") ->
      "evolve fronts' stored-schema fallback: a table without a persisted schema has only its footer")

  private val readChain =
    ("""\bread((?:\s*\.\s*(?:option|options|format|schema)\s*\((?:[^()]|\([^()]*\))*\))*)""" +
      """\s*\.\s*parquet\s*\((?:[^()]|\([^()]*\))*\)""").r

  /** Schema-less parquet reads in `src`: (line, read without whitespace). */
  private def schemaLessReads(src: String): Seq[(Int, String)] = {
    val code = SourceLint.stripComments(src)
    readChain.findAllMatchIn(code).toSeq
      .filterNot(_.group(1).replaceAll("\\s", "").contains(".schema("))
      .map(m => (SourceLint.lineAt(code, m.start), m.matched.replaceAll("\\s", "")))
  }

  private lazy val graftRoot: Path = SourceLint.srcRoot.resolve("main/scala/graft")

  private def hotPathFiles: Seq[Path] =
    graftRoot.resolve("Tables.scala") +: SourceLint.scalaFiles(graftRoot.resolve("sinks"))

  test("the scan sees a multi-line schema-less read and skips comments and declared reads") {
    val src =
      """val a = spark.read.option("basePath", b.toString)
        |  .parquet(paths: _*) // spark.read.parquet(x) in a comment
        |/* spark.read.parquet(y) */
        |val c = spark.read.option("k", f(v)).schema(s)
        |  .parquet(p)
        |val d = df.write.mode("overwrite").parquet(out)
        |val e = spark.read.parquet("s3a://b/k")
        |""".stripMargin
    assert(schemaLessReads(src) ==
      Seq(1 -> "read.option(\"basePath\",b.toString).parquet(paths:_*)",
        7 -> "read.parquet(\"s3a://b/k\")"))
  }

  test("SnapshotStore has one basePath scan and one deletion-vector anti-join") {
    val code = SourceLint.stripComments(
      Files.readString(graftRoot.resolve("sinks/SnapshotStore.scala")))
    // a read chain up to its `.parquet(`, whatever the paths argument
    val chainHead = ("""\bread((?:\s*\.\s*(?:option|options|format|schema)\s*""" +
      """\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\s*\(""").r
    val basePathScans = chainHead.findAllMatchIn(code)
      .count(_.group(1).replaceAll("\\s", "").contains(".option(\"basePath\""))
    assert(basePathScans == 1, s"$basePathScans basePath scans; every read goes through scan()")
    val antiJoins = "\"left_anti\"".r.findAllMatchIn(code).size
    assert(antiJoins == 1, s"$antiJoins left_anti joins; tombstones apply in scan() only")
  }

  test("SnapshotStore and SnapshotMerge stage every partitioned write through one partitionBy") {
    val calls = Seq("SnapshotStore.scala", "SnapshotMerge.scala").map { f =>
      val code = SourceLint.stripComments(Files.readString(graftRoot.resolve(s"sinks/$f")))
      """\.\s*partitionBy\s*\(""".r.findAllMatchIn(code).size
    }.sum
    assert(calls == 1, s"$calls .partitionBy( calls; every partitioned write goes through stageBatch")
  }

  test("sinks and Tables read parquet with a declared schema, outside the allow-list") {
    val found = hotPathFiles.flatMap { f =>
      val rel = graftRoot.relativize(f).toString
      schemaLessReads(Files.readString(f)).map { case (line, read) => (rel, line, read) }
    }
    val unlisted = found.filterNot { case (rel, _, read) => allowed.contains(rel -> read) }
    assert(unlisted.isEmpty, unlisted.map { case (rel, line, read) =>
      s"$rel:$line: $read infers its schema on every call; pass .schema(...) or allow-list it"
    }.mkString("\n", "\n", ""))
    val stale = allowed.keySet -- found.map { case (rel, _, read) => rel -> read }
    assert(stale.isEmpty, s"allow-list entries that match no read: $stale")
  }
}
