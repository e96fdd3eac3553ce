package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.JobCounter

import graft.Ckpt.CkptOps
import graft.streaming.EventStreams

/** `graft.Scratch` owns every driver-local scratch dir: a dir is gone
  * once its body returns or throws, a frame that still reads it is
  * refused, and a cached fixture is built once per source version. The
  * lint pins that no other `src/main` file creates temp dirs.
  */
class ScratchSpec extends SparkFunSuite {

  private def listDir(d: Path): Seq[Path] = {
    val st = Files.list(d)
    try st.iterator().asScala.toSeq finally st.close()
  }

  test("a throwing body propagates its exception and the dir is gone") {
    var seen: Path = null
    val e = intercept[IllegalArgumentException] {
      Scratch.dir("scratch_spec_") { d =>
        seen = d
        Files.write(d.resolve("f"), Array[Byte](1))
        throw new IllegalArgumentException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen != null && !Files.exists(seen))
  }

  test("frame refuses a lazy read of scratch files, naming the dir, and removes it") {
    import spark.implicits._
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      Scratch.frame("scratch_spec_") { d =>
        seen = d
        Seq(1L, 2L).toDF("id").write.parquet(s"$d/x")
        spark.read.parquet(s"$d/x")
      }
    }
    assert(e.getMessage.contains(seen.toString), e.getMessage)
    assert(!Files.exists(seen))
  }

  test("a .ckpt(true) result reads its rows after deletion; the check runs no job") {
    import spark.implicits._
    var seen: Path = null
    var bodyJobs = -1
    val (out, allJobs) = JobCounter.jobsDuring(spark.sparkContext)(
      Scratch.frame("scratch_spec_") { d =>
        seen = d
        val (df, n) = JobCounter.jobsDuring(spark.sparkContext) {
          Seq(3L, 1L, 2L).toDF("id").write.parquet(s"$d/x")
          spark.read.parquet(s"$d/x").ckpt(true)
        }
        bodyJobs = n
        df
      })
    assert(bodyJobs >= 1)
    assert(allJobs == bodyJobs, s"the inputFiles check ran ${allJobs - bodyJobs} job(s)")
    assert(!Files.exists(seen))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("stageWave leaves exactly one parquet file with the given mtime in the drop dir") {
    import spark.implicits._
    Scratch.dir("scratch_spec_") { d =>
      val drop = Files.createDirectories(d.resolve("drop"))
      val mtime = 1700000000000L
      EventStreams.stageWave(Seq(1L, 2L, 3L).toDF("id").repartition(3), d, drop,
        "w1.parquet", mtime)
      val files = listDir(drop)
      assert(files.map(_.getFileName.toString) == Seq("w1.parquet"))
      assert(Files.getLastModifiedTime(files.head).toMillis == mtime)
      assert(spark.read.parquet(drop.toString).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
  }

  test("cached builds once per source version and removes a losing builder's dir") {
    Scratch.dir("scratch_spec_src_") { src =>
      val source = src.resolve("t.parquet")
      Files.write(source, Array[Byte](1, 2, 3))
      var builds = 0
      var loser: Path = null
      def fill(d: Path): Unit = { builds += 1; Files.write(d.resolve("f"), Array[Byte](7)) }
      // the outer builder loses: a nested call publishes the same
      // artifact while the outer one is still building
      val published = Scratch.cached(spark, source.toString, "spec") { outer =>
        loser = outer
        Scratch.cached(spark, source.toString, "spec")(fill)
        fill(outer)
      }
      try {
        assert(builds == 2)
        assert(loser != null && !Files.exists(loser))
        assert(listDir(published).map(_.getFileName.toString) == Seq("f"))
        assert(published.getFileName.toString ==
          s"spec_${Tables.fingerprintKey(spark, source.toString)}_v1")
        val again = Scratch.cached(spark, source.toString, "spec") { _ =>
          fail("a cached fixture must not be rebuilt")
        }
        assert(again == published)
        assert(listDir(published.getParent)
          .forall(!_.getFileName.toString.startsWith("spec_build_")))
      } finally FileUtils.deleteQuietly(published.toFile)
    }
  }

  private val tempCall =
    """\bcreateTemp(?:Directory|File)\s*\((?:[^()]|\([^()]*\))*\)""".r

  /** Temp dir/file creations in `src` outside comments: (line, call without whitespace). */
  private def tempCalls(src: String): Seq[(Int, String)] = {
    val code = SourceLint.stripComments(src)
    tempCall.findAllMatchIn(code).toSeq
      .map(m => (SourceLint.lineAt(code, m.start), m.matched.replaceAll("\\s", "")))
  }

  /** (file under src/main/scala/graft, call without whitespace) → reason. */
  private val allowed: Map[(String, String), String] = Map(
    ("operators/Dedup.scala", "createTempDirectory(\"graft-cc-\")") ->
      ("connectedComponents' result is read lazily for the rest of the session, " +
        "so its dir is reclaimed at JVM exit (forceDeleteOnExit), not at return"))

  test("the temp-dir scan sees a multi-line call and skips comments") {
    val src =
      """// Files.createTempDirectory("a")
        |/* Files.createTempFile("b", ".x") */
        |val d = java.nio.file.Files.createTempDirectory(
        |  s"p_$n")
        |val f = Files.createTempFile("r", ".bin")
        |""".stripMargin
    assert(tempCalls(src) ==
      Seq(3 -> "createTempDirectory(s\"p_$n\")", 5 -> "createTempFile(\"r\",\".bin\")"))
  }

  test("src/main creates temp dirs and files only through Scratch, outside the allow-list") {
    val graftRoot = SourceLint.srcRoot.resolve("main/scala/graft")
    val found = SourceLint.scalaFiles(SourceLint.srcRoot.resolve("main"))
      .filterNot(_.getFileName.toString == "Scratch.scala")
      .flatMap { f =>
        val rel = graftRoot.relativize(f).toString
        tempCalls(Files.readString(f)).map { case (line, call) => (rel, line, call) }
      }
    val unlisted = found.filterNot { case (rel, _, call) => allowed.contains(rel -> call) }
    assert(unlisted.isEmpty, unlisted.map { case (rel, line, call) =>
      s"$rel:$line: $call; use graft.Scratch.dir/frame/cached or allow-list it"
    }.mkString(s"\n${unlisted.size} site(s):\n", "\n", ""))
    val stale = allowed.keySet -- found.map { case (rel, _, call) => rel -> call }
    assert(stale.isEmpty, s"allow-list entries that match no call: $stale")
  }
}
