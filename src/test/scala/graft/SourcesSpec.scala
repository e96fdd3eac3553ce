package graft

import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Source/sink coverage not exercised by the query catalog:
  * S3 recursive metadata glob scan, S7 binary file source, K5 nested
  * JSON document sink (SURVEY.md §2.1/§2.2).
  */
class SourcesSpec extends SparkFunSuite with BeforeAndAfterAll {

  /** Suite fixture, deleted after the suite; the glob scan's `mid`
    * regex keys on its `metas` name.
    */
  private val metasRoot = Files.createTempDirectory("metas")

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(metasRoot.toFile) finally super.afterAll()

  private lazy val root: String = {
    // <root>/<mid>/<year>/<month>/<stamp_bvid>/meta.json — the local
    // CLI layout (reference cmdline.py:388-401)
    Seq(
      ("42", "2025", "07", "0701_BVx1", """{"bvid": "BVx1", "duration": 3600, "title": "t1"}"""),
      ("42", "2025", "08", "0802_BVx2", """{"bvid": "BVx2", "duration": 1800, "title": "t2"}"""),
      ("77", "2024", "12", "1231_BVx3", """{"bvid": "BVx3", "duration": 900, "title": "t3"}""")
    ).foreach { case (mid, y, m, stamp, json) =>
      val d = metasRoot.resolve(mid).resolve(y).resolve(m).resolve(stamp)
      Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"), json)
    }
    metasRoot.toString
  }

  test("S3: glob scan replaces the recursive FS walk") {
    val metas = spark.read
      .json(s"$root/*/*/*/*/meta.json")
      .withColumn("path", input_file_name())
      .withColumn("mid", regexp_extract(col("path"), "metas[^/]*/(\\d+)/", 1))
    val rows = metas.select(col("mid"), col("bvid"), col("duration"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("42", "BVx1", 3600L), ("42", "BVx2", 1800L),
      ("77", "BVx3", 900L)))
  }

  test("S7: binaryFile source reads opaque payloads with metadata") {
    val bin = spark.read.format("binaryFile")
      .load(s"$root/*/*/*/*/meta.json")
      .select(col("path"), col("length"), col("content"))
    val got = bin.collect()
    assert(got.length == 3)
    assert(got.forall(r => r.getAs[Array[Byte]]("content").length == r.getLong(1)))
  }

  test("S7: distributed byte-range reads return exact windows and fail on short reads") {
    val f = tempDir("range_probe").resolve("f.bin")
    val content = (0 until 100).map(i => f"$i%04d").mkString // 400 ascii bytes
    Files.write(f, content.getBytes("US-ASCII"))
    import spark.implicits._
    val ranges = Seq((0L, 0L, 7), (1L, 13L, 10), (2L, 390L, 10))
      .toDF("range_id", "offset", "len")
    val got = graft.sources.RangeReads.readRanges(f.toString, ranges)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII")).map(b => f"$b%02x").mkString
    assert(got == Map(
      0L -> md5(content.substring(0, 7)),
      1L -> md5(content.substring(13, 23)),
      2L -> md5(content.substring(390, 400))))
    // a range past EOF must fail loudly (readFully), never truncate
    val bad = Seq((9L, 395L, 10)).toDF("range_id", "offset", "len")
    intercept[org.apache.spark.SparkException] {
      graft.sources.RangeReads.readRanges(f.toString, bad).collect()
    }
  }

  test("S7: range reads open files through the SESSION Hadoop conf, not a fresh default") {
    // The cluster-credentials pin: register a filesystem scheme that
    // exists ONLY in the session's Hadoop conf. readRanges can open a
    // graftfs:// path only if the conf captured on the driver reaches
    // the executor-side FileSystem.get — a task-side
    // `new Configuration()` (the r14 bug) knows no such scheme and
    // throws UnsupportedFileSystemException. Same mechanism that
    // carries S3A keys/endpoints or HDFS nameservices on a real
    // cluster.
    val f = tempDir("range_conf").resolve("f.bin")
    val content = "0123456789abcdef" * 8
    Files.write(f, content.getBytes("US-ASCII"))
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    try {
      import spark.implicits._
      val ranges = Seq((0L, 16L, 16)).toDF("range_id", "offset", "len")
      val got = graft.sources.RangeReads
        .readRanges("graftfs://" + f.toString, ranges)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("US-ASCII")).map(b => f"$b%02x").mkString
      assert(got == Map(0L -> md5(content.substring(16, 32))))
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.graftfs.impl")
  }

  test("K5: nested JSON document sink round-trips through files") {
    val dir = tempDir("transcripts_sink").toString
    Files.writeString(Paths.get(s"$dir/BVw.json"),
      """[[{"start": 1.0, "text": "a"}, {"start": 2.0, "text": "b"}],
         [{"start": 0.5, "text": "c"}]]""")
    val segs = sources.TranscriptJson.readSegments(spark, s"$dir/*.json")
    val outDir = tempDir("transcripts_out").toString
    sources.TranscriptJson.assembleNested(segs)
      .write.mode("overwrite").json(outDir)
    val back = spark.read
      .schema("bvid STRING, pages ARRAY<ARRAY<STRUCT<start: DOUBLE, text: STRING>>>")
      .json(outDir)
    val row = back.collect()(0)
    assert(row.getString(0) == "BVw")
    val pages = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
    assert(pages.length == 2)
    assert(pages(0).map(_.getString(1)) == Seq("a", "b"))
    assert(pages(1).map(_.getDouble(0)) == Seq(0.5))
  }
}

/** Test-only filesystem for the session-conf propagation pin: local
  * files behind a scheme (`graftfs://`) that no default Hadoop
  * Configuration knows — resolvable only through the conf the session
  * captured, exactly like a production object-store binding.
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}
