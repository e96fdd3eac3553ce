package graft

import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.sources.TranscriptJson

/** The DataSource V2 transcript source must agree with the
  * whole-file JSON reader, prune columns into the reader, and feed
  * the fuzzy pipeline unchanged.
  */
class TranscriptDataSourceSpec extends SparkFunSuite with BeforeAndAfterAll {

  /** Suite fixture, deleted after the suite. */
  private val dsv2Root = Files.createTempDirectory("dsv2")

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(dsv2Root.toFile) finally super.afterAll()

  private lazy val dir: String = {
    val d = dsv2Root.toString
    Files.writeString(Paths.get(s"$d/BVx.json"),
      """[[{"start": 1.0, "text": "第一段"}, {"start": 6.5, "text": "第二段"}],
         [{"start": 0.5, "text": "次页"}]]""")
    Files.writeString(Paths.get(s"$d/BVy.json"),
      """[[{"start": 2.0, "text": "只有一段"}]]""")
    Files.writeString(Paths.get(s"$d/BVempty.json"), "[]")
    d
  }

  test("dsv2 source matches the whole-file JSON reader") {
    val v2 = spark.read.format("transcript").load(s"$dir/*.json")
    val v1 = TranscriptJson.readSegments(spark, s"$dir/*.json")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4))
    assert(v2.collect().map(key).toSet == v1.collect().map(key).toSet)
    assert(v2.count() == 4)
  }

  test("column pruning reaches the reader") {
    val v2 = spark.read.format("transcript").load(s"$dir/*.json")
      .select("bvid", "page")
    val plan = v2.queryExecution.executedPlan.toString()
    assert(plan.contains("columns=bvid,page") ||
      v2.queryExecution.optimizedPlan.schema.fieldNames.sameElements(
        Array("bvid", "page")),
      s"pruned columns should reach TranscriptScan:\n$plan")
    assert(v2.distinct().count() == 3) // (BVx,0),(BVx,1),(BVy,0)
  }

  test("dsv2 segments drive the fuzzy pipeline") {
    import spark.implicits._
    val segments = spark.read.format("transcript").load(s"$dir/*.json")
      .withColumnRenamed("bvid", "recording_id")
    val songs = Seq((1L, "只有一段")).toDF("song_id", "lyrics")
    val out = graft.operators.FuzzyOccurrence.scan(segments, songs, 40.0)
      .collect()
    val exact = out.filter(_.getDouble(4) == 100.0)
    assert(exact.length == 1 && exact(0).getString(1) == "BVy")
  }

  test("listing: a file, a directory or a glob; hidden names skipped; no match fails at load") {
    import spark.implicits._
    val d = tempDir("listing")
    Seq("BVa", "BVb", "_BVunder", ".BVdot").foreach(b =>
      Files.writeString(d.resolve(s"$b.json"), s"""[[{"start": 1.0, "text": "$b"}]]"""))
    Files.createDirectories(d.resolve("sub"))
    Files.writeString(d.resolve("sub/BVc.json"), """[[{"start": 1.0, "text": "c"}]]""")
    def bvids(path: String) = TranscriptJson.readSegments(spark, path)
      .select("bvid").as[String].collect().sorted.toSeq
    assert(bvids(s"$d/BVa.json") == Seq("BVa"))
    assert(bvids(s"$d/*.json") == Seq("BVa", "BVb"))
    assert(bvids(d.toString) == Seq("BVa", "BVb", "BVc"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      TranscriptJson.readSegments(spark, s"$d/nothing/*.json"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("a filesystem set only in the session conf reaches the listing and the reader") {
    val d = tempDir("session_conf")
    Files.writeString(d.resolve("BVs.json"), """[[{"start": 1.0, "text": "会话"}]]""")
    val key = s"fs.${GraftSessionFs.Scheme}.impl"
    assert(spark.sparkContext.hadoopConfiguration.get(key) == null)
    spark.conf.set(key, classOf[GraftSessionFs].getName)
    spark.conf.set(s"$key.disable.cache", "true")
    try {
      val opened = GraftSessionFs.opened.get()
      val rows = spark.read.format("transcript").load(s"${GraftSessionFs.Scheme}://$d/*.json")
        .collect().map(r => (r.getString(0), r.getString(4)))
      assert(rows.toSeq == Seq(("BVs", "会话")))
      assert(GraftSessionFs.opened.get() == opened + 1)
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(s"$key.disable.cache")
    }
  }

  /** Edge-case documents, each with the rows `from_json` + two
    * `posexplode`s (the reader before the decoder) gave for it.
    */
  private val contract: Seq[(String, String, Seq[String])] = Seq(
    ("BVnullstart", """[[{"text": "a"}, {"start": null, "text": "b"}, {"start": 2.5, "text": "c"}]]""",
      Seq("[BVnullstart,0,0,null,a]", "[BVnullstart,0,1,null,b]", "[BVnullstart,0,2,2.5,c]")),
    ("BVnulltext", """[[{"start": 1.0}, {"start": 2.0, "text": null}, {"start": 3.0, "text": "c"}]]""",
      Seq("[BVnulltext,0,0,1.0,null]", "[BVnulltext,0,1,2.0,null]", "[BVnulltext,0,2,3.0,c]")),
    ("BVextra", """[[{"start": 1.0, "speaker": "x", "text": "a", "words": [1, {"w": 2}], "conf": {"p": [0.5]}}]]""",
      Seq("[BVextra,0,0,1.0,a]")),
    ("BVemptypage", """[[], [{"start": 1.0, "text": "a"}], []]""", Seq("[BVemptypage,1,0,1.0,a]")),
    ("BVemptydoc", "[]", Nil),
    ("BVobject", """{"start": 1.0, "text": "a"}""", Nil),
    ("BVscalar", "42", Nil),
    ("BVtruncated", """[[{"start": 1.0, "text": "a"}, {"start": 2.0, "te""", Nil),
    ("BVbadmid", """[[{"start": 1.0, "text": "a"}, {"start": ]]""", Nil),
    ("BVblank", "  \n ", Nil),
    ("BVflat", """[{"start": 1.0, "text": "a"}]""", Nil),
    ("BVinnerscalar", """[[5, {"start": 1.0, "text": "a"}]]""", Nil),
    ("BVnullpage", """[null, [{"start": 1.0, "text": "a"}]]""", Seq("[BVnullpage,1,0,1.0,a]")),
    ("BVnullseg", """[[null, {}, {"start": 1.0, "text": "a"}]]""",
      Seq("[BVnullseg,0,0,null,null]", "[BVnullseg,0,1,null,null]", "[BVnullseg,0,2,1.0,a]")),
    ("BVstarts", """[[{"start": "1.5", "text": "a"}, {"start": "Infinity", "text": "b"}, {"start": true, "text": "c"}, {"start": {"x": [1]}, "text": "d"}, {"start": 3, "text": "e"}, {"start": NaN, "text": "f"}, {"start": -0.0, "text": "g"}]]""",
      Seq("[BVstarts,0,0,null,a]", "[BVstarts,0,1,Infinity,b]", "[BVstarts,0,2,null,c]",
        "[BVstarts,0,3,null,d]", "[BVstarts,0,4,3.0,e]", "[BVstarts,0,5,NaN,f]", "[BVstarts,0,6,-0.0,g]")),
    ("BVtexts", """[[{"start": 1.0, "text": {"a": [1, 2.50, "x"], "b": null}}, {"start": 2.0, "text": 1.50}, {"start": 3.0, "text": "x", "text": "y"}]]""",
      Seq("""[BVtexts,0,0,1.0,{"a":[1,2.5,"x"],"b":null}]""", "[BVtexts,0,1,2.0,1.5]",
        "[BVtexts,0,2,3.0,y]")),
    ("BVtrailing", """[[{"start": 1.0, "text": "a"}]] [[{"start": 9.0, "text": "z"}]]""",
      Seq("[BVtrailing,0,0,1.0,a]")),
    ("BVquotes", """[[{'start': 1.0, 'text': '一😀 é\n"q"'}]]""", Seq("[BVquotes,0,0,1.0,一😀 é\n\"q\"]")))

  test("decoder contract: batch and stream rows equal the pinned from_json rows") {
    val d = tempDir("contract")
    val docs = Files.createDirectories(d.resolve("docs"))
    contract.foreach { case (bvid, doc, _) => Files.writeString(docs.resolve(s"$bvid.json"), doc) }
    val batch = TranscriptJson.readSegments(spark, docs.toString).collect().map(_.toString)
    val stream = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    graft.streaming.OccurrenceStream.readSegmentsStream(spark, docs.toString).writeStream
      .option("checkpointLocation", d.resolve("ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => stream.add(r.toString)); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = stream.toArray(Array.empty[String])
    contract.foreach { case (bvid, _, want) =>
      val mine = (rows: Array[String]) => rows.filter(_.startsWith(s"[$bvid,")).sorted.toSeq
      assert(mine(batch) == want.sorted, s"batch, $bvid")
      assert(mine(streamed) == want.sorted, s"stream, $bvid")
    }
    assert(batch.length == contract.map(_._3.length).sum)
    assert(streamed.sorted.toSeq == batch.sorted.toSeq)
  }
}

/** Test-only filesystem for the session-conf pin: local files behind a
  * scheme no Hadoop default knows, counting the files it opens.
  */
class GraftSessionFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${GraftSessionFs.Scheme}:///")
  override def getScheme: String = GraftSessionFs.Scheme
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    GraftSessionFs.opened.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object GraftSessionFs {
  val Scheme = "graftsession"
  val opened = new java.util.concurrent.atomic.AtomicInteger()
}
