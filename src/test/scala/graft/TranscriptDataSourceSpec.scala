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
}
