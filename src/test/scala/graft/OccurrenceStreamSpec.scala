package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import graft.functions.FuzzyScan
import graft.streaming.OccurrenceStream

/** The cron-as-stream test: transcript files dropped into a folder
  * drive incremental occurrence sync; a second run with a new file
  * processes ONLY that file (checkpoint offsets replace the
  * reference's lastSongOccurrenceScan state column) and upserts into
  * the accumulated snapshot table.
  */
class OccurrenceStreamSpec extends SparkFunSuite {
  import spark.implicits._

  private def songs = Seq(
    (10L, "s", "夜空中最亮的星\n能否听清\n那仰望的人")
  ).toDF("id", "title", "lyrics_fragment")

  private def vtuberSongs = Seq(
    (100L, 10L, 1L, "BVs", 1L)
  ).toDF("id", "song_id", "vtuber_profile_id", "bvid", "pubdate")

  private def archives = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("vtuber_profile_id", LongType),
      StructField("bvid", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 1L, "BVa"),
      org.apache.spark.sql.Row(2L, 1L, "BVb")), schema)
  }

  /** The occurrence table `runAvailableSnapshot` writes. */
  private val occSchema = StructType(Seq(
    StructField("song_id", LongType), StructField("vtuber_song_id", LongType),
    StructField("live_recording_archive_id", LongType),
    StructField("start", LongType), StructField("page", IntegerType),
    StructField("bucket", LongType)))

  private val doc =
    """[[{"start": 4.0, "text": "夜空中最亮的星"}, {"start": 9.0, "text": "能否听清"}, {"start": 14.0, "text": "那仰望的人"}]]"""

  test("snapshot-sink stream upserts increments, untouched buckets carry forward") {
    val root = tempDir("occ_snap")
    val drop = root.resolve("transcripts"); Files.createDirectories(drop)
    val target = root.resolve("occurrences").toString
    val ckpt = root.resolve("ckpt").toString
    def run() = OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
      ckpt, target, songs, vtuberSongs, archives, buckets = 8)
    def table() = graft.sinks.SnapshotMerge.read(spark, target, occSchema)

    // batch 1 creates the table (no pre-seeding needed)
    Files.writeString(drop.resolve("BVa.json"), doc)
    run()
    assert(table().select("live_recording_archive_id").as[Long].collect().toSeq == Seq(1L))

    // batch 2: archive 2 lands in a different bucket; bucket 1's
    // manifest entry must carry forward untouched. The freshness
    // guard's scan is pinned MECHANICALLY to the touched bucket: a
    // corrupt decoy parquet planted in bucket 1's committed dir makes
    // any whole-table guard read fail loudly (the regression this
    // guards against re-read the full table every micro-batch).
    val store = new graft.sinks.SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(target))
    val m1 = store.current().get._2
    val decoyDir = new org.apache.hadoop.fs.Path(
      store.dataPath(m1("bucket=1")), "bucket=1").toUri.getPath
    val decoy = Paths.get(decoyDir, "part-99999-decoy.snappy.parquet")
    Files.write(decoy, "not a parquet file".getBytes)
    Files.writeString(drop.resolve("BVb.json"), doc)
    run()
    val m2 = store.current().get._2
    assert(m2("bucket=1") == m1("bucket=1"),
      "bucket of archive 1 must carry forward by reference")
    assert(m2.contains("bucket=2") && !m1.contains("bucket=2"))
    Files.delete(decoy) // so the full-table reads below stay valid
    assert(table().select("live_recording_archive_id").as[Long].collect().toSet ==
      Set(1L, 2L))

    // drained re-run: no new version
    val v = store.currentVersion()
    run()
    assert(store.currentVersion() == v)
  }

  test("a drain micro-batch runs at most 3 SQL executions inside foreachBatch") {
    val root = tempDir("occ_exec")
    val drop = root.resolve("transcripts"); Files.createDirectories(drop)
    val target = root.resolve("occurrences").toString
    def run() = OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
      root.resolve("ckpt").toString, target, songs, vtuberSongs, archives, buckets = 8)
    Files.writeString(drop.resolve("BVa.json"), doc)
    run()
    Files.writeString(drop.resolve("BVb.json"), doc)
    // the insert's pin of the scan (the fuzzy scan runs inside it), its
    // pin of the fresh pairs and the staged write; the micro-batch's
    // own execution is not nested
    val (_, n) = JobCounter.executionsDuring(spark.sparkContext, nestedOnly = true)(run())
    assert(n <= 3, s"one micro-batch ran $n SQL executions inside foreachBatch")
    assert(graft.sinks.SnapshotMerge.read(spark, target, occSchema)
      .select("live_recording_archive_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a micro-batch plans no shuffle between the file scan and the kernel") {
    val root = tempDir("occ_plan")
    val drop = root.resolve("transcripts"); Files.createDirectories(drop)
    val target = root.resolve("occurrences").toString
    Files.writeString(drop.resolve("BVa.json"), doc)
    Files.writeString(drop.resolve("BVb.json"), doc)
    val (_, plans) = JobCounter.plansDuring(spark)(
      OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
        root.resolve("ckpt").toString, target, songs, vtuberSongs, archives, buckets = 8))
    // every node at or below a kernel call: what feeds the kernel
    val fed = plans.flatMap(PlanNodes(_)).collect {
      case g: GenerateExec if g.generator.children.exists(_.isInstanceOf[FuzzyScan]) => PlanNodes(g)
    }
    assert(fed.nonEmpty, plans.mkString("\n"))
    fed.foreach(nodes => assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.head.treeString))
    assert(graft.sinks.SnapshotMerge.read(spark, target, occSchema)
      .select("live_recording_archive_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a batch of only empty transcripts commits no version and leaves the table unchanged") {
    val root = tempDir("occ_empty")
    val drop = root.resolve("transcripts"); Files.createDirectories(drop)
    val target = root.resolve("occurrences").toString
    val ckpt = root.resolve("ckpt").toString
    val store = new graft.sinks.SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(target))
    def run() = OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
      ckpt, target, songs, vtuberSongs, archives, buckets = 8)

    // first batch: empty transcripts only, and no table yet
    Files.writeString(drop.resolve("BVx.json"), "[]")
    run()
    assert(store.currentVersion().isEmpty, "an empty batch must not create the table")

    Files.writeString(drop.resolve("BVa.json"), doc)
    run()
    val v = store.currentVersion()
    val m = store.current().get._2
    assert(v.isDefined)

    // a later batch of empty transcripts only
    Files.writeString(drop.resolve("BVb.json"), "[]")
    Files.writeString(drop.resolve("BVy.json"), "[[]]")
    run()
    assert(store.currentVersion() == v && store.current().get._2 == m)
    assert(graft.sinks.SnapshotMerge.read(spark, target, occSchema)
      .select("live_recording_archive_id", "start", "page").as[(Long, Long, Int)]
      .collect().toSeq == Seq((1L, 4L, 1)))
  }

  test("auto-compact folds stream churn once the manifest exceeds compactAbove") {
    val root = tempDir("occ_compact")
    val drop = root.resolve("transcripts"); Files.createDirectories(drop)
    val target = root.resolve("occurrences").toString
    val ckpt = root.resolve("ckpt").toString
    val store = new graft.sinks.SnapshotStore(
      spark, new org.apache.hadoop.fs.Path(target))
    def batches() = store.current().get._2.values.toSet.size
    // 3 archives in 3 different buckets (buckets = 8); each drain adds
    // one transcript => one new single-bucket batch dir
    val archives3 = {
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("vtuber_profile_id", LongType),
        StructField("bvid", StringType)))
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, 1L, "BVa"),
        org.apache.spark.sql.Row(2L, 1L, "BVb"),
        org.apache.spark.sql.Row(3L, 1L, "BVc")), schema)
    }
    def run() = OccurrenceStream.runAvailableSnapshot(spark, drop.toString,
      ckpt, target, songs, vtuberSongs, archives3, buckets = 8, compactAbove = 2)

    Files.writeString(drop.resolve("BVa.json"), doc)
    run()
    assert(batches() == 1)
    Files.writeString(drop.resolve("BVb.json"), doc)
    run()
    assert(batches() == 2, "within bound: no fold yet")
    Files.writeString(drop.resolve("BVc.json"), doc)
    run()
    assert(batches() <= 2, "third batch must trigger the incremental fold")
    // all three occurrences intact after folding
    assert(graft.sinks.SnapshotMerge.read(spark, target, occSchema)
      .select("live_recording_archive_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }
}
