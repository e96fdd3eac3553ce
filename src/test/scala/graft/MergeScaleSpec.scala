package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Partition-count scale proof for the snapshot merge (guards the
  * manifest-level prune against a regression whose planning or
  * listing cost grows with the table's partition count instead of the
  * touched set).
  *
  * The only-touched-directories claim is pinned MECHANICALLY: an
  * untouched partition's committed dir gets a garbage file with a
  * `.parquet` name planted in it. Manifest-level pruning never opens
  * data files of untouched partitions, so the merge succeeds; any
  * regression that scans untouched partitions hits the corrupt footer
  * and fails the test loudly.
  */
class MergeScaleSpec extends SparkFunSuite {
  import spark.implicits._

  private val nParts = 2000
  private val touched = Seq(3L, 700L, 999L, 1500L, 1997L)

  private def seedFrame = spark.range(nParts)
    .select(col("id"), lit(0L).as("v"), col("id").as("pk"))

  private def incoming = touched.map(k => (k, 1L, k)).toDF("id", "v", "pk")

  test("snapshot merge at 2,000 partitions: manifest carries 1,995 forward, touched dirs only") {
    val dir = tmp("sscale")
    val t0 = System.nanoTime()
    SnapshotMerge.upsertUpdate(spark, dir, seedFrame, Seq("id"), Seq("pk"))
    val store = new SnapshotStore(spark, new Path(dir))
    val m1 = store.current().get._2
    assert(m1.size == nParts)
    // corrupt decoy inside an untouched partition's committed batch dir
    val untouchedDir = new Path(store.dataPath(m1("pk=1998")), "pk=1998")
    Files.write(Paths.get(untouchedDir.toUri.getPath, "part-99999-decoy.snappy.parquet"),
      "not a parquet file".getBytes)

    SnapshotMerge.upsertUpdate(spark, dir, incoming, Seq("id"), Seq("pk"))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 180, f"2k-partition snapshot seed+merge took $secs%.1f s")

    val m2 = store.current().get._2
    assert(m2.size == nParts)
    val carried = m2.filter { case (s, b) => m1.get(s).contains(b) }
    assert(carried.size == nParts - touched.size,
      s"exactly the untouched ${nParts - touched.size} partitions must carry forward")
    // pruned read of the touched slice — never lists the decoy's dir
    val got = store.readPartitions(seedFrame.schema, touched.map(k => s"pk=$k").toSet)
      .select(col("id"), col("v")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == touched.map(_ -> 1L).toMap)
  }
}
