package graft

import org.apache.hadoop.fs.Path
import graft.sinks.AtomicDir

/** Crash-safety pins for the write-once artifact publish: the
  * rename-aside swap must leave a readable dir across a simulated crash
  * at every protocol step. Upsert crash safety is pinned by
  * SnapshotMergeSpec.
  */
class AtomicMergeSpec extends SparkFunSuite {
  import spark.implicits._

  private def fs = AtomicDir.fileSystem(spark, new Path("/tmp"))

  private def writeVals(dir: String, vals: (Long, String)*): Unit =
    vals.toSeq.toDF("id", "v").write.mode("overwrite").parquet(dir)

  private def readVals(dir: String): Map[Long, String] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap

  test("commit publishes staging and leaves no residue") {
    val dir = tmp("swap")
    writeVals(dir, 1L -> "old")
    writeVals(dir + ".staging", 1L -> "new", 2L -> "added")
    AtomicDir.commit(fs, new Path(dir))
    assert(readVals(dir) == Map(1L -> "new", 2L -> "added"))
    assert(!fs.exists(new Path(dir + ".staging")))
    assert(!fs.exists(new Path(dir + ".old")))
  }

  test("crash between rename-aside and rename-in: recover restores the old table") {
    val dir = tmp("crash23")
    writeVals(dir, 1L -> "old")
    writeVals(dir + ".staging", 1L -> "new")
    // simulate dying after step 2: target renamed aside, staging not yet in
    assert(fs.rename(new Path(dir), new Path(dir + ".old")))
    AtomicDir.recover(fs, new Path(dir))
    assert(readVals(dir) == Map(1L -> "old"), "old table must come back")
    // and the retry completes normally
    AtomicDir.commit(fs, new Path(dir))
    assert(readVals(dir) == Map(1L -> "new"))
  }

  test("crash before delete-aside: recover keeps the new table, drops the aside copy") {
    val dir = tmp("crash4")
    writeVals(dir, 1L -> "new")        // step 3 completed
    writeVals(dir + ".old", 1L -> "old") // step 4 never ran
    AtomicDir.recover(fs, new Path(dir))
    assert(readVals(dir) == Map(1L -> "new"))
    assert(!fs.exists(new Path(dir + ".old")))
  }
}
