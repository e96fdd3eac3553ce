package graft

import org.apache.spark.sql.functions._
import graft.sinks.Merge

/** Semantics pins for the MERGE emulation (K1–K3) on tiny frames,
  * including idempotency (the reference's re-runnability contract,
  * SURVEY.md §2.11).
  */
class MergeSpec extends SparkFunSuite {
  import spark.implicits._

  private def target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
  private def incoming = Seq((2L, "B"), (3L, "C")).toDF("id", "v")

  test("upsertIgnore keeps existing, adds new") {
    val out = Merge.upsertIgnore(target, incoming, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "C"))
  }

  test("upsertUpdate overwrites on collision") {
    val out = Merge.upsertUpdate(target, incoming, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("upserts are idempotent on re-run") {
    val once = Merge.upsertUpdate(target, incoming, Seq("id"))
    val twice = Merge.upsertUpdate(once, incoming, Seq("id"))
    assert(twice.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("applyCdc: last writer wins, deletes remove, unseen keys insert") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, 1, "upsert", "x"), (1L, 2, "delete", "-"),  // upsert superseded by delete
      (2L, 1, "delete", "-"), (2L, 2, "upsert", "y"),  // delete superseded by upsert
      (4L, 1, "upsert", "z"))                          // insert of an unseen key
      .toDF("k", "seq", "op", "v")
    val got = Merge.applyCdc(target, changes, Seq("k"), "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "y", 3L -> "c", 4L -> "z"))
  }

  test("joinUpdate sets matched rows only") {
    val updates = Seq((2L, "ZZ")).toDF("id", "v")
    val out = Merge.joinUpdate(target, updates, "id", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "ZZ"))
  }

  test("partitioned write prunes partitions on read") {
    // §1.4: hive-style date partitioning = the reference's object-key
    // layout; a filtered read must touch only matching files.
    val dir = tempDir("part").toString
    Tables.load(spark, sfDir, "events")
      .withColumn("sh", from_utc_timestamp(col("ts"), "+08:00"))
      .withColumn("y", year(col("sh"))).withColumn("m", month(col("sh")))
      .withColumn("d", dayofmonth(col("sh")))
      .drop("sh")
      .write.partitionBy("y", "m", "d").mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir).where(col("m") === 1 && col("d") === 2)
    assert(one.count() > 0)
    val files = one.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.forall(_.contains("m=1/d=2")),
      s"partition pruning failed: ${files.take(3).mkString(",")}")
  }
}
