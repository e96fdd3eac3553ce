package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Every call the benchmark itself makes into the SnapshotMerge write
  * fronts. A change to the keyed-write API is benchmarked by editing this
  * file alone; the workloads name the write they mean, not the front.
  *
  * `retain` keeps enough versions for the time-travel and change-feed
  * reads the warehouse workload issues (at most `Retain - 1` back).
  */
object Writes {
  val Retain = 8

  def upsert(spark: SparkSession, root: String, rows: DataFrame, keys: Seq[String],
      partCols: Seq[String], statsCols: Seq[String] = Nil): Unit =
    SnapshotMerge.upsertUpdate(spark, root, rows, keys, partCols, Retain, statsCols)

  def patch(spark: SparkSession, root: String, rows: DataFrame, keys: Seq[String],
      partCols: Seq[String], updateCols: Seq[String]): Option[Long] =
    SnapshotMerge.upsertMorSparse(spark, root, rows, keys, partCols, updateCols, Retain)

  def delete(spark: SparkSession, root: String, schema: StructType, pred: Column): Long =
    SnapshotMerge.deleteWhere(spark, root, schema, pred)

  /** Bloom sidecars on `col` for every batch the current snapshot references. */
  def index(store: SnapshotStore, schema: StructType, partCols: Seq[String], col: String): Unit =
    store.current().toSeq.flatMap(_._2.values).distinct
      .foreach(b => store.writeBatchBloom(b, schema, partCols, col))

  def compact(store: SnapshotStore, schema: StructType, partCols: Seq[String],
      maxBatches: Int, statsCols: Seq[String] = Nil): Unit =
    store.compactIncremental(schema, partCols, maxBatches, statsCols)
}
