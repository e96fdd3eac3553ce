package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * Parquet carries its own schema; we rely on the footer rather than
  * re-declaring StructTypes here (explicit schemas are used for JSON
  * sources, see [[graft.sources.TranscriptJson]]). The footer is read
  * ONCE PER FILE VERSION: [[load]] infers a table's schema the first
  * time it sees the file (and again when the file or the session's
  * parquet confs change), then hands the stored StructType to every
  * later read. Filters/projections applied downstream push into the
  * scan (PushedFilters / ReadSchema).
  *
  * events.ts contract — SCHEMA-ADAPTIVE, the file footer decides:
  *  - parquet TIMESTAMP(NANOS): Spark 4 refuses to read nanos as a
  *    timestamp, so under `spark.sql.legacy.parquet.nanosAsLong=true`
  *    (set at session build by [[graft.Sessions]]) it arrives as raw BIGINT
  *    nanos and is truncated to a microsecond TimestampType with
  *    integer division (`div` — a double division would lose precision
  *    above 2^53 ns; DuckDB performs the same nanos → micros
  *    truncation on read).
  *  - parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false (the
  *    driver's current export): Spark reads TIMESTAMP_NTZ; the session
  *    timezone is pinned UTC everywhere, so a cast to TimestampType
  *    preserves the wall-clock instant bit-for-bit and downstream
  *    window/date_format expressions see the exact type they always
  *    did. DuckDB reads the same file as plain TIMESTAMP — parity.
  *  - already TimestampType: pass through.
  * The nanosAsLong conf is deliberately NOT mutated per load call: a
  * global `conf.set` in a read path races concurrent queries on the
  * same session.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an events-shaped frame so `ts` is a microsecond
    * TimestampType regardless of which physical schema the file
    * carries (BIGINT nanos / TIMESTAMP_NTZ / TIMESTAMP — see object
    * doc). Shared by the batch loader and the streaming source.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** (total length, max mtime) fingerprint of a source file or
    * directory-shaped export — two filesystem metadata ops. Artifact
    * cache keys ([[fingerprintKey]]) fold this in so a REGENERATED
    * corpus at the same path busts the key instead of silently serving
    * the previous corpus's derived artifacts.
    */
  def sourceFingerprint(spark: SparkSession, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val children = fs.listStatus(p)
      (children.map(_.getLen).sum,
        if (children.isEmpty) 0L else children.map(_.getModificationTime).max)
    } else (st.getLen, st.getModificationTime)
  }

  /** Cache key of the source at `path` (`<dir>/<table>.parquet`): the
    * first 16 bytes, as hex, of a sha-256 over `dir` and the source's
    * [[sourceFingerprint]]. Content-strength, so two corpora never share
    * a key (a 32-bit `String.hashCode` could collide two paths). Every
    * artifact cache ([[graft.Scratch.cached]], [[graft.operators.Graph.edgeArtifactRoot]],
    * [[graft.operators.Similarity.pqArtifactRoot]]) names its dirs with
    * it, so the existing cache dirs keep their names.
    */
  def fingerprintKey(spark: SparkSession, path: String): String = {
    val (len, mtime) = sourceFingerprint(spark, path)
    val dir = path.substring(0, path.lastIndexOf('/'))
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$dir|$len|$mtime".getBytes("UTF-8"))
      .take(16).map(b => f"$b%02x").mkString
  }

  /** Input-parallelism restoration for compute-heavy kernels
    * (optimization guide §2.5 input skew / §6 input split size): a
    * small parquet export is ONE file with ONE row group, so the scan
    * gets a single task and every expression evaluated before the
    * first exchange — shingle/signature kernels, regex tokenization,
    * pairwise similarity after a broadcast join — runs on one core
    * while the rest of the session idles (measured at local[32]:
    * dedup_simhash_md5 spent 1.9 s of its 2.4 s wall in a 1-task scan
    * stage). When the frame has fewer partitions than the session's
    * default parallelism, redistribute by `key` (hash — no
    * sort-before-repartition cost, deterministic layout) or
    * round-robin before the heavy projection. When the scan is
    * already parallel — the 100 TB case, thousands of splits — this
    * is the IDENTITY: no exchange is added, so it never pays a
    * corpus-scale shuffle where parallelism already exists.
    *
    * Precondition: `df` must be a scan-stage frame (no exchange
    * beneath). The partition probe reads the physical RDD's partition
    * count, which is static for a scan but would force AQE stage
    * materialization (i.e. run jobs) through an exchange.
    */
  def spread(df: DataFrame, key: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (key.nonEmpty) df.repartition(p, key: _*)
    else df.repartition(p)
  }

  /** A catalog table as a fresh relation (new file listing, new
    * exprIds — self-joins analyse as two scans). Schema inference is a
    * footer-reading Spark job, so it runs only on the first load of a
    * file version; later loads pass the stored schema and run no job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** path → (file version, parquet confs, inferred schema). Only the
    * StructType is kept, never a plan; one entry per distinct path.
    */
  private val footerSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), Map[String, String], StructType)]()

  /** The schema `spark.read.parquet(path)` infers, re-inferred when the
    * file's [[sourceFingerprint]] or any `spark.sql.parquet.*` /
    * `spark.sql.legacy.parquet.*` conf (nanosAsLong, binaryAsString,
    * inferTimestampNTZ, …) differs from the stored entry's. The
    * fingerprint is taken BEFORE inference, so a rewrite racing it
    * leaves an entry the next load re-infers.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val version = sourceFingerprint(spark, path)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    footerSchemas.get(path) match {
      case (v, c, schema) if v == version && c == confs => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        footerSchemas.put(path, (version, confs, schema))
        schema
    }
  }
}
