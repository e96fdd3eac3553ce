package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the shared
  * test session get the same settings from here; a session built
  * anywhere else under `src/` fails `SessionsSpec`.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, else the box's cores, so a run without the
    * knob measures under the same parallelism as one that sets it to
    * `nproc` (a fixed default once made local bench totals read ~2×
    * slow on the parallel-bound tail).
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UTC
    * session zone, TIMESTAMP(NANOS) read as long ([[Tables]]), no UI,
    * a codegen cache sized for the engine's working set, and the
    * engine's SQL functions ([[GraftExtensions]]) installed.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // 64k coalesce floor: keep compute-dense small shuffles parallel
      // (see OPTIMIZATION_r20.md; scale-inert — parallelism-first AQE
      // sizing dominates once shuffles exceed a few MB)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // generated-class cache (static, default 100): driver and task
      // compiles of one class take two entries, so a few dozen
      // distinct plans already overflow the default and recompile
      // code compiled moments before; 1000 leaves the cron path and a
      // catalog sweep room
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // fork-free local fs (graft.hadoop.FastLocalFileSystem scaladoc)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.hadoop.FastLocalFs].getName)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
