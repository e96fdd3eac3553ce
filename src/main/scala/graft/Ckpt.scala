package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Engine-wide storage level for lineage-truncation checkpoints.
  *
  * Every iterative engine in the repo (`connectedComponents`,
  * `pageRank`, `coreness`, the triangle pipeline, BPE training, BFS)
  * truncates lineage with `localCheckpoint`, whose Spark default
  * caches DESERIALIZED rows at MEMORY_AND_DISK. On a real cluster
  * that is the right default — each executor holds 1/N of the blocks
  * and recompute-on-eviction is cheap next to a network shuffle. In a
  * SINGLE-JVM run at probe scale (the local[32] K-times corpora of
  * `gen_scale_corpus.py`) the same default is a GC bomb: hundreds of
  * millions of checkpointed rows compete with shuffle/agg memory in
  * one heap, and the measured failure mode is not an OOM but a
  * 100-second-plus full-GC pause that trips the executor heartbeat
  * (observed live on the 100x graph probe: `Removing executor driver
  * with no recent heartbeats: 167474 ms`). SPARK_GRAFT_CKPT_LEVEL
  * (any `StorageLevel.fromString` name, e.g. DISK_ONLY) moves the
  * checkpoint blocks out of contention for such runs; unset, the
  * cluster-right MEMORY_AND_DISK stands.
  */
object Ckpt {
  private[graft] val level: StorageLevel =
    sys.env.get("SPARK_GRAFT_CKPT_LEVEL").map { name =>
      val l = StorageLevel.fromString(name)
      // NONE would truncate lineage while storing ZERO replicas — rows
      // under graft.Scratch.frame delete their source files right after
      // .ckpt(true), so the missing blocks only surface later, far from
      // the misconfiguration. Reject it here with the env var named.
      require(l.isValid,
        s"SPARK_GRAFT_CKPT_LEVEL=$name stores no replicas: a local " +
          "checkpoint at this level truncates lineage with nothing " +
          "backing it. Use e.g. DISK_ONLY or MEMORY_AND_DISK.")
      if (!l.useDisk)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"SPARK_GRAFT_CKPT_LEVEL=$name has no disk tier: memory " +
            "pressure can evict checkpoint blocks whose lineage is " +
            "gone, failing queries with missing-block errors.")
      l
    }.getOrElse(StorageLevel.MEMORY_AND_DISK)

  /** `df.localCheckpoint(eager)` at the engine-wide [[level]]. */
  def local[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    ds.localCheckpoint(eager, level)

  /** Chainable spelling: `frame.ckpt(false)` ≡ lazy local checkpoint
    * at the engine-wide level.
    */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(eager: Boolean): DataFrame = df.localCheckpoint(eager, level)
    def ckpt: DataFrame = df.localCheckpoint(true, level)
  }
}
