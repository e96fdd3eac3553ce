package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** 100×-corpus probe for the CONNECTED-COMPONENTS dedup path (VERDICT
  * r16 #6): `dedup_cluster` (documents near-dup clustering) and
  * `er_entity_resolution` (part record linkage) timed against a
  * K-times replicated corpus from `scripts/gen_scale_corpus.py` and
  * checked for planted-cluster invariance against the 1× base. Not
  * part of the driver contract; results land in NOTES_r17.
  *
  * Why the corpus is the honest regime: replicas are pairwise
  * vocabulary-disjoint (documents — every word suffixed `_r<r>`) and
  * block-key-disjoint (part — the head noun suffixed `r<r>`), so the
  * TRUE duplicate clusters and entities grow ×K while cross-replica
  * edges are impossible. The claims under test:
  *
  *  (a) wall growth ≤ linear in K for both queries — the
  *      large-star/small-star alternation's round count is
  *      O(log² n) in the largest COMPONENT, which the replication
  *      holds constant, so only per-round edge volume grows;
  *  (b) planted clusters survive EXACTLY — the 100× run's output
  *      restricted to replica-0 ids (doc_id < 10M) must equal the 1×
  *      run bit-for-bit (cluster ids are component-minimum ids, and
  *      replica-0 components contain only replica-0 ids, so the
  *      restriction is label-stable by construction; the probe proves
  *      the implementation agrees).
  *
  * Usage: `runMain graft.CcScaleProbe <baseDir> <scaledDir>`
  */
object CcScaleProbe {
  /** gen_scale_corpus.py shifts replica r ids by r × 10,000,000. */
  private final val ReplicaStride = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(base, scaled) = args
    val spark = Sessions.local(Sessions.cpus)
    // probe corpora need shuffle partitions scaled with the data (the
    // fixed-per-partition-size regime a real cluster holds) — see
    // CrossoverBench's note on hash-agg state per task.
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().toSet[Row].map(_.toSeq)

    val out = scala.collection.mutable.ArrayBuffer.empty[String]

    // warm = second back-to-back run, the NOTES_r15 §6 convention
    // (first run pays one-time JIT for the CC rounds' codegen)
    def coldWarm(mk: () => DataFrame): (Double, Double) = {
      val (_, cold) = timed(consume(mk()))
      val (_, warm) = timed(consume(mk()))
      (cold, warm)
    }

    // --- dedup_cluster: exact Jaccard-0.8 pairs → CC → cluster labels
    val dc = SparkEntry.queries("dedup_cluster")
    val (dcBaseC, dcBaseS) = coldWarm(() => dc(spark, base))
    val (dcScaledC, dcScaledS) = coldWarm(() => dc(spark, scaled))
    val dcBase = rows(dc(spark, base))
    val dcRestricted = rows(dc(spark, scaled).where(col("doc_id") < ReplicaStride))
    out += s"""{"probe":"dedup_cluster","base_cold_s":${f(dcBaseC)},""" +
      s""""base_s":${f(dcBaseS)},"scaled_cold_s":${f(dcScaledC)},""" +
      s""""scaled_s":${f(dcScaledS)},"growth":${f(dcScaledS / dcBaseS)},""" +
      s""""rows_1x":${dcBase.size},"restricted_equal":${dcBase == dcRestricted}}"""

    // --- er_entity_resolution: blocked JW ≥ 0.9 → CC → size profile
    val er = SparkEntry.queries("er_entity_resolution")
    val (erBaseC, erBaseS) = coldWarm(() => er(spark, base))
    val (erScaledC, erScaledS) = coldWarm(() => er(spark, scaled))
    // the catalog row aggregates labels into a size profile, so the
    // replica-0 restriction compares the shared LABELING stage
    // directly (graft.operators.Dedup.erLabeled — same code path the
    // catalog row runs)
    val erBase = rows(graft.operators.Dedup.erLabeled(
      Tables.load(spark, base, "part")))
    val erRestricted = rows(graft.operators.Dedup.erLabeled(
      Tables.load(spark, scaled, "part"))
      .where(col("doc_id") < ReplicaStride))
    out += s"""{"probe":"er_entity_resolution","base_cold_s":${f(erBaseC)},""" +
      s""""base_s":${f(erBaseS)},"scaled_cold_s":${f(erScaledC)},""" +
      s""""scaled_s":${f(erScaledS)},"growth":${f(erScaledS / erBaseS)},""" +
      s""""labels_1x":${erBase.size},"restricted_equal":${erBase == erRestricted}}"""

    println(out.mkString("[", ",", "]"))
    spark.stop()
  }

  private def f(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)
}
