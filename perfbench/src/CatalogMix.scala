package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** catalog_mix: analyst reads. One op is one catalog query from
  * `graft.SparkEntry.queries`, built and run to completion; each pass runs
  * every query of the set once, in an order the seed shuffles.
  */
final class CatalogMix(spark: SparkSession, tracer: Tracer, inputs: Path, work: Path,
    run: Run, seed: Long) extends Workload {
  import Harness._
  import CatalogMix._

  private val data = inputs.resolve("catalog").toString
  private val catalog = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  /** query -> (rows, hash) of every run, in order. */
  val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Long, Long)]]

  private def build(q: String): DataFrame =
    tracer.span("operators", q)(catalog(q)(spark, data))

  /** Consume every row and column: an order-insensitive (rows, hash) pair. */
  private def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(h, lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Keep a run's digest; a mismatch with the query's first run, if any. */
  private def record(q: String, d: (Long, Long)): Option[String] = {
    val seen = hashes.getOrElse(q, Vector.empty)
    hashes(q) = seen :+ d
    seen.headOption.filter(_ != d).map(f => s"$q returned (rows, hash) $d, first run gave $f")
  }

  val stepSeconds = 5.0

  def setup(round: Int): Unit = {
    if (round == 1) java.nio.file.Files.writeString(work.resolve("oracle.json"),
      obj(Queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(sql => q -> Harness.q(sql)))))
    Queries.foreach { q =>
      val df = build(q)
      val d = if (round == 1) {
        // the first pass keeps its results for the DuckDB oracle check
        val out = work.resolve("results").resolve(q).toString
        df.write.mode("overwrite").parquet(out)
        digest(spark.read.parquet(out))
      } else digest(df)
      record(q, d).foreach(run.fail)
    }
  }

  def step(loop: Loop): Unit =
    rng.shuffle(Queries).foreach { q =>
      loop.op(q, "read")(digest(build(q)))
        .foreach(d => loop.untimed(record(q, d).foreach(loop.failLast)))
    }

  def finish(loop: Loop): Unit = {
    Queries.foreach { q =>
      run.layers(s"operators.$q.p50_s") = median(run.ops.filter(_.name == q).map(_.seconds).toSeq)
    }
    run.layers("operators.build_s") = Queries.map(q => tracer.layerTime("operators", q)).sum
  }
}

object CatalogMix {
  /** The fixed query set. Execution-bound rows exercise shuffles, windows,
    * graph joins and LSH; planning-bound rows are dominated by Catalyst.
    * The set is sized so that a warm pass takes a few seconds on four
    * cores and whole passes fit a run (see README).
    */
  val Queries: Seq[String] = Seq(
    "dedup_minhash_lsh", "ev_rolling_distinct", "w3_percent_rank_scaled",
    "q18_in_subquery", "e1_except", "f11_json_extract", "mm_decode_meta")
}
