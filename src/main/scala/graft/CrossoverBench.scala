package graft

import org.apache.spark.sql.DataFrame

/** Scale-crossover measurement harness (NOTES_r4): times a chosen
  * subset of catalog queries against an arbitrary table dir (e.g. a
  * K-times corpus from `scripts/gen_scale_corpus.py`), noop-sink
  * materialized like [[Bench]]. Not part of the driver contract.
  *
  * Usage: `runMain graft.CrossoverBench <dir> <query1,query2,…>`
  */
object CrossoverBench {
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val spark = Sessions.local(Sessions.cpus)
    // SPARK_GRAFT_SHUFFLE: shuffle partition count, default = cpus.
    // K-times probe corpora need partitions scaled with the data —
    // the fixed-per-partition-size regime a real cluster holds (a
    // 100x corpus on 32 local partitions packs ~7M rows of hash-agg
    // state per task and OOMs where 100x executors never would).
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    try Tables.names.foreach(n => consume(Tables.load(spark, dir, n)))
    catch { case _: Throwable => }
    val results = names.split(",").toSeq.map { name =>
      val t0 = System.nanoTime()
      consume(SparkEntry.queries(name)(spark, dir))
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"crossover":$qs,"dir":"$dir"}""")
    spark.stop()
  }
}
