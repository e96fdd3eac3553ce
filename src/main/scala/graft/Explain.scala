package graft

import org.apache.spark.sql.DataFrame

/** Plan inspector: `runMain graft.Explain [sfDir] [q1,q2,…]`.
  *
  * With no names it sweeps every catalog query and prints one summary
  * line each — shuffle/broadcast exchange counts and join strategies —
  * to catch plan regressions (an unexpected cartesian, a missed
  * broadcast, a shuffle that should be map-side). With names it prints
  * each named query's formatted physical plan, then the same summary
  * line: the iterate-on-the-plan loop SURVEY §7 calls for. `sfDir`
  * defaults to the sf0.001 test data.
  */
object Explain {
  /** The summary line of `df`'s executed plan. A query that fails to
    * build or plan yields `<name> FAILED: <message>` instead, so one
    * bad query never ends a sweep.
    */
  def summary(name: String, df: => DataFrame): String =
    try {
      val plan = df.queryExecution.executedPlan.toString()
      def n(p: String) = p.r.findAllIn(plan).length
      val bc = n("BroadcastExchange")
      val sh = n("Exchange hashpartitioning") + n("Exchange rangepartitioning") +
        n("Exchange SinglePartition")
      val joins = Seq(
        "BroadcastHashJoin" -> n("BroadcastHashJoin"),
        "SortMergeJoin" -> n("SortMergeJoin"),
        "ShuffledHashJoin" -> n("ShuffledHashJoin"),
        "BroadcastNestedLoopJoin" -> n("BroadcastNestedLoopJoin"),
        "CartesianProduct" -> n("CartesianProduct"))
        .filter(_._2 > 0).map { case (k, v) => s"$k×$v" }.mkString(",")
      f"$name%-24s shuffles=$sh%-3d broadcasts=$bc%-3d $joins"
    } catch {
      case e: Throwable => s"$name FAILED: ${String.valueOf(e.getMessage).take(80)}"
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = Sessions.local(Sessions.cpus)
    named.getOrElse(SparkEntry.queries.keys.toSeq.sorted).foreach { name =>
      println(summary(name, {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (named.isDefined) df.explain("formatted")
        df
      }))
    }
    spark.stop()
  }
}
