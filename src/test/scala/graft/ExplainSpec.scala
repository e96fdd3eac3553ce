package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class ExplainSpec extends SparkFunSuite {

  test("a query that throws with a null message yields a FAILED line and the sweep goes on") {
    val queries = Seq[(String, () => DataFrame)](
      "before" -> (() => spark.range(10).toDF()),
      "npe" -> (() => throw new NullPointerException()),
      "after" -> (() => spark.range(10).groupBy((col("id") % 2).as("k")).count()))
    val lines = queries.map { case (name, q) => Explain.summary(name, q()) }
    assert(lines(1) == "npe FAILED: null")
    assert(lines(0).startsWith("before ") && lines(0).contains("shuffles=0"), lines)
    assert(lines(2).startsWith("after ") && lines(2).contains("shuffles=1"), lines)
  }
}
