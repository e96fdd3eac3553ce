package graft

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.load` reads a table's parquet footer once per file version:
  * later loads of an unchanged file run no Spark job, and a rewritten
  * file or a changed parquet conf is seen by the very next load.
  */
class TablesSpec extends SparkFunSuite {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("fingerprintKey keeps the cache dir names of the inline digest it replaced") {
    // the formula graft_strm_fixtures, graft_pq_index and
    // graft_graph_edges named their dirs with, kept here as the reference
    def inlineDigest(dir: String, table: String): String = {
      val (len, mtime) = Tables.sourceFingerprint(spark, s"$dir/$table.parquet")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$dir|$len|$mtime".getBytes("UTF-8"))
        .take(16).map(b => f"$b%02x").mkString
    }
    for (dir <- Seq(sfDir, s"$sfDir/"); table <- Seq("events", "embeddings", "lineitem")) {
      val key = Tables.fingerprintKey(spark, s"$dir/$table.parquet")
      assert(key == inlineDigest(dir, table), s"$dir $table")
      assert(key.matches("[0-9a-f]{32}"), key)
    }
    val name = new java.io.File(sfDir).getName
    assert(operators.Graph.edgeArtifactRoot(spark, sfDir).getName ==
      s"${name}_${inlineDigest(sfDir, "lineitem")}_v1")
    assert(operators.Similarity.pqArtifactRoot(spark, sfDir).getName ==
      s"${name}_${inlineDigest(sfDir, "embeddings")}_v2")
  }

  test("a second load of the same table runs no Spark job") {
    Scratch.dir("tables_spec") { d =>
      val dir = d.toString
      Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
        java.nio.file.Paths.get(s"$dir/orders.parquet"))
      val (_, first) = JobCounter.jobsDuring(spark.sparkContext)(
        Tables.load(spark, dir, "orders"))
      assert(first >= 1, "the first load of a file infers its footer schema")
      val (again, second) = JobCounter.jobsDuring(spark.sparkContext)(
        Tables.load(spark, dir, "orders"))
      assert(second == 0, s"a repeated load ran $second job(s)")
      assert(again.count() == spark.read.parquet(s"$dir/orders.parquet").count())
    }
  }

  test("load returns the schema and rows of a plain parquet read, events included") {
    Tables.names.foreach { name =>
      val plain = spark.read.parquet(s"$sfDir/$name.parquet")
      val expected = if (name == "events") Tables.normalizeEventTs(plain) else plain
      Tables.load(spark, sfDir, name) // the second load reads the stored schema
      val loaded = Tables.load(spark, sfDir, name)
      assert(loaded.schema == expected.schema, name)
      assert(sortedRows(loaded) == sortedRows(expected), name)
    }
  }

  test("rewriting a table at the same path shows its new column on the next load") {
    import spark.implicits._
    Scratch.dir("tables_spec") { d =>
      val dir = d.toString
      val path = s"$dir/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
      assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s"))
      Seq((1L, "a", 0.5), (3L, "c", 1.5)).toDF("id", "s", "x")
        .write.mode("overwrite").parquet(path)
      val after = Tables.load(spark, dir, "t")
      assert(after.columns.toSeq == Seq("id", "s", "x"))
      assert(sortedRows(after) == Seq("[1,a,0.5]", "[3,c,1.5]"))
    }
  }

  test("toggling spark.sql.parquet.binaryAsString flips a binary column's type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.parquet.binaryAsString"
    Scratch.dir("tables_spec") { d =>
      val dir = d.toString
      // written without Spark's footer schema, which would pin the type
      val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/bin.parquet")).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "xy"))
      finally w.close()
      val prev = spark.conf.getOption(key)
      def typeOfB = Tables.load(spark, dir, "bin").schema("b").dataType
      try {
        spark.conf.unset(key)
        assert(typeOfB == BinaryType)
        spark.conf.set(key, "true")
        assert(typeOfB == StringType)
        assert(Tables.load(spark, dir, "bin").collect().map(_.getString(0)).toSeq == Seq("xy"))
        spark.conf.unset(key)
        assert(typeOfB == BinaryType)
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
