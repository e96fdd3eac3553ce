package graft

/** `graft.Sessions` is the one session factory: no other source file
  * builds a SparkSession, and the shared test session carries every
  * setting the factory pins.
  */
class SessionsSpec extends SparkFunSuite {

  private val builderCall = """\bSparkSession\s*\.\s*builder\b""".r

  /** Lines of `src` that build a SparkSession outside comments. */
  private def builderLines(src: String): Seq[Int] = {
    val code = SourceLint.stripComments(src)
    builderCall.findAllMatchIn(code).map(m => SourceLint.lineAt(code, m.start)).toSeq
  }

  test("the scan sees a multi-line builder call and skips comments") {
    val b = "SparkSession" + ".builder()"
    val src = s"// $b\n/* $b */\nval s = SparkSession\n  .builder()\nval t = $b\n"
    assert(builderLines(src) == Seq(3, 5))
  }

  test("no source file under src/ but Sessions.scala builds a SparkSession") {
    val sites = SourceLint.scalaFiles(SourceLint.srcRoot)
      .filterNot(_.getFileName.toString == "Sessions.scala")
      .flatMap { f =>
        builderLines(java.nio.file.Files.readString(f))
          .map(line => s"${SourceLint.srcRoot.relativize(f)}:$line")
      }
    assert(sites.isEmpty, sites.mkString(
      "\nbuild sessions with graft.Sessions.local instead:\n", "\n", ""))
  }

  test("the shared test session carries every factory conf and the SQL functions") {
    val expected = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.codegen.cache.maxEntries" -> "1000",
      "spark.hadoop.fs.file.impl" -> classOf[graft.hadoop.FastLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.hadoop.FastLocalFs].getName,
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
    val r = spark.sql("SELECT indel_ratio('abc','axc')").collect()(0)
    assert(math.abs(r.getDouble(0) - 100.0 * (1 - 2.0 / 6)) < 1e-9)
  }
}
