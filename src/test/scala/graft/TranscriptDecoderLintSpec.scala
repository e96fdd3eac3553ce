package graft

import java.nio.file.{Files, Path}

/** One transcript decoder: batch reads and the occurrence stream both
  * decode documents through `graft.sources.v2.TranscriptDecoder`, so
  * their contracts cannot drift. The lint keeps it that way: Jackson's
  * streaming parser appears in `src/main` only in the decoder's file,
  * and no `from_json` parses a transcript-shaped schema (one that
  * names `start` and `text`, or a `transcript`/`segment` schema) in
  * `src/main`. Comments are blanked before the scan.
  */
class TranscriptDecoderLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val decoderFile = "sources/v2/TranscriptDataSource.scala"

  private val jackson =
    """\b(?:JsonParser|JsonToken|JsonFactory|ObjectMapper)\b|\bcreateParser\s*\(|\bbuildJsonFactory\b""".r

  /** Lines of `src` that use Jackson's parser. */
  private def jacksonLines(src: String): Seq[Int] = {
    val code = SourceLint.stripComments(src)
    jackson.findAllMatchIn(code).map(m => SourceLint.lineAt(code, m.start)).toSeq.distinct
  }

  /** `from_json` calls in `src` over a transcript-shaped schema: the
    * call names one, or the file declares a struct with both `start`
    * and `text` fields.
    */
  private def transcriptFromJson(src: String): Seq[Int] = {
    val code = SourceLint.stripComments(src)
    val field = (n: String) => s"""StructField\\s*\\(\\s*"$n"""".r.findFirstIn(code).isDefined
    val declares = field("start") && field("text")
    SourceLint.calls(code, "from_json").collect {
      case (line, args) if declares ||
        """(?i)transcript|segment|"start"[\s\S]*"text"|array\s*<\s*array""".r.findFirstIn(args).isDefined =>
        line
    }
  }

  private lazy val graftRoot: Path = SourceLint.srcRoot.resolve("main/scala/graft")

  private def mainFiles: Seq[(String, String)] =
    SourceLint.scalaFiles(graftRoot).map(f => graftRoot.relativize(f).toString -> Files.readString(f))

  test("the scans flag planted offenders and pass declared ones") {
    val parser =
      """import com.fasterxml.jackson.core.JsonFactory
        |// new JsonFactory().createParser(bytes) in a comment
        |val p = new JsonFactory().createParser(in)
        |""".stripMargin
    assert(jacksonLines(parser) == Seq(1, 3))
    assert(jacksonLines("val s = \"plain text\" // JsonToken\n").isEmpty)

    val named =
      """val a = from_json(col("value"), TranscriptJson.transcriptSchema)
        |val b = from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        |/* from_json(col("value"), transcriptSchema) */
        |val c = from_json(col("v"), "array<array<struct<start: double, text: string>>>")
        |""".stripMargin
    assert(transcriptFromJson(named) == Seq(1, 4))
    val declared =
      """val seg = StructType(Seq(StructField("start", DoubleType), StructField("text", StringType)))
        |val d = raw.select(from_json(col("value"), ArrayType(ArrayType(seg))))
        |""".stripMargin
    assert(transcriptFromJson(declared) == Seq(2))
  }

  test("src/main parses transcript documents in the decoder's file only") {
    val parsers = mainFiles.flatMap { case (rel, src) => jacksonLines(src).map(rel -> _) }
    val elsewhere = parsers.filterNot(_._1 == decoderFile)
    assert(elsewhere.isEmpty, elsewhere.map { case (rel, line) =>
      s"$rel:$line: Jackson parsing outside $decoderFile; decode through TranscriptDecoder"
    }.mkString("\n", "\n", ""))
    assert(parsers.exists(_._1 == decoderFile), s"no Jackson parser found in $decoderFile")
    val fromJson = mainFiles.flatMap { case (rel, src) => transcriptFromJson(src).map(rel -> _) }
    assert(fromJson.isEmpty, fromJson.map { case (rel, line) =>
      s"$rel:$line: from_json over a transcript schema; decode through TranscriptDecoder"
    }.mkString("\n", "\n", ""))
  }
}
