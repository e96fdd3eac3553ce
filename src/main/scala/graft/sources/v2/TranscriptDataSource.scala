package graft.sources.v2

import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonParser, JsonProcessingException, JsonToken}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, Column, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for the reference's transcript documents (S2), and
  * the engine's one transcript decoder:
  * `spark.read.format("transcript").load(fileDirOrGlob)` exposes the
  * flat segment relation `(bvid, page, seg_idx, start, text)`, 0-based
  * `page`/`seg_idx`, `bvid` = the file name without `.json`.
  * [[graft.sources.TranscriptJson.readSegments]] reads through it, and
  * the occurrence stream decodes its landed documents with the same
  * [[TranscriptDecoder]], so batch and stream cannot drift.
  *
  * Spark-native behaviors implemented:
  *  - files are listed as the built-in file sources list them (a file,
  *    a directory or a glob; names starting with `_` or `.` skipped; a
  *    path that matches nothing fails at load) with the session's
  *    Hadoop conf, which reaches the readers as a broadcast
  *    `SerializableConfiguration`;
  *  - one input partition per file, reported as
  *    `KeyGroupedPartitioning` on `identity(bvid)` with the file's
  *    bvid as its partition key (`HasPartitionKey`). A
  *    `groupBy(bvid)` over the scan, the per-recording grouping of
  *    [[graft.operators.FuzzyOccurrence]], then plans no exchange: a
  *    recording is one file, so the file is the natural grain of a
  *    per-recording kernel. Its segments never cross the network and
  *    a batch of n recordings runs as n tasks that AQE cannot coalesce
  *    into one;
  *  - pushed `bvid = …` and `bvid IN (…)` filters prune files before
  *    any is opened (exact, so no filter is kept above the scan): a
  *    point lookup such as [[graft.api.Vcut.search]] reads one file
  *    whatever the glob matches;
  *  - column pruning pushed into the reader
  *    (`SupportsPushDownRequiredColumns`).
  *
  * This is the custom-source extension point the reference's REST
  * scans would use (SURVEY.md §2.1 S4): swap the file listing for a
  * paginated HTTP listing and the plumbing is identical.
  */
class TranscriptDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "transcript"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TranscriptDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    val conf = SparkSession.active.sessionState.newHadoopConfWithOptions(properties.asScala.toMap)
    new TranscriptTable(path, TranscriptDataSource.listFiles(path, conf), conf)
  }
}

object TranscriptDataSource {
  val schema: StructType = StructType(Seq(
    StructField("bvid", StringType),
    StructField("page", IntegerType),
    StructField("seg_idx", IntegerType),
    StructField("start", DoubleType),
    StructField("text", StringType)))

  /** One recording's segments in the fuzzy kernel's input shape
    * ([[graft.functions.FuzzyScan]]), sorted by (page, seg_idx).
    */
  val segsType: ArrayType = ArrayType(StructType(schema.fields.drop(1)), containsNull = false)

  private def bvidOf(file: Path): String = file.getName.stripSuffix(".json")

  private def hidden(p: Path): Boolean = {
    val n = p.getName
    n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
  }

  /** The files `path` names: the file itself, every visible file under
    * a directory, or every visible match of a glob (a matched
    * directory is listed too).
    */
  private[v2] def listFiles(path: String, conf: Configuration): Seq[TranscriptFile] = {
    require(path != null, "transcript: load(path) needs a file, a directory or a glob")
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(fs.makeQualified(p))).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty)
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> p.toString))
    val isGlob = path.exists("{}[]*?\\".contains(_))
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath))
        .sortBy(_.getPath.toString).flatMap(leaves)
      else Seq(s)
    matched.toSeq.filterNot(s => isGlob && hidden(s.getPath)).flatMap(leaves)
      .map(s => TranscriptFile(s.getPath.toUri.toString, bvidOf(s.getPath)))
  }
}

class TranscriptTable(path: String, files: Seq[TranscriptFile], conf: Configuration)
    extends Table with SupportsRead {
  override def name(): String = s"transcript($path)"
  override def schema(): StructType = TranscriptDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TranscriptScanBuilder(path, files, conf)
}

class TranscriptScanBuilder(path: String, files: Seq[TranscriptFile], conf: Configuration)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = TranscriptDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The bvids a filter keeps, when it is a bvid key filter. */
  private def bvids(f: Filter): Option[Set[String]] = f match {
    case EqualTo("bvid", v: String) => Some(Set(v))
    case In("bvid", vs) => Some(vs.collect { case v: String => v }.toSet)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (keys, rest) = filters.partition(bvids(_).isDefined)
    pushed = keys
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val keep = pushed.flatMap(bvids)
    new TranscriptScan(path, files.filter(f => keep.forall(_.contains(f.bvid))),
      required, pushed, conf)
  }
}

class TranscriptScan(path: String, files: Seq[TranscriptFile], required: StructType,
    pushed: Array[Filter], conf: Configuration)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TranscriptScan(path=$path, files=${files.length}, " +
      s"pushed=[${pushed.mkString(", ")}], columns=${required.fieldNames.mkString(",")})"

  override def outputPartitioning(): Partitioning =
    if (required.fieldNames.contains("bvid") && files.nonEmpty)
      new KeyGroupedPartitioning(Array(Expressions.identity("bvid")), files.length)
    else new UnknownPartitioning(files.length)

  override def planInputPartitions(): Array[InputPartition] = files.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new TranscriptReaderFactory(required,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf)))
}

/** One transcript file: one input partition, keyed by its bvid. */
case class TranscriptFile(file: String, bvid: String) extends HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(UTF8String.fromString(bvid))
}

class TranscriptReaderFactory(required: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TranscriptPartitionReader(partition.asInstanceOf[TranscriptFile], required,
      conf.value.value)
}

/** One transcript file's segments as flat rows: the file is read
  * whole and decoded by [[TranscriptDecoder]] (a malformed document
  * yields no row, so nothing is emitted before the end is seen; the
  * kernel holds a recording whole anyway).
  */
class TranscriptPartitionReader(file: TranscriptFile, required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val segs: Array[InternalRow] = {
    val p = new Path(file.file)
    val in = p.getFileSystem(conf).open(p)
    try TranscriptDecoder.decode(in.readAllBytes()) finally in.close()
  }
  private val bvid = UTF8String.fromString(file.bvid)
  // per output column, its ordinal in `schema` (0 = bvid, else 1 + the
  // segment field's ordinal)
  private val cols = required.fieldNames.map(TranscriptDataSource.schema.fieldIndex)
  private var i = -1

  override def next(): Boolean = { i += 1; i < segs.length }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(cols.length)
    var c = 0
    while (c < cols.length) {
      row.update(c, if (cols(c) == 0) bvid else segs(i).get(cols(c) - 1, null))
      c += 1
    }
    row
  }

  override def close(): Unit = ()
}

/** The one parser of transcript documents: `[[{start, text}, …], …]`
  * → the segment rows `(page, seg_idx, start, text)` in document
  * order, which is (page, seg_idx) order. Its contract is that of
  * `from_json` with schema `array<array<struct<start: double, text:
  * string>>>` (Spark's JSON options, default parse mode) followed by
  * two `posexplode`s, the reader it replaced:
  *  - `start` is a JSON number, or `NaN`/`Infinity`/`-Infinity`
  *    (also as strings); anything else, or a missing field, is null;
  *  - `text` is a JSON string; a non-string value is its JSON text,
  *    null or missing is null; other fields are skipped; a repeated
  *    field keeps its last value;
  *  - a null segment is a row with null `start` and `text`; a null
  *    page holds no segment but keeps its page number;
  *  - a document that is not an array of arrays of objects (or
  *    nulls), an empty file and a truncated or malformed file give no
  *    row; anything after the closing `]` is ignored.
  */
object TranscriptDecoder {
  private val factory = new JSONOptions(Map.empty[String, String], "UTC", "").buildJsonFactory()
  private val NoSegments = new Array[InternalRow](0)

  def decode(bytes: Array[Byte]): Array[InternalRow] = {
    val parser = factory.createParser(bytes)
    try {
      if (parser.nextToken() != JsonToken.START_ARRAY) return NoSegments
      val out = ArrayBuffer.empty[InternalRow]
      var page = 0
      var tok = parser.nextToken()
      while (tok != JsonToken.END_ARRAY) {
        if (tok == JsonToken.START_ARRAY) {
          var seg = 0
          var t = parser.nextToken()
          while (t != JsonToken.END_ARRAY) {
            if (t == JsonToken.START_OBJECT) out += segment(parser, page, seg)
            else if (t == JsonToken.VALUE_NULL) out += new GenericInternalRow(Array[Any](page, seg, null, null))
            else return NoSegments
            seg += 1
            t = parser.nextToken()
          }
        } else if (tok != JsonToken.VALUE_NULL) return NoSegments
        page += 1
        tok = parser.nextToken()
      }
      out.toArray
    } catch {
      case _: JsonProcessingException => NoSegments
    } finally parser.close()
  }

  /** The document in `json` as the kernel's `segs` array. */
  def segments(json: UTF8String): ArrayData =
    new GenericArrayData(decode(json.getBytes).asInstanceOf[Array[Any]])

  /** `transcript_segments(value)`: a column of whole documents → their `segs`. */
  def segments(json: Column): Column =
    GraftShims.column(TranscriptSegments(GraftShims.expression(json)))

  private def segment(parser: JsonParser, page: Int, seg: Int): InternalRow = {
    var start: Any = null
    var text: UTF8String = null
    while (parser.nextToken() != JsonToken.END_OBJECT) {
      val field = parser.currentName()
      parser.nextToken()
      field match {
        case "start" => start = startValue(parser)
        case "text" => text = textValue(parser)
        case _ => parser.skipChildren()
      }
    }
    new GenericInternalRow(Array[Any](page, seg, start, text))
  }

  private def startValue(parser: JsonParser): Any = parser.currentToken() match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => parser.getDoubleValue
    case JsonToken.VALUE_STRING => parser.getText match {
      case "NaN" => Double.NaN
      case "Infinity" | "+Infinity" | "+INF" => Double.PositiveInfinity
      case "-Infinity" | "-INF" => Double.NegativeInfinity
      case _ => null
    }
    case _ => parser.skipChildren(); null
  }

  private def textValue(parser: JsonParser): UTF8String = parser.currentToken() match {
    case JsonToken.VALUE_STRING => UTF8String.fromString(parser.getText)
    case JsonToken.VALUE_NULL => null
    case _ =>
      val out = new java.io.ByteArrayOutputStream()
      val gen = factory.createGenerator(out, JsonEncoding.UTF8)
      try gen.copyCurrentStructure(parser) finally gen.close()
      UTF8String.fromBytes(out.toByteArray)
  }
}

/** [[TranscriptDecoder.segments]] as a codegen'd Catalyst expression. */
case class TranscriptSegments(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"transcript_segments requires a string, got ${child.dataType.simpleString}")

  override def dataType: DataType = TranscriptDataSource.segsType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "transcript_segments"

  override protected def nullSafeEval(json: Any): Any =
    TranscriptDecoder.segments(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.v2.TranscriptDecoder.segments($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
