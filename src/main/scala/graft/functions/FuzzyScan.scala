package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** What one [[FuzzyScanKernel.scan]] call needs beyond its two inputs:
  * the keep threshold, the scorer, and the types of the two fields it
  * carries through untouched.
  */
final case class FuzzyScanSpec(threshold: Double, levenshtein: Boolean,
    songIdType: DataType, startType: DataType)

/** The fuzzy lyric scan of ONE recording against a whole song catalog
  * (reference `src/firefly_vcut/fuzz.py:3-43`, per recording as in
  * `modal/occurrence.py:78-130`).
  *
  * Input: the recording's segments as
  * `sort_array(collect_list(struct(page, seg_idx, start, text)))` and
  * the catalog as an array of `(song_id, lyrics)`. Output: for each
  * song, its first strictly best window, when that window's score is
  * at least the threshold, as `(song_id, page + 1, start, score,
  * matched_text)`.
  *
  * Contract (the plan semantics of the window-row formulation it
  * replaced, bit for bit):
  *  - songs with null or empty lyrics are dropped; a song's window
  *    size is `n = #'\n' + 1`;
  *  - windows run in (page asc, w0 asc) order over each page's `n`
  *    consecutive segments; a page shorter than `n` gives one
  *    whole-page window;
  *  - a window's text joins its non-null texts with `\n` (null texts
  *    are skipped with no separator, as `array_join` does); its
  *    `start` is its first segment's `start`, null or not;
  *  - the first strictly greater score wins, so a song whose windows
  *    all score 0 still has a best window; the threshold filters
  *    after the arg-max.
  *
  * Each segment's codepoints are decoded once per call into one flat
  * array in which every window is a slice (separators included).
  * The indel scorer builds each song's [[IndelPattern]] once per
  * call, maps the flat array to the pattern's mask rows once per
  * song, and scores each window as an LCS over its slice of rows.
  * The Levenshtein scorer (the DuckDB-checkable twin) scores
  * `-levenshtein(lyrics, window)` exactly as Spark's `levenshtein`.
  */
object FuzzyScanKernel {
  private val NL = UTF8String.fromString("\n")

  /** One recording's sorted segments, decoded once. Pages are runs of
    * equal page values: page p holds segments `[first(p), first(p + 1))`.
    * `flat` holds every page's codepoints, non-null texts separated by
    * '\n' within a page. `lo(i)` is where a window starting at segment
    * i begins (its first non-null text), `hi(i)` where a window ending
    * at segment i ends (its last non-null text): window `[w0, w1]` is
    * the slice `[lo(w0), hi(w1))`, empty when `hi(w1) < lo(w0)`.
    */
  private final class Recording(segs: ArrayData) {
    val nSeg: Int = segs.numElements()
    val texts = new Array[UTF8String](nSeg)
    val pageNull = new Array[Boolean](nSeg)
    val pageOf = new Array[Int](nSeg)
    val first = new Array[Int](nSeg + 1)
    var pages = 0
    val lo = new Array[Int](nSeg)
    val hi = new Array[Int](nSeg)
    var end = 0
    val flat: Array[Int] = {
      var cap = nSeg
      var i = 0
      while (i < nSeg) {
        val r = segs.getStruct(i, 4)
        pageNull(i) = r.isNullAt(0)
        pageOf(i) = r.getInt(0)
        if (!r.isNullAt(3)) { texts(i) = r.getUTF8String(3); cap += texts(i).numBytes() }
        if (i == 0 || pageNull(i) != pageNull(i - 1) || pageOf(i) != pageOf(i - 1)) {
          first(pages) = i
          pages += 1
        }
        i += 1
      }
      first(pages) = nSeg
      new Array[Int](cap)
    }
    locally {
      var p = 0
      while (p < pages) {
        val pageStart = end
        var seen = false
        var k = first(p)
        while (k < first(p + 1)) {
          if (texts(k) != null) {
            if (seen) { flat(end) = '\n'; end += 1 }
            seen = true
            lo(k) = end
            end = Codepoints.decode(texts(k), flat, end)
            hi(k) = end
          } else hi(k) = if (k == first(p)) pageStart else hi(k - 1)
          k += 1
        }
        k = first(p + 1) - 1
        while (k >= first(p)) {
          if (texts(k) == null) lo(k) = if (k == first(p + 1) - 1) end else lo(k + 1)
          k -= 1
        }
        p += 1
      }
    }

    /** Segments `a..z`'s non-null texts joined by '\n' (`concatWs`
      * skips nulls, as `array_join` does).
      */
    def window(a: Int, z: Int): UTF8String =
      UTF8String.concatWs(NL, java.util.Arrays.copyOfRange(texts, a, z + 1): _*)
  }

  def scan(segs: ArrayData, catalog: ArrayData, spec: FuzzyScanSpec): ArrayData = {
    val rec = new Recording(segs)
    val rowBuf = if (spec.levenshtein) null else new Array[Int](rec.end)
    val out = new java.util.ArrayList[InternalRow]()
    var s = 0
    while (s < catalog.numElements()) {
      val song = catalog.getStruct(s, 2)
      val lyrics = if (song.isNullAt(1)) null else song.getUTF8String(1)
      if (lyrics != null && lyrics.numBytes() > 0) {
        var n = 1
        var b = 0
        while (b < lyrics.numBytes()) { if (lyrics.getByte(b) == '\n') n += 1; b += 1 }
        var pattern: IndelPattern = null
        if (!spec.levenshtein) {
          val cps = new Array[Int](lyrics.numBytes())
          pattern = IndelPattern(cps, Codepoints.decode(lyrics, cps, 0))
          pattern.rows(rec.flat, 0, rec.end, rowBuf, 0)
        }
        var found = false
        var best = 0.0
        var bestW0 = 0
        var bestW1 = 0
        var p = 0
        while (p < rec.pages) {
          val first = rec.first(p)
          val len = rec.first(p + 1) - first
          val last = if (len >= n) len - n else 0
          var w0 = 0
          while (w0 <= last) {
            val a = first + w0
            val z = first + math.min(w0 + n, len) - 1
            val score =
              if (spec.levenshtein) -lyrics.levenshteinDistance(rec.window(a, z)).toDouble
              else {
                val from = rec.lo(a)
                val until = math.max(from, rec.hi(z))
                FuzzUtils.score(pattern.length, until - from, pattern.lcs(rowBuf, from, until))
              }
            if (!found || score > best) {
              found = true; best = score; bestW0 = a; bestW1 = z
            }
            w0 += 1
          }
          p += 1
        }
        if (found && best >= spec.threshold) {
          out.add(new GenericInternalRow(Array[Any](
            InternalRow.copyValue(song.get(0, spec.songIdType)),
            if (rec.pageNull(bestW0)) null else rec.pageOf(bestW0) + 1,
            InternalRow.copyValue(segs.getStruct(bestW0, 4).get(2, spec.startType)),
            best,
            rec.window(bestW0, bestW1))))
        }
      }
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `fuzzy_scan(segs, catalog, threshold, scorer)` as a codegen'd
  * Catalyst expression over [[FuzzyScanKernel]]; expand its result
  * with `inline`. `scorer` is [[FuzzyScan.Ratio]] (indel ratio, the
  * flagship) or [[FuzzyScan.Levenshtein]] (its DuckDB-checkable twin).
  */
case class FuzzyScan(segs: Expression, catalog: Expression, threshold: Double,
    scorer: String) extends BinaryExpression {

  override def left: Expression = segs
  override def right: Expression = catalog

  private def fields(e: Expression): Seq[StructField] = e.dataType match {
    case ArrayType(st: StructType, _) => st.fields.toSeq
    case _ => Nil
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val sf = fields(segs)
    val cf = fields(catalog)
    val segsOk = sf.length == 4 && sf(0).dataType == IntegerType &&
      sf(3).dataType.isInstanceOf[StringType]
    val catalogOk = cf.length == 2 && cf(1).dataType.isInstanceOf[StringType]
    if (segsOk && catalogOk && FuzzyScan.scorers.contains(scorer))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "fuzzy_scan requires (array<struct<page: int, seg_idx, start, text: string>>, " +
        "array<struct<song_id, lyrics: string>>, threshold, scorer in " +
        s"${FuzzyScan.scorers.mkString("/")}), got (${segs.dataType.simpleString}, " +
        s"${catalog.dataType.simpleString}, $threshold, $scorer)")
  }

  @transient private lazy val spec = FuzzyScanSpec(threshold,
    scorer == FuzzyScan.Levenshtein, fields(catalog)(0).dataType, fields(segs)(2).dataType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("song_id", fields(catalog)(0).dataType),
    StructField("page", IntegerType),
    StructField("start", fields(segs)(2).dataType),
    StructField("score", DoubleType, nullable = false),
    StructField("matched_text", StringType, nullable = false))), containsNull = false)

  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "fuzzy_scan"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FuzzyScanKernel.scan(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("fuzzyScanSpec", spec)
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.FuzzyScanKernel.scan($a, $b, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(segs = newLeft, catalog = newRight)
}

object FuzzyScan {
  val Ratio = "indel_ratio"
  val Levenshtein = "levenshtein"
  private val scorers = Set(Ratio, Levenshtein)

  def fuzzy_scan(segs: Column, catalog: Column, threshold: Double,
      scorer: String = Ratio): Column =
    GraftShims.column(FuzzyScan(GraftShims.expression(segs),
      GraftShims.expression(catalog), threshold, scorer))
}
