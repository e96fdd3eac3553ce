package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Normalized indel similarity × 100 — the score the reference calls
  * `rapidfuzz.fuzz.ratio` (reference `src/firefly_vcut/fuzz.py:1,26,36`):
  * Levenshtein restricted to insert/delete (no substitution),
  * normalized by the summed lengths:
  *
  *   ratio(a, b) = 100 · (1 − indel_dist(a, b) / (|a| + |b|))
  *               = 200 · LCS(a, b) / (|a| + |b|)
  *
  * Unicode-codepoint based (the content is CJK; byte- or UTF-16-unit
  * distances would mis-score), two empty strings score 100.
  *
  * `indel_ratio` is a native Catalyst expression with codegen (no UDF
  * serialization, no Row boxing). It, [[FuzzUtils.ratio]] and the
  * fuzzy scan kernel ([[FuzzyScanKernel]]) share one LCS core,
  * [[IndelPattern]]; [[FuzzUtils.indelDistanceDP]] is its test oracle.
  */
object FuzzUtils {

  /** Reference two-row LCS DP — kept as the test oracle for the
    * bit-parallel [[IndelPattern]].
    */
  def indelDistanceDP(sa: String, sb: String): Int = {
    val a0 = sa.codePoints().toArray
    val b0 = sb.codePoints().toArray
    // trim common prefix / suffix (never changes the indel distance)
    var lo = 0
    val maxLo = math.min(a0.length, b0.length)
    while (lo < maxLo && a0(lo) == b0(lo)) lo += 1
    var aHi = a0.length
    var bHi = b0.length
    while (aHi > lo && bHi > lo && a0(aHi - 1) == b0(bHi - 1)) { aHi -= 1; bHi -= 1 }
    val m = aHi - lo
    val n = bHi - lo
    if (m == 0) return n
    if (n == 0) return m
    // ensure the inner array is the shorter side
    val (x, xLen, y, yLen) =
      if (m >= n) (a0, m, b0, n) else (b0, n, a0, m)
    // LCS length DP, rows over y
    val prev = new Array[Int](yLen + 1)
    val cur = new Array[Int](yLen + 1)
    var i = 1
    while (i <= xLen) {
      val xi = x(lo + i - 1)
      var j = 1
      while (j <= yLen) {
        cur(j) =
          if (xi == y(lo + j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, yLen + 1)
      i += 1
    }
    m + n - 2 * prev(yLen)
  }

  /** Indel distance via the bit-parallel core, `sa` as the pattern. */
  def indelDistance(sa: String, sb: String): Int = {
    val a = Codepoints.of(sa)
    val b = Codepoints.of(sb)
    a.length + b.length - 2 * lcs(a, a.length, b, b.length)
  }

  /** rapidfuzz-compatible `fuzz.ratio` in [0, 100]. */
  def ratio(a: UTF8String, b: UTF8String): Double = {
    val ca = new Array[Int](a.numBytes())
    val la = Codepoints.decode(a, ca, 0)
    val cb = new Array[Int](b.numBytes())
    val lb = Codepoints.decode(b, cb, 0)
    if (la + lb == 0) return 100.0
    score(la, lb, lcs(ca, la, cb, lb))
  }

  /** The ratio from the two lengths and their LCS: every scorer of
    * `fuzz.ratio` computes this one double expression.
    */
  def score(la: Int, lb: Int, lcs: Int): Double =
    100.0 * (1.0 - (la + lb - 2 * lcs).toDouble / (la + lb))

  /** LCS of `a[0, la)` and `b[0, lb)`; overwrites `b` with its mask rows. */
  private def lcs(a: Array[Int], la: Int, b: Array[Int], lb: Int): Int = {
    val p = IndelPattern(a, la)
    p.rows(b, 0, lb, b, 0)
    p.lcs(b, 0, lb)
  }
}

/** Unicode codepoints without boxing: the indel kernels count and
  * compare codepoints, never UTF-16 units or bytes.
  */
object Codepoints {

  /** Decodes `s` into `dst` from `at` and returns the new end. `dst`
    * needs `s.numBytes()` free slots (a codepoint takes at least one
    * byte). Malformed UTF-8 decodes the way `s.toString` does.
    */
  def decode(s: UTF8String, dst: Array[Int], at: Int): Int = {
    val end = s.getBaseObject match {
      case bytes: Array[Byte] =>
        wellFormed(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
          s.numBytes(), dst, at)
      case _ => wellFormed(s.getBytes, 0, s.numBytes(), dst, at)
    }
    if (end >= 0) end
    else {
      // malformed: let the JDK decoder place its replacement chars
      val cps = of(s.toString)
      System.arraycopy(cps, 0, dst, at, cps.length)
      at + cps.length
    }
  }

  /** Decodes well-formed UTF-8 `b[off, off + nb)`; -1 at the first
    * ill-formed sequence (bad lead or continuation byte, truncation,
    * overlong form, surrogate, above U+10FFFF).
    */
  private def wellFormed(b: Array[Byte], off: Int, nb: Int, dst: Array[Int], at: Int): Int = {
    val end = off + nb
    var i = off
    var j = at
    while (i < end) {
      val b0 = b(i) & 0xff
      var cp = -1
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 >= 0xc2 && b0 < 0xe0 && i + 1 < end) {
        val b1 = b(i + 1)
        if ((b1 & 0xc0) == 0x80) { cp = ((b0 & 0x1f) << 6) | (b1 & 0x3f); i += 2 }
      } else if (b0 >= 0xe0 && b0 < 0xf0 && i + 2 < end) {
        val b1 = b(i + 1)
        val b2 = b(i + 2)
        if ((b1 & 0xc0) == 0x80 && (b2 & 0xc0) == 0x80) {
          cp = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
          if (cp < 0x800 || (cp >= 0xd800 && cp < 0xe000)) cp = -1 else i += 3
        }
      } else if (b0 >= 0xf0 && b0 < 0xf5 && i + 3 < end) {
        val b1 = b(i + 1)
        val b2 = b(i + 2)
        val b3 = b(i + 3)
        if ((b1 & 0xc0) == 0x80 && (b2 & 0xc0) == 0x80 && (b3 & 0xc0) == 0x80) {
          cp = ((b0 & 0x07) << 18) | ((b1 & 0x3f) << 12) | ((b2 & 0x3f) << 6) | (b3 & 0x3f)
          if (cp < 0x10000 || cp > 0x10ffff) cp = -1 else i += 4
        }
      }
      if (cp < 0) return -1
      dst(j) = cp
      j += 1
    }
    j
  }

  def of(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }
}

/** Bit-parallel LCS against one fixed pattern (Hyyrö 2004 /
  * Crochemore–Iliopoulos–Pinzón): the pattern's positions are bits;
  * per text symbol the column vector updates as `V' = (V + U) | (V − U)`
  * with `U = V & M[symbol]`; LCS = zero bits of V among the pattern
  * positions. Multi-word with explicit carry/borrow propagation so
  * patterns longer than 64 codepoints work. O(n · ⌈m/64⌉) vs the DP's
  * O(n · m).
  *
  * The match masks sit in one `Long` array, one row of ⌈m/64⌉ words
  * per distinct pattern codepoint, found through an open-addressing
  * `Int` table: no boxing and no cache. A caller maps a text to rows
  * once ([[rows]]) and runs [[lcs]] over any slice of them, so many
  * overlapping windows of one text pay one lookup per codepoint.
  * Not thread-safe (multi-word scratch state); build one per use.
  */
final class IndelPattern private (val length: Int) {
  private val words = (length + 63) >>> 6
  // table size: the power of two >= 2 · length (load factor <= 1/2)
  private val bits = 32 - Integer.numberOfLeadingZeros(math.max(1, 2 * length - 1))
  private val keys = new Array[Int](1 << bits)
  private val rowPlus1 = new Array[Int](1 << bits) // 0 = empty slot
  private val masks = new Array[Long](length * words)
  private val v = if (words > 1) new Array[Long](words) else null

  /** The mask row of codepoint `cp`, or -1 when the pattern lacks it. */
  def row(cp: Int): Int = {
    var h = slot(cp)
    while (rowPlus1(h) != 0 && keys(h) != cp) h = (h + 1) & ((1 << bits) - 1)
    rowPlus1(h) - 1
  }

  private def slot(cp: Int): Int = (cp * 0x9e3779b9) >>> (32 - bits)

  private def add(cp: Int, pos: Int, nextRow: Int): Int = {
    var h = slot(cp)
    while (rowPlus1(h) != 0 && keys(h) != cp) h = (h + 1) & ((1 << bits) - 1)
    val fresh = rowPlus1(h) == 0
    if (fresh) { keys(h) = cp; rowPlus1(h) = nextRow + 1 }
    masks((rowPlus1(h) - 1) * words + (pos >>> 6)) |= 1L << (pos & 63)
    if (fresh) nextRow + 1 else nextRow
  }

  /** `text[from, until)` as mask rows into `out[at, …)`. */
  def rows(text: Array[Int], from: Int, until: Int, out: Array[Int], at: Int): Unit = {
    var i = from
    while (i < until) { out(at + i - from) = row(text(i)); i += 1 }
  }

  /** LCS length of the pattern and the text whose rows are
    * `rows[from, until)`.
    */
  def lcs(rows: Array[Int], from: Int, until: Int): Int =
    if (words == 0) 0
    else if (words == 1) {
      var x = -1L
      var i = from
      while (i < until) {
        val r = rows(i)
        if (r >= 0) { val u = x & masks(r); x = (x + u) | (x - u) }
        i += 1
      }
      val live = if (length == 64) -1L else (1L << length) - 1
      java.lang.Long.bitCount(~x & live)
    } else {
      java.util.Arrays.fill(v, -1L)
      var i = from
      while (i < until) {
        val r = rows(i)
        if (r >= 0) {
          val base = r * words
          var carry = 0L  // for V + U
          var borrow = 0L // for V - U
          var w = 0
          while (w < words) {
            val x = v(w)
            val u = x & masks(base + w)
            val sum = x + u + carry
            carry = ((x & u) | ((x | u) & ~sum)) >>> 63
            val diff = x - u - borrow
            borrow = ((~x & u) | ((~x | u) & diff)) >>> 63
            v(w) = sum | diff
            w += 1
          }
        }
        i += 1
      }
      var zeros = 0
      var w = 0
      while (w < words) {
        val inWord = math.min(64, length - (w << 6))
        val live = if (inWord == 64) -1L else (1L << inWord) - 1
        zeros += java.lang.Long.bitCount(~v(w) & live)
        w += 1
      }
      zeros
    }
}

object IndelPattern {
  /** The pattern of the codepoints `cps[0, length)`. */
  def apply(cps: Array[Int], length: Int): IndelPattern = {
    val p = new IndelPattern(length)
    var next = 0
    var i = 0
    while (i < length) { next = p.add(cps(i), i, next); i += 1 }
    p
  }
}

/** `indel_ratio(a, b)` as a codegen'd Catalyst expression. */
case class IndelRatio(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] &&
        right.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"indel_ratio requires (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "indel_ratio"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FuzzUtils.ratio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FuzzUtils.ratio($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IndelRatio {
  /** Column-API entry point: `indel_ratio($"a", $"b")`. */
  def indel_ratio(a: Column, b: Column): Column =
    GraftShims.column(
      IndelRatio(GraftShims.expression(a), GraftShims.expression(b)))
}
