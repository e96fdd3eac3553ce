package graft

import scala.util.Random
import graft.functions.FuzzUtils

/** Property tests for the indel-ratio core (SURVEY.md §5.2):
  * vs a brute-force full-matrix DP, plus invariants and known
  * rapidfuzz vectors. Deterministic seeded generation (the offline
  * cache has no scalatest/scalacheck bridge, so properties are
  * exercised with an explicit seeded loop).
  */
class FuzzSpec extends SparkFunSuite {

  /** Brute-force full-matrix indel distance (no trimming, no space
    * optimization) — the independent oracle for the optimized impl.
    */
  private def bruteIndel(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    val d = Array.ofDim[Int](x.length + 1, y.length + 1)
    for (i <- 0 to x.length) d(i)(0) = i
    for (j <- 0 to y.length) d(0)(j) = j
    for (i <- 1 to x.length; j <- 1 to y.length)
      d(i)(j) =
        if (x(i - 1) == y(j - 1)) d(i - 1)(j - 1)
        else 1 + math.min(d(i - 1)(j), d(i)(j - 1))
    d(x.length)(y.length)
  }

  private def ratio(a: String, b: String): Double =
    FuzzUtils.ratio(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private val alphabet: IndexedSeq[Char] =
    ('a' to 'e') ++ "夜空中最亮的星 \n".toIndexedSeq

  private def randomString(rnd: Random): String = {
    val n = rnd.nextInt(31)
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("indel distance matches brute force DP (500 seeded cases)") {
    val rnd = new Random(42)
    for (_ <- 0 until 500) {
      val a = randomString(rnd)
      val b = randomString(rnd)
      assert(FuzzUtils.indelDistance(a, b) == bruteIndel(a, b),
        s"mismatch on a='$a' b='$b'")
      assert(FuzzUtils.indelDistanceDP(a, b) == bruteIndel(a, b),
        s"DP mismatch on a='$a' b='$b'")
    }
  }

  test("bit-parallel LCS: multi-word patterns and word boundaries") {
    val rnd = new Random(99)
    def longString(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // lengths straddling the 64-bit word boundary, and multi-word
    for (la <- Seq(1, 63, 64, 65, 127, 128, 129, 200); _ <- 0 until 5) {
      val a = longString(la)
      val b = longString(rnd.nextInt(200) + 1)
      assert(FuzzUtils.indelDistance(a, b) == FuzzUtils.indelDistanceDP(a, b),
        s"mismatch at |a|=$la |b|=${b.length}")
    }
    // No state may bleed across threads: hammer the same + different
    // patterns from many threads concurrently and check every result
    // against the DP oracle.
    val p = longString(100)
    val texts = (0 until 10).map(i => longString(50 + i))
    val expected = texts.map(t => FuzzUtils.indelDistanceDP(p, t))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 64).map { k =>
        Future {
          // interleave an unrelated pattern
          FuzzUtils.indelDistance(longString(80), texts(k % texts.length))
          texts.map(t => FuzzUtils.indelDistance(p, t))
        }
      }
      Await.result(Future.sequence(futures), 60.seconds)
        .foreach(rs => assert(rs == expected))
    } finally pool.shutdown()
  }

  test("codepoint decode ≡ the JDK decoder, malformed UTF-8 included") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.Codepoints
    val rnd = new Random(11)
    val cps = "aé夜😀𝄞\n".codePoints().toArray
    def decoded(u: UTF8String): Seq[Int] = {
      val out = new Array[Int](u.numBytes())
      out.take(Codepoints.decode(u, out, 0)).toSeq
    }
    for (_ <- 0 until 200) {
      val str = (0 until rnd.nextInt(20))
        .map(_ => new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
      assert(decoded(UTF8String.fromString(str)) == str.codePoints().toArray.toSeq)
    }
    // truncated, overlong, surrogate, stray continuation, lone lead byte
    val bad = Seq(Array(0xe5, 0xa4), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80),
      Array(0x61, 0x80, 0x62), Array(0xf8, 0x61), Array(0xe5, 0xa4, 0x9c, 0xf0, 0x9f))
    bad.map(_.map(_.toByte)).foreach { bytes =>
      val u = UTF8String.fromBytes(bytes)
      assert(decoded(u) == u.toString.codePoints().toArray.toSeq)
      assert(FuzzUtils.ratio(u, UTF8String.fromString("a")) ==
        ratio(u.toString, "a"))
    }
  }

  test("ratio invariants: symmetry, range, identity") {
    val rnd = new Random(7)
    for (_ <- 0 until 300) {
      val a = randomString(rnd)
      val b = randomString(rnd)
      val r = ratio(a, b)
      assert(r >= 0.0 && r <= 100.0)
      assert(math.abs(r - ratio(b, a)) < 1e-12)
      assert(ratio(a, a) == 100.0)
    }
  }

  test("known rapidfuzz vectors") {
    assert(ratio("", "") == 100.0)
    assert(ratio("", "a") == 0.0)
    assert(ratio("abc", "abc") == 100.0)
    // "abc" vs "axc": LCS=2 → dist=2 → 100*(1-2/6)
    assert(math.abs(ratio("abc", "axc") - 100.0 * (1 - 2.0 / 6)) < 1e-9)
    // one pure insertion
    assert(math.abs(ratio("this is a test", "this is a test!")
      - 100.0 * (1 - 1.0 / 29)) < 1e-9)
    // CJK codepoint-based (would differ if byte-based)
    assert(math.abs(ratio("夜空中最亮的星", "夜空中最暗的星")
      - 100.0 * (1 - 2.0 / 14)) < 1e-9)
    // supplementary-plane codepoint counts as ONE unit
    assert(math.abs(ratio("a😀", "a") - 100.0 * (1 - 1.0 / 3)) < 1e-9)
  }

  test("indel_ratio expression works in a plan with codegen") {
    import spark.implicits._
    import graft.functions.IndelRatio.indel_ratio
    import org.apache.spark.sql.functions._
    val df = Seq(("abc", "axc"), ("夜空", "夜空"), ("", ""))
      .toDF("a", "b")
      .select(indel_ratio(col("a"), col("b")).as("r"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 100.0 * (1 - 2.0 / 6)) < 1e-9)
    assert(got(1) == 100.0)
    assert(got(2) == 100.0)
    // null propagation
    val nulls = Seq((Some("a"), Option.empty[String])).toDF("a", "b")
      .select(indel_ratio(col("a"), col("b")).as("r"))
    assert(nulls.collect()(0).isNullAt(0))
  }

  // ---- Jaro-Winkler kernel (graft.functions.JaroWinkler) ----

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinklerUtils.jaroWinkler(a, b)

  test("jaro_winkler matches the classic literature vectors") {
    // Winkler's canonical examples (same values DuckDB's
    // jaro_winkler_similarity returns — probed before the oracle
    // was committed)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111) < 1e-9)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333) < 1e-9)
    assert(math.abs(jw("jellyfish", "smellyfish") - 0.8962962963) < 1e-9)
    assert(math.abs(jw("prince", "prence") - 0.9111111111) < 1e-9)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("abc", "") == 0.0)
    assert(jw("", "") == 1.0)
    // no shared codepoints → m = 0 → 0 (not NaN)
    assert(jw("abc", "xyz") == 0.0)
    // supplementary-plane codepoint counts as ONE unit (surrogate-pair
    // based lengths would shift the match window and the prefix scan)
    assert(jw("a😀b", "a😀b") == 1.0)
    val j3 = graft.functions.JaroWinklerUtils.jaro(
      "a😀b".codePoints().toArray, "a😀c".codePoints().toArray)
    assert(math.abs(j3 - (2.0 / 3 + 2.0 / 3 + 1.0) / 3) < 1e-12)
  }

  test("jaro_winkler floors the transposition count (strcmp95 rule)") {
    // 8 matches with THREE out-of-order positions: ⌊3/2⌋ = 1
    // transposition gives the classic 0.825; fractional 1.5 would give
    // 0.8042 (the initial bug, caught live by the sf0.01 oracle diff).
    assert(math.abs(jw("red widget", "new widget") - 0.825) < 1e-9)
    // prefix-less pair with the same floor behavior
    assert(math.abs(jw("red gear", "large gear") - 0.8107142857) < 1e-9)
  }

  test("jaro_winkler boost applies only above the 0.7 threshold") {
    // common prefix "ab" but jaro ≤ 0.7 → NO boost (classic Winkler)
    val j = graft.functions.JaroWinklerUtils.jaro(
      "abcdwxyz".codePoints().toArray, "abzzzzzz".codePoints().toArray)
    assert(j <= 0.7)
    assert(jw("abcdwxyz", "abzzzzzz") == j)
    // just above the threshold: boost = l·0.1·(1−jaro), prefix cap 4
    val base = graft.functions.JaroWinklerUtils.jaro(
      "ab".codePoints().toArray, "abcdefghij".codePoints().toArray)
    assert(base > 0.7)
    assert(math.abs(jw("ab", "abcdefghij") - (base + 2 * 0.1 * (1 - base))) < 1e-12)
  }

  test("jaro_winkler invariants over seeded random strings") {
    val rnd = new Random(7)
    for (_ <- 0 until 300) {
      val a = randomString(rnd)
      val b = randomString(rnd)
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of range on a='$a' b='$b'")
      // symmetric in its jaro core when lengths are equal; in general
      // jw(a,b) == jw(b,a) because matching is bijective and the
      // prefix is shared
      assert(math.abs(s - jw(b, a)) < 1e-12, s"asymmetric on a='$a' b='$b'")
      assert(jw(a, a) == (if (a.isEmpty) 1.0 else 1.0))
    }
  }

  test("jaro_winkler expression works in a plan with codegen") {
    import spark.implicits._
    import graft.functions.JaroWinkler.jaro_winkler
    import org.apache.spark.sql.functions._
    val df = Seq(("martha", "marhta"), ("夜空中", "夜空中"), ("", ""))
      .toDF("a", "b")
      .select(jaro_winkler(col("a"), col("b")).as("r"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.9611111111) < 1e-9)
    assert(got(1) == 1.0)
    assert(got(2) == 1.0)
    val nulls = Seq((Some("a"), Option.empty[String])).toDF("a", "b")
      .select(jaro_winkler(col("a"), col("b")).as("r"))
    assert(nulls.collect()(0).isNullAt(0))
  }
}
