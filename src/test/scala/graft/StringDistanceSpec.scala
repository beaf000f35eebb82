package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{JaroWinklerExpr, StringDistanceFunctions}
import graft.relational.EntityResolution

/** The JW kernel is pinned to DuckDB's jaro_winkler_similarity — every
  * constant below was produced by DuckDB itself, so a drift in window,
  * transposition flooring, boost threshold, or prefix cap fails here
  * before it fails the oracle. */
class StringDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerExpr.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("matches DuckDB on the canonical pairs") {
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),   // 1 transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332),  // prefix 2 boost
      ("CRATE", "TRACE", 0.7333333333333334),     // jaro > 0.7 but prefix 0
      ("abcd", "badc", 0.8333333333333334),       // 2 transpositions
      ("aaaa", "aaaaaaaaaaaa", 0.8666666666666667), // prefix capped at 4
      ("xy", "xyz", 0.9111111111111111),          // window 0, len mismatch
      ("abcvwxyz", "abdefghi", 0.5),              // jaro <= 0.7: NO boost
      // the rapidfuzz floor: 5 out-of-order matched chars -> t = 2, not 2.5
      ("cold od Brand#17 MEDIUM", "cold rod Brand#17 MEDIUM",
        0.9742753623188406))
    for ((a, b, want) <- pinned) {
      assert(math.abs(jw(a, b) - want) < 1e-12, s"jw($a, $b)")
      assert(jw(a, b) == jw(b, a), s"symmetry($a, $b)")
    }
  }

  test("degenerate inputs: empties, equal, disjoint, zero window") {
    assert(jw("", "") == 1.0)
    assert(jw("", "abc") == 0.0 && jw("abc", "") == 0.0)
    assert(jw("a", "a") == 1.0 && jw("a", "b") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window 0: same-position matches only
    assert(jw("same string", "same string") == 1.0)
  }

  test("the registered expression scores columns inside codegen") {
    val df = Seq(("martha", "marhta"), ("ab", "ba"), ("", ""))
      .toDF("a", "b")
    val got = df.select(
        StringDistanceFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
      .as[Double].collect().toSeq
    assert(got == Seq(jw("martha", "marhta"), 0.0, 1.0))
    // null propagates, never throws
    val n = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(StringDistanceFunctions.jaroWinkler(col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("fuzzyLink resolves most dirty records to their own partkey") {
    val part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
    val out = EntityResolution.fuzzyLink(part)
      .select("dirty_id", "matched_partkey", "jw", "exact_self")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out.nonEmpty)
    // every score survived the declared threshold
    assert(out.forall(_._3 >= 0.85))
    // identical catalog titles make exact_self < 100% legitimate, but a
    // single-char drop must keep the majority resolvable to themselves
    // OR to an identical-title twin with a smaller key
    assert(out.count(_._4) * 2 > out.size)
    // deterministic under re-execution and layout change
    val again = EntityResolution.fuzzyLink(part.repartition(7))
      .select("dirty_id", "matched_partkey", "jw", "exact_self")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(again == out)
  }

  // reference full-matrix DP for the banded-kernel contract checks
  private def fullLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
      j => if (i == 0) j else if (j == 0) i else 0
    })
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def banded(a: String, b: String, k: Int): Int =
    graft.functions.BandedLevenshteinExpr.distance(
      UTF8String.fromString(a), UTF8String.fromString(b), k)

  test("banded levenshtein: exact below threshold, k+1-capped above, " +
    "on randomized and adversarial pairs") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcde" // small alphabet -> high collision/edit density
    def randStr(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(5))).mkString
    val cases = Seq.fill(300) {
      val a = randStr(rnd.nextInt(70))
      // half the cases: b is a k-ish mutation of a, not an independent draw
      val b = if (rnd.nextBoolean()) randStr(rnd.nextInt(70))
      else a.map(c => if (rnd.nextInt(10) == 0) alpha(rnd.nextInt(5)) else c)
        .drop(rnd.nextInt(3)).mkString + randStr(rnd.nextInt(3))
      (a, b)
    } ++ Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
      ("aaaaaaaa", "bbbbbbbb"), ("kitten", "sitting"),
      ("abcdefgh", "hgfedcba"))
    for ((a, b) <- cases; k <- Seq(0, 1, 3, 8)) {
      val full = fullLev(a, b)
      val got = banded(a, b, k)
      if (full <= k) assert(got == full, s"exact($a, $b, k=$k)")
      else assert(got == k + 1, s"capped($a, $b, k=$k): full=$full got=$got")
      assert(got == banded(b, a, k), s"symmetry($a, $b, k=$k)")
    }
  }

  test("banded levenshtein column: parity with built-in levenshtein " +
    "under the threshold filter, inside codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(substring(regexp_replace(lower(col("text")),
        "[^\\x00-\\x7F]", ""), 1, 64).as("p"), col("doc_id"))
    val pairs = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")).limit(2000)
      .select(col("a.p").as("pa"), col("b.p").as("pb"))
    val both = pairs.select(
      StringDistanceFunctions.bandedLevenshtein(col("pa"), col("pb"), 8)
        .as("banded"),
      least(levenshtein(col("pa"), col("pb")), lit(9)).as("capped"))
    assert(both.filter(col("banded") =!= col("capped")).count() == 0)
    // null propagates, never throws
    val n = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(StringDistanceFunctions.bandedLevenshtein(col("a"), col("b"), 8))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("sorted-neighborhood: parity with the all-rank-gap definition, bounded candidates") {
    val part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
    val out = EntityResolution.sortedNeighborhoodPairs(part)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // brute reference: rank per brand, ALL pairs with gap < window
    import graft.relational.EntityResolution.{DefaultSnmMinJw, DefaultSnmWindow}
    val ranked = part
      .selectExpr("p_partkey", "p_brand",
        "concat_ws(' ', p_name, p_brand, p_type) AS t")
      .as[(Long, String, String)].collect()
      .groupBy(_._2).toSeq.flatMap { case (brand, rows) =>
        rows.sortBy(r => (r._3, r._1)).zipWithIndex
          .map { case ((id, _, t), i) => (brand, id, t, i) }
      }
    val want = (for {
      Seq((br, ia, ta, ra), (_, ib, tb, rb)) <- ranked.groupBy(_._1).values
        .flatMap(_.sortBy(_._4).combinations(2)).toSeq
      gap = rb - ra
      if gap >= 1 && gap < DefaultSnmWindow
      j = BigDecimal(JaroWinklerExpr.similarity(
        UTF8String.fromString(ta), UTF8String.fromString(tb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= DefaultSnmMinJw
    } yield (br, ia, ib, gap.toLong, j)).toSet
    assert(out.toSet == want)
    // the structural bound: every record meets < 2*window neighbors, so
    // candidates (pre-filter pairs) are O(n*window) regardless of skew
    assert(out.size <= ranked.size * DefaultSnmWindow)
  }
}
