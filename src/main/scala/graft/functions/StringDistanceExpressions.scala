package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity as a native codegen expression — the scoring
  * kernel for blocked fuzzy record linkage (EntityResolution). Textbook
  * definition, pinned to the exact semantics DuckDB's
  * `jaro_winkler_similarity` implements so the oracle can replay scores:
  *
  *   - match window = max(0, max(|a|,|b|)/2 - 1); zero-window strings
  *     ("ab" vs "ba") match only at identical positions → 0.0
  *   - jaro = (m/|a| + m/|b| + (m-t)/m)/3, t = FLOOR of half the
  *     out-of-order matched chars (rapidfuzz's integer division — an odd
  *     count rounds down); m = 0 → 0.0; both empty → 1.0, one empty → 0.0
  *   - Winkler boost ONLY when jaro > 0.7: jw = jaro + L·0.1·(1-jaro),
  *     L = common prefix capped at 4
  *
  * (Each rule above is verified against DuckDB in the spec.) Operates on
  * UTF-16 code units — identical to code points for the BMP text this
  * engine links; a 1-ulp FP divergence between engines is absorbed by
  * the callers' round(6) discipline.
  *
  * Scale notes: a branch-free-allocation kernel (two boolean arrays per
  * pair, no boxing) called from generated code, so a blocked candidate
  * join scores pairs inside whole-stage codegen — the same pattern as
  * DotProductExpr, which measured 6.5x over a Scala UDF.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerExpr.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinklerExpr.similarity($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {

  // called from generated Java code — must stay a static-forwardable
  // companion method
  def similarity(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in their respective orders
    var half = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) half += 1
        j += 1
      }
      i += 1
    }
    // rapidfuzz/DuckDB semantics: the transposition count is an INTEGER
    // half (floor), not half/2.0 — an odd out-of-order count rounds down,
    // which is observable (verified against DuckDB in the spec)
    val t = (half / 2).toDouble
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxP = math.min(4, math.min(la, lb))
    while (prefix < maxP && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}

/** Threshold-banded Levenshtein with early exit (Ukkonen's cutoff) — the
  * scoring kernel for blocked edit-distance near-dup (`Dedup
  * .editDistancePairs`). Exact CONTRACT: returns the true Levenshtein
  * distance whenever it is <= k, and some value == k+1 whenever it is
  * > k. Callers filter `dist <= k`, so the pruned kernel is
  * output-identical to the full O(|a|·|b|) DP (and to DuckDB's
  * `levenshtein` + the same threshold — the oracle stays unchanged),
  * while paying only the ±k diagonal band per row and aborting the whole
  * pair the first time every band cell exceeds k. For the default k=8 on
  * 64-char prefixes that is ~17 cells/row instead of 64, and dissimilar
  * block-mates (the common case) abort after ~2k rows (round-5 verdict
  * item #2: per-pair cost was the dominant term of dedup_edit_pairs'
  * 10x outlier).
  *
  * Operates on UTF-16 code units; callers ASCII-normalize first (the
  * editDistancePairs contract), where units == codepoints == bytes, so
  * Spark/DuckDB metric parity holds exactly as before. */
case class BandedLevenshteinExpr(left: Expression, right: Expression, k: Int)
  extends BinaryExpression {

  require(k >= 0, s"banded levenshtein threshold must be >= 0, got $k")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_levenshtein_banded"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BandedLevenshteinExpr.distance(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BandedLevenshteinExpr.distance($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BandedLevenshteinExpr {

  // called from generated Java code — must stay a static-forwardable
  // companion method
  def distance(ua: UTF8String, ub: UTF8String, k: Int): Int = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    val inf = k + 1
    // length gap alone forces > k edits
    if (math.abs(la - lb) > k) return inf
    if (la == 0) return lb // <= k by the gap check
    if (lb == 0) return la
    // row i = prefix a[0..i); only columns j in [i-k, i+k] can hold a
    // value <= k, everything outside the band is treated as inf. Band
    // invariants: the (i-1, j-1) substitution parent of any in-band
    // (i, j) is itself in-band; the (i-1, j) deletion parent is in-band
    // except at j == i+k (guarded below).
    var prev = new Array[Int](lb + 1)
    var cur = new Array[Int](lb + 1)
    var j = 0
    val r0hi = math.min(lb, k)
    while (j <= r0hi) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= la) {
      val lo = math.max(1, i - k)
      val hi = math.min(lb, i + k)
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var best = cur(lo - 1)
      val ca = a.charAt(i - 1)
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (ca == b.charAt(j - 1)) 0 else 1)
        val del = (if (j <= i - 1 + k) prev(j) else inf) + 1
        val ins = cur(j - 1) + 1
        var v = math.min(math.min(del, ins), sub)
        if (v > inf) v = inf
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      // Ukkonen cutoff: every cell of this band row exceeds k, and band
      // values are non-decreasing row-to-row — no suffix can recover
      if (best > k) return inf
      val t = prev; prev = cur; cur = t
      i += 1
    }
    // column lb is inside the final band because |la - lb| <= k
    math.min(prev(lb), inf)
  }
}

object StringDistanceFunctions {
  val JaroWinklerName = "graft_jaro_winkler"
  val BandedLevenshteinName = "graft_levenshtein_banded"

  val jwBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$JaroWinklerName expects 2 arguments")
    JaroWinklerExpr(args.head, args(1))
  }

  val blBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, s"$BandedLevenshteinName expects 3 arguments")
    val k = args(2) match {
      case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
      case other => throw new IllegalArgumentException(
        s"$BandedLevenshteinName threshold must be a literal, got $other")
    }
    BandedLevenshteinExpr(args.head, args(1), k)
  }

  def jaroWinkler(a: Column, b: Column): Column =
    FunctionTable.call(jwBuilder, a, b)

  def bandedLevenshtein(a: Column, b: Column, k: Int): Column =
    FunctionTable.call(blBuilder, a, b, FunctionTable.param(k))
}
