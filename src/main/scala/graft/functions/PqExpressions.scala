package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization kernels.
  *
  * The HOF spelling of PQ scoring — per subspace, `transform` over the
  * broadcast codebook building a zip_with difference + dot per codeword,
  * folded by `aggregate` argmin — is semantically right but evaluates
  * interpreted (HOFs don't join whole-stage codegen) and allocates
  * nSub×nCodes temporary arrays PER ROW. These expressions run the same
  * arithmetic in one tight loop: for each subspace (ascending), scan the
  * codewords (ascending, strict `<` argmin = keep-FIRST on ties, exactly
  * the `aggregate` fold), accumulating the subspace distance over
  * ascending dims — every fold order matches the HOF form and the DuckDB
  * oracles' list_sum replays, so scores are bit-identical.
  *
  * Both take (x, codes) where `codes` is the broadcast codebook as an
  * ARRAY<ARRAY<DOUBLE>> column; nSub is a plan-time literal. A row with
  * an empty codebook yields null (a sampled codebook is non-empty
  * whenever the corpus is).
  */

/** Σ_s min_c ||x_sub(s) - c_sub(s)||² — the PQ reconstruction error
  * numerator (caller divides by dims). */
case class PqMinDistExpr(x: Expression, codes: Expression, nSub: Expression)
  extends TernaryExpression {

  override def first: Expression = x
  override def second: Expression = codes
  override def third: Expression = nSub
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_min_dist"

  override protected def nullSafeEval(xv: Any, cv: Any, nsv: Any): Any = {
    val v = xv.asInstanceOf[ArrayData]
    val cs = cv.asInstanceOf[ArrayData]
    val ns = nsv.asInstanceOf[Int]
    PqKernels.minDistSum(v, cs, ns)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, ns) => {
      s"""
         |${ev.value} = graft.functions.PqKernels.minDistSum($v, $cs, $ns);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(x = f, codes = s, nSub = t)
}

/** Σ_s q_sub(s) · codeword(argmin_c ||x_sub(s) - c_sub(s)||²)_sub(s) —
  * the asymmetric-distance PQ score (query full-precision, corpus row
  * represented by its per-subspace nearest codewords). */
case class PqScoreExpr(q: Expression, x: Expression, codes: Expression,
                       nSub: Int)
  extends TernaryExpression {

  override def first: Expression = q
  override def second: Expression = x
  override def third: Expression = codes
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_score"

  override protected def nullSafeEval(qv: Any, xv: Any, cv: Any): Any = {
    PqKernels.asymScore(qv.asInstanceOf[ArrayData],
      xv.asInstanceOf[ArrayData], cv.asInstanceOf[ArrayData], nSub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qv, xv, cv) => {
      s"""
         |${ev.value} = graft.functions.PqKernels.asymScore($qv, $xv, $cv, $nSub);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(q = f, x = s, codes = t)
}

/** Shared by interpreted eval and generated code (public, Java-friendly
  * signatures — called from codegen'd classes). */
object PqKernels {
  /** Index of the min-distance codeword for subspace [off, off+len) of x;
    * strict < keeps the first (lowest) index on ties. -1 if no codes. */
  private def argmin(v: ArrayData, cs: ArrayData, off: Int, len: Int): Int = {
    val nCodes = cs.numElements()
    var best = Double.PositiveInfinity
    var bestIdx = -1
    var c = 0
    while (c < nCodes) {
      val cw = cs.getArray(c)
      var d2 = 0.0
      var i = 0
      while (i < len) {
        val diff = v.getDouble(off + i) - cw.getDouble(off + i)
        d2 += diff * diff
        i += 1
      }
      if (d2 < best) { best = d2; bestIdx = c }
      c += 1
    }
    bestIdx
  }

  def minDistSum(v: ArrayData, cs: ArrayData, nSub: Int): java.lang.Double = {
    val dims = v.numElements()
    if (cs.numElements() == 0 || nSub <= 0 || dims % nSub != 0) return null
    val subLen = dims / nSub
    var total = 0.0
    var s = 0
    while (s < nSub) {
      val off = s * subLen
      val cw = cs.getArray(argmin(v, cs, off, subLen))
      var d2 = 0.0
      var i = 0
      while (i < subLen) {
        val diff = v.getDouble(off + i) - cw.getDouble(off + i)
        d2 += diff * diff
        i += 1
      }
      total += d2
      s += 1
    }
    total
  }

  def asymScore(q: ArrayData, v: ArrayData, cs: ArrayData,
                nSub: Int): java.lang.Double = {
    val dims = v.numElements()
    if (cs.numElements() == 0 || nSub <= 0 || dims % nSub != 0 ||
      q.numElements() != dims) return null
    val subLen = dims / nSub
    var total = 0.0
    var s = 0
    while (s < nSub) {
      val off = s * subLen
      val cw = cs.getArray(argmin(v, cs, off, subLen))
      var dp = 0.0
      var i = 0
      while (i < subLen) { dp += q.getDouble(off + i) * cw.getDouble(off + i); i += 1 }
      total += dp
      s += 1
    }
    total
  }
}

object PqFunctions {
  val MinDistName = "graft_pq_min_dist"
  val ScoreName = "graft_pq_score"

  private def arr(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))
  private def arrArr(e: Expression): Expression =
    Cast(e, ArrayType(ArrayType(DoubleType)))

  val minDistBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, s"$MinDistName expects (x, codes, nSub)")
    PqMinDistExpr(arr(args(0)), arrArr(args(1)), Cast(args(2), IntegerType))
  }
  val scoreBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 4, s"$ScoreName expects (q, x, codes, nSub)")
    val n = args(3) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$ScoreName: nSub must be an integer literal, got $other")
    }
    PqScoreExpr(arr(args(0)), arr(args(1)), arrArr(args(2)), n)
  }

  /** Σ_s min_c ||x_sub - c_sub||² (caller divides by dims for MSE). */
  def minDist(x: Column, codes: Column, nSub: Int): Column =
    FunctionTable.call(minDistBuilder, x, codes, FunctionTable.param(nSub))

  /** Σ_s q_sub · nearest-codeword(x_sub) — asymmetric PQ score. */
  def score(q: Column, x: Column, codes: Column, nSub: Int): Column =
    FunctionTable.call(scoreBuilder, q, x, codes, FunctionTable.param(nSub))
}
