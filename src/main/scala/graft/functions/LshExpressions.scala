package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Single source of truth for the deterministic sign-LSH hyperplanes.
  *
  * Coefficient in [-3, 3] from the first 8 md5 hex chars of "plane:dim"
  * (the hex8Int contract) — integer-exact in both engines and APERIODIC
  * in dim (the original linear-congruential form collapsed rotated-copy
  * inputs into mega-buckets; see Similarity.planeCoef's history note).
  * The DuckDB oracles replay this exact derivation as
  * `('0x'||substring(md5(plane||':'||dim),1,8))::BIGINT % 7 - 3`.
  */
object LshPlanes {
  def coef(plane: Int, dim: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$plane:$dim".getBytes("UTF-8"))
    val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    (v % 7).toInt - 3
  }

  /** Flat row-major coefficient matrix for planes
    * offset..offset+totalPlanes-1: entry (p, d) at p*dims + d. Built once
    * per expression instance at plan time; the md5 cost never reaches
    * a row. */
  def matrix(offset: Int, totalPlanes: Int, dims: Int): Array[Double] = {
    val m = new Array[Double](totalPlanes * dims)
    var p = 0
    while (p < totalPlanes) {
      var d = 0
      while (d < dims) { m(p * dims + d) = coef(offset + p, d).toDouble; d += 1 }
      p += 1
    }
    m
  }
}

/** All `bands` sign-LSH band buckets of a vector in ONE native pass.
  *
  * The composed spelling — `array(band0, band1, ...)` where each band is
  * `nPlanes` separate `graft_dot(vec, literal-plane)` CASE terms — is
  * correct but explodes the expression tree: at the corpus-adaptive 100x
  * geometry (19 bands x 14 planes) that is 266 dot products, each carrying
  * its own 64-literal array, which blows past the JIT's method-size budget
  * (the generated `project` falls back to interpreted eval) and re-reads
  * the vector 266 times. This expression holds one flat coefficient
  * matrix (a plan-time reference object), reads the vector once per
  * plane in a tight JIT-friendly loop, and emits the long[] of band
  * buckets directly — the array `posexplode` in the banded pair/
  * contamination queries consumes it unchanged.
  *
  * Bit-for-bit identical to the composed form by construction: per plane,
  * the dot folds dims in ascending order (same sequential sum as
  * DotProductExpr and DuckDB's `list_sum(list_transform(...))` replay),
  * `>= 0` sets bit j of band p/nPlanes, and bucket = the sum of disjoint
  * bits. Plane index = offset + band*planes + bit, matching
  * Similarity.lshBucket's banding contract.
  */
case class SignLshBucketsExpr(child: Expression, dims: Int, planes: Int,
                              bands: Int, offset: Int)
  extends UnaryExpression {

  require(dims > 0 && planes > 0 && planes <= 62 && bands > 0,
    s"graft_lsh_buckets: bad geometry dims=$dims planes=$planes bands=$bands")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  @transient private lazy val coefs: Array[Double] =
    LshPlanes.matrix(offset, bands * planes, dims)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims)
      throw SignLshBucketsExpr.mismatch(v.numElements(), dims)
    val out = new Array[Long](bands)
    val total = bands * planes
    var p = 0
    while (p < total) {
      var s = 0.0
      val base = p * dims
      var d = 0
      while (d < dims) { s += v.getDouble(d) * coefs(base + d); d += 1 }
      if (s >= 0) out(p / planes) |= 1L << (p % planes)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshCoefs", coefs, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      s"""
         |if ($v.numElements() != $dims) {
         |  throw graft.functions.SignLshBucketsExpr.mismatch($v.numElements(), $dims);
         |}
         |long[] $out = new long[$bands];
         |for (int $p = 0; $p < ${bands * planes}; $p++) {
         |  double $s = 0.0;
         |  int $base = $p * $dims;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    $s += $v.getDouble($d) * $mat[$base + $d];
         |  }
         |  if ($s >= 0) $out[$p / $planes] |= 1L << ($p % $planes);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignLshBucketsExpr {
  /** Shared by interpreted eval and generated code. */
  def mismatch(got: Int, want: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_lsh_buckets: vector has $got dims, hyperplanes have $want")
}

object LshFunctions {
  import FunctionTable.param

  val BucketsName = "graft_lsh_buckets"

  /** Geometry args must be plan-time integer literals — the coefficient
    * matrix is built once per expression instance, not per row. */
  val bucketsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 5,
      s"$BucketsName expects (vec, dims, planes, bands, offset)")
    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$BucketsName: $name must be an integer literal, got $other")
    }
    SignLshBucketsExpr(Cast(args(0), ArrayType(DoubleType)),
      intLit(args(1), "dims"), intLit(args(2), "planes"),
      intLit(args(3), "bands"), intLit(args(4), "offset"))
  }

  /** Column of ARRAY<BIGINT>: element b = band b's bucket id (planes
    * offset+b*planes .. offset+(b+1)*planes-1). */
  def buckets(vec: Column, dims: Int, planes: Int, bands: Int,
              offset: Int = 0): Column =
    FunctionTable.call(bucketsBuilder, vec, param(dims), param(planes),
      param(bands), param(offset))
}
