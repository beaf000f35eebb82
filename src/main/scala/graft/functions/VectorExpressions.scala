package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot path.
  *
  * `aggregate(zip_with(a, b, *), 0.0, +)` expresses a dot product but
  * evaluates interpreted (higher-order functions don't participate in
  * whole-stage codegen) and allocates a zipped array per call — measured
  * 23s for 125k pairs at sf0.1. This BinaryExpression generates a tight
  * Java loop instead (preference order (b) of the build brief: a custom
  * codegen Expression beats a UDF beats mapPartitions).
  *
  * Summation is the same left-to-right sequential fold as the HOF form and
  * DuckDB's list_dot_product, so oracle hash-parity is preserved exactly.
  *
  * Elements must be non-null (embedding vectors); a null array yields null.
  */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  // Inputs are coerced to ARRAY<DOUBLE> by VectorFunctions.dotBuilder
  // (ExpectsInputTypes' AbstractDataType is private[sql], so explicit
  // Casts replace the implicit type-coercion hook).
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // Dimension mismatch is always a caller bug (wrong hyperplane width,
    // ragged embedding column); a silent min-length dot product returns a
    // plausible-but-wrong score, and DuckDB's list_dot_product would not
    // mask it — so surface it.
    if (n != y.numElements()) throw DotProductExpr.mismatch(n, y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw graft.functions.DotProductExpr.mismatch($n, $b.numElements());
         |}
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  /** Shared by interpreted eval and generated code (called from codegen'd
    * Java, hence public + Java-friendly signature). */
  def mismatch(l: Int, r: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_dot: vector dimension mismatch ($l vs $r)")
}

/** L2-normalize a double array in one native pass.
  *
  * The built-in spelling `transform(v, x -> x / sqrt(dot(v, v)))` is a trap
  * twice over: higher-order functions don't codegen, and CollapseProject
  * happily inlines a separately-projected norm column back under the
  * lambda, re-evaluating the norm fold PER ELEMENT. A scalar expression
  * over the whole array sidesteps both: one norm pass + one divide pass,
  * inside whole-stage codegen. Zero vectors yield NaN elements (0/0), same
  * as the SQL-oracle spelling.
  */
case class UnitVectorExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_unit"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); ss += x * x; i += 1 }
    val nrm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) / nrm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double v = $a.getDouble($i);
         |  $ss += v * v;
         |}
         |double $nrm = java.lang.Math.sqrt($ss);
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.getDouble($i) / $nrm;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  val DotName = "graft_dot"
  val UnitName = "graft_unit"

  /** The builders: the single definition of argument coercion, used by
    * the Column helpers below and by FunctionTable for SQL. */
  val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$DotName expects 2 arguments")
    DotProductExpr(
      Cast(args(0), ArrayType(DoubleType)),
      Cast(args(1), ArrayType(DoubleType)))
  }
  val unitBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$UnitName expects 1 argument")
    UnitVectorExpr(Cast(args(0), ArrayType(DoubleType)))
  }

  /** Column-level dot product over the native expression. */
  def dot(a: Column, b: Column): Column = FunctionTable.call(dotBuilder, a, b)

  /** Column-level L2 normalization over the native expression. */
  def unit(a: Column): Column = FunctionTable.call(unitBuilder, a)
}
