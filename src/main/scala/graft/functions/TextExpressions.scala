package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native adjacent-bigram builder over a token array.
  *
  * The built-in spelling `transform(sequence(1, n-1), i ->
  * concat_ws(' ', t[i], t[i+1]))` evaluates interpreted (higher-order
  * functions skip whole-stage codegen) and re-evaluates two element_at
  * probes per position — measured as the dominant cost of the
  * `text_bigrams` query. This expression emits the same array in one
  * codegen'd pass. A null array yields null; arrays shorter than 2 yield
  * []; a null TOKEN yields null bigrams at its two positions
  * (UTF8String.concat's null-in-null-out), so the element type declares
  * containsNull — the function is callable from SQL (FunctionTable), and
  * SQL users can pass arrays the regexp tokenizer never produces.
  */
case class BigramsExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bigrams"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = math.max(n - 1, 0)
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      out(i) = UTF8String.concat(
        a.getUTF8String(i), BigramsExpr.Space, a.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val space = ctx.addReferenceObj("space", BigramsExpr.Space,
        classOf[UTF8String].getName)
      s"""
         |int $m = java.lang.Math.max($a.numElements() - 1, 0);
         |UTF8String[] $out = new UTF8String[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $out[$i] = UTF8String.concat(
         |    $a.getUTF8String($i), $space, $a.getUTF8String($i + 1));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramsExpr {
  val Space: UTF8String = UTF8String.fromString(" ")
}

/** Native word n-gram shingle builder — the generalized sibling of
  * BigramsExpr and the dominant cost of every shingle-based dedup query
  * (the HOF spelling re-probes element_at n times per position,
  * interpreted). Emits space-joined n-grams of consecutive tokens; arrays
  * shorter than n yield []; null tokens are skipped inside a shingle
  * (concat_ws semantics, same as the HOF form it replaces). */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val m = math.max(a.numElements() - n + 1, 0)
    val out = new Array[AnyRef](m)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var k = 0
      while (k < n) { parts(k) = a.getUTF8String(i + k); k += 1 }
      out(i) = UTF8String.concatWs(BigramsExpr.Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val space = ctx.addReferenceObj("space", BigramsExpr.Space,
        classOf[UTF8String].getName)
      s"""
         |int $m = java.lang.Math.max($a.numElements() - $n + 1, 0);
         |UTF8String[] $out = new UTF8String[$m];
         |UTF8String[] $parts = new UTF8String[$n];
         |for (int $i = 0; $i < $m; $i++) {
         |  for (int $k = 0; $k < $n; $k++) {
         |    $parts[$k] = $a.getUTF8String($i + $k);
         |  }
         |  $out[$i] = UTF8String.concatWs($space, $parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Polynomial rolling hash over a token array — the fingerprinting
  * primitive behind winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03;
  * reference surface: the document-fingerprinting family).
  *
  * Per token: the first 4 bytes of md5(token) as an unsigned 32-bit
  * big-endian int, reduced mod M — exactly `('0x' ||
  * substring(md5(tok), 1, 8))::BIGINT % M` in DuckDB, so the SQL oracle
  * replays every value bit-for-bit. Per k-window: the degree-(k-1)
  * polynomial in B over the token hashes, mod M. The window values are
  * computed with the true ROLLING update (drop the leading term via the
  * precomputed B^(k-1) mod M, shift, add the entering token) — O(n)
  * total instead of O(n*k), which is what makes the hash family usable
  * over 100 TB of text. M = 2^31-1 (prime) keeps every intermediate
  * product (< M * B < 2^51) inside a long with no overflow.
  *
  * Arrays shorter than k yield []; a null token hashes as 0 (the
  * tokenizer never emits nulls, but SQL callers can).
  */
case class RollingHashExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "window width must be >= 1")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.RollingHashExpr.compute($a, $k);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashExpr {
  /** Polynomial base and modulus, shared verbatim with the DuckDB oracle
    * (SparkEntry interpolates these constants into the SQL so a retune
    * here can never desynchronize the two sides). M = 2^31-1 is prime;
    * B is coprime to it. */
  val HashB = 1000003L
  val HashM = 2147483647L

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes, big-endian unsigned, mod M — DuckDB's
    * ('0x' || substring(md5(tok), 1, 8))::BIGINT % M. */
  def tokenHash(tok: UTF8String): Long = {
    if (tok == null) return 0L
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(tok.getBytes)
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % HashM
  }

  /** Called from both the interpreted eval and the generated code — the
    * single implementation keeps the two paths identical by construction. */
  def compute(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val m = math.max(n - k + 1, 0)
    val out = new Array[Long](m)
    if (m == 0) return new GenericArrayData(out)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(a.getUTF8String(i)); i += 1 }
    // B^(k-1) mod M, for the rolling leading-term removal
    var lead = 1L
    i = 1
    while (i < k) { lead = lead * HashB % HashM; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * HashB + th(i)) % HashM; i += 1 }
    out(0) = h
    i = 1
    while (i < m) {
      // h <- ((h - th(i-1)*B^(k-1)) * B + th(i+k-1)) mod M, kept positive
      h = (h - th(i - 1) * lead % HashM + HashM) % HashM
      h = (h * HashB + th(i + k - 1)) % HashM
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TextFunctions {
  val BigramsName = "graft_bigrams"
  val ShinglesName = "graft_shingles"
  val RollingHashName = "graft_rolling_hash"

  val bigramsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$BigramsName expects 1 argument")
    BigramsExpr(Cast(args(0), ArrayType(StringType)))
  }

  /** second argument must be a literal int (the shingle width is plan
    * structure, not data). */
  val shinglesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$ShinglesName expects 2 arguments")
    val n = args(1) match {
      case e if e.foldable => e.eval(null) match {
        case i: Int  => i
        case l: Long => l.toInt
        case other   => throw new IllegalArgumentException(
          s"$ShinglesName: width must be an integer literal, got $other")
      }
      case _ => throw new IllegalArgumentException(
        s"$ShinglesName: width must be a literal")
    }
    ShinglesExpr(Cast(args(0), ArrayType(StringType)), n)
  }

  /** width must be a literal int, like shingles. */
  val rollingHashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$RollingHashName expects 2 arguments")
    val k = args(1) match {
      case e if e.foldable => e.eval(null) match {
        case i: Int  => i
        case l: Long => l.toInt
        case other   => throw new IllegalArgumentException(
          s"$RollingHashName: width must be an integer literal, got $other")
      }
      case _ => throw new IllegalArgumentException(
        s"$RollingHashName: width must be a literal")
    }
    RollingHashExpr(Cast(args(0), ArrayType(StringType)), k)
  }

  /** Registers every `graft_*` kernel for SQL: the same as
    * `FunctionTable.register`, kept for callers outside this library. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    FunctionTable.register(spark)

  def bigrams(tokens: Column): Column = FunctionTable.call(bigramsBuilder, tokens)

  def shingles(tokens: Column, n: Int): Column =
    FunctionTable.call(shinglesBuilder, tokens, FunctionTable.param(n))

  def rollingHashes(tokens: Column, k: Int): Column =
    FunctionTable.call(rollingHashBuilder, tokens, FunctionTable.param(k))
}
