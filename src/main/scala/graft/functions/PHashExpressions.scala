package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._

/** Perceptual difference-hash (dHash) over an opaque BINARY payload.
  *
  * The classic image dHash resizes to a 9x8 grid and emits one bit per
  * horizontally-adjacent cell pair (left brighter than right). This is
  * the byte-stream generalization a multimodal triage pipeline can run
  * BEFORE any codec: collapse the payload into 65 equal byte segments
  * (the "grid"), and bit i of the 64-bit hash says segment i's mean byte
  * value exceeds segment i+1's. Because the grid is length-relative, the
  * hash is length-normalized: payloads differing by a few bytes keep
  * almost all comparisons, so near-identical payloads land at small
  * Hamming distance — while md5-grade content hashes (mm_meta) flip
  * completely.
  *
  * Determinism contract: the mean comparison is done by integer
  * CROSS-MULTIPLICATION (sum_i * cnt_j > sum_j * cnt_i) — no division,
  * no doubles — so DuckDB replays the hash bit-for-bit from the hex
  * bytes and the whole operator is oracle-checkable, unlike the
  * xxhash-based SimHash family. Overflow bound: sum <= 255*n and
  * cnt <= n keep the product under 2^63 for payloads to ~6 PB.
  *
  * The hash is returned as two unsigned 32-bit halves in longs
  * (ph_hi = bits 32..63, ph_lo = bits 0..31): both engines then build
  * and compare it with non-negative arithmetic — no sign-bit edge case
  * in either engine's BIGINT. Payloads under 65 bytes have no full grid
  * and yield NULL (filterable, never a failure). */
case class PHashExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = PHashExpr.Schema
  override def prettyName: String = "graft_phash"

  override protected def nullSafeEval(input: Any): Any =
    PHashExpr.phash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.PHashExpr.phash($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PHashExpr {

  /** Grid segments: 65 segments -> 64 adjacent-pair comparison bits. */
  val Segments = 65

  val Schema: StructType = StructType(Seq(
    StructField("ph_hi", LongType, nullable = false),
    StructField("ph_lo", LongType, nullable = false)))

  // called from generated Java code — must stay a static-forwardable
  // companion method
  def phash(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < Segments) return null
    val sums = new Array[Long](Segments)
    val cnts = new Array[Long](Segments)
    var j = 0
    while (j < Segments) {
      var i = (j.toLong * n / Segments).toInt
      val end = ((j + 1).toLong * n / Segments).toInt
      cnts(j) = end - i
      var s = 0L
      while (i < end) { s += b(i) & 0xFF; i += 1 }
      sums(j) = s
      j += 1
    }
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < Segments - 1) {
      if (sums(i) * cnts(i + 1) > sums(i + 1) * cnts(i)) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](hi, lo))
  }
}

object PHashFunctions {
  val PHashName = "graft_phash"

  val phashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$PHashName expects 1 argument")
    PHashExpr(args.head)
  }

  def phash(payload: Column): Column = FunctionTable.call(phashBuilder, payload)
}
