package graft.relational

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.functions._

/** Manual runtime-filter pushdown — the bloom-join technique Spark's own
  * InjectRuntimeFilter applies when statistics allow, exposed as an
  * explicit operator for when the planner can't see it (computed keys,
  * disabled CBO, non-equi pre-stages).
  *
  * Build a bloom filter of the small side's join keys (one distributed
  * aggregate, ~MB result), embed it in the plan as a LITERAL binary inside
  * Spark's native codegen'd BloomFilterMightContain predicate, and filter
  * the big side BEFORE its shuffle. At 100 TB the shuffle of the big fact
  * table is the dominant cost; a 1%-fpp bloom drops every non-matching row
  * pre-exchange for one scan's worth of work and zero extra shuffles. No
  * UDF: membership tests run inside whole-stage codegen.
  *
  * False positives only pass extra rows into the exact join (which drops
  * them); false negatives are impossible — so results are ALWAYS identical
  * to the plain join, which is exactly what the SQL oracle checks.
  */
object RuntimeFilters {

  val MightContainName = "graft_bloom_might_contain"

  val mightContainBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"$MightContainName expects 2 arguments")
    BloomFilterMightContain(args(0), args(1))
  }

  /** might-contain predicate over a serialized bloom filter literal. */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    graft.functions.FunctionTable.call(mightContainBuilder,
      lit(bloomBytes), key.cast("long"))

  /** Pre-filter `big` to rows whose `bigKey` might appear in `small`'s
    * `smallKey` set, then exact inner join. Key columns must be integral
    * (the bloom hashes longs). `expectedItems <= 0` (the default) sizes
    * the filter from an actual count of the small side — one cheap job
    * next to the join it optimizes; an undersized filter saturates and
    * silently stops pruning anything. */
  def bloomPrefilteredJoin(big: DataFrame, bigKey: String,
                           small: DataFrame, smallKey: String,
                           expectedItems: Long = -1L,
                           fpp: Double = 0.01): DataFrame = {
    val items = if (expectedItems > 0) expectedItems
                else math.max(small.count(), 1L)
    val bf = small.stat.bloomFilter(smallKey, items, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    big.filter(mightContain(bos.toByteArray, col(bigKey)))
      .join(small, col(bigKey) === col(smallKey))
  }
}
