package graft

import org.apache.spark.sql.types._

/** Driver-contract invariants over the WHOLE declared surface — the
  * regression classes that broke rounds before they broke queries:
  * the correctness checker sorts result columns via pandas, so any
  * ARRAY/BINARY/STRUCT/MAP cell crashes it (round-1 failure mode), and an
  * oracle entry without a matching query (or vice versa where one is
  * required) silently downgrades the gate. */
class ContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every declared query emits only scalar (checker-sortable) columns") {
    val offenders = SparkEntry.queries.keys.toSeq.flatMap { name =>
      QuerySurface.schema(dir, name).fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType == BinaryType =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"non-scalar declared outputs crash the checker: ${offenders.mkString(", ")}")
  }

  test("every oracle entry names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("rows-only queries (no oracle) are the documented hash-typed five") {
    // anything new added without an oracle must be a deliberate decision,
    // not a forgotten entry — the driver records only a weak rows-only
    // check for these
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("dedup_minhash_sigs", "dedup_simhash_sigs",
      "dedup_simhash_pairs", "sketch_distinct_parts", "sketch_price_quantiles"),
      s"undocumented rows-only queries: $rowsOnly")
  }
}
