package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

/** Driver-contract invariants over the WHOLE declared surface — the
  * regression classes that broke rounds before they broke queries:
  * the correctness checker sorts result columns via pandas, so any
  * ARRAY/BINARY/STRUCT/MAP cell crashes it (round-1 failure mode), and a
  * query without an oracle silently downgrades the gate. */
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

  test("each declared query is declared once") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct == names, s"repeated: ${names.diff(names.distinct)}")
    // source pin: a second literal of a name is a parallel map growing back
    val src = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val repeated = names.filter(n => ("\"" + n + "\"").r.findAllIn(src).size != 1)
    assert(repeated.isEmpty,
      s"query names not spelled exactly once in SparkEntry.scala: $repeated")
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
