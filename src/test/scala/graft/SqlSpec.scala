package graft

import graft.functions.FunctionTable
import graft.sql.Tables

/** The spark.sql(...) surface over registered views + native functions. */
class SqlSpec extends SparkSpec {

  test("registered views answer multi-table SQL") {
    Tables.register(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT c_mktsegment, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin).count()
    assert(n == 5)
  }

  test("native functions are callable from SQL") {
    Tables.register(spark, "/root/testdata/sf0.001")
    FunctionTable.register(spark)
    val row = spark.sql(
      """SELECT vec_id, graft_dot(graft_unit(embedding), graft_unit(embedding)) AS c
        |FROM embeddings ORDER BY vec_id LIMIT 1""".stripMargin).collect().head
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-9) // unit . unit == 1
  }

  test("graft_bigrams is callable from SQL, null tokens included") {
    FunctionTable.register(spark)
    val out = spark.sql(
      "SELECT graft_bigrams(array('a', 'b', 'c')) AS bg").collect().head
    assert(out.getSeq[String](0) == Seq("a b", "b c"))
    val withNull = spark.sql(
      "SELECT graft_bigrams(array('a', CAST(NULL AS STRING), 'c')) AS bg")
      .collect().head
    assert(withNull.getSeq[String](0) == Seq(null, null))
  }

  test("events view exposes converted microsecond timestamps") {
    Tables.register(spark, "/root/testdata/sf0.001")
    val t = spark.sql("SELECT min(ts) FROM events").collect().head.get(0)
    assert(t.toString.startsWith("2024-01-01"))
  }
}
