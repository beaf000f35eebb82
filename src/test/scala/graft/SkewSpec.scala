package graft

import org.apache.spark.sql.functions._
import graft.relational.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 90% of rows share one hot key — the classic skew shape
  private def skewed = (1 to 1000).map { i =>
    (if (i <= 900) 1L else (i % 50).toLong, i.toDouble)
  }.toDF("k", "v")
  private def dim = (0L to 49L).map(k => (k, s"name_$k")).toDF("k", "name")

  test("salted join equals the plain join") {
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "name")
      .as[(Long, Double, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(skewed, dim, "k", salts = 8)
      .select("k", "v", "name")
      .as[(Long, Double, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("salted aggregation equals the direct aggregation") {
    val direct = skewed.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val salted = Skew.saltedCountSum(skewed, "k", "v", salts = 8)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(salted.map(r => (r._1, r._2)) == direct.map(r => (r._1, r._2)))
    salted.zip(direct).foreach { case (s, d) =>
      assert(math.abs(s._3 - d._3) < 1e-6) // float sum order may differ
    }
  }

  test("salting is content-deterministic across evaluations") {
    val a = Skew.saltedJoin(skewed, dim, "k", 8).count()
    val b = Skew.saltedJoin(skewed, dim, "k", 8).count()
    assert(a == b && a == 1000L)
  }
}
