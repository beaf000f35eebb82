package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.similarity.Similarity

/** Native codegen expression vs built-in HOF reference semantics. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native graft_dot is bit-identical to the HOF fold on real vectors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val both = e.select(
      Similarity.dot(col("v"), col("v")).as("native"),
      Similarity.dotHof(col("v"), col("v")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_dot propagates nulls and rejects dimension mismatch") {
    val ok = Seq(
      (Some(Array(1.0, 2.0, 3.0)), Some(Array(4.0, 5.0, 6.0))),
      (None, Some(Array(1.0))),
    ).toDF("a", "b")
    val out = ok.select(Similarity.dot(col("a"), col("b"))).as[Option[Double]].collect()
    assert(out(0).contains(32.0))
    assert(out(1).isEmpty)
    // a ragged pair must error loudly, not return a min-length dot product
    val bad = Seq((Array(1.0, 2.0), Array(3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(Similarity.dot(col("a"), col("b"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dimension mismatch")))
  }

  test("graft_unit equals the built-in normalize spelling elementwise") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.toDoubleVec(col("embedding")).as("v"))
    val both = e.select(
      VectorFunctions.unit(col("v")).as("native"),
      transform(col("v"), x => x / sqrt(Similarity.dotHof(col("v"), col("v"))))
        .as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native graft_bigrams equals the HOF spelling on the real corpus") {
    val t = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.text.Tokenize.tokens(col("text")).as("t"))
    val hof = transform(
      sequence(lit(1), size(col("t")) - 1),
      i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)))
    val both = t.filter(size(col("t")) >= 2).select(
      graft.functions.TextFunctions.bigrams(col("t")).as("native"),
      hof.as("ref"))
    assert(both.filter(!(col("native") <=> col("ref"))).count() == 0)
    // short/empty arrays -> [] not null, and null -> null
    val edge = Seq(Some(Seq("only")), Some(Seq.empty[String]), None).toDF("t")
    val out = edge.select(graft.functions.TextFunctions.bigrams(col("t")))
      .as[Option[Seq[String]]].collect()
    assert(out(0).contains(Seq.empty) && out(1).contains(Seq.empty) && out(2).isEmpty)
  }

  test("native graft_shingles equals the HOF spelling for n=2..4") {
    val t = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.text.Tokenize.tokens(col("text")).as("t"))
    (2 to 4).foreach { n =>
      val hof = when(size(col("t")) >= n, transform(
        sequence(lit(1), size(col("t")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(col("t"), i + o)): _*)))
        .otherwise(array().cast("array<string>"))
      val both = t.select(
        graft.functions.TextFunctions.shingles(col("t"), n).as("native"),
        hof.as("ref"))
      // null-safe: a null-vs-[] divergence must FAIL, not filter away
      assert(both.filter(!(col("native") <=> col("ref"))).count() == 0, s"n=$n")
    }
    // short arrays -> [], never a counts-down phantom
    val edge = Seq(Seq("a", "b")).toDF("t")
    val out = edge.select(
      graft.functions.TextFunctions.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0).isEmpty)
  }

  test("rolling hash matches the direct polynomial and handles edges") {
    import graft.functions.RollingHashExpr
    import graft.functions.RollingHashExpr.{HashB, HashM}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def direct(toks: Seq[String], k: Int): Seq[Long] =
      toks.sliding(k).filter(_.length == k).map(_.foldLeft(0L)((h, t) =>
        (h * HashB + RollingHashExpr.tokenHash(UTF8String.fromString(t)))
          % HashM)).toSeq
    val toks = (0 until 50).map(i => s"w${i % 7}_$i")
    val arr = new GenericArrayData(
      toks.map(t => UTF8String.fromString(t): AnyRef).toArray)
    for (k <- Seq(1, 2, 5, 13)) {
      val got = RollingHashExpr.compute(arr, k)
      assert(got.toLongArray().toSeq == direct(toks, k), s"k=$k")
    }
    // shorter than k -> []; the rolling leading-term removal never
    // produces a negative intermediate (all values already asserted equal)
    assert(RollingHashExpr.compute(new GenericArrayData(Array.empty[AnyRef]), 3)
      .numElements() == 0)
  }

  test("graft_lsh_buckets equals the composed literal-plane spelling") {
    // the composed form is exactly what the DuckDB oracles replay
    // (per-plane literal-coefficient dot, ascending-dim fold, >= 0 bit);
    // the native kernel must be bit-identical to it
    val dims = 64; val planes = 6; val bands = 8
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val composed = array((0 until bands).map { b =>
      (0 until planes).map { j =>
        val plane = array((0 until dims).map(d =>
          lit(graft.functions.LshPlanes.coef(b * planes + j, d).toDouble)): _*)
        when(Similarity.dot(col("v"), plane) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val both = e.select(
      Similarity.lshBandBuckets(col("v"), dims, planes, bands).as("native"),
      composed.as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() == 0)
  }

  test("graft_lsh_buckets: single-band extraction, offsets, nulls, mismatch") {
    val dims = 64; val planes = 8
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.toDoubleVec(col("embedding")).as("v"))
    // lshBucket(offset = b*planes) must equal band b of the banded array
    val cols = (0 until 3).map(b => (
      Similarity.lshBucket(col("v"), dims, planes, b * planes).as(s"s$b"),
      element_at(Similarity.lshBandBuckets(col("v"), dims, planes, 3), b + 1)
        .as(s"a$b")))
    val df = e.select(cols.flatMap(c => Seq(c._1, c._2)): _*)
    (0 until 3).foreach(b =>
      assert(df.filter(col(s"s$b") =!= col(s"a$b")).count() == 0, s"band $b"))
    // null vector -> null array (row drops out of any posexplode lineage)
    val n = Seq(Option.empty[Array[Double]]).toDF("v")
      .select(Similarity.lshBandBuckets(col("v"), dims, planes, 2).as("b"))
    assert(n.filter(col("b").isNull).count() == 1)
    // ragged input errors loudly, matching graft_dot's discipline
    val bad = Seq(Array(1.0, 2.0)).toDF("v")
    val ex = intercept[Exception] {
      bad.select(Similarity.lshBandBuckets(col("v"), dims, planes, 2)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("dims")))
  }

  test("graft_lsh_buckets runs inside a whole-stage-codegen region") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val df = e.select(posexplode(
      Similarity.lshBandBuckets(col("v"), 64, 6, 8)).as(Seq("band", "bucket")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_buckets"))
    assert(plan.split("\n").exists(l =>
      l.contains("graft_lsh_buckets") && l.contains("*(")),
      s"graft_lsh_buckets not in a codegen region:\n$plan")
  }

  test("graft_pq_min_dist / graft_pq_score equal the HOF spelling") {
    // the HOF form is the original implementation (per subspace:
    // transform over codewords -> zip_with difference -> dot, argmin by
    // keep-first aggregate); the native kernels must be bit-identical
    import graft.functions.PqFunctions
    val nSub = 8; val subLen = 8
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val book = e.orderBy("vec_id").limit(16)
      .agg(collect_list(col("v")).as("codes"))
    val q = e.orderBy(desc("vec_id")).limit(1).select(col("v").as("q"))
    val df = e.crossJoin(broadcast(book)).crossJoin(broadcast(q))
    def hofMinDist = {
      val d2PerSub = transform(sequence(lit(0), lit(nSub - 1)), s => {
        val sub = slice(col("v"), s * subLen + 1, lit(subLen))
        array_min(transform(col("codes"), cv => {
          val err = zip_with(sub, slice(cv, s * subLen + 1, lit(subLen)),
            (a, b) => a - b)
          Similarity.dot(err, err)
        }))
      })
      aggregate(d2PerSub, lit(0.0), (acc, x) => acc + x)
    }
    def hofScore = {
      val parts = transform(sequence(lit(0), lit(nSub - 1)), s => {
        val xsub = slice(col("v"), s * subLen + 1, lit(subLen))
        val qsub = slice(col("q"), s * subLen + 1, lit(subLen))
        val scored = transform(col("codes"), cv => {
          val cw = slice(cv, s * subLen + 1, lit(subLen))
          val err = zip_with(xsub, cw, (a, b) => a - b)
          struct(Similarity.dot(err, err).as("d2"), cw.as("cw"))
        })
        val best = aggregate(scored,
          struct(lit(Double.PositiveInfinity).as("d2"),
            typedLit(Array.empty[Double]).as("cw")),
          (acc, c) => when(c.getField("d2") < acc.getField("d2"), c)
            .otherwise(acc))
        Similarity.dot(qsub, best.getField("cw"))
      })
      aggregate(parts, lit(0.0), (acc, x) => acc + x)
    }
    val both = df.select(
      PqFunctions.minDist(col("v"), col("codes"), nSub).as("nmd"),
      hofMinDist.as("hmd"),
      PqFunctions.score(col("q"), col("v"), col("codes"), nSub).as("nsc"),
      hofScore.as("hsc"))
    assert(both.filter(col("nmd") =!= col("hmd")).count() == 0)
    assert(both.filter(col("nsc") =!= col("hsc")).count() == 0)
    // keep-first tie-break: two identical codewords -> the argmin picks
    // the first, so the score equals the dot against codeword 0
    val tie = Seq((Array.fill(8)(1.0), Array.fill(8)(2.0))).toDF("x", "q")
      .withColumn("codes", array(
        typedLit(Array.fill(8)(0.5)), typedLit(Array.fill(8)(0.5))))
    val t = tie.select(
      PqFunctions.score(col("q"), col("x"), col("codes"), 2).as("s"))
      .as[Double].head()
    assert(t == 8 * 2.0 * 0.5)
  }

  test("pairwise dot runs inside a whole-stage-codegen region") {
    // In the near-dup query normalization happens below the join and the
    // per-pair dot above it; after AQE finalizes, the O(n^2) hot path's
    // plan line must carry the *(n) codegen marker.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.dedup.Dedup.embeddingNearDupPairs(emb, 0.4)
    df.collect() // finalize the adaptive plan so codegen markers appear
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"))
    assert(plan.split("\n").exists(l =>
      l.contains("graft_dot") && l.contains("*(")),
      s"graft_dot not in a codegen region:\n$plan")
  }
}
