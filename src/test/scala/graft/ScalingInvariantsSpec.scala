package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.dedup.Dedup
import graft.tools.MakeScaled

/** 10x sub-linearity pins for the dedup family (round-4 verdict item #5:
  * make the 10x gate permanent). The sf1 BENCH artifact carries the
  * wall-clock scaling table; this spec pins the STRUCTURAL quantities
  * whose blow-up is what makes a dedup plan quadratic in the first
  * place, so a candidate-generation regression trips a test — on any
  * machine, load or not — instead of a bench diff.
  *
  * Fixture: `MakeScaled.scaledDocuments(docs, 10, uniq = true)` — ten
  * copies of the sf0.01 documents with every token of copy i >= 1
  * rewritten `tok_c<i>`. Copies therefore share NO tokens, hence no
  * shingles, hence no candidate pairs across copies, while each copy's
  * internal near-dup structure is isomorphic to the original (per-copy
  * shingle dfs equal the original's, so the df-cap makes identical
  * decisions). That makes the expected outputs EXACT, not approximate:
  *
  *   |op(10 copies)| == 10 * |op(1 copy)|
  *
  * for every per-copy-local operator. A quadratic candidate explosion
  * (all-pairs join, dropped df-cap, bucket leak across copies) shows up
  * as ~100x instead and fails loudly. Shuffle RECORD volume is pinned at
  * <= 12x (10x linear + slack for LSH band-hash coincidences across
  * copies, which the exact verify then discards) — record counts are
  * data-deterministic, unlike times, so the bound is tight without being
  * flaky.
  *
  * Why no wall-clock ratio pin here: at spec scale (500 -> 5000 docs,
  * local[4]) fixed JVM/planning overhead dominates and JIT order makes
  * time ratios noise; the honest time-scaling evidence is the sf1 bench
  * artifact (BASELINE.md scaling table), which the round process
  * regenerates. The structural pins below are the quantities that
  * PREDICT that table. */
class ScalingInvariantsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"
  private val Copies = 10

  // Both frames localCheckpointed once: every pin then measures ONLY the
  // operator under test, not the replicate/rewrite lineage, and the 1x /
  // 10x inputs are materialized the same way.
  private lazy val docs1: DataFrame =
    graft.table(spark, dir, "documents").localCheckpoint()
  private lazy val docs10: DataFrame =
    MakeScaled.scaledDocuments(docs1, Copies, uniq = true).localCheckpoint()

  /** (row count, total shuffle records written) of one run. */
  private def profile(df: DataFrame): (Long, Long) = {
    val n = df.count()
    val recs = collect(df.queryExecution.executedPlan) {
        case s: ShuffleExchangeLike => s }
      .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
    (n, recs)
  }

  private def pinLinear(name: String, op: DataFrame => DataFrame,
                        maxRecordRatio: Double = 12.0): Unit =
    test(s"$name: exactly ${Copies}x rows and <= ${maxRecordRatio}x " +
      s"shuffle records at ${Copies}x docs") {
      assume(new java.io.File(dir).isDirectory, s"testdata absent at $dir")
      val (n1, r1) = profile(op(docs1))
      val (n10, r10) = profile(op(docs10))
      assert(n1 > 0, s"$name produced no rows at 1x — pin is vacuous")
      assert(n10 == Copies * n1,
        s"$name rows: expected exactly ${Copies}x (${Copies * n1}), " +
          s"got $n10 from $n1 — per-copy locality broken")
      assert(r10 <= maxRecordRatio * math.max(r1, 1L),
        s"$name shuffle records grew ${r10.toDouble / math.max(r1, 1L)}x " +
          s"($r1 -> $r10) — candidate generation is super-linear")
    }

  pinLinear("exact_dedup", Dedup.exactDuplicates)
  pinLinear("jaccard_pairs", d => Dedup.jaccardPairs(d))
  pinLinear("minhash_lsh_pairs", d => Dedup.minhashLshPairs(d))
  pinLinear("duplicated_spans", d => Dedup.duplicatedSpans(d))

  // boundary stitch needs planted positives (the real corpus has no
  // shard splits): every >= 8-token doc gets a companion that STARTS
  // with its last 8 tokens. Planting runs after scaling, so copy-i
  // companions carry copy-i's rewritten tokens — per-copy locality and
  // the exact-10x expectation hold. Companion tails are a shared
  // z-token run; they match no head, and whether the df cap keeps or
  // drops them cannot change the pair count.
  private def plantStitch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val comp = docs
      .select(col("doc_id"), graft.text.Tokenize.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select((col("doc_id") + 500000000L).as("doc_id"),
        concat(array_join(slice(col("tk"), -8, 8), " "),
          lit(" zc1 zc2 zc3 zc4 zc5 zc6 zc7 zc8")).as("text"))
    docs.select("doc_id", "text").unionByName(comp)
  }
  pinLinear("boundary_stitch",
    d => Dedup.boundaryStitchPairs(plantStitch(d)))

  // Round-6 verdict item #1: the calibration's brute ground-truth arm is
  // bounded by a 2048-vector seeded sample, so its pair count is a
  // CONSTANT C(min(n, 2048), 2) — identical at 10x and at any larger
  // scale — instead of O(n²). A dropped sample bound shows up as
  // C(5000,2) ≈ 12.5M ≠ 2,096,128 and fails exactly.
  test("lsh_calibration: brute-arm pairs constant at C(2048,2) once " +
    "the corpus exceeds the sample") {
    assume(new java.io.File(dir).isDirectory, s"testdata absent at $dir")
    import graft.similarity.Similarity
    val emb1 = graft.table(spark, dir, "embeddings").localCheckpoint()
    val emb10 = MakeScaled.scaledEmbeddings(emb1, Copies, uniq = true)
      .localCheckpoint()
    val n1 = emb1.count() // 500 at sf0.01 -> sample takes all of it
    val pairs1 = Similarity.lshCalibration(emb1)
      .agg(org.apache.spark.sql.functions.sum("n_pairs")).head().getLong(0)
    assert(pairs1 == n1 * (n1 - 1) / 2,
      s"1x brute arm should be all C($n1,2) pairs, got $pairs1")
    val pairs10 = Similarity.lshCalibration(emb10)
      .agg(org.apache.spark.sql.functions.sum("n_pairs")).head().getLong(0)
    val cap = 2048L * 2047L / 2L
    assert(pairs10 == cap,
      s"10x brute arm must be sample-bounded to C(2048,2)=$cap, got " +
        s"$pairs10 — the O(n²) cartesian is back")
  }

  // Round-6 100x-probe finding: fixed-width sign-LSH (2^8 buckets) let
  // bucket occupancy grow linearly with the corpus — the banded pair
  // query filled the DISK with candidate spill at 100x. The geometry is
  // now corpus-adaptive: planes = smallest p >= floor with
  // 2^p * 32 >= n. Pin the formula's anchors AND the structural
  // consequence (expected occupancy stays at the target).
  test("embedding LSH geometry adapts to corpus size; occupancy bounded") {
    import graft.similarity.Similarity
    assert(Similarity.adaptivePlanes(500L, 8) == 8)     // verify SF: floor
    assert(Similarity.adaptivePlanes(5000L, 8) == 8)    // bench SF: floor
    assert(Similarity.adaptivePlanes(8193L, 8) == 9)    // first step up
    assert(Similarity.adaptivePlanes(200000L, 8) == 13)
    assert(Similarity.adaptivePlanes(500000L, 8) == 14) // the 100x probe
    assert(Similarity.adaptivePlanes(50000000000L, 8) == 30) // 100 TB-ish: cap
    assert(Similarity.adaptiveBands(4, 8, 8) == 4)      // floor: unchanged
    assert(Similarity.adaptiveBands(4, 8, 14) == 7)
    assert(Similarity.adaptiveBands(8, 6, 14) == 19)
    // structural pin: at every n, expected occupancy n / 2^planes stays
    // within 2x of the target (and never regresses to linear growth)
    for (n <- Seq(1000L, 10000L, 1000000L, 100000000L)) {
      val p = Similarity.adaptivePlanes(n, 8)
      assert(n.toDouble / (1L << p) <= 2 * Similarity.LshTargetOccupancy,
        s"occupancy at n=$n, p=$p")
    }
  }
}
