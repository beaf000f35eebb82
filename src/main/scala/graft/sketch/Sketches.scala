package graft.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch aggregates — the sub-linear-memory path for cardinality and
  * quantiles at 100 TB, where exact distinct counts would shuffle every
  * key. Sketch values are deterministic within Spark (HLL++ /
  * KLL-style percentile_approx) but engine-specific, so these queries are
  * rows-only for the driver; SketchSpec bounds their error against exact
  * answers.
  */
object Sketches {

  /** Exact vs HLL++ distinct suppliers+parts per return flag. rsd=0.02.
    *
    * The exact arms are deliberately split into distinct-then-count
    * two-phase aggregates instead of `countDistinct` inside one agg:
    * multiple distinct aggregates make Catalyst plan an Expand that
    * replicates EVERY input row once per distinct column before the
    * shuffle (35.7 GB of sf1 spill measured in round 5), while
    * `.distinct()` partial-aggregates per partition so only UNIQUE
    * (flag, key) pairs reach the exchange — the key-domain, not the
    * row count, bounds the shuffle at any scale. The three per-flag
    * frames (two exact, one sketched) then join at flag cardinality. */
  def distinctPartsPerFlag(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select("l_returnflag", "l_partkey", "l_suppkey")
    def exact(c: String, out: String) =
      li.select(col("l_returnflag"), col(c)).distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(out))
    val approx = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
    exact("l_partkey", "exact_parts")
      .join(exact("l_suppkey", "exact_supps"), Seq("l_returnflag"))
      .join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"), col("approx_parts"),
        col("exact_supps"), col("approx_supps"))
      .orderBy("l_returnflag")
  }

  /** Sketch MERGEABILITY report — the property that makes sketches the
    * 100 TB cardinality path: shards/days sketch independently, and the
    * union of sub-sketches answers the global question without re-scanning.
    * Per return flag: exact distinct parts, plus two booleans — the direct
    * datasketches-HLL estimate is within 5% of exact, and the estimate
    * rebuilt by UNIONING per-(flag, linestatus) sub-sketches is within 5%
    * too. Booleans rather than raw estimates keep the result layout-robust
    * (a datasketches union estimate can drift with merge order) and
    * oracle-checkable (the oracle asserts literal TRUE); default lgK=12
    * gives ~0.8% rsd, so 5% is a hard bound, not a hope. */
  def hllMergeReport(lineitem: DataFrame): DataFrame = {
    val direct = lineitem.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("__d"))
    val sub = lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(hll_sketch_agg(col("l_partkey")).as("__sk"))
    val merged = sub.groupBy("l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__m"))
      .withColumnRenamed("l_returnflag", "__flag")
    // null-SAFE join: groupBy keeps a null-flag group on both sides, and a
    // plain equi-join would silently drop it while the oracle's GROUP BY
    // emits it (the aggregate-vs-join-back null-group divergence — see
    // cheapestOrderPerCustomer's note; round-3 review)
    direct.join(merged, col("l_returnflag") <=> col("__flag"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("__d") - col("n_exact")) <= col("n_exact") * lit(0.05))
          .as("direct_within_5pct"),
        (abs(col("__m") - col("n_exact")) <= col("n_exact") * lit(0.05))
          .as("merged_within_5pct"))
      .orderBy("l_returnflag")
  }

  /** Count-min sketch fidelity report for the corpus's top-k terms:
    * estimated vs true frequency plus the (always >= 0) overcount.
    *
    * Unlike the HLL/KLL queries above, this sketch is fully
    * ORACLE-CHECKABLE: the depth hash functions are md5-derived
    * (first 8 hex chars as an integer, mod `width`) and the CMS table is
    * just SUM(term count) per (row, bucket) — pure integer arithmetic
    * DuckDB reproduces bit-for-bit, so the driver verifies the whole
    * sketch, not merely its error bound. Estimate = min over rows of the
    * term's bucket sum; CMS never undercounts, and overcount is bounded
    * by collisions (E[over] <= 2N/width per row, min over `depth` rows).
    *
    * Scale notes: the corpus-sized work is ONE tokenize + term count
    * (map-side combined); the sketch build explodes only the VOCABULARY
    * by `depth` and folds it to a depth x width table (tiny), so sketch
    * memory is O(depth * width) regardless of corpus size. The term-count
    * frame is eagerly localCheckpoint'ed: three consumers (sketch, top-k,
    * estimates) must not re-tokenize the corpus three times. */
  // declared-query defaults, named so the oracle SQL derives EVERY
  // parameter from the same constants (SparkEntry.cmsOracleSql)
  val DefaultCmsDepth = 4
  val DefaultCmsWidth = 1024
  val DefaultCmsTopK = 20

  def cmsTermCounts(docs: DataFrame, depth: Int = DefaultCmsDepth,
                    width: Int = DefaultCmsWidth,
                    k: Int = DefaultCmsTopK): DataFrame = {
    val tf = graft.text.Tokenize.termOccurrences(docs)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val withBuckets = tf
      .withColumn("j", explode(typedLit((0 until depth).toArray)))
      .withColumn("bucket",
        graft.sources.Sampling.hex8Int(
          md5(concat(col("term"), lit(":"), col("j").cast("string")))) % width)
    val cms = withBuckets.groupBy("j", "bucket").agg(sum("n").as("bn"))
    val topk = tf.orderBy(desc("n"), asc("term")).limit(k)
    topk.join(withBuckets.select("term", "j", "bucket"), Seq("term"))
      .join(cms, Seq("j", "bucket"))
      .groupBy("term", "n").agg(min("bn").as("cms_n"))
      .select(col("term"), col("n").as("true_n"), col("cms_n"),
        (col("cms_n") - col("n")).as("overcount"))
      .orderBy(desc("true_n"), col("term"))
  }

  /** KMV (k-minimum-values / bottom-k) sketch defaults, named so the
    * oracle SQL interpolates the SAME constants. k = 256 gives relative
    * error ~ 1/sqrt(k-2) ~ 6% (Beyer et al., SIGMOD'07). */
  val DefaultKmvK = 256

  /** Hash domain: hex8Int maps md5 to [0, 2^32). */
  private val KmvHashSpace = 4294967296.0

  /** The sketched universe: per-source token BIGRAMS (one codegen pass). */
  private def kmvTerms(docs: DataFrame): DataFrame = {
    docs.select(col("source"),
      explode(graft.functions.TextFunctions.bigrams(
        graft.text.Tokenize.tokens(col("text")))).as("term"))
  }

  /** Per-source KMV sketch rows: the k smallest DISTINCT md5-derived
    * BIGRAM-hash values per source. Bigrams, not unigrams: the sketched
    * vocabulary must exceed k for the (k-1)/m_k estimator to be the live
    * path in the declared query (the synthetic corpus holds ~31 unigrams
    * but ~650 bigrams per source). Hashing the bare bigram (no source
    * salt) is what makes sketches of different sources COMPARABLE — the
    * same bigram maps to the same hash everywhere, so set algebra on
    * sketches (kmvSourceOverlap) is meaningful. */
  private def kmvSketchRows(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    kmvTerms(docs)
      .select(col("source"),
        graft.sources.Sampling.hex8Int(md5(col("term"))).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .filter(col("rk") <= k)
      .select("source", "h")
  }

  /** Per-source vocabulary cardinality: exact distinct tokens vs the KMV
    * estimate (k-1)/m_k with m_k the k-th minimum normalized hash —
    * exact when the source holds fewer than k distinct hashes (the
    * sketch IS the set then).
    *
    * Unlike the HLL/KLL queries, KMV is fully ORACLE-CHECKABLE: the
    * sketch is "k smallest distinct hex8Int(md5(term))" — pure integer
    * ordering DuckDB replays bit-for-bit, and the estimator is one
    * double division of identically-derived integers.
    *
    * Scale notes (100 TB): the corpus-sized work is one tokenize +
    * distinct partial-aggregate (unique (source, hash) pairs bound the
    * exchange, not token occurrences); the rank is a per-source top-k
    * (WindowGroupLimit keeps <= k rows per source per partition). Each
    * source then compresses to k longs — the sketch a pipeline stores
    * per shard/day and merges by "union then re-take k smallest" without
    * rescanning, mergeability the exact arm can never have. */
  def kmvVocabulary(docs: DataFrame, k: Int = DefaultKmvK): DataFrame = {
    val sk = kmvSketchRows(docs, k)
    val est = sk.groupBy("source").agg(count(lit(1)).as("n"), max("h").as("mk"))
      .select(col("source"),
        when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1) * KmvHashSpace) / col("mk"))
          .as("kmv_est"))
    val exact = kmvTerms(docs).distinct()
      .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, Seq("source"))
      .select(col("source"), col("exact_distinct"),
        round(col("kmv_est"), 4).as("kmv_est"))
      .orderBy("source")
  }

  /** Pairwise cross-source vocabulary overlap from KMV sketches alone:
    * for sources (a, b), re-take the k smallest hashes of the sketch
    * UNION, count how many of those are in BOTH sketches (rho = the KMV
    * Jaccard estimator), and scale: inter_est = rho * union_est.
    *
    * This is the sketch-algebra answer to dedup_source_overlap's exact
    * matrix: the pair stage touches ONLY sketch rows — S^2/2 pairs x
    * 2k longs, constant in the corpus size — so adding a source to a
    * 100 TB corpus costs one sketch build, not S re-scans. The exact
    * intersection column (one vocabulary-bounded self-join) is the
    * evaluation arm the estimates are judged against. */
  def kmvSourceOverlap(docs: DataFrame, k: Int = DefaultKmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = kmvSketchRows(docs, k).localCheckpoint(true)
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val rows = pairs
      .join(sk.select(col("source").as("source_a"), col("h"),
        lit(1).as("ina"), lit(0).as("inb")), Seq("source_a"))
      .unionByName(pairs.join(sk.select(col("source").as("source_b"),
        col("h"), lit(0).as("ina"), lit(1).as("inb")), Seq("source_b"))
        .select("source_a", "source_b", "h", "ina", "inb"))
      .groupBy("source_a", "source_b", "h")
      .agg(max("ina").as("ina"), max("inb").as("inb"))
    val ranked = rows.withColumn("rk", row_number().over(
        Window.partitionBy("source_a", "source_b").orderBy("h")))
      .filter(col("rk") <= k)
    val est = ranked.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("kk"), max("h").as("uk"),
        sum(col("ina") * col("inb")).as("m"))
      .select(col("source_a"), col("source_b"),
        (col("m").cast("double") / col("kk")).as("kmv_jaccard"),
        when(col("kk") < k, col("kk").cast("double"))
          .otherwise(lit((k - 1) * KmvHashSpace) / col("uk"))
          .as("union_est"))
    // Round-9 (guide §2.3, the sourceOverlapMatrix rework): the exact
    // arm used to DISTINCT the (source, bigram-STRING) frame and
    // self-join it on the string key — two corpus-scale exchanges
    // carrying bigram text plus a string-keyed join. One collect_set
    // aggregate over xxhash64 keys replaces both: fixed-width longs
    // cross the single exchange, collect_set dedups (source, h) in-agg
    // with bucket memory bounded by the source-label count, and the
    // pair counts explode locally per bucket. Collision odds: the
    // documented 2^-64 argument; the ORACLE keeps string bigrams.
    val exactInter = kmvTerms(docs)
      .select(col("source"), xxhash64(col("term")).as("h"))
      .groupBy("h").agg(collect_set(col("source")).as("ss"))
      .select(explode(col("ss")).as("source_a"), col("ss"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("exact_inter"))
    est.join(exactInter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        round(col("kmv_jaccard") * col("union_est"), 4).as("kmv_inter"),
        round(col("kmv_jaccard"), 4).as("kmv_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Misra-Gries capacity for the declared heavy-hitters query, named so
    * the oracle derives the SAME threshold divisor (capacity+1). */
  val DefaultMgCapacity = 32

  /** Exact heavy-hitter terms by Misra-Gries bound-then-verify: pass 1
    * folds the token stream into a ≤capacity-entry MG summary
    * (`functions.MisraGries` — partial-aggregated map-side, the exchange
    * carries O(partitions × capacity) rows however large the vocabulary);
    * pass 2 re-counts ONLY the surviving candidates exactly (broadcast
    * semi-join — candidate rows, not the key domain, bound the shuffle)
    * and keeps those at or above t = N div (capacity+1) + 1.
    *
    * EXACT by the MG guarantee: any key with true frequency > N/(cap+1)
    * survives the summary under any partitioning/merge order, and
    * n ≥ floor(N/(cap+1))+1 implies n > N/(cap+1) — so no qualifying key
    * can be missing from the candidates. The oracle is therefore the
    * PLAIN group-by + HAVING definition with no MG logic at all (the
    * bm25_wand standing: pruning must be invisible). SketchSpec pins the
    * guarantee itself on skewed streams across adversarial partitionings,
    * where decrements and merge-subtractions actually fire (the declared
    * corpus's 31-term vocabulary fits the summary; the spec's does not).
    *
    * Scale notes (100 TB): this is the heavy-hitters shape when the key
    * domain (URLs, n-grams, user ids) is too large to groupBy exactly —
    * both passes are scan + bounded-state aggregate; nothing is ever
    * keyed by the full domain except the candidate-filtered recount,
    * whose group count is ≤ capacity. */
  def heavyHitterTerms(docs: DataFrame,
                       capacity: Int = DefaultMgCapacity): DataFrame = {
    val tok = graft.text.Tokenize.termOccurrences(docs).select("term")
    val summary = tok.agg(
      graft.functions.MisraGries.summary(capacity)(col("term")).as("mg"),
      count(lit(1)).as("n_total"))
    val cands = summary.select(col("n_total"),
      explode(map_keys(col("mg"))).as("term"))
    tok.join(broadcast(cands.select("term")), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .join(broadcast(cands), Seq("term"))
      .withColumn("hh_threshold",
        expr(s"n_total div ${capacity + 1}") + lit(1L))
      .filter(col("n") >= col("hh_threshold"))
      .select(col("term"), col("n"), col("hh_threshold"))
      .orderBy(desc("n"), asc("term"))
  }

  /** Exact vs approximate median+p95 order price per priority. */
  def priceQuantilesPerPriority(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("exact_median"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_median"),
        percentile(col("o_totalprice"), lit(0.95)).as("exact_p95"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(10000)).as("approx_p95"))
      .orderBy("o_orderpriority")
}
