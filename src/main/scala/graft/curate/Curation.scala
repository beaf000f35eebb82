package graft.curate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.textstats.TextAnalysis

/** End-to-end corpus curation — the composition every training-data
  * pipeline runs, staged exactly the way the component operators are
  * documented and oracled:
  *
  *   1. language-ID (drop docs no marker list recognizes),
  *   2. quality (min token count + Gopher-style repetition cap),
  *   3. exact dedup (keep the min-doc_id representative per content hash,
  *      computed among quality survivors),
  *   4. near-dup dedup (n-gram Jaccard clusters among exact survivors;
  *      non-representative members drop).
  *
  * Each doc gets its FIRST failing stage as a tag, so the funnel report is
  * one groupBy over a single tagged frame — no per-stage recounting of the
  * corpus, and "kept" is by construction the complement of the drops.
  *
  * Scale notes (100 TB): stages 1-2 and the content hash are one fused
  * scan ([[verdicts]]); stage 3 is one hash aggregate over the narrow
  * verdicts; stage 4 runs the df-capped single-exchange Jaccard pipeline
  * ONLY over docs that survived 1-3 (typically a large reduction before
  * the most expensive stage). Full curation ([[curationTags]]) and
  * `IncrementalCuration` both run [[verdicts]] and [[tags]]. */
object Curation {

  val Stages: Seq[String] = Seq("1_dropped_langid", "2_dropped_quality",
    "3_dropped_exact_dup", "4_dropped_near_dup", "5_kept")

  /** Per-doc verdict: (doc_id, stage) where stage is the first filter the
    * doc failed, or "5_kept": [[tags]] over the checkpointed [[verdicts]],
    * with the near-dup stage shingling the exact representatives' text.
    *
    * The verdict scan tokenizes the whole corpus, and EVERY later stage
    * consumes its verdicts — left as lazy lineage it would recompute
    * behind the exact-dedup build, the Jaccard feed, and the final tag
    * projection (observed 3x cost at bench scale). The verdict frame is 4
    * narrow columns per doc, so it gets one eager localCheckpoint: stats
    * compute once, nothing stays in the session cache manager, and text
    * is re-read from the (cheap, column-pruned) source scan only for the
    * shingles of the exact representatives. */
  def curationTags(docs: DataFrame, minTokens: Long = 5,
                   maxDupTrigramFrac: Double = 0.2, n: Int = 3,
                   minJaccard: Double = 0.5,
                   maxShingleDf: Int = 100): DataFrame =
    tags(verdicts(docs, minTokens, maxDupTrigramFrac).localCheckpoint(true),
      ids => Dedup.shingles(docs.join(ids, Seq("doc_id"), "left_semi"), n),
      minJaccard, maxShingleDf)

  /** Stages 1-2 and the content hash, from ONE fused corpus scan:
    * (doc_id, content_hash, pass_lang, pass_quality). Language, token
    * count, the duplicate-trigram fraction and md5 are all scalar per-row
    * stats, so no stat pipeline joins back on doc_id. The trigram
    * fraction is 1 - |distinct trigrams|/|trigrams|, i.e. two array sizes
    * over the codegen shingle expression: the same integers, double
    * division and round(4) as `TextAnalysis.repetitionStats`, without its
    * explode. Pure per-doc functions of the text, so
    * `IncrementalCuration` memoizes them per content hash. */
  private[curate] def verdicts(docs: DataFrame, minTokens: Long,
                               maxDupTrigramFrac: Double): DataFrame = {
    val tri3 = graft.functions.TextFunctions.shingles(
      graft.text.Tokenize.tokens(col("text")), 3)
    val dtf = when(size(tri3) === 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(tri3)).cast("double") / size(tri3), 4))
    TextAnalysis.withLangGuess(docs)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        (col("lang_guess") =!= "und").as("pass_lang"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("__nt"),
        dtf.as("__dtf"))
      .select(col("doc_id"), col("content_hash"), col("pass_lang"),
        (col("pass_lang") && col("__nt") >= minTokens &&
          col("__dtf") <= maxDupTrigramFrac).as("pass_quality"))
  }

  /** Stages 3-4 and the tag: (doc_id, stage) for every verdict row.
    * `shinglesOf(ids)` gives the (doc_id, shingle) rows of the exact
    * representatives `ids` (doc_id), from text or from a shingle store.
    *
    * Exact dedup keeps the min-doc_id representative per content hash
    * among quality survivors. The election keeps only the representative
    * SET: groupBy(content_hash).min(doc_id) partial-aggregates map-side
    * (a mass-duplicated body collapses to one row per map task before
    * the shuffle, where a per-hash window would put every copy on one
    * task), and every attach downstream is keyed by doc_id, unique and
    * skew-free. Docs absent from `exact` are non-representatives through
    * the left join + coalesce(false). The representative frame has two
    * consumers (the Jaccard feed and the tag join), so it is checkpointed
    * once. */
  private[curate] def tags(verdicts: DataFrame,
                           shinglesOf: DataFrame => DataFrame,
                           minJaccard: Double, maxShingleDf: Int): DataFrame = {
    val exact = verdicts.filter(col("pass_quality"))
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(true).as("__pe"))
      .localCheckpoint(true)
    val dropNear = Dedup.duplicateClusters(Dedup.jaccardPairsFromShingles(
        shinglesOf(exact.select("doc_id")), minJaccard, maxShingleDf))
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"), lit(true).as("__dn"))
    verdicts
      .join(exact, Seq("doc_id"), "left")
      .join(dropNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("pass_lang"), Stages(0))
          .when(!col("pass_quality"), Stages(1))
          .when(!coalesce(col("__pe"), lit(false)), Stages(2))
          .when(coalesce(col("__dn"), lit(false)), Stages(3))
          .otherwise(Stages(4)).as("stage"))
  }

  /** The funnel report: docs dropped per stage + kept. */
  def curationFunnel(docs: DataFrame, minTokens: Long = 5,
                     maxDupTrigramFrac: Double = 0.2, n: Int = 3,
                     minJaccard: Double = 0.5,
                     maxShingleDf: Int = 100): DataFrame =
    curationTags(docs, minTokens, maxDupTrigramFrac, n, minJaccard, maxShingleDf)
      .groupBy("stage").agg(count(lit(1)).as("n"))
      .orderBy("stage")

  /** The one alpha-mix formula, shared by the report (sourceMixWeights)
    * and the executor (budgetSample) so the two can never disagree on the
    * mix (round-3 review: they carried hand-copied pipelines). Input:
    * (source, n_docs, n_tokens) per source; adds UNROUNDED `__share` and
    * normalized `__mix` — callers round(6) at their output edge. */
  private def alphaMix(perSource: DataFrame, alpha: Double): DataFrame = {
    // try_divide, not /: a zero-token corpus makes both totals 0, and the
    // share/mix must degrade to NULL in BOTH engines (DuckDB x/0 is NULL;
    // ANSI Spark would throw — the edge-fixture gate's `empty` corpus)
    val tot = perSource.agg(sum("n_tokens").as("__tot"))
    val shared = perSource.crossJoin(broadcast(tot))
      .withColumn("__share",
        try_divide(col("n_tokens").cast("double"), col("__tot")))
      .withColumn("__w", pow(col("__share"), lit(alpha)))
    val wtot = shared.agg(sum("__w").as("__wtot"))
    shared.crossJoin(broadcast(wtot))
      .withColumn("__mix", try_divide(col("__w"), col("__wtot")))
  }

  /** The DATASET CARD — the one-row manifest a published corpus ships
    * with: volume (docs/tokens/chars), provenance breadth (sources,
    * languages), and integrity (exact-duplicate fraction). One scan into
    * a single aggregate; the count-distincts plan as Spark's
    * partial-preserving distinct expand (the rel_supplier_variety
    * argument), and the dup fraction needs no pair generation — it is
    * n_docs minus distinct content hashes. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val tk = graft.text.Tokenize.tokens(col("text"))
    docs.select(col("source"), col("lang"), col("n_chars"),
        size(tk).cast("long").as("tokens"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_docs"),
        sum("tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        countDistinct("h").as("n_unique"),
        round((count(lit(1)) - countDistinct("h")).cast("double") /
          count(lit(1)), 6).as("dup_frac"),
        round(sum("tokens").cast("double") / count(lit(1)), 6)
          .as("mean_doc_tokens"))
  }

  /** Declarative data-quality expectations over the relational feed — the
    * Deequ-style (Schelter'18, public Amazon Deequ) contract check a
    * pipeline runs before training data is derived from an ingest:
    * completeness, value ranges, accepted domains, key uniqueness, and
    * referential integrity, each reported as (checked, violations,
    * pass/fail).
    *
    * Scale notes (100 TB): every column check folds into ONE conditional
    * aggregate per table — two scans total, no shuffle beyond the 1-row
    * partials; uniqueness is a single distinct-count; the referential
    * check is the one keyed exchange (anti join on the fact's own join
    * key — the shape the fact table is typically already bucketed by).
    * The three 1-row frames crossJoin into one row and unpivot via
    * stack(), so adding a check is adding a column, not a scan. */
  def expectationsReport(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // null comparisons fold to 0 here by design: nulls are charged to the
    // completeness checks, not double-counted by every range check
    def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val li = lineitem.agg(
      count(lit(1)).as("n_li"),
      viol(col("l_orderkey").isNull).as("complete_l_orderkey"),
      viol(!col("l_quantity").between(1, 50)).as("range_l_quantity"),
      viol(!col("l_discount").between(0.0, 0.1)).as("range_l_discount"),
      viol(!col("l_returnflag").isin("A", "N", "R")).as("accepted_l_returnflag"),
      viol(!col("l_linestatus").isin("O", "F")).as("accepted_l_linestatus"),
      viol(col("l_extendedprice") <= 0).as("positive_l_extendedprice"))
    val ord = orders.agg(
      count(lit(1)).as("n_ord"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("unique_o_orderkey"),
      viol(!col("o_orderstatus").isin("P", "O", "F")).as("accepted_o_orderstatus"),
      viol(col("o_totalprice") <= 0).as("positive_o_totalprice"))
    val orphans = lineitem.join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("ref_l_orderkey"))
    li.crossJoin(ord).crossJoin(orphans)
      .select(expr(
        """stack(10,
          |  'complete_l_orderkey', n_li, complete_l_orderkey,
          |  'range_l_quantity', n_li, range_l_quantity,
          |  'range_l_discount', n_li, range_l_discount,
          |  'accepted_l_returnflag', n_li, accepted_l_returnflag,
          |  'accepted_l_linestatus', n_li, accepted_l_linestatus,
          |  'positive_l_extendedprice', n_li, positive_l_extendedprice,
          |  'ref_l_orderkey', n_li, ref_l_orderkey,
          |  'unique_o_orderkey', n_ord, unique_o_orderkey,
          |  'accepted_o_orderstatus', n_ord, accepted_o_orderstatus,
          |  'positive_o_totalprice', n_ord, positive_o_totalprice
          |) as (check, n_checked, n_violations)""".stripMargin))
      .withColumn("status",
        when(col("n_violations") === 0L, "pass").otherwise("fail"))
      .orderBy("check")
  }

  /** Temperature-scaled domain mixing weights (the UnifiedQA / multilingual
    *-LM "alpha sampling" recipe): per source, token share p_s and mixing
    * weight w_s ∝ p_s^alpha normalized over sources. alpha < 1 flattens
    * the mix toward uniform (upsampling small domains), alpha = 1 keeps
    * natural proportions. `resample_factor` = w_s / p_s is the per-source
    * duplication/subsampling rate a pipeline applies to hit the target mix.
    *
    * Scale notes (100 TB): one tokenize scan + a partial+final agg to one
    * row per source; the two normalizing totals are single-row broadcasts.
    * pow/round noise is 1 ulp on ~0.1-magnitude values — invisible at
    * round(6). */
  def sourceMixWeights(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val per = docs
      .select(col("source"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("__nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
    alphaMix(per, alpha)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("__share"), 6).as("token_share"),
        round(col("__mix"), 6).as("mix_weight"),
        round(col("__mix") / col("__share"), 6).as("resample_factor"))
      .orderBy("source")
  }

  /** Deterministic token-budget resampling — the EXECUTOR for
    * sourceMixWeights: allocate `totalBudget` tokens across sources by the
    * alpha-flattened mix weights, then take each source's docs in
    * seeded-hash order until its budget fills. A doc is kept while the
    * cumulative token count BEFORE it is under the source budget, so every
    * source with a positive budget contributes at least one doc and the
    * overshoot is bounded by one doc per source.
    *
    * Scale notes (100 TB): ONE tokenize scan builds the narrow
    * (source, doc_id, n_tokens, key) frame; it is eagerly checkpointed
    * because both the weight aggregation and the selection pass read it
    * (same rationale as curationTags' stats frame). Selection is one
    * window per source over the hash order — hash-partitioned by source,
    * never a global sort. The keep threshold compares an exact integer
    * cumulative sum against weight×budget, where mix weights are the SAME
    * round(6) values sourceMixWeights reports, so the declared report and
    * the executor can never disagree on the mix. */
  def budgetSample(docs: DataFrame, totalBudget: Long, alpha: Double = 0.5,
                   seed: Long = 42): DataFrame = {
    val toks = docs
      .select(col("source"), col("doc_id"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(concat(col("doc_id").cast("string"), lit(s":$seed"))).as("__k"))
      .localCheckpoint(true)
    val per = toks.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    // the SAME round-6 weights sourceMixWeights reports (shared alphaMix)
    val weights = alphaMix(per, alpha)
      .select(col("source"), round(col("__mix"), 6).as("__mix"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("__k", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks.join(broadcast(weights), Seq("source"))
      .withColumn("__cum_before", coalesce(sum("n_tokens").over(win), lit(0L)))
      .filter(col("__cum_before").cast("double") <
        col("__mix") * lit(totalBudget.toDouble))
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .orderBy("source", "doc_id")
  }

  /** Epoch/upsampling plan — the OTHER executor for sourceMixWeights:
    * where budgetSample subsamples down to a budget, this materializes the
    * LLaMA-style data recipe when the budget EXCEEDS the corpus — each
    * source's docs repeat `epochs_full` whole times, plus one partial
    * epoch whose membership is the SAME seeded-hash-order cumulative-token
    * rule budgetSample uses (so a doc's partial-epoch slot is a pure
    * function of (doc_id, seed) — stable under repartition and appends).
    * Emits per doc: (source, doc_id, n_tokens, n_repeats); n_repeats = 0
    * means a sub-1-epoch source dropped the doc, and
    * sum(n_repeats * n_tokens) per source lands within one doc of
    * mix_weight * totalBudget.
    *
    * Scale notes (100 TB): ONE tokenize scan builds the narrow checkpointed
    * frame; weights are a sources-sized broadcast; the partial-epoch window
    * hash-partitions by source over the hash order, never a global sort.
    * Floating math: mix is the round(6) report value, the per-source
    * target/floor are one double op each, and the membership compare is
    * exact-long-cumsum vs a double threshold — the budgetSample contract. */
  def epochPlan(docs: DataFrame, totalBudget: Long, alpha: Double = 0.5,
                seed: Long = 42): DataFrame = {
    val toks = docs
      .select(col("source"), col("doc_id"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("n_tokens"),
        md5(concat(col("doc_id").cast("string"), lit(s":$seed"))).as("__k"))
      .localCheckpoint(true)
    val per = toks.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val plan = alphaMix(per, alpha)
      .select(col("source"), col("n_tokens").as("__src_tokens"),
        round(col("__mix"), 6).as("__mix"))
      .withColumn("__target", col("__mix") * lit(totalBudget.toDouble))
      .withColumn("__epochs_full",
        floor(col("__target") / col("__src_tokens").cast("double")).cast("long"))
      .withColumn("__frac_tokens",
        col("__target") - col("__epochs_full").cast("double") *
          col("__src_tokens").cast("double"))
      .select("source", "__epochs_full", "__frac_tokens")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("__k", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks.join(broadcast(plan), Seq("source"))
      .withColumn("__cum_before", coalesce(sum("n_tokens").over(win), lit(0L)))
      .withColumn("n_repeats", col("__epochs_full") +
        when(col("__cum_before").cast("double") < col("__frac_tokens"), 1L)
          .otherwise(0L))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("n_repeats"))
      .orderBy("source", "doc_id")
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * corpus versions: per doc_id, `added` (only in new), `removed` (only
    * in old), `changed` (both, different content hash), `unchanged`.
    * Exactly the report a training-data release pipeline publishes with a
    * new corpus drop, and the input to incremental reprocessing (only
    * added/changed docs re-enter the curation funnel).
    *
    * Scale notes (100 TB): both sides reduce to (doc_id, md5) BEFORE the
    * full outer join, so the exchange carries two narrow hash frames —
    * text never crosses; one hash-partitioned join on doc_id. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("__oh"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("__nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }

  /** Dedup impact accounting: what the near-dup keep-list actually costs
    * each source, in documents and tokens — the per-provenance report a
    * pipeline publishes alongside its dedup run (heavy removal from one
    * source is either a quality win or a recall bug, and this table is
    * how you tell). `keep` is any (doc_id) frame, normally
    * `Dedup.keepList`.
    *
    * Scale notes (100 TB): one tokenize scan reduces the corpus to
    * (doc_id, source, n_tok); the keep flag arrives by one doc_id-keyed
    * left join of an ids-only frame (broadcastable when the keep list is
    * stored as its own table; hash-join correct regardless); the output
    * aggregate is source-cardinality. */
  /** Quality-retention curve: for each candidate type-token-ratio
    * threshold (0.0, 0.1, ..., 0.9), how many docs and tokens survive a
    * "drop everything below the bar" rule — the report that picks a
    * quality bar by looking at what it costs in training tokens instead
    * of guessing. TTR is the repo's pinned repetition proxy (distinct
    * tokens / tokens). Bucketing is integer-exact at the decile
    * boundaries: bucket = floor(10 * distinct / total) where both sides
    * are exact longs, so a doc with TTR exactly 0.3 lands in bucket 3 in
    * both engines (no float-boundary drift).
    *
    * Scale notes (100 TB): one tokenize scan reduces the corpus to a
    * per-doc (bucket, tokens) pair; the aggregate has at most 10 groups;
    * the cumulative "survivors at or above the bar" sum is a window over
    * a 10-row frame. */
  def qualityRetentionCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.text.Tokenize.tokens(col("text"))
    val perDoc = docs.select(
      when(size(toks) === 0, lit(0L))
        .otherwise(least(floor(lit(10.0) * size(array_distinct(toks))
          / size(toks)), lit(9L))).as("b"),
      size(toks).cast("long").as("nt"))
    val byBucket = perDoc.groupBy("b")
      .agg(count(lit(1)).as("docs"), sum("nt").as("toks"))
    val grid = docs.sparkSession.range(0, 10).toDF("d")
      .join(byBucket.withColumnRenamed("b", "d"), Seq("d"), "left")
      .select(col("d"), coalesce(col("docs"), lit(0L)).as("docs"),
        coalesce(col("toks"), lit(0L)).as("toks"))
    val desc10 = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all10 = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("docs_kept", sum(col("docs")).over(desc10))
      .withColumn("tokens_kept", sum(col("toks")).over(desc10))
      .withColumn("__tot", sum(col("toks")).over(all10))
      .select(round(col("d") / 10.0, 1).as("threshold"),
        col("docs_kept"), col("tokens_kept"),
        round(when(col("__tot") === 0, 0.0)
          .otherwise(col("tokens_kept").cast("double") / col("__tot")), 4)
          .as("token_share"))
      .orderBy("threshold")
  }

  /** Epoch-annealed mix schedule (the "end training on your best data"
    * recipe): per epoch e in 0..E-1, interpolate each source's sampling
    * weight from its NATURAL token share (epoch 0) to its HIGH-QUALITY
    * token share (last epoch), where high-quality = tokens of docs with
    * TTR >= 0.5 (the integer-exact `2*distinct >= total` test).
    *
    * The interpolation is INTEGER-EXACT end to end: with lambda = e/(E-1),
    * weight_e(s) = ((E-1-e)*nat(s)*H + e*hi(s)*T) / ((E-1)*T*H)
    * — numerator and denominator are exact DECIMAL(38,0) products of
    * token counts (T = total tokens, H = total high-quality tokens), and
    * the denominator identity sum_s numer = (E-1)*T*H means the weights
    * sum to exactly 1 before the final double cast. No double is summed
    * anywhere, so there is no accumulation-order hazard to round away.
    * If the corpus has NO high-quality tokens (H = 0) the schedule
    * degenerates to the natural share at every epoch rather than
    * dividing by zero.
    *
    * Scale notes (100 TB): one tokenize scan reduces to per-source token
    * pairs; everything after is source-cardinality arithmetic with a
    * broadcast totals row. */
  def annealingSchedule(docs: DataFrame, epochs: Int = 4): DataFrame = {
    require(epochs >= 2, "annealingSchedule needs >= 2 epochs")
    val toks = graft.text.Tokenize.tokens(col("text"))
    val perDoc = docs.select(col("source"),
      size(toks).cast("long").as("nt"),
      (size(array_distinct(toks)) * 2 >= size(toks) &&
        size(toks) > 0).as("hiq"))
    val bySrc = perDoc.groupBy("source")
      .agg(sum(col("nt")).cast("decimal(38,0)").as("nat"),
        sum(when(col("hiq"), col("nt")).otherwise(0L))
          .cast("decimal(38,0)").as("hi"))
    val tot = bySrc.agg(sum(col("nat")).cast("decimal(38,0)").as("tt"),
      sum(col("hi")).cast("decimal(38,0)").as("hh"))
    val eMax = epochs - 1
    val grid = docs.sparkSession.range(0, epochs).toDF("epoch")
    bySrc.crossJoin(broadcast(tot)).crossJoin(grid)
      .select(col("epoch"), col("source"),
        // tt = 0 (a corpus with zero tokens) has no natural share to
        // anneal from: weight is explicitly NULL — ANSI division would
        // otherwise throw here (caught by the empty edge fixture)
        when(col("tt") === 0, lit(null).cast("double"))
          .when(col("hh") === 0,
            round(col("nat").cast("double") / col("tt").cast("double"), 6))
          .otherwise(round(
            ((lit(eMax) - col("epoch")) * col("nat") * col("hh") +
              col("epoch") * col("hi") * col("tt")).cast("double") /
              (lit(eMax) * col("tt") * col("hh")).cast("double"), 6))
          .as("weight"))
      .orderBy("epoch", "source")
  }

  def dedupImpact(docs: DataFrame, keep: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"), col("source"),
      size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("__nt"))
    perDoc
      .join(keep.select(col("doc_id"), lit(1L).as("__k")), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__k"), lit(0L))).as("n_kept"),
        sum(col("__nt")).as("n_tokens"),
        sum(when(col("__k").isNotNull, col("__nt")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("n_tokens"),
        col("tokens_kept"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise((col("n_tokens") - col("tokens_kept")).cast("double") /
            col("n_tokens")), 4).as("removed_token_frac"))
      .orderBy("source")
  }

  /** The curated corpus: every surviving doc, whole rows. */
  def curatedDocs(docs: DataFrame, minTokens: Long = 5,
                  maxDupTrigramFrac: Double = 0.2, n: Int = 3,
                  minJaccard: Double = 0.5,
                  maxShingleDf: Int = 100): DataFrame =
    docs.join(
      curationTags(docs, minTokens, maxDupTrigramFrac, n, minJaccard, maxShingleDf)
        .filter(col("stage") === Stages(4)).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** DoReMi-style domain reweighting (arXiv:2305.10429, data-only
    * analogue): multiplicative-weights ascent on per-domain EXCESS LOSS.
    * One corpus scan computes each source's proxy loss (here:
    * chars-per-token — a deterministic stand-in for the proxy-model loss
    * the paper trains); `rounds` mirror-ascent steps then shift weight
    * toward domains whose loss exceeds the current weighted baseline,
    * exactly the Group-DRO update DoReMi runs between proxy epochs:
    * baseline_t = Σ_s w_s·loss_s, w_s ← w_s·exp(eta·max(0, loss_s −
    * baseline_t)) / Z. Starts from the reference distribution (token
    * share), like the paper.
    *
    * Determinism / oracle parity: per-source sums are exact (longs);
    * every weighted sum in the loop accumulates as DECIMAL(28,18) of
    * IEEE double products (the kmeansFit discipline — order-independent,
    * engine-exact) and weights re-anchor at round(6) every step, so exp's
    * 1-ulp cross-engine wobble never compounds.
    *
    * Scale notes (100 TB): the heavy work is ONE tokenize scan into a
    * per-source partial+final agg; the mirror-ascent loop runs on the
    * driver over S scalars, where S = number of domains — inherently
    * small (a corpus has tens of domains, not millions), the same
    * driver-scalar budget as kmeansFit's convergence reads. */
  def doremiWeights(docs: DataFrame, eta: Double = 2.0,
                    rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // CAST(d AS DECIMAL(28,18)) exactly as both engines spell it: the
    // EXACT binary double (not its shortest string form) rounded to 18
    // fractional digits — so the decimal-exact sums below are the same
    // numbers the oracle's CAST(SUM(CAST(..))) chain produces
    def dec18(d: Double): java.math.BigDecimal =
      new java.math.BigDecimal(d).setScale(18, java.math.RoundingMode.HALF_UP)
    val per = docs.select(col("source"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("__nt"),
        col("n_chars"))
      .groupBy("source")
      .agg(sum("__nt").as("n_tokens"), sum("n_chars").as("n_chars"))
      .filter(col("n_tokens") > 0)
      .select(col("source"), col("n_tokens"),
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          .as("loss"))
      .orderBy("source")
      .collect()
    // zero-token corpus: no surviving source rows — empty result with
    // the schema intact rather than an empty-reduce throw below
    if (per.isEmpty)
      return Seq.empty[(String, Long, Double, Double, Double, Double)]
        .toDF("source", "n_tokens", "loss", "ref_weight", "doremi_weight",
          "reweight_factor")
    val sources = per.map(_.getString(0))
    val nTokens = per.map(_.getLong(1))
    val loss = per.map(_.getDouble(2))
    val tot = nTokens.sum.toDouble
    val w0 = nTokens.map(t => r6(t.toDouble / tot))
    var w = w0.clone()
    var t = 0
    while (t < rounds) {
      // exact decimal sum of IEEE products — order-independent, and the
      // same arithmetic the oracle spells CAST(SUM(CAST(.. AS DECIMAL)))
      val baseline = r6(w.indices
        .map(i => dec18(w(i) * loss(i)))
        .reduce(_.add(_)).doubleValue)
      val raw = w.indices.map(i =>
        w(i) * math.exp(eta * math.max(0.0, loss(i) - baseline))).toArray
      val z = raw.map(dec18).reduce(_.add(_)).doubleValue
      w = raw.map(x => r6(x / z))
      t += 1
    }
    sources.indices.map(i =>
        (sources(i), nTokens(i), loss(i), w0(i), w(i), r6(w(i) / w0(i))))
      .toDF("source", "n_tokens", "loss", "ref_weight", "doremi_weight",
        "reweight_factor")
      .orderBy("source")
  }

  /** DSIR importance weights (Xie et al., NeurIPS'23 "Data Selection for
    * Language Models via Importance Resampling"): every document scored by
    * how much more likely its HASHED-BIGRAM features are under the target
    * slice's distribution than under the raw corpus's —
    *
    *   w(doc) = Σ_occ [ ln p_target(b) − ln p_raw(b) ],
    *   p(b) = (c(b)+1) / (N+B)   (add-one over B hash buckets)
    *
    * where b = first-6-hex-of-md5(bigram) mod B, the paper's
    * hashed-n-gram feature map (collisions are part of the estimator, not
    * an error). High-weight docs are the ones importance resampling keeps
    * to match the target domain. The target here is a source slice — the
    * curated/trusted corpus a pipeline reweights toward.
    *
    * Scale notes (100 TB): both feature distributions are B-row tables
    * regardless of corpus size — broadcast by construction; the
    * occurrence frame hash-joins them without moving, then one exchange
    * keys by doc for the sum. The `crossLmScores` shape with a
    * fixed-size model instead of a vocabulary-sized one. */
  def dsirWeights(docs: DataFrame, targetSource: String,
                  buckets: Int = 1024): DataFrame = {
    val tf = graft.functions.TextFunctions
    val bD = lit(buckets.toDouble)
    val occ = docs.select(col("doc_id"), col("source"),
        graft.text.Tokenize.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        explode(tf.bigrams(col("t"))).as("bigram"))
      .withColumn("b",
        conv(substring(md5(col("bigram")), 1, 6), 16, 10).cast("long") %
          buckets)
    // Round-9 (guide §1.2 step 1 — don't compute things twice): raw and
    // target bucket counts fuse into ONE aggregate over the occ lineage
    // (conditional sum instead of a second filtered scan), and the two
    // corpus totals re-derive from the 1024-row bucket frame instead of
    // a third scan — the tokenize+bigram+md5 projection, the most
    // expensive per-row work here, now evaluates twice (stats + scored)
    // instead of four times. Counts are identical by construction
    // (nr = Σcr, nt = Σct; a bucket absent from tgt scores ct = 0 in
    // both spellings), so every lp double is unchanged.
    val stats = occ.groupBy("b").agg(count(lit(1)).as("cr"),
      sum((col("source") === targetSource).cast("long")).as("ct"))
    val totals = stats.agg(
      sum("cr").cast("long").as("nr"), sum("ct").cast("long").as("nt"))
    val scored = occ.select("doc_id", "b")
      .join(broadcast(stats), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) /
            (col("nt").cast("double") + bD)) -
          log((col("cr").cast("double") + lit(1.0)) /
            (col("nr").cast("double") + bD))).as("lp"))
    val per = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), round(sum("lp"), 4).as("log_ratio"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("log_ratio"))
      .orderBy("doc_id")
  }

  /** Leakage-safe train/val/test split: assignment at NEAR-DUP-CLUSTER
    * granularity, not per doc. A plain per-doc hash split (samp_hash_split)
    * silently leaks on a real corpus — two near-identical documents land
    * in train and test with probability 2·p·(1-p), and eval measures
    * memorization. Here every doc inherits the split of its duplicate
    * cluster (group_id = the cluster's min doc_id; singletons group as
    * themselves), so near-dup pairs can never straddle a boundary — the
    * same md5-bucket assignment contract as Sampling.hashSplit, applied
    * to the group key.
    *
    * Scale notes (100 TB): the cluster frame covers only docs that HAVE a
    * near-duplicate (a small fraction of a deduplicated-input corpus), so
    * the left join is corpus × small; the split itself is one md5
    * projection. Stability: adding a new doc never moves an existing
    * GROUP between splits (pure function of group_id + seed); a new edge
    * can merge two groups, which correctly re-homes the smaller one —
    * that is the leakage fix working, not churn. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       seed: Long = graft.sources.Sampling.DefaultSplitSeed,
                       val256: Int = graft.sources.Sampling.DefaultVal256,
                       test256: Int = graft.sources.Sampling.DefaultTest256): DataFrame = {
    val cl = Dedup.duplicateClusters(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val grouped = docs.select("doc_id").join(cl, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
    graft.sources.Sampling.hashSplit(grouped, "group_id", seed, val256, test256)
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Train→eval contamination audit over a split assignment: for every
    * val/test doc, how many of its distinct n-token windows also occur in
    * ANY train doc. This is the check a pipeline runs AFTER splitting —
    * near-dup-grain leakage is prevented by leakageSafeSplit's cluster
    * grouping, but verbatim sub-document overlap (a quoted paragraph, a
    * shared boilerplate block) can still cross the boundary below the
    * cluster threshold, and this reports exactly that residue.
    *
    * Scale notes (100 TB, reworked round 9 and again round 10): the
    * split label is computed INLINE before tokenization — it needs only
    * the near-dup cluster frame (docs that HAVE a duplicate, small by
    * construction and localCheckpointed), so the label rides the scan
    * instead of joining the corpus-windows frame against a
    * doc-cardinality split frame — and windows are keyed by their
    * 8-byte xxhash64, never the packed 8-token string (round 9; 2^-64
    * per-pair collision odds, the md5-keyed exact-dedup argument; the
    * DuckDB oracle keeps string windows and stays hash-exact). Round 10
    * replaces round 9's flag-as-window-max with a partial-aggregated
    * train-window set + a streaming join over the eval minority (see
    * inline) so no hot boilerplate window can concentrate on one task.
    * The h-keyed exchanges remain deliberate (vs broadcasting a
    * train-window set, which dies at 100 TB): per-task state stays
    * bounded at any corpus size. */
  def splitContamination(docs: DataFrame, pairs: DataFrame,
                         n: Int = 8): DataFrame = {
    val cl = Dedup.duplicateClusters(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val labeled = graft.sources.Sampling.hashSplit(
      docs.select("doc_id", "text").join(cl, Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id"))),
      "group_id")
    val sh = labeled.select(col("doc_id"), col("split"),
        explode(array_distinct(graft.functions.TextFunctions.shingles(
          graft.text.Tokenize.tokens(col("text")), n))).as("shingle"))
      .select(col("doc_id"), col("split"),
        xxhash64(col("shingle")).as("h"))
    // Round-10 skew fix (guide §2.5; round-9 verdict item 2): round 9
    // computed the train flag as max(split='train') over
    // Window.partitionBy(h) — one exchange, but a window has NO partial
    // aggregation: every occurrence of a hot window (boilerplate in
    // millions of docs) lands on one task and is BUFFERED there
    // (WindowExec holds each key group in memory/spill), plus the whole
    // corpus-window frame paid the window's mandatory per-partition
    // sort. Split the sides instead: the TRAIN windows collapse to a
    // distinct h set whose PARTIAL-distinct aggregate collapses a hot
    // key map-side before its shuffle (boilerplate never concentrates),
    // and only the EVAL windows (the val/test minority) stream through
    // a left SHUFFLE_HASH join against it — no sort, no buffering
    // anywhere, and AQE's skew-join splitting can cut a hot eval
    // partition, which it can never do for a window. The opposite split
    // filters push below the tokenize, so the two sides tokenize
    // DISJOINT doc sets — one corpus tokenize total, exactly as before
    // (the filters also make the two exchange subtrees canonically
    // different, so no shared-exchange spelling exists here; the label
    // lineage re-evaluates per side, a scan-shaped cost the removed
    // corpus-wide sort pays for). Same flag semantics (h appears in
    // some train doc), same xxhash64 keys; the DuckDB oracle keeps
    // string windows and stays hash-exact.
    val trainH = sh.filter(col("split") === "train")
      .select("h").distinct()
      .withColumn("__t", lit(1L))
      // shuffle_hash, not broadcast: the train-window set is
      // corpus-scale (unbounded), and the build side arrives
      // pre-partitioned by h from its distinct aggregate
      .hint("shuffle_hash")
    val counts = sh.filter(col("split") =!= "train")
      .join(trainH, Seq("h"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_windows"),
        sum(coalesce(col("__t"), lit(0L))).as("n_shared_windows"))
    labeled.filter(col("split") =!= "train").select("doc_id", "split")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared_windows"), lit(0L)).as("n_shared_windows"))
      .orderBy("doc_id")
  }

  /** Largest-remainder (Hamilton) apportionment of an integer budget
    * across sources proportional to their token mass — the EXACT-integer
    * allocator behind every "N docs per source" sampling config (float
    * proportional shares either over- or under-fill the budget once
    * rounded; Hamilton is the standard fix: floor every quota, then hand
    * the leftover seats to the largest remainders).
    *
    * Everything is integer arithmetic on exact products (budget * tokens
    * fits a 38-digit decimal; quotas compare by integer remainder, ties
    * by source name), so the allocation — including which sources win a
    * remainder seat — is bit-identical in any engine, and the shares sum
    * to EXACTLY the budget by construction.
    *
    * Scale: one tokenize scan to per-source totals; the window ranks
    * SOURCE-cardinality rows. */
  def apportionBudget(docs: DataFrame, totalBudget: Long = 10000L)
      : DataFrame = {
    val per = docs.select(col("source"),
        size(graft.text.Tokenize.tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").cast("decimal(38,0)").as("tt"))
    // exact integer quota arithmetic in DECIMAL(38,0): base = integral
    // quota (everything nonnegative, so div == floor), rem = the
    // numerator remainder (comparable across sources — shared divisor).
    // A zero-token corpus (tt = 0) allocates nothing — and must not hit
    // the ANSI divide-by-zero (caught by the empty edge fixture).
    val q = per.crossJoin(broadcast(tot))
      .withColumn("num",
        col("n_tokens").cast("decimal(38,0)") * lit(totalBudget))
      .withColumn("base",
        expr("CASE WHEN tt = 0 THEN CAST(0 AS BIGINT) ELSE num div tt END"))
      .withColumn("rem", expr("CASE WHEN tt = 0 THEN num ELSE num % tt END"))
    val byRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    q.withColumn("total_base",
        sum("base").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("extra",
        when(col("tt") === 0, 0L)
          .when(col("rk") <= lit(totalBudget) - col("total_base"), 1L)
          .otherwise(0L))
      .select(col("source"), col("n_tokens"),
        (col("base") + col("extra")).cast("long").as("alloc"))
      .orderBy("source")
  }
}
