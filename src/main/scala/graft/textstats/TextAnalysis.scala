package graft.textstats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.Tokenize

/** Text-analysis ops a training-data pipeline runs at corpus scale:
  * token counting, quality scoring, language-ID heuristics, canonical
  * fingerprinting. All are single-pass scalar pipelines (no shuffle until
  * the optional aggregate), built from codegen'd built-ins.
  */
object TextAnalysis {

  /** Stopword marker lists for the n-gram/marker language heuristic. The
    * synthetic corpus is English-ish; real corpora extend the map. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  private def toks: Column = Tokenize.tokens(col("text"))

  /** Corpus mix report: per (source, lang) — doc count, char and token
    * totals, mean doc length. THE table a curation run reads to set
    * domain/language mixing weights before training. One tokenize pass,
    * partial+final aggregation to a tiny result; mean is unrounded because
    * exact-long sum / count is a single identical double division in any
    * engine. */
  def sourceStats(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(toks).cast("long")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
      .orderBy("source", "lang")

  /** Robust per-source length-outlier report: median + MAD (median
    * absolute deviation) over token counts, and how many docs sit more
    * than `k` MADs from their source's median — the outlier detector a
    * curation run uses where mean/stddev would be dragged by the very
    * outliers it hunts (one 10M-token doc shifts a mean; it cannot shift
    * a median).
    *
    * Scale shape: the corpus reduces to one (source, len) row per doc in
    * a single tokenize scan; both medians are exact interpolated
    * percentiles over that narrow frame, and the per-source median/MAD
    * tables are broadcast back (sources are feeds — tiny). Lengths are
    * cast to DOUBLE before median so both engines interpolate in the
    * same type; every derived value (dev, k*mad) is exact IEEE on
    * integer-or-half values. MAD = 0 (over half the source identical)
    * degrades to "any deviation is an outlier" — the documented contract,
    * same CASE on both engines. */
  def madOutlierStats(docs: DataFrame, k: Double = 3.0): DataFrame = {
    val lens = docs.select(col("source"),
      size(toks).cast("double").as("len"))
    val med = lens.groupBy("source").agg(median(col("len")).as("med"))
    val withMed = lens.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("len") - col("med")))
    val mad = withMed.groupBy("source").agg(median(col("dev")).as("mad"))
    withMed.join(broadcast(mad), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("median_len"), // constant within the group
        max(col("mad")).as("mad"),
        sum(when(when(col("mad") > 0, col("dev") > lit(k) * col("mad"))
          .otherwise(col("dev") > 0), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("source")
  }

  /** Per-doc percentile calibration across sources — the APPLY side of
    * the drift monitors (ksLengthDrift says "source X's length
    * distribution is shifted"; this says "THIS doc is p93 within its
    * source but p41 globally", the gap a mixing recipe corrects when it
    * thresholds a quality score per-source instead of globally).
    *
    * percent_rank = (rank - 1)/(n - 1) = (#docs with a smaller length) /
    * (n - 1), ties sharing a rank. Computed WITHOUT any per-doc window:
    * both rank tables derive from the aggregated length HISTOGRAM, whose
    * cumulative windows are bounded by the length support (the ksLengthDrift
    * argument) — a naive global percent_rank() would single-partition-sort
    * every doc. Docs then join the two support-sized tables (broadcast) on
    * their integer length. All ratios are exact-integer divisions.
    * Single-doc sources report 0 (the rank definition), same CASE on both
    * engines. */
  def percentileCalibration(docs: DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), col("source"),
      size(toks).cast("long").as("len"))
    val wS = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, -1)
    val srcRank = lens.groupBy("source", "len").agg(count(lit(1)).as("c"))
      .withColumn("cum_lt", coalesce(sum("c").over(wS), lit(0L)))
      .withColumn("n_src", sum("c").over(Window.partitionBy("source")))
    val wA = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, -1)
    val allRank = lens.groupBy("len").agg(count(lit(1)).as("ca"))
      .withColumn("cum_all", coalesce(sum("ca").over(wA), lit(0L)))
      .withColumn("n_all", sum("ca").over(Window.partitionBy(lit(1))))
    val pSrc = when(col("n_src") > 1,
      col("cum_lt").cast("double") / (col("n_src") - 1)).otherwise(lit(0.0))
    val pAll = when(col("n_all") > 1,
      col("cum_all").cast("double") / (col("n_all") - 1)).otherwise(lit(0.0))
    lens
      .join(broadcast(srcRank.select("source", "len", "cum_lt", "n_src")),
        Seq("source", "len"))
      .join(broadcast(allRank.select("len", "cum_all", "n_all")), Seq("len"))
      .select(col("doc_id"), col("source"), col("len"),
        round(pSrc, 6).as("pct_src"),
        round(pAll, 6).as("pct_all"),
        round(pSrc - pAll, 6).as("calibration_gap"))
      .orderBy("doc_id")
  }

  /** Deterministic text normalization — the first stage every ingest
    * pipeline runs before hashing/dedup (two byte-identical-after-cleanup
    * docs must collide): control characters strike to spaces, whitespace
    * runs collapse, edges trim. Emitted as the cleaned hash + length
    * deltas (the cleaned TEXT would dominate the result set; the hash is
    * what dedup consumes anyway). Pure per-row column ops in one codegen
    * stage — no shuffle at all until the output sort. */
  def normalizeText(docs: DataFrame): DataFrame =
    // sort below the projection (see qualityScores)
    docs.select(col("doc_id"), col("n_chars"), col("text"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("n_chars").as("chars_before"),
        trim(regexp_replace(regexp_replace(col("text"),
          "[\\x00-\\x1F\\x7F]", " "), " +", " ")).as("__t"))
      .select(col("doc_id"), md5(col("__t")).as("norm_hash"),
        col("chars_before"), length(col("__t")).cast("long").as("chars_after"))

  /** UTF-8 byte-economics per language — the tokenizer-budgeting input
    * (byte-level tokenizers pay bytes_per_char; a BPE trained on English
    * pays the non-ASCII share in byte-fallback tokens). One codegen scan:
    * chars vs encoded bytes vs ASCII-only chars, aggregated per lang.
    * All ratios are exact-long divisions performed once, after the sums. */
  def utf8Stats(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("bytes"),
        length(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""))
          .cast("long").as("ascii_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").as("total_chars"),
        sum("bytes").as("total_bytes"),
        // try_divide: an all-empty-text lang has 0 chars and the ratios
        // must be NULL in both engines (DuckDB x/0), not an ANSI throw
        round(try_divide(sum("bytes").cast("double"), sum("chars")), 6)
          .as("bytes_per_char"),
        round(try_divide((sum("chars") - sum("ascii_chars")).cast("double"),
          sum("chars")), 6).as("non_ascii_share"))
      .orderBy("lang")

  /** Skip-gram training-pair generation with DETERMINISTIC negative
    * sampling — the embedding-training data prep (word2vec family): every
    * directed (center, context) co-occurrence within ±`window`, aggregated
    * with a min-count cut, plus `negK` negatives per surviving pair.
    *
    * Negative sampling is made reproducible (and engine-checkable) the
    * hashSplit way: the vocabulary is laid out once into SLOTS in
    * seeded-md5 order (one row_number window over the Heaps-law-bounded
    * vocab — support-sized, never corpus-sized), and pair i's negative is
    * the slot at hex8Int(md5(center:context:i:seed)) mod V — a pure
    * function of the pair, stable under repartition and appends, replacing
    * word2vec's stateful unigram-table draws with something a 1000-executor
    * run can re-derive identically.
    *
    * Scale shape: pair generation is 2·window zip_with arms per doc
    * (linear in tokens, never per-doc quadratic — the pmiPairs argument);
    * the negative join exchanges pairs·negK rows hashed by slot against
    * the vocab-sized slot table. */
  def skipgramPairs(docs: DataFrame, window: Int = 2, minCount: Long = 5,
                    negK: Int = 2, seed: Long = 42L): DataFrame = {
    val tk = toks
    val arms = (1 to window).flatMap { off =>
      val l = slice(tk, lit(1), greatest(size(tk) - off, lit(0)))
      val r = slice(tk, lit(off + 1), greatest(size(tk) - off, lit(0)))
      Seq(
        docs.select(explode(zip_with(l, r,
          (a, b) => struct(a.as("center"), b.as("context")))).as("p")),
        docs.select(explode(zip_with(l, r,
          (a, b) => struct(b.as("center"), a.as("context")))).as("p")))
    }
    val pos = arms.reduce(_ unionByName _)
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
    val slotW = Window.orderBy(
      md5(concat_ws(":", col("term"), lit(seed))), col("term"))
    // vocabulary-sized; checkpointed because the __v scalar subquery and
    // the slot join would otherwise each re-run the corpus token scan +
    // distinct behind it (round-9, the pmiPairs totals finding)
    val negTable = docs.select(explode(tk).as("term")).distinct()
      .select(col("term").as("negative"),
        (row_number().over(slotW) - 1).cast("long").as("slot"))
      .localCheckpoint(true)
    val vSize = negTable.agg(count(lit(1)).as("__v"))
    pos
      .select(col("center"), col("context"), col("n_cooc"),
        explode(sequence(lit(0), lit(negK - 1))).as("neg_idx"))
      .crossJoin(broadcast(vSize))
      .withColumn("slot", graft.sources.Sampling.hex8Int(md5(concat_ws(":",
        col("center"), col("context"), col("neg_idx"), lit(seed)))) % col("__v"))
      .join(negTable, Seq("slot"))
      .select(col("center"), col("context"), col("n_cooc"),
        col("neg_idx"), col("negative"))
      .orderBy("center", "context", "neg_idx")
  }

  /** Vocabulary-richness profile per source: token/type totals, hapax
    * legomena (terms occurring exactly once), type-token ratio and hapax
    * share — the Zipf-tail diagnostics a curation run uses to spot
    * template-generated or over-deduplicated slices (unnaturally low
    * hapax share) before training. One tokenize scan into a (source,
    * term) partial+final count, then a per-source re-aggregation of the
    * (already small) term-count frame; nothing ever crosses with the
    * corpus text again. Ratios are exact-long divisions rounded at the
    * output edge. */
  def vocabularyStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(toks).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("__n"))
      .groupBy("source")
      .agg(sum("__n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_share"))
      .orderBy("source")

  /** Token counts: regex tokens + whitespace tokens per doc. */
  def tokenCounts(docs: DataFrame): DataFrame =
    // sort below the projection (see qualityScores): one evaluation of
    // the two tokenize passes, at shuffle parallelism
    docs.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("n_ws_tokens"))

  /** Within-document repetition (the Gopher/C4 repetition filter family):
    * duplicate-trigram fraction (1 - distinct/total) and the hottest
    * bigram's share of all bigrams. Docs too short for an n-gram size
    * score 0. Two explode+aggregate passes over the codegen'd shingle
    * expression, joined back per doc — map-side combine keeps the shuffles
    * at (doc, partial) size. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toksOf = docs.select(col("doc_id"), Tokenize.tokens(col("text")).as("t"))
    // Round-9 (guide §1.2 step 1): the trigram fraction is a PER-ROW
    // quantity — 1 - |distinct trigrams|/|trigrams| — i.e. two array
    // sizes over the codegen shingle expression; the old explode +
    // count/countDistinct exchange computed the same integers with a
    // corpus-grain shuffle. The bigram branch keeps its aggregate (max
    // multiplicity is not an array-size). Same integers, same double
    // division, same round(4); zero-trigram docs score 0.0 in both
    // spellings (previously via the missing-row coalesce).
    val g3 = graft.functions.TextFunctions.shingles(col("t"), 3)
    val tri = toksOf.select(col("doc_id"),
      size(g3).cast("long").as("n_tri"),
      size(array_distinct(g3)).cast("long").as("n_tri_d"))
    val big = toksOf.select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("t"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_big"), sum("c").as("n_big"))
    tri
      .join(big, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(when(col("n_tri") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_tri_d").cast("double") / col("n_tri")),
          4).as("dup_trigram_frac"),
        round(coalesce(col("max_big").cast("double") / col("n_big"),
          lit(0.0)), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Quality heuristics: length, mean token length, type-token ratio,
    * stopword ratio — the length/punct/stopword family of filters.
    *
    * The global doc_id sort runs BELOW the projection (round-8 100x
    * probe finding): a Sort above a heavy projection makes the range
    * sampler execute the projection a second time to draw its keys, and
    * pins both evaluations to scan-stage parallelism (file-layout-bound
    * — 4 tasks on the flattened 100x fixture). Sorting the raw
    * (doc_id, text) rows first costs a wider exchange but evaluates the
    * 5-expression token pipeline ONCE, at shuffle parallelism, and a
    * Project preserves the child's ordering. Measured at 100x:
    * 49.3 s -> 4.1 s for the identical result. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val n = size(toks).cast("double")
    docs.select(col("doc_id"), col("text")).orderBy("doc_id").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      round(when(n === 0, 0.0)
        .otherwise(aggregate(transform(toks, t => length(t).cast("double")),
          lit(0.0), (acc, v) => acc + v) / n), 4).as("avg_token_len"),
      round(when(n === 0, 0.0)
        .otherwise(size(array_distinct(toks)) / n), 4).as("type_token_ratio"),
      round(when(n === 0, 0.0)
        .otherwise(size(array_intersect(toks,
          array(LangMarkers("en").map(lit): _*))) / n), 4)
        .as("stopword_type_ratio"))
  }

  /** Sentence-level quality stats — the C4/Gopher sentence rules the
    * doc-level quality family cannot see: sentence count (C4 drops docs
    * under 3 sentences), tokens-per-sentence (wall-of-text vs listicle
    * shape), and whether the doc ends in terminal punctuation (C4's
    * terminal-punctuation rule). Sentences are [.!?]+-delimited segments
    * with blank segments dropped, so both engines agree on boundaries
    * without a linguistic sentence model. One scan, pure column ops. */
  def sentenceStats(docs: DataFrame): DataFrame = {
    val segs = filter(split(col("text"), "[.!?]+"),
      s => length(trim(s)) > 0)
    val ns = size(segs).cast("long")
    // sort below the projection (see qualityScores)
    docs.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"), ns.as("n_sentences"),
        round(when(ns === 0, 0.0)
          .otherwise(size(toks).cast("double") / ns), 4)
          .as("tokens_per_sentence"),
        col("text").rlike("[.!?]\\s*$").as("ends_terminal"))
  }

  /** Linear quality probe, fit CLOSED-FORM: least-squares
    * stopword_occurrences ~ a + b * token_count over the whole corpus,
    * then each source's deviation from the corpus line — the
    * outlier-source detector a curation run uses to spot slices whose
    * stopword density departs from the corpus-wide relationship
    * (templated/generated text runs low; scraped boilerplate runs high).
    *
    * Numeric discipline (the rel_welford_stats / KS-drift rule): every
    * aggregate is an exact BIGINT sum (n, Σx, Σy, Σxx, Σxy, Σyy — x and
    * y are per-doc integers), and ALL floating arithmetic happens after
    * aggregation in one fixed expression tree over those sums, so the
    * result is independent of partition order and identical in any
    * IEEE-conforming engine. A naive sum of double residuals would be
    * order-dependent and could never hash-match the oracle. The
    * per-source sum of squared residuals expands algebraically
    * (Σ(y-a-bx)² = Σyy - 2bΣxy - 2aΣy + na² + 2abΣx + b²Σxx) so it too
    * derives from the exact sums.
    *
    * Scale: one tokenize scan into per-source partial sums (map-side
    * combine), the 6 corpus totals broadcast back — no second scan, no
    * shuffle of anything wider than (source, 6 longs). */
  def qualityRegression(docs: DataFrame,
                        markers: Seq[String] = LangMarkers("en")): DataFrame = {
    val x = size(toks).cast("long")
    val y = size(filter(toks, t => t.isInCollection(markers))).cast("long")
    val perDoc = docs.select(col("source"), x.as("x"), y.as("y"))
    val totals = perDoc.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val perSrc = perDoc.groupBy("source").agg(
      count(lit(1)).as("ns"), sum("x").as("sxs"), sum("y").as("sys"),
      sum(col("x") * col("x")).as("sxxs"),
      sum(col("x") * col("y")).as("sxys"),
      sum(col("y") * col("y")).as("syys"))
    // exact longs -> double ONCE, then a fixed tree (see scaladoc)
    val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double"); val sxxD = col("sxx").cast("double")
    val sxyD = col("sxy").cast("double")
    val den = nD * sxxD - sxD * sxD
    val slope = when(den === 0.0, 0.0).otherwise((nD * sxyD - sxD * syD) / den)
    val nsD = col("ns").cast("double")
    perSrc.crossJoin(broadcast(totals))
      .withColumn("slope", slope)
      .withColumn("intercept", (syD - col("slope") * sxD) / nD)
      .withColumn("mean_resid",
        (col("sys").cast("double") - col("slope") * col("sxs").cast("double") -
          col("intercept") * nsD) / nsD)
      .withColumn("ssr",
        col("syys").cast("double") -
          lit(2.0) * col("slope") * col("sxys").cast("double") -
          lit(2.0) * col("intercept") * col("sys").cast("double") +
          nsD * col("intercept") * col("intercept") +
          lit(2.0) * col("slope") * col("intercept") * col("sxs").cast("double") +
          col("slope") * col("slope") * col("sxxs").cast("double"))
      .select(col("source"), col("ns").as("n_docs"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("mean_resid"), 6).as("mean_resid"),
        round(sqrt(greatest(col("ssr"), lit(0.0)) / nsD), 6).as("rmse"))
      .orderBy("source")
  }

  /** Marker-word language guess: argmax of distinct-marker hits per
    * language, ties and zero-hits -> "und". Deterministic CASE cascade. */
  def languageGuess(docs: DataFrame): DataFrame =
    withLangGuess(docs).select(col("doc_id"), col("lang_guess"))
      .orderBy("doc_id")

  /** `docs` plus a `lang_guess` column (and a consumed-internal `best`
    * projection) — the composable form, so callers that need language AND
    * other scalar text stats (Curation.curationTags) pay ONE corpus scan
    * instead of a scan per stat frame. */
  private[graft] def withLangGuess(docs: DataFrame): DataFrame = {
    val scores = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(array_intersect(array_distinct(toks),
        array(markers.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (alphabetical) reaching the max wins; max 0 -> "und"
    val guess = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(col("best") > 0 && s === col("best"), lit(lang)).otherwise(acc)
    }
    docs.withColumn("best", best)
      .withColumn("lang_guess", guess)
      .drop("best")
  }

  /** Language-MIXTURE detection — the code-switching / boilerplate-splice
    * signal the single-label guess (`languageGuess`) cannot express: a doc
    * whose marker hits split across languages is usually concatenated
    * boilerplate, machine-translation residue, or a scrape joining two
    * pages, and pipelines route it to segmentation instead of a single
    * language bucket. Per doc: marker OCCURRENCE counts per language
    * (occurrences, not distinct — mixture is about mass), languages hit,
    * the dominant language (ties alphabetical, zero hits → "und"), its
    * share, and the Shannon entropy of the share vector (0 = pure,
    * ln 4 ≈ 1.386 = perfectly mixed over the 4 marker sets).
    *
    * Determinism: counts are exact ints; share/entropy is one fixed
    * double tree over the languages in alphabetical order, identical in
    * both engines; round(4) at the edge. One scan, no shuffle but the
    * output sort. */
  def langMixture(docs: DataFrame): DataFrame = {
    val langs = LangMarkers.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isInCollection(markers))).cast("long")
    }
    def h(l: String) = col(s"__h_$l")
    // sort below the projection (see qualityScores): the per-language
    // marker filters are evaluated once, post-exchange
    val keyed = docs.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id") +:
      hitCols.map { case (l, c) => c.as(s"__h_$l") }: _*)
      .withColumn("__tot", langs.map(l => h(l._1)).reduce(_ + _))
      .withColumn("__top",
        langs.map(l => h(l._1)).reduce((a, b) => greatest(a, b)))
    val dominant = langs.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col("__top") > 0 && h(lang) === col("__top"), lit(lang))
        .otherwise(acc)
    }
    val entropy = langs.map { case (lang, _) =>
      val p = h(lang).cast("double") / col("__tot").cast("double")
      when(h(lang) > 0, -p * log(p)).otherwise(lit(0.0))
    }.reduce(_ + _)
    keyed.select(col("doc_id"),
        col("__tot").as("n_marks"),
        langs.map(l => (h(l._1) > 0).cast("int")).reduce(_ + _).as("n_langs"),
        dominant.as("dominant"),
        round(when(col("__tot") > 0,
          col("__top").cast("double") / col("__tot").cast("double"))
          .otherwise(0.0), 4).as("top_share"),
        round(entropy, 4).as("mix_entropy"))
  }

  /** Canonical-form document fingerprint: md5 of the normalized token
    * stream. Whitespace/case/punctuation-insensitive exact dedup key. */
  def fingerprints(docs: DataFrame): DataFrame =
    // sort below the projection (see qualityScores)
    docs.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
        md5(array_join(toks, " ")).as("fingerprint"))

  /** Corpus-level term stats: the top-k most frequent terms. */
  def topTerms(docs: DataFrame, k: Int = 20): DataFrame =
    Tokenize.termOccurrences(docs)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term"))
      .limit(k)

  /** Per-source KEYNESS (Monroe et al. "Fightin' Words": log-odds with an
    * informative Dirichlet prior, z-scored): which terms characterize a
    * source AGAINST the rest of the corpus — the provenance diagnostic
    * curation runs before mixing ("what is this feed actually made of"),
    * and exactly what raw frequency or PMI cannot answer (frequent
    * everywhere ≠ distinctive here). Prior alpha_w = a0 · y_w / n (the
    * corpus distribution scaled to a0 pseudo-counts) shrinks rare-term
    * log-odds toward zero, so the top-k is not hapax noise.
    *
    * Determinism: every input to the z formula is an exact long count;
    * the formula is one fixed double tree evaluated identically by both
    * engines; z re-anchors at round(4) and ranks (z DESC, term ASC).
    *
    * Scale notes (100 TB): ONE tokenize scan into (source, term) counts
    * (map-side combined); global term counts re-aggregate the
    * vocabulary-sized count frame, not the corpus; per-source totals and
    * the two grand totals are tiny broadcasts; top-k is a per-source
    * WindowGroupLimit. Nothing joins at corpus cardinality. */
  def sourceKeyness(docs: DataFrame, k: Int = 5, a0: Double = 100.0): DataFrame = {
    val occ = Tokenize.termOccurrences(docs, idCol = "source")
    val st = occ.groupBy("source", "term").agg(count(lit(1)).as("ysw"))
      .localCheckpoint(true) // feeds global counts, source totals, and the join
    val tot = st.groupBy("term").agg(sum("ysw").as("yw"))
    val perSrc = st.groupBy("source").agg(sum("ysw").as("ns"))
    val grand = st.agg(sum("ysw").as("n"))
    val j = st.join(broadcast(tot), Seq("term"))
      .join(broadcast(perSrc), Seq("source"))
      .crossJoin(broadcast(grand))
    def d(c: String) = col(c).cast("double")
    val aw = lit(a0) * d("yw") / d("n")
    val ysw = d("ysw"); val yrw = d("yw") - ysw
    val ns = d("ns"); val nr = d("n") - ns
    val delta = log((ysw + aw) / (ns + lit(a0) - ysw - aw)) -
      log((yrw + aw) / (nr + lit(a0) - yrw - aw))
    val z = delta / sqrt(lit(1.0) / (ysw + aw) + lit(1.0) / (yrw + aw))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("z").desc, col("term"))
    j.withColumn("z", round(z, 4))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("source"), col("term"), col("ysw").as("n_occ"),
        col("z"), col("__rk").cast("int").as("rank"))
      .orderBy("source", "rank")
  }

  /** Per-doc fluency score under a corpus-trained bigram language model —
    * the cheap LM-perplexity proxy a curation pipeline uses to rank docs
    * by "naturalness" without a neural model. The LM is MLE, self-trained
    * on the corpus: p(w2 | w1) = c(w1 w2) / c1(w1), where c1(w1) is w1's
    * occurrence count as a bigram LEFT token — so the conditional
    * normalizes exactly and every doc bigram has nonzero probability by
    * construction. Score = mean ln p over the doc's bigram OCCURRENCES
    * (repeats count); docs with < 2 tokens report n_bigrams = 0 and NULL
    * score.
    *
    * Scale notes (100 TB): one tokenize+bigram scan feeds both the count
    * tables and the scoring pass; bigram counts and left-token counts are
    * partial+final aggregations, and the scoring join hash-partitions by
    * bigram (the n×vocab-free shape — nothing ever crosses with the full
    * vocabulary). ln noise is 1 ulp per term, averaged over the doc —
    * invisible at round(4). */
  def bigramLmScores(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.bigrams(col("t"))).as("bigram"))
    val bc = occ.groupBy("bigram").agg(count(lit(1)).as("c2"))
      // left token of "w1 w2" — bigram tokens never contain spaces
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c1 = bc.groupBy("w1").agg(sum("c2").as("c1"))
    val scored = occ.join(bc, Seq("bigram")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        (log(col("c2").cast("double")) - log(col("c1").cast("double"))).as("lp"))
    val per = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("lp"), 4).as("avg_logp"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
      .orderBy("doc_id")
  }

  /** CCNet-style reference-LM quality score: every document scored by a
    * bigram LM trained ONLY on the reference source, add-k smoothed so
    * out-of-reference bigrams stay finite — low avg_logp / high n_oov
    * marks text unlike the trusted slice (the perplexity filter of a
    * pretraining pipeline, where `bigramLmScores` is self-perplexity).
    * P(w2|w1) = (c2 + k) / (c1 + k·V), V = reference vocabulary size
    * (a broadcast 1-row side); smoothing arithmetic is integer counts
    * lifted through one identical double expression tree on both
    * engines. Scale: the LM tables are bounded by the REFERENCE corpus
    * (curated, orders smaller than the scored corpus — broadcastable in
    * practice, hash-join correct regardless); the corpus-proportional
    * side crosses one exchange keyed by bigram, then re-keys per doc for
    * the average — the same two-exchange shape as the self-LM. */
  def crossLmScores(docs: DataFrame, refSource: String,
                    smoothK: Double = 1.0): DataFrame = {
    val occ = docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.bigrams(col("t"))).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val refToks = docs.filter(col("source") === refSource).select(toks.as("t"))
    val vocab = refToks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("__v"))
    val refBi = refToks
      .select(explode(graft.functions.TextFunctions.bigrams(col("t"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val refC1 = refBi.groupBy("w1").agg(sum("c2").as("c1"))
    val scored = occ
      .join(refBi.select("bigram", "c2"), Seq("bigram"), "left")
      .join(refC1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (log(coalesce(col("c2"), lit(0L)).cast("double") + lit(smoothK)) -
          log(coalesce(col("c1"), lit(0L)).cast("double") +
            lit(smoothK) * col("__v"))).as("lp"),
        col("c2").isNull.cast("long").as("oov"))
    val per = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("oov").as("n_oov"),
        round(avg("lp"), 4).as("avg_logp"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("avg_logp"))
      .orderBy("doc_id")
  }

  /** Top-k word bigrams (occurrence counts, duplicates kept). The bigram
    * array is built by the native codegen graft_bigrams expression — the
    * interpreted HOF spelling (transform+element_at, kept as the semantic
    * reference in FunctionsSpec) was this query's dominant cost. */
  def topBigrams(docs: DataFrame, k: Int = 20): DataFrame = {
    docs.select(toks.as("t"))
      .select(explode(graft.functions.TextFunctions.bigrams(col("t"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(k)
  }

  /** BPE-style pre-tokenizer counts: contraction suffixes, letter runs,
    * digit runs, and punctuation runs counted separately — the
    * GPT-tokenizer-shaped accounting a data pipeline uses for token-budget
    * estimates. Pattern is RE2-safe (no lookaround) for oracle parity. */
  val BpePattern = "'[a-z]+|[a-z]+|[0-9]+|[^a-z0-9\\s']+"

  def bpeTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(graft.text.Tokenize.asciiFold(col("text")), lit(BpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Distributed BPE merge TRAINING — the canonical tokenizer-training
    * loop of an LLM data pipeline, run with the same discipline as
    * `Similarity.kmeansFit`: the iterative state lives in ONE
    * vocabulary-sized table (distinct words + frequencies, never the
    * corpus), each round is one distributed pair-count aggregate, exactly
    * ONE row (the argmax pair) comes back to the driver, and the merged
    * vocabulary is checkpointed every round but the one making the
    * `nMerges`-th merge (no round reads that vocabulary), a
    * [[graft.Fixpoint.untilSettled]] loop that stops early once no word
    * has two symbols left. At 100 TB the corpus is scanned ONCE (the
    * word count); every subsequent round touches only the vocabulary, which is
    * millions of rows at web scale — a broadcast-sized frame.
    *
    * Words are carried in the classic wrapped-symbol string form — each
    * symbol wrapped in sentinel dots, `hey` -> `.h..e..y.` — chosen so a
    * merge is ONE `replace()` call: occurrences of `.l..r.` never share
    * boundary characters, so replace's left-to-right non-overlapping scan
    * applies the merge exactly like the classic BPE greedy pass, and
    * IDENTICALLY in Spark and DuckDB (the oracle unrolls the same rounds
    * CTE-by-CTE on the same representation). The sentinel `.` cannot
    * collide: symbols only ever contain the pinned tokenizer alphabet
    * [a-z0-9_'].
    *
    * Tie-break is total: highest summed frequency, then lexicographic
    * (lhs, rhs) — exact integer counts, no float anywhere. */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    require(nMerges >= 1)
    val words = Tokenize.termOccurrences(docs)
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .select(concat(lit("."),
        array_join(expr(
          "transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
          ".."),
        lit(".")).as("sym"), col("freq"))
    // state: the vocabulary and the merges so far
    val init = (graft.Fixpoint.checkpoint(words),
      Vector.empty[(Long, String, String, String, Long)])
    val (_, merges) = graft.Fixpoint.untilSettled(init, nMerges) { case (cur, merges) =>
      // adjacent symbol pairs of the wrapped form, weighted by word freq;
      // guard the size<2 case (Spark's sequence counts DOWN on (1,0))
      val top = cur
        .select(col("freq"), expr(
          """explode(CASE WHEN size(split(substring(sym, 2, length(sym)-2), '\\.\\.')) < 2
            |  THEN CAST(array() AS ARRAY<STRUCT<lhs: STRING, rhs: STRING>>)
            |  ELSE transform(sequence(1, size(split(substring(sym, 2, length(sym)-2), '\\.\\.')) - 1),
            |    i -> struct(split(substring(sym, 2, length(sym)-2), '\\.\\.')[i-1] AS lhs,
            |                split(substring(sym, 2, length(sym)-2), '\\.\\.')[i] AS rhs))
            |  END)""".stripMargin).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("pair_count"))
        .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (top.isEmpty) ((cur, merges), true)
      else {
        val (l, rr, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        // lit()s, not SQL literals: symbols may contain apostrophes
        val merged = cur.withColumn("sym",
          call_function("replace", col("sym"),
            lit(s".$l..$rr."), lit(s".$l$rr.")))
        val next =
          if (merges.size + 1 < nMerges) graft.Fixpoint.checkpoint(merged) else merged
        ((next, merges :+ ((merges.size + 1L, l, rr, l + rr, cnt))), false)
      }
    }
    import spark.implicits._
    merges
      .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_round")
  }

  /** BPE ENCODING with the trained merge table — the apply side of
    * bpeTrainMerges, closing the tokenizer loop (train once, encode the
    * corpus, budget token counts). Encoding happens on the DISTINCT
    * vocabulary (the same frame training pair-counts on), as one
    * projection chaining the N merge replaces in ranked order — a single
    * codegen pass over vocab-sized data, not corpus-sized. Per-doc
    * counts then come from one join of the (doc_id, term, tf) frame to
    * the encoded vocab and a final aggregate.
    *
    * Scale notes (100 TB): corpus text is scanned once (termOccurrences);
    * everything after is vocabulary-sized (Heaps' law: << corpus). The
    * merge table is a driver-side list by construction (bpeTrainMerges
    * materializes one row per round), so the fold is plan structure, not
    * a join. */
  def bpeEncode(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val merges = bpeTrainMerges(docs, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wc = Tokenize.termOccurrences(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = wc.select("term").distinct()
      .withColumn("sym", concat(lit("."),
        array_join(expr(
          "transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
          ".."),
        lit(".")))
    val symCol = merges.foldLeft(col("sym")) { case (c, (l, r)) =>
      call_function("replace", c, lit(s".$l..$r."), lit(s".$l$r."))
    }
    val enc = vocab.select(col("term"), symCol.as("sym"))
      .withColumn("n_sym",
        size(split(expr("substring(sym, 2, length(sym)-2)"), "\\.\\."))
          .cast("long"))
    wc.join(enc.select("term", "n_sym"), Seq("term"))
      .groupBy("doc_id").agg(
        sum("tf").as("n_words"),
        sum(col("tf") * col("n_sym")).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** BPE compression curve — tokens-per-word after each PREFIX of the
    * trained merge sequence (k = 0..nMerges), the tokenizer-sizing
    * report that answers "how much does each extra merge buy": train
    * once, then encode the vocabulary under every prefix in ONE
    * projection (each prefix column chains one more replace on the
    * previous — the fold is shared, not recomputed per k), roll up
    * corpus totals, and unpivot to a row per k.
    *
    * Scale notes (100 TB): inherits bpeTrainMerges' shape — corpus
    * scanned once for the word counts, every prefix column is
    * vocabulary-sized codegen, the final aggregate returns nMerges+1
    * scalars. If training exhausts early the curve stops at the last
    * real merge (the bpeEncode standing). */
  def bpeCompressionCurve(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val merges = bpeTrainMerges(docs, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wc = Tokenize.termOccurrences(docs)
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .withColumn("sym0", concat(lit("."),
        array_join(expr(
          "transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
          ".."),
        lit(".")))
    val withPrefixes = merges.zipWithIndex.foldLeft(wc) {
      case (f, ((l, r), i)) =>
        f.withColumn(s"sym${i + 1}",
          call_function("replace", col(s"sym$i"),
            lit(s".$l..$r."), lit(s".$l$r.")))
    }
    def nSym(k: Int): Column =
      size(split(expr(s"substring(sym$k, 2, length(sym$k)-2)"), "\\.\\."))
        .cast("long")
    val ks = 0 to merges.length
    val totals = withPrefixes
      // groupBy a constant, not a global agg: an empty corpus must yield
      // an empty curve, not one null row (the edge-fixture contract)
      .groupBy(lit(1).as("__g"))
      .agg(sum("tf").as("n_words"),
        ks.map(k => sum(col("tf") * nSym(k)).as(s"t$k")): _*)
    val stackExpr = ks.map(k => s"CAST($k AS BIGINT), t$k").mkString(", ")
    totals.select(col("n_words"), expr(
        s"stack(${ks.length}, $stackExpr) as (n_merges, n_tokens)"))
      .select(col("n_merges"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"))
      .orderBy("n_merges")
  }

  /** Top-k TF-IDF terms per document — the keyword/feature extraction a
    * pipeline runs for doc routing and near-dup triage. tf is the raw
    * in-doc count, idf the raw ln(N/df) (same family as the BM25 idf,
    * app/query.py:131-135). One tokenize pass feeds tf; df and N derive
    * from it by re-aggregation, so the corpus text is scanned once.
    * Ranking uses the ROUNDED score so cross-engine ordering can't diverge
    * on float ulps. */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tokenize.termOccurrences(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), asc("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** Sparse-vector document similarity through the postings index: top-k
    * neighbors per doc by cosine over each doc's top-m TF-IDF BIGRAM
    * features — the keyword-signature routing real pipelines run when
    * embeddings are too expensive (cluster-assign, near-dup triage,
    * topical grouping). Features are adjacent-bigram phrases, not single
    * tokens: the squared feature space keeps signatures discriminative
    * even on a narrow vocabulary (measured on this corpus: 31 distinct
    * tokens vs 928 distinct bigrams at sf0.1 — token-grain signatures
    * collapsed every doc into the same few buckets and cost 53 s; the
    * bigram grain runs the same plan in ~1 s).
    *
    * The truncation IS the scale lever: each doc carries exactly m
    * features regardless of its length, so candidate generation is the
    * same bucket-explode as the dedup family — one aggregation by term,
    * buckets over `maxFeatureDf` dropped (a feature shared by everyone
    * routes nothing), pairs explode locally per bucket, cap^2 per task.
    * The dot sums at most m products of ALREADY-ROUNDED weights, so the
    * float sum spans <= m rows — the BM25 discipline — and ranking uses
    * the rounded cosine with a doc-id tie-break, so cross-engine order
    * can't diverge on ulps. */
  def sparseCosineNeighbors(docs: DataFrame, m: Int = 3, k: Int = 5,
                            maxFeatureDf: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs.select(col("doc_id"), explode(
      graft.functions.TextFunctions.bigrams(toks)).as("term"))
    val tf = occ.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n"))
    val wRank = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), asc("term"))
    val feats = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 4))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= m)
      .select("doc_id", "term", "tfidf")
    // Round-9 plan rework (the cappedPairStats discipline, guide
    // §2.3/§3.1): norms are attached at FEATURE grain — the rank window
    // above already partitions by doc_id, so the norm aggregate and the
    // attach join reuse that exchange — and ride the buckets into the
    // pair explode, so the dot aggregate emits (na, nb) with every pair
    // and the scorer needs NO pair-grain join. The old shape joined the
    // 6.8M-row dot table against norms twice; AQE broadcast the PAIR
    // side (537 MB at the 10x gate) into a sort-merge join with two
    // 800 MB sorts — the §3.1 estimate failure, and an 8 GiB-cap hazard
    // at scale. n2 is a function of doc_id, so widening the aggregate
    // key changes no group; the <= m-term float sums are unchanged.
    val norms = feats.groupBy("doc_id")
      .agg(sum(col("tfidf") * col("tfidf")).as("n2"))
    val buckets = feats.join(norms, Seq("doc_id"))
      .groupBy("term")
      .agg(collect_list(struct(col("doc_id"), col("tfidf"), col("n2"))).as("ps"))
      .filter(size(col("ps")) <= maxFeatureDf)
    // Round-10 (verdict item 4; guide §2.3): each unordered pair is
    // generated ONCE (doc_id < neighbor_id) and mirrored AFTER the
    // aggregate — the round-9 shape exploded both orientations through
    // the dot aggregate, so the pair-grain exchange carried every pair
    // twice (18.3M rows at the 10x gate; halved here). The mirror is a
    // projection over the aggregated (tiny) pair table: dot(a,b) =
    // dot(b,a) term-for-term (each product commutes exactly in IEEE),
    // and the <= m-term sums of round(4) weights keep both directions'
    // sums rounding-identical — the same discipline the oracle already
    // relies on for the two independent per-direction sums it replaced.
    val half = buckets
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("neighbor_id"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
      .agg(sum(col("a.tfidf") * col("b.tfidf")).as("dot"))
    val dots = half.unionByName(half.select(
      col("neighbor_id").as("doc_id"), col("doc_id").as("neighbor_id"),
      col("nb").as("na"), col("na").as("nb"), col("dot")))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    dots
      // try_divide: an all-identical corpus makes every tfidf (and so
      // every norm) 0 — ln(n/df)=0 — and 0/0 must be NULL (dropped by
      // the >0 filter) in both engines, not an ANSI throw
      .withColumn("cosine",
        round(try_divide(col("dot"), sqrt(col("na") * col("nb"))), 4))
      .filter(col("cosine") > 0)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("neighbor_id"), col("cosine"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** Exact token-count quantiles per language label — the distribution
    * profile a pipeline checks before setting length filters. percentile()
    * is the exact interpolating form (deterministic), not approx. */
  def lengthQuantilesByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"), size(toks).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("n_tokens"), lit(0.25)).as("p25"),
        percentile(col("n_tokens"), lit(0.5)).as("p50"),
        percentile(col("n_tokens"), lit(0.75)).as("p75"))
      .select(col("lang"), col("n_docs"), round(col("p25"), 4).as("p25"),
        round(col("p50"), 4).as("p50"), round(col("p75"), 4).as("p75"))
      .orderBy("lang")

  /** PII scrubbing: redact email/phone-shaped spans and count what was
    * hit — the compliance pass before a corpus ships. Patterns are
    * RE2-safe (no lookaround) so the SQL oracle matches byte-for-byte;
    * the redacted text is emitted as md5 to keep the compare row small. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val PhonePattern = "\\+[0-9][0-9()\\- ]+[0-9]"

  def redactPii(docs: DataFrame): DataFrame = {
    // phones are counted on the email-redacted text so the counts equal
    // the substitutions actually made (an email like +1555@x.com would
    // otherwise be double-counted as a phone the replacement never sees)
    val emailRedacted = regexp_replace(
      graft.text.Tokenize.asciiFold(col("text")), EmailPattern, "<EMAIL>")
    // sort below the projection (see qualityScores): the three regex
    // passes are the heaviest per-row work in the text family
    docs.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
      size(regexp_extract_all(graft.text.Tokenize.asciiFold(col("text")), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(emailRedacted, lit(PhonePattern), lit(0)))
        .cast("long").as("n_phones"),
      md5(regexp_replace(emailRedacted, PhonePattern, "<PHONE>"))
        .as("redacted_hash"))
  }

  /** Token-window chunking with overlap — the pretraining/RAG splitter:
    * chunk i covers tokens [i*step, i*step + chunkTokens) with
    * step = chunkTokens - overlap. A trailing chunk must contribute at
    * least one NEW token (docs whose length mod step lands inside the
    * overlap would otherwise emit a pure-duplicate final chunk), so the
    * last chunk index is floor((n - overlap - 1)/step) once n exceeds the
    * overlap, else 0. One tokenize pass, chunks built by array slicing and
    * exploded to rows; token counts derive from the slice bounds, not a
    * re-split of the joined text. Empty docs produce no chunks. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
                     overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens)
    val step = chunkTokens - overlap
    val n = size(col("t"))
    val lastChunk = when(n <= overlap, lit(0))
      .otherwise(floor((n - overlap - 1) / step).cast("int"))
    val chunks = when(n === 0,
        array().cast("array<struct<n:bigint,text:string>>"))
      .otherwise(transform(
        sequence(lit(0), lastChunk),
        i => struct(
          least(lit(chunkTokens), n - i * step).cast("long").as("n"),
          array_join(slice(col("t"), i * step + 1, lit(chunkTokens)), " ").as("text"))))
    docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        col("chunk.n").as("n_chunk_tokens"),
        md5(col("chunk.text")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Greedy offset bin packing into fixed context windows, SHARDED: within
    * each shard (e.g. language, or any hash bucket), a doc's bin is its
    * cumulative token START offset div the window size — the
    * deterministic, fully-declarative approximation of sequence packing
    * (docs can straddle a boundary; exact first-fit is inherently
    * sequential). Sharding is the scale story: a GLOBAL ordered window
    * would funnel the corpus through one partition, while per-shard
    * windows parallelize exactly like real per-worker packing does. */
  def packIntoBins(docs: DataFrame, binTokens: Int = 2048,
                   shardCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(shardCol).as("shard"), col("doc_id"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("start_offset", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin_id", floor(col("start_offset") / binTokens).cast("long"))
      .select("shard", "doc_id", "n_tokens", "start_offset", "bin_id")
      .orderBy("shard", "doc_id")
  }

  /** Confusion counts of the heuristic guess vs the labeled lang column —
    * the eval a pipeline runs before trusting a language filter. */
  def langGuessConfusion(docs: DataFrame): DataFrame =
    languageGuess(docs).join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_guess")

  /** Distribution-drift report: the Kolmogorov-Smirnov statistic between
    * each source's token-length distribution and the REST of the corpus
    * — the pre-mixing check that a new source isn't length-shaped unlike
    * everything else (truncation, boilerplate, format drift). Everything
    * derives from integer counts: one (source, n_tokens) aggregate, a
    * dense source × support grid (support = distinct observed lengths,
    * bounded by max document length, never corpus rows), per-source
    * cumulative window sums, and the KS gap as identical double
    * divisions of exact integers on both engines. The windows partition
    * by source over the tiny support grid — no corpus-proportional state
    * crosses any exchange after the first aggregate.
    *
    * Contract: needs >= 2 sources — with a single source both the
    * rest-of-corpus numerator (cum_all - cum_src) and denominator
    * (grand - src_total) are zero, so the gap is NaN (0.0/0.0), and
    * NaN max/round semantics are NOT guaranteed identical across
    * engines. Enforced below rather than left to this comment: the
    * one-distinct-source case fails fast with a clear message. */
  def ksLengthDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(docs.select("source").distinct().limit(2).count() >= 2,
      "ksLengthDrift requires >= 2 sources: with one source the " +
        "rest-of-corpus gap is NaN (0/0) and cross-engine NaN handling " +
        "is not guaranteed identical")
    val t = docs.select(col("source"), size(toks).cast("long").as("n"))
    val per = t.groupBy("source", "n").agg(count(lit(1)).as("c"))
    val support = per.select("n").distinct()
    val sources = per.groupBy("source").agg(sum("c").as("src_total"))
    val globalN = per.groupBy("n").agg(sum("c").as("g"))
    val total = per.agg(sum("c").as("grand")).select(col("grand"))
    val grid = sources.crossJoin(support)
      .join(per, Seq("source", "n"), "left")
      .join(globalN, Seq("n"))
      .crossJoin(broadcast(total))
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy("source").orderBy("n")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_src", sum("c").over(w))
      .withColumn("cum_all", sum("g").over(w))
      .withColumn("__gap", abs(
        col("cum_src").cast("double") / col("src_total") -
          (col("cum_all") - col("cum_src")).cast("double") /
            (col("grand") - col("src_total"))))
      .groupBy("source")
      .agg(max(col("src_total")).as("n_docs"),
        round(max(col("__gap")), 6).as("ks_stat"))
      .orderBy("source")
  }

  /** Concat-and-chunk sequence layout — the pretraining SAMPLE format,
    * where `packIntoBins` only places docs: the shard's token stream is
    * cut into fixed `seqTokens` chunks and documents SPLIT across chunk
    * boundaries; each output row is one (chunk, doc) span with its
    * offset inside the chunk. Every quantity is exact integer arithmetic
    * (cumulative starts via one per-shard window, span intersection via
    * min/max, `div` for the chunk range), and a doc spanning k chunks
    * fans out through a `sequence()` explode — k is bounded by
    * ceil(doc_len / seqTokens) + 1, never corpus size. Sharding is the
    * same scale story as packIntoBins: per-shard windows parallelize
    * like per-worker packing; a global stream would funnel one
    * partition. */
  def chunkSequences(docs: DataFrame, seqTokens: Int = 512,
                     shardCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val l = lit(seqTokens.toLong)
    docs.select(col(shardCol).as("shard"), col("doc_id"),
        size(toks).cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__s", sum("__n").over(w) - col("__n"))
      .withColumn("__e", col("__s") + col("__n"))
      .withColumn("chunk_id",
        explode(sequence(expr(s"__s div ${seqTokens}L"),
          expr(s"(__e - 1) div ${seqTokens}L"))))
      .select(col("shard"), col("chunk_id"), col("doc_id"),
        (greatest(col("__s"), col("chunk_id") * l) - col("chunk_id") * l)
          .as("start_in_chunk"),
        (least(col("__e"), (col("chunk_id") + 1) * l) -
          greatest(col("__s"), col("chunk_id") * l)).as("n_toks"))
      .orderBy("shard", "chunk_id", "doc_id")
  }

  /** Fixed GD hyperparameters for `logisticQualityScores` — object
    * constants so the SQL oracle interpolates the SAME values and a
    * change here cannot desynchronize the two sides. */
  val ClassifierIters: Int = 4
  val ClassifierLr: Double = 1.0

  /** Trained quality classifier — batch-gradient-descent logistic
    * regression, the fastText-style "does this look like the target
    * slice" filter every curation pipeline trains (reference surface:
    * the scoring/ranking family; `qualityRegression` is the closed-form
    * sibling, this is the ITERATIVE one). Features are exact per-doc
    * ratios (stopword share, mean token length; empty docs feature as
    * 0), label = (lang == targetLang); `iters` full-batch rounds of
    *   w := round(w − lr · Σ(σ(w·x) − y)·x / n, 12)
    * from w = 0, then every doc scored by the final weights.
    *
    * Cross-engine determinism (the kmeansFit discipline): each gradient
    * component is cast to DECIMAL(28,18) BEFORE the sum, so the
    * aggregate is order-independent; the per-round round(…,12) absorbs
    * exp()'s 1-ulp engine noise and the wide-decimal→double cast ulp
    * (error per round ≲ 1e-14, eleven digits below the rounding).
    *
    * Scale notes (100 TB): one tokenize scan builds the 4-column feature
    * frame (localCheckpoint'ed once — iteration must not re-tokenize the
    * corpus); each round is ONE partial+final aggregate returning a
    * single 4-value row to the driver (the `kmeansFit` one-scalar-per-
    * round discipline — weights live in driver doubles, never a shuffle);
    * scoring is a scan-shaped projection with literal weights. */
  def logisticQualityScores(docs: DataFrame, targetLang: String = "en",
                            lr: Double = ClassifierLr,
                            iters: Int = ClassifierIters,
                            markers: Seq[String] = LangMarkers("en"))
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 18)
    val ntok = size(toks).cast("long")
    val nstop = size(filter(toks, t => t.isInCollection(markers))).cast("long")
    val sumlen = length(array_join(toks, "")).cast("long")
    val feats = docs.select(col("doc_id"),
        (col("lang") === targetLang).cast("double").as("y"),
        ntok.as("ntok"), nstop.as("nstop"), sumlen.as("sumlen"))
      .select(col("doc_id"), col("y"),
        when(col("ntok") === 0L, lit(0.0))
          .otherwise(col("nstop").cast("double") / col("ntok").cast("double"))
          .as("x1"),
        when(col("ntok") === 0L, lit(0.0))
          .otherwise(col("sumlen").cast("double") / col("ntok").cast("double"))
          .as("x2"))
      .localCheckpoint(true)
    def r12(v: Double): Double =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = Array(0.0, 0.0, 0.0)
    def zCol = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
    def pCol = lit(1.0) / (lit(1.0) + exp(-zCol))
    var it = 0
    while (it < iters) {
      val row = feats.agg(
        count(lit(1)).as("n"),
        sum((pCol - col("y")).cast(dec)).as("g0"),
        sum(((pCol - col("y")) * col("x1")).cast(dec)).as("g1"),
        sum(((pCol - col("y")) * col("x2")).cast(dec)).as("g2")).head()
      val n = row.getLong(0).toDouble
      w = Array.tabulate(3)(j =>
        r12(w(j) - lr * (row.getDecimal(j + 1).doubleValue / n)))
      it += 1
    }
    feats.select(col("doc_id"), col("y").cast("int").as("label"),
        round(pCol, 4).as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("int"))
      .orderBy("doc_id")
  }

  /** ROC AUC of the trained quality classifier, by the Mann-Whitney
    * rank-sum identity with tie-averaged ranks:
    *   AUC = (Σ_{pos} rank − nP(nP+1)/2) / (nP · nN)
    * computed EXACTLY in integers: the scored frame collapses to a
    * histogram over the (already round(4)-quantized) score, the rank sum
    * doubles to stay integral (avg rank of a tie group = cb + (n+1)/2,
    * so 2·Σranks = Σ nPos_s·(2·cb_s + n_s + 1)), and only the final
    * division touches doubles — one round(6) on identical integers in
    * both engines.
    *
    * Scale notes (100 TB): corpus-sized work is the classifier scan plus
    * ONE (score, label) count aggregate; the cumulative window runs over
    * the ≤10^4+1-row score histogram (round(4) bounds its cardinality by
    * construction), partition-less by design. Rank sums are BIGINT-safe
    * to ~10^9 docs per eval slice; beyond that the two sum columns swap
    * to DECIMAL(38,0) with no other change. */
  def classifierAuc(docs: DataFrame, targetLang: String = "en"): DataFrame =
    aucFromScored(logisticQualityScores(docs, targetLang))

  /** The rank-sum aggregation alone, over any (label, score) frame —
    * factored so the spec can pin hand-computed fixtures (perfect
    * separation = 1, inverted = 0, all-tied = 0.5). */
  def aucFromScored(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = scored
      .groupBy("score").agg(count(lit(1)).as("n"),
        sum(col("label").cast("long")).as("np"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("cb", coalesce(sum("n").over(w), lit(0L)))
      .agg(
        sum(col("np") * (lit(2L) * col("cb") + col("n") + lit(1L)))
          .cast("long").as("sum_ranks2"),
        sum("np").cast("long").as("n_pos"),
        sum(col("n") - col("np")).cast("long").as("n_neg"))
      .select(col("n_pos"), col("n_neg"), col("sum_ranks2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("sum_ranks2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** Weight scale for the NB classifier: log-probs quantized to integer
    * MICRO-NATS (round(ln(p)·1e6)). Quantization is part of the model
    * definition: every downstream sum/argmax is then pure BIGINT
    * arithmetic — order-independent, overflow-visible, and bit-identical
    * in any engine. ln's 1-ulp engine noise (~1e-16 relative) sits ten
    * orders below the 1e-6 quantum, so both engines round to the same
    * integer (the a-es ranking caveat, with far wider margin). */
  val NbScale = 1000000L

  /** Multinomial Naive Bayes source classifier (the add-one-smoothed
    * count model of McCallum/Nigam'98) — train on the md5-hash-split
    * train docs (the samp_hash_split contract), predict `source` for
    * every val/test doc:
    *
    *   score(d, c) = ln P(c) + Σ_{w ∈ d ∩ V} cnt_dw · ln P(w|c)
    *   P(w|c) = (n_cw + 1) / (n_c + |V|),  unseen-in-class → 1/(n_c+|V|)
    *
    * with every ln quantized to micro-nats (`NbScale`). OOV-of-train
    * terms drop (no vocabulary row exists to smooth against); a doc with
    * zero in-vocab tokens falls back to the prior argmax. Ties break by
    * class name — deterministic because scores are integers.
    *
    * Scale notes (100 TB): the weight table is vocabulary × |classes|
    * and the class table |classes| rows — both broadcast; train-side work
    * is one tokenize scan into a (class, term) count aggregate; eval-side
    * work is one tokenize scan into (doc, term) counts, a |classes|-way
    * fan-out against broadcast weights, and a doc-keyed argmax window.
    * Nothing shuffles on the vocabulary except the two count aggregates
    * (map-side combined). */
  def nbSourceClassifier(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def unats(c: Column): Column = round(log(c) * NbScale, 0).cast("long")
    val split = graft.sources.Sampling.hashSplit(docs, "doc_id")
    val train = split.filter(col("split") === "train")
    val eval = split.filter(col("split") =!= "train")
    val classTerm = train.select(col("source").as("cls"), explode(toks).as("term"))
      .groupBy("cls", "term").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val classTot = classTerm.groupBy("cls").agg(sum("n").as("nc"))
    val vocabSize = classTerm.select("term").distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("source").as("cls"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(train.agg(count(lit(1)).as("ndt")))
    val classes = classTot.crossJoin(vocabSize)
      .join(priors, Seq("cls"))
      .select(col("cls"),
        unats(lit(1.0) / (col("nc") + col("v"))).as("lw0"),
        unats(col("nd").cast("double") / col("ndt")).as("pw"))
    val weights = classTerm.join(classTot, Seq("cls")).crossJoin(vocabSize)
      .select(col("cls"), col("term"),
        unats((col("n") + lit(1)).cast("double") / (col("nc") + col("v"))).as("lw"))
    // broadcast PINNED (round 10, verdict item 5): left un-hinted, AQE
    // flipped this vocab semi-join between a 6.2k-row broadcast and a
    // 1.15M-row shuffle run to run — nondeterministic plans in the
    // bench. The distinct-term set is vocabulary-bounded, strictly
    // smaller than the (cls, term) weights table already broadcast
    // below, so the same boundedness argument pins it.
    val evalCnt = eval.select(col("doc_id"), explode(toks).as("term"))
      .join(broadcast(classTerm.select("term").distinct()),
        Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val perClass = evalCnt
      .crossJoin(broadcast(classes.select(col("cls"), col("lw0"))))
      .join(broadcast(weights), Seq("cls", "term"), "left")
      .groupBy("doc_id", "cls")
      .agg(sum(col("cnt") * coalesce(col("lw"), col("lw0"))).as("s"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("cls"))
    eval.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(classes.select(col("cls"), col("pw"))))
      .join(perClass, Seq("doc_id", "cls"), "left")
      .withColumn("score", col("pw") + coalesce(col("s"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("cls").as("pred"),
        col("score").as("score_unats"),
        (col("source") === col("cls")).cast("int").as("correct"))
      .orderBy("doc_id")
  }

  /** Confusion matrix of the NB source classifier over the eval split —
    * (true source, predicted, count) plus per-class precision/recall
    * denominators, the standard per-class error report. Runs the
    * classifier once; the matrix is a |C|²-bounded aggregate. */
  def nbConfusionMatrix(docs: DataFrame): DataFrame = {
    val scored = nbSourceClassifier(docs)
    val cm = scored.groupBy(col("source"), col("pred"))
      .agg(count(lit(1)).as("n"))
    val byTrue = cm.groupBy("source").agg(sum("n").as("n_true"))
    val byPred = cm.groupBy("pred").agg(sum("n").as("n_pred"))
    cm.join(byTrue, Seq("source")).join(byPred, Seq("pred"))
      .select(col("source"), col("pred"), col("n"),
        round(col("n").cast("double") / col("n_true"), 4).as("recall_share"),
        round(col("n").cast("double") / col("n_pred"), 4).as("precision_share"))
      .orderBy("source", "pred")
  }

  /** Trigram stupid-backoff LM scoring (Brants et al., EMNLP'07 — the
    * backoff designed FOR distributed corpora: no discount renormalization,
    * so every score is a plain ratio of counts and the model parallelizes
    * as ordinary count tables). The LM trains on `refSource` only and
    * scores every document (reference surface: the ranking/scoring family;
    * `crossLmScores` is the bigram add-k sibling):
    *
    *   S(w3|w1 w2) = c3(w1 w2 w3) / c2(w1 w2)            when c3 > 0
    *               = alpha * c2(w2 w3) / c1(w2)           when c2(w2 w3) > 0
    *               = alpha^2 * (c1(w3)+1) / (N+V)         otherwise
    *
    * (the unigram floor is add-one so fully-OOV tokens stay finite; a
    * nonzero trigram count guarantees its prefix bigram count, and a
    * nonzero bigram count its mid-token count, so no branch divides by
    * zero). Per doc: trigram occurrence count, how often each backoff
    * level fired, and mean ln S rounded to 4 (ln's 1-ulp engine noise
    * averages out below the rounding, the `bigramLmScores` precedent).
    *
    * Scale notes (100 TB): the five probability joins are all keyed by
    * n-gram/token against REFERENCE-bounded count tables (curated slice,
    * orders smaller than the scored corpus — broadcastable in practice,
    * hash-join correct regardless); the corpus-proportional occurrence
    * frame crosses one exchange per join key and re-keys once per doc for
    * the average. Nothing is ever keyed by the full corpus vocabulary. */
  def stupidBackoffScores(docs: DataFrame, refSource: String,
                          alpha: Double = 0.4): DataFrame = {
    val tf = graft.functions.TextFunctions
    val occ = docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(tf.shingles(col("t"), 3)).as("tri"))
      .withColumn("w12", substring_index(col("tri"), " ", 2))
      .withColumn("w23", substring_index(col("tri"), " ", -2))
      .withColumn("w2", substring_index(col("w23"), " ", 1))
      .withColumn("w3", substring_index(col("tri"), " ", -1))
    val ref = docs.filter(col("source") === refSource).select(toks.as("t"))
    val c3 = ref.select(explode(tf.shingles(col("t"), 3)).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c3"))
    val c2 = ref.select(explode(tf.bigrams(col("t"))).as("bi"))
      .groupBy("bi").agg(count(lit(1)).as("c2"))
    val c1 = ref.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val tot = ref.select(explode(col("t")).as("w"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("w")).as("__v"))
    val a = lit(alpha)
    val scored = occ
      .join(c3, Seq("tri"), "left")
      .join(c2.select(col("bi").as("w12"), col("c2").as("c2pre")),
        Seq("w12"), "left")
      .join(c2.select(col("bi").as("w23"), col("c2").as("c2suf")),
        Seq("w23"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1mid")),
        Seq("w2"), "left")
      .join(c1.select(col("w").as("w3"), col("c1").as("c1last")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("c3").isNotNull,
          log(col("c3").cast("double") / col("c2pre").cast("double")))
          .when(col("c2suf").isNotNull,
            log(a * (col("c2suf").cast("double") / col("c1mid").cast("double"))))
          // try_divide: an EMPTY reference corpus (n+v = 0) must yield
          // NULL scores like DuckDB's x/0, not an ANSI throw — reachable
          // when the reference slice exists but tokenizes to nothing
          .otherwise(log(a * a * try_divide(
            coalesce(col("c1last"), lit(0L)).cast("double") + lit(1.0),
            col("__n").cast("double") + col("__v").cast("double"))))
          .as("lp"),
        when(col("c3").isNotNull, lit(0))
          .when(col("c2suf").isNotNull, lit(1)).otherwise(lit(2)).as("lvl"))
    val per = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum((col("lvl") === 1).cast("long")).as("n_bi_backoff"),
        sum((col("lvl") === 2).cast("long")).as("n_uni_backoff"),
        round(avg("lp"), 4).as("avg_logp"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_bi_backoff"), lit(0L)).as("n_bi_backoff"),
        coalesce(col("n_uni_backoff"), lit(0L)).as("n_uni_backoff"),
        col("avg_logp"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. '20): split each
    * source's documents into head/middle/tail by the trigram
    * stupid-backoff LM score (avg ln-prob, the perplexity proxy — higher
    * is more reference-like) and report docs/tokens/score-range per
    * bucket — the report behind the "train on head, maybe middle, drop
    * tail" curation decision. Docs the LM cannot score (< 3 tokens) land
    * in an explicit `no_lm` bucket rather than silently polluting tail.
    *
    * The cut is by SCORE VALUE, not rank: the head boundary is the score
    * at which the descending cumulative doc count first reaches
    * ceil(n/3) (ties inflate head past n/3 — deterministic, and what a
    * value-threshold deployment does anyway). Scores are the established
    * round(4) values, so the ordering carries no float-noise ambiguity.
    *
    * Scale notes (100 TB): boundaries come from the per-(source, score)
    * HISTOGRAM — the only window runs over distinct rounded scores per
    * source (bounded by the score grid, not the corpus), the
    * keySkewDeciles discipline; the boundary table is one row per source
    * (broadcast), and bucket assignment is a scan projection. */
  def perplexityBuckets(docs: DataFrame, refSource: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sd = docs.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("nt"))
      .join(stupidBackoffScores(docs, refSource)
        .select(col("doc_id"), col("avg_logp")), Seq("doc_id"))
    val h = sd.filter(col("avg_logp").isNotNull)
      .groupBy("source", "avg_logp").agg(count(lit(1)).as("hd"))
    val w = Window.partitionBy("source").orderBy(col("avg_logp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nW = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = h.withColumn("cum", sum(col("hd")).over(w))
      .withColumn("n", sum(col("hd")).over(nW))
    val bounds = cum.groupBy("source")
      .agg(
        max(when(col("cum") >= ceil(col("n").cast("double") / 3),
          col("avg_logp"))).as("s1"),
        max(when(col("cum") >= ceil(col("n").cast("double") * 2 / 3),
          col("avg_logp"))).as("s2"))
    sd.join(broadcast(bounds), Seq("source"), "left")
      .withColumn("bucket",
        when(col("avg_logp").isNull, lit("no_lm"))
          .when(col("avg_logp") >= col("s1"), lit("head"))
          .when(col("avg_logp") >= col("s2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        min(col("avg_logp")).as("min_logp"),
        max(col("avg_logp")).as("max_logp"))
      .orderBy("source", "bucket")
  }

  /** Luhn doubling step: 2d, minus 9 when it overflows a digit. */
  private def luhnDoubled(d: Column): Column =
    when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)

  /** Deterministic credit-card fixture: the corpus has no digit runs, so
    * the PII scan plants its own — docs with doc_id % 9 == 0 get a VALID
    * 16-digit card (4 + 14 hash digits + computed Luhn check), docs with
    * doc_id % 9 == 1 get the same number with the check digit off by one
    * (a 16-digit run that MUST fail validation). Pure column ops; the
    * oracle replants with identical arithmetic (the withSyntheticExcerpts
    * pattern). */
  private[graft] def withSyntheticCards(docs: DataFrame): DataFrame = {
    val base = concat(lit("4"), lpad(
      pmod(col("doc_id") * lit(2654435761L), lit(100000000000000L))
        .cast("string"), 14, "0"))
    // base digit j-from-right (0-based) sits at final position j+2, so it
    // doubles when j is even (Luhn doubles every 2nd digit from the right)
    val sBase = aggregate(sequence(lit(0), lit(14)), lit(0), (acc, j) => {
      val d = base.substr(lit(15) - j, lit(1)).cast("int")
      acc + when(j % 2 === 0, luhnDoubled(d)).otherwise(d)
    })
    val check = pmod(lit(10) - pmod(sBase, lit(10)), lit(10))
    docs.withColumn("text",
      when(col("doc_id") % 9 === 0,
        concat(col("text"), lit(" card "), base, check.cast("string")))
        .when(col("doc_id") % 9 === 1,
          concat(col("text"), lit(" card "), base,
            pmod(check + 1, lit(10)).cast("string")))
        .otherwise(col("text")))
  }

  /** Credit-card PII scan with Luhn validation — the checksum-gated PII
    * class the regex-only redactPii family can't express: 16-digit runs
    * are candidates, and only those whose Luhn checksum verifies count as
    * card numbers (the false-positive filter every real PII pipeline
    * applies to digit runs). Both the extraction and the checksum are one
    * codegen projection (regexp_extract_all + an aggregate fold over the
    * 16 digits); no joins, no shuffle before the output sort.
    *
    * Emits docs with at least one candidate run: (doc_id, n_candidates,
    * n_valid) — on the planted fixture every %9==0 doc validates and
    * every %9==1 doc does not. */
  def luhnCardScan(docs: DataFrame): DataFrame = {
    val withCards = withSyntheticCards(docs)
    val cands = regexp_extract_all(col("text"), lit("[0-9]{16}"), lit(0))
    val valid = filter(cands, c => {
      val s = aggregate(sequence(lit(0), lit(15)), lit(0), (acc, i) => {
        val d = c.substr(lit(16) - i, lit(1)).cast("int")
        acc + when(i % 2 === 1, luhnDoubled(d)).otherwise(d)
      })
      pmod(s, lit(10)) === 0
    })
    withCards.select(col("doc_id"),
        size(cands).cast("long").as("n_candidates"),
        size(valid).cast("long").as("n_valid"))
      .filter(col("n_candidates") > 0)
      .orderBy("doc_id")
  }

  /** Length-bucketed training-batch plan — the padding-efficiency layout
    * pass: docs bucket by token-length band, deterministically shuffle
    * within (bucket, shard) by seeded md5 (the hashSplit discipline), and
    * group into fixed-size batches; per batch the plan reports the padded
    * width and the padding waste a dataloader would pay. Bucketing by
    * length is what makes the waste small; the report quantifies it.
    *
    * Scale notes (100 TB): ONE tokenize scan builds the narrow frame; the
    * only window is a row_number per (bucket, shard) — the shard key
    * bounds every window partition at corpus/shards like chunkSequences,
    * never a global sort. Batch membership is a pure function of
    * (doc_id, seed, bands): stable under repartition and appends within
    * a shard. */
  def batchPlan(docs: DataFrame, bucketTokens: Int = 16, batchDocs: Int = 8,
                shards: Int = 4, seed: Long = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frame = docs
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        md5(concat(col("doc_id").cast("string"), lit(s":$seed"))).as("__k"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket",
        floor((col("n_tokens") - 1) / bucketTokens).cast("int"))
      .withColumn("shard",
        (graft.sources.Sampling.hex8Int(col("__k")) % shards).cast("int"))
    val win = Window.partitionBy("bucket", "shard").orderBy("__k", "doc_id")
    frame
      .withColumn("batch_id",
        floor((row_number().over(win) - 1) / batchDocs).cast("long"))
      .groupBy("bucket", "shard", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .select(col("bucket"), col("shard"), col("batch_id"), col("n_docs"),
        col("max_tokens"),
        round(lit(1.0) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"), 4)
          .as("pad_frac"))
      .orderBy("bucket", "shard", "batch_id")
  }

  /** Windowed PMI collocation mining (Church-Hanks'90): pointwise mutual
    * information of unordered token pairs co-occurring within `window`
    * positions, the classic multi-word-expression/phrase-vocabulary
    * detector a tokenizer-training pipeline runs beside BPE. Pair
    * generation is `window` array slices zipped per doc — O(window·tokens)
    * rows, never a per-doc position cross product; pairs are canonical
    * (least, greatest). PMI = ln((c_ab/T)/((c_a/N)·(c_b/N))) over corpus
    * totals, reported for the top-k pairs by (rounded PMI, pair) above a
    * count floor.
    *
    * Scale notes (100 TB): one exchange keyed by pair for the pair
    * counts, one keyed by token for the unigram counts; T and N are
    * 1-row broadcast sides and the top-k is TakeOrderedAndProject. */
  def pmiPairs(docs: DataFrame, window: Int = 3, minCount: Long = 5,
               k: Int = 30): DataFrame = {
    val tk = toks
    val pairArms = (1 to window).map { off =>
      docs.select(explode(zip_with(
        slice(tk, lit(1), greatest(size(tk) - off, lit(0))),
        slice(tk, lit(off + 1), greatest(size(tk) - off, lit(0))),
        (a, b) => struct(least(a, b).as("a"), greatest(a, b).as("b"))))
        .as("p"))
    }
    val pairs = pairArms.reduce(_ unionByName _)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // Round-9 (guide §1.2 step 1, PlanProbe): the corpus totals are
    // scalar subqueries, so without materialization the `window`-scan
    // pair union evaluated TWICE (totals + the scoring join) and the
    // unigram scan likewise — two ~9.5 s duplicate stages at the 10x
    // gate. Both frames are aggregated count tables (vocabulary-bounded,
    // far below corpus size), so one eager localCheckpoint each is the
    // kmeansFit discipline, not a corpus-sized cache.
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val tc = docs.select(explode(tk).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c_t"))
      .localCheckpoint(true)
    val totPairs = pc.agg(sum("c_ab").as("__T"))
    val totToks = tc.agg(sum("c_t").as("__N"))
    pc.filter(col("c_ab") >= minCount)
      .join(tc.select(col("t").as("a"), col("c_t").as("c_a")), Seq("a"))
      .join(tc.select(col("t").as("b"), col("c_t").as("c_b")), Seq("b"))
      .crossJoin(broadcast(totPairs)).crossJoin(broadcast(totToks))
      .select(col("a"), col("b"), col("c_ab"),
        round(log((col("c_ab").cast("double") / col("__T")) /
          ((col("c_a").cast("double") / col("__N")) *
            (col("c_b").cast("double") / col("__N")))), 4).as("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b"))
      .limit(k)
  }

  /** Calibration report for the trained quality classifier — the
    * reliability diagram behind "can we trust the scores as
    * probabilities": scores bucketed into 10 bins, each bin's mean
    * predicted probability vs its observed positive rate, and the gap
    * (the per-bin ECE contribution). Bin means accumulate the round(4)
    * scores as DECIMAL so the sums are partition-order-independent
    * (the kmeansFit discipline); the single division and final round are
    * one IEEE op each on both engines.
    *
    * Scale notes (100 TB): scoring is the classifier's scan with literal
    * weights; the report is one partial+final aggregate to ≤ 10 rows. */
  def classifierCalibration(docs: DataFrame,
                            targetLang: String = "en"): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 4)
    logisticQualityScores(docs, targetLang)
      .withColumn("bin", least(floor(col("score") * 10).cast("int"), lit(9)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score").cast(dec)).as("__ssum"),
        sum(col("label").cast("long")).as("__pos"))
      .select(col("bin"), col("n_docs"),
        round(col("__ssum").cast("double") / col("n_docs"), 4)
          .as("mean_score"),
        round(col("__pos").cast("double") / col("n_docs"), 4)
          .as("frac_positive"),
        round(abs(col("__ssum").cast("double") / col("n_docs") -
          col("__pos").cast("double") / col("n_docs")), 4).as("gap"))
      .orderBy("bin")
  }

  /** C4-style blocklist filter (Raffel'20 §2.2 removes any page containing
    * a "bad words" list hit). Per doc: total tokens, blocked-token
    * occurrences, distinct blocked terms, and the drop/keep verdict (C4
    * drops on ANY hit). The list rides as an array LITERAL inside the
    * projection — membership is a codegen `array_contains` per token, no
    * join, no broadcast, no shuffle until the final sort: the cheapest
    * possible spelling of the first gate every web-corpus pipeline runs. */
  val DefaultBlocklist: Seq[String] = Seq("dup", "slow", "big")

  def blocklistFilter(docs: DataFrame,
                      blocklist: Seq[String] = DefaultBlocklist): DataFrame = {
    val blockArr = array(blocklist.map(lit): _*)
    docs.select(col("doc_id"), col("source"), toks.as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), t => array_contains(blockArr, t)))
          .cast("long").as("n_hits"),
        size(array_intersect(array_distinct(col("tk")), blockArr))
          .cast("long").as("n_blocked_terms"))
      .withColumn("verdict",
        when(col("n_hits") > 0, "dropped").otherwise("kept"))
      .orderBy("doc_id")
  }

  /** N-gram novelty vs a reference slice — the "how much of this doc is
    * text we have never seen" score used both for decontamination review
    * and for novelty-weighted curation. Per non-reference doc: distinct
    * n-grams, how many do NOT occur anywhere in the reference source, and
    * the novel fraction (NULL when the doc is too short to have any
    * n-gram, and that is a statement of no evidence, not novelty 0).
    *
    * Scale notes (100 TB): one shingle scan covers both sides; the
    * reference universe reduces to distinct n-grams BEFORE the join, the
    * probe side is distinct-per-doc, and the join hash-partitions by
    * n-gram with map-side-combined per-doc counting after — a hot
    * boilerplate n-gram costs linear join rows, never a pair explosion
    * (same argument as sharedNgramStats). */
  def ngramNovelty(docs: DataFrame, refSource: String = "src0",
                   n: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(
        graft.functions.TextFunctions.shingles(toks, n))).as("g"))
    val refGrams = grams.filter(col("source") === refSource)
      .select("g").distinct().withColumn("__seen", lit(1L))
    val per = grams.filter(col("source") =!= refSource)
      .join(refGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.filter(col("source") =!= refSource).select("doc_id", "source")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_ngrams") > 0,
          round(col("n_novel").cast("double") / col("n_ngrams"), 4))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** Deterministic T5-style span corruption plan (Raffel'20 §3.1.4): which
    * token spans a denoising-objective prep pass would mask. Each token
    * position flips an md5-derived coin (the Sampling.hex8Int contract, so
    * the oracle replays it bit-for-bit); adjacent masked positions merge
    * into maximal spans by the gaps-and-islands discipline. Emits one row
    * per span: (doc_id, span_id, start_pos, end_pos, span_len) — exactly
    * the sentinel plan the corruption writer consumes.
    *
    * Scale notes (100 TB): the coin is a projection inside the tokenize
    * scan; both windows partition BY DOC over masked positions only
    * (bounded by doc length × rate) — never a global sort. The mask
    * decision is a pure function of (doc_id, pos, seed): stable under
    * repartition and replayable, the same property hashSplit guarantees
    * for split membership. */
  def spanCorruptionPlan(docs: DataFrame, ratePct: Int = 15,
                         seed: Long = 17): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "t")))
      .withColumn("__coin", graft.sources.Sampling.hex8Int(
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"), lit(s":$seed")))) % 100)
      .filter(col("__coin") < ratePct)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = pos
      .withColumn("__grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min("pos").as("start_pos"), max("pos").as("end_pos"),
        count(lit(1)).as("span_len"))
    val spanIds = Window.partitionBy("doc_id").orderBy("start_pos")
    spans.withColumn("span_id", row_number().over(spanIds).cast("long"))
      .select("doc_id", "span_id", "start_pos", "end_pos", "span_len")
      .orderBy("doc_id", "span_id")
  }

  // TextRank defaults (Mihalcea/Tarau, EMNLP'04), named so the oracle SQL
  // interpolates the SAME constants. Window 2 (adjacent co-occurrence),
  // the paper's d = 0.85, 3 power rounds (the dedup_pagerank unroll
  // budget), corpus top-50 keywords.
  val DefaultTextRankIters = 3
  val DefaultTextRankDamping = 0.85
  val DefaultTextRankTopK = 50

  /** TextRank keyword extraction: weighted PageRank over the token
    * co-occurrence graph (edge = adjacent token pair, weight =
    * co-occurrence count, undirected, self-loops dropped), top-k terms
    * by rank. The graph centrality keywordness signal — frequency-robust
    * where raw counts and even TF-IDF promote repetitive boilerplate.
    *
    * Determinism contract (the kmeansFit discipline): the per-round
    * neighbor sum runs in DECIMAL(28,18) over identically-derived IEEE
    * products, so it is order-independent and bit-equal across engines;
    * every remaining operation is a scalar double expression spelled
    * identically in the oracle, so the final ranks are bit-identical and
    * the top-k cut cannot straddle an ulp.
    *
    * Scale notes (100 TB): the corpus-sized work is ONE tokenize scan
    * into adjacent pairs (map-side combined into the vocabulary-sized
    * edge list); every subsequent round is a vocabulary-keyed join —
    * corpus row count never appears again. The rounds are a
    * [[graft.Fixpoint.iterate]] loop: the default 3 are one lazy plan
    * with no per-round job. The final top-k window is
    * unpartitioned BY DESIGN over the vocabulary-sized rank frame
    * (WindowGroupLimit keeps k rows per partition ahead of the single
    * merge). */
  def textRankKeywords(docs: DataFrame,
                       iters: Int = DefaultTextRankIters,
                       damping: Double = DefaultTextRankDamping,
                       k: Int = DefaultTextRankTopK): DataFrame = {
    // adjacency straight from the codegen bigram pass (tokens cannot
    // contain spaces, so the split is lossless) — scan-shaped, no
    // (doc, pos) self-join
    val e0 = docs
      .select(explode(graft.functions.TextFunctions.bigrams(toks)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("t"),
        split(col("bg"), " ").getItem(1).as("u"))
      .filter(col("t") =!= col("u"))
    val edges = e0.select(col("t").as("src"), col("u").as("dst"))
      .unionByName(e0.select(col("u").as("src"), col("t").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val wdeg = edges.groupBy("src").agg(sum("w").as("wd"))
      .localCheckpoint(true)
    val nNodes = wdeg.count().toDouble
    if (nNodes == 0)
      return wdeg.select(col("src").as("term"),
        round(lit(0.0), 6).as("textrank"), lit(0L).as("rk"))
    val init = wdeg.select(col("src").as("node"), (lit(1.0) / nNodes).as("pr"))
    val pr = graft.Fixpoint.iterate(init, iters) { pr =>
      edges
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .join(wdeg, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(((col("pr") * col("w")) / col("wd"))
          .cast("decimal(28,18)")).as("__m"))
        .select(col("dst").as("node"),
          ((lit(1.0) - lit(damping)) / nNodes +
            lit(damping) * col("__m").cast("double")).as("pr"))
    }
    val byRank = Window.orderBy(col("pr").desc, col("node"))
    pr.withColumn("rk", row_number().over(byRank).cast("long"))
      .filter(col("rk") <= k)
      .select(col("node").as("term"), round(col("pr"), 6).as("textrank"),
        col("rk"))
      .orderBy("rk")
  }

  /** Gopher quality-rule census (Rae'21 §A1.1, the rule set every web
    * pipeline since reproduces): per-source counts of docs failing each
    * structural rule, plus the survivors. Rules (thresholds are the
    * paper's, word-level where it says words):
    *   r_word_count   — 50 <= words <= 100,000
    *   r_mean_len     — 3 <= mean word length <= 10
    *   r_symbol_ratio — (# '#' or '...' occurrences) / words <= 0.1
    *   r_bullet_lines — < 90% of lines start with a bullet ('-' or '*')
    *   r_alpha_words  — >= 80% of words contain an alphabetic char
    *   r_stopwords    — >= 2 distinct English stopwords appear
    * Every rule is exact integer/regexp arithmetic on one codegen scan;
    * the census is a per-source sum of 0/1 flags — no shuffle wider than
    * (source, 7 longs). A doc fails `keep` iff it fails ANY rule, so
    * keep_rate is the Gopher structural-survival rate a mixing recipe
    * reads per source. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val w = size(toks).cast("long")
    val meanLen = when(w === 0, 0.0)
      .otherwise(aggregate(transform(toks, t => length(t).cast("double")),
        lit(0.0), (acc, v) => acc + v) / w.cast("double"))
    val symbols = (size(split(col("text"), "#", -1)) - 1 +
      size(split(col("text"), "\\.\\.\\.", -1)) - 1).cast("long")
    val lines = filter(split(col("text"), "\n", -1),
      l => length(l) > 0)
    val bulletLines = filter(lines,
      l => l.rlike("^\\s*[-*]"))
    val alphaWords = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val stopHits = size(array_intersect(toks,
      array(LangMarkers("en").map(lit): _*))).cast("long")
    val flagged = docs.select(col("source"),
        w.as("w"), meanLen.as("ml"), symbols.as("sy"),
        size(lines).cast("long").as("nl"),
        size(bulletLines).cast("long").as("bl"),
        alphaWords.as("aw"), stopHits.as("sh"))
      .select(col("source"),
        when(col("w") < 50 || col("w") > 100000, 1L).otherwise(0L)
          .as("f_word_count"),
        when(col("ml") < 3.0 || col("ml") > 10.0, 1L).otherwise(0L)
          .as("f_mean_len"),
        when(col("w") > 0 &&
          col("sy").cast("double") / col("w").cast("double") > 0.1, 1L)
          .otherwise(0L).as("f_symbol_ratio"),
        when(col("nl") > 0 &&
          col("bl").cast("double") / col("nl").cast("double") >= 0.9, 1L)
          .otherwise(0L).as("f_bullet_lines"),
        when(col("w") > 0 &&
          col("aw").cast("double") / col("w").cast("double") < 0.8, 1L)
          .otherwise(0L).as("f_alpha_words"),
        when(col("sh") < 2, 1L).otherwise(0L).as("f_stopwords"))
    val anyFail = greatest(col("f_word_count"), col("f_mean_len"),
      col("f_symbol_ratio"), col("f_bullet_lines"), col("f_alpha_words"),
      col("f_stopwords"))
    flagged.withColumn("f_any", anyFail)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("f_word_count").as("fail_word_count"),
        sum("f_mean_len").as("fail_mean_len"),
        sum("f_symbol_ratio").as("fail_symbol_ratio"),
        sum("f_bullet_lines").as("fail_bullet_lines"),
        sum("f_alpha_words").as("fail_alpha_words"),
        sum("f_stopwords").as("fail_stopwords"),
        (count(lit(1)) - sum("f_any")).as("n_keep"))
      .withColumn("keep_rate", round(
        col("n_keep").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  /** Flesch reading-ease + Flesch-Kincaid grade per source — the classic
    * readability gate a quality pipeline applies before the learned
    * classifier (a corpus slice whose grade level jumps is template/OCR
    * junk long before perplexity notices). Syllables are approximated as
    * case-folded vowel-group runs ([aeiouy]+, the standard cheap
    * estimator) and sentences as terminal-punctuation runs floored at 1
    * per doc — both pure regexp COUNTS, so every aggregate is an exact
    * long and the two formulas evaluate once, per source, on exact sums.
    * Zero-token docs are excluded (no words -> both formulas undefined).
    * One codegen scan, tiny per-source result. */
  def readability(docs: DataFrame): DataFrame = {
    val words = size(toks).cast("long")
    val syll = size(regexp_extract_all(Tokenize.asciiFold(col("text")),
      lit("[aeiouy]+"), lit(0))).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val perDoc = docs.select(col("source"), words.as("w"), syll.as("sy"),
        sents.as("se"))
      .filter(col("w") > 0)
    val agg = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("w").as("words"),
      sum("sy").as("syllables"), sum("se").as("sentences"))
    val wps = col("words").cast("double") / col("sentences").cast("double")
    val spw = col("syllables").cast("double") / col("words").cast("double")
    agg.select(col("source"), col("n_docs"), col("words"),
        col("syllables"), col("sentences"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
          .as("flesch_ease"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
          .as("fk_grade"))
      .orderBy("source")
  }

  /** Zipf rank-frequency fit per source: OLS of ln(freq) ~ ln(rank) over
    * the top-`k` terms — the corpus-health diagnostic (natural text runs
    * slope ~ -1; templated/generated text flattens, boilerplate-heavy
    * text steepens; a slope drifting across snapshots flags a scrape
    * regression before any downstream eval does).
    *
    * Determinism: ranks come from a total order (count desc, term asc) so
    * the top-k cut is exact; ln(rank) and ln(count) are IEEE-identical in
    * both engines on exact integer inputs (the bm25 ln(N/df) precedent),
    * their products are single IEEE multiplies, and all SUMS accumulate
    * as DECIMAL(28,18) (exact, order-independent — the sim_label_centroids
    * rule), so slope/intercept/r2 are one fixed double expression tree
    * over exact sums, rounded once at the end.
    *
    * Scale: one tokenize scan -> (source, term) partial-agg counts; the
    * rank window is per-source top-k (WindowGroupLimit pushes the k cut
    * below the sort), so the fit frame is `sources x k` rows — constant
    * in corpus size. */
  def zipfFit(docs: DataFrame, k: Int = 200): DataFrame = {
    val tc = Tokenize.termOccurrences(docs.select(col("source"),
        col("doc_id"), col("text")), "source")
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val byFreq = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("term"))
    val ranked = tc.withColumn("r", row_number().over(byFreq).cast("long"))
      .filter(col("r") <= k)
    val x = log(col("r").cast("double"))
    val y = log(col("cnt").cast("double"))
    val dec = "decimal(28,18)"
    val sums = ranked.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
      sum((x * x).cast(dec)).as("sxx"),
      sum((x * y).cast(dec)).as("sxy"),
      sum((y * y).cast(dec)).as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double"); val sxyD = col("sxy").cast("double")
    val syyD = col("syy").cast("double")
    val den = nD * sxxD - sxD * sxD
    val slope = when(den === 0.0, 0.0).otherwise((nD * sxyD - sxD * syD) / den)
    val ssTot = syyD - syD * syD / nD
    sums.withColumn("slope", slope)
      .withColumn("intercept", (syD - col("slope") * sxD) / nD)
      .withColumn("r2", when(ssTot === 0.0, 0.0)
        .otherwise((col("slope") * (sxyD - sxD * syD / nD)) / ssTot))
      .select(col("source"), col("n").as("n_terms"),
        round(col("slope"), 6).as("zipf_slope"),
        round(col("intercept"), 6).as("zipf_intercept"),
        round(col("r2"), 6).as("r2"))
      .orderBy("source")
  }

  /** Heaps'-law vocabulary-growth curve: cumulative (tokens, types) at 10
    * doc-id checkpoints plus the fitted V = K * N^beta — the planning
    * number for tokenizer/vocab sizing ("how many NEW types does the next
    * 10 TB add?") and a dedup-health signal (beta rising toward 1 means
    * the corpus keeps minting types: OCR noise or junk; beta collapsing
    * means heavy duplication).
    *
    * Scale-shape: checkpoints are pure min/max ARITHMETIC on doc_id (no
    * global sort, no ntile); cumulative counts come from range-joining the
    * 10-row broadcast bound table against doc-grain token counts and
    * vocab-grain first-appearance rows (fan-out <= 10 skinny rows each,
    * map-side combined). The OLS fit runs over the 10 checkpoint rows with
    * DECIMAL(28,18) sums (order-independent), same discipline as zipfFit.
    * The full-table windows a naive cumulative formulation needs never
    * appear. */
  def heapsLaw(docs: DataFrame): DataFrame = {
    val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .crossJoin(docs.sparkSession.range(1, 11).toDF("ckpt"))
      // integer arithmetic only (DIV, not fractional /) — identical in
      // any engine, no sort; ckpt=10 lands exactly on max(doc_id)
      .select(col("ckpt"),
        expr("lo + (hi - lo) * ckpt DIV 10").as("bound"))
    val docTok = docs.select(col("doc_id"),
      size(toks).cast("long").as("ntok"))
    val firstSeen = Tokenize.termOccurrences(docs)
      .groupBy("term").agg(min("doc_id").as("first_doc"))
    val tokAt = docTok.join(broadcast(bounds),
        col("doc_id") <= col("bound"))
      .groupBy("ckpt", "bound")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
    val typAt = firstSeen.join(broadcast(bounds),
        col("first_doc") <= col("bound"))
      .groupBy("ckpt").agg(count(lit(1)).as("n_types"))
    val curve = tokAt.join(typAt, Seq("ckpt"))
    val x = log(col("n_tokens").cast("double"))
    val y = log(col("n_types").cast("double"))
    val dec = "decimal(28,18)"
    val fit = curve.filter(col("n_tokens") > 0).agg(
      count(lit(1)).as("n"),
      sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
      sum((x * x).cast(dec)).as("sxx"),
      sum((x * y).cast(dec)).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double"); val sxyD = col("sxy").cast("double")
    val den = nD * sxxD - sxD * sxD
    val beta = when(den === 0.0, 0.0)
      .otherwise((nD * sxyD - sxD * syD) / den)
    curve.crossJoin(broadcast(fit.withColumn("beta", beta)
        .select(round(col("beta"), 6).as("heaps_beta"),
          round(exp((col("sy").cast("double") -
            col("beta") * col("sx").cast("double")) / col("n").cast("double")),
            6).as("heaps_k"))))
      .select(col("ckpt"), col("bound"), col("n_docs"), col("n_tokens"),
        col("n_types"), col("heaps_beta"), col("heaps_k"))
      .orderBy("ckpt")
  }
}
