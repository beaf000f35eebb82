package graft.rank

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import graft.index.{IndexStore, InvertedIndex}

/** Okapi BM25 ranking (app/query.py:130-143) as ONE declarative plan — no
  * driver-side loop per term or doc (the reference does O(terms + docs)
  * sequential Cassandra round-trips, app/query.py:58-103; here those are
  * two broadcast joins). One bounded exception: a stored request whose
  * bucket files sum to at most `IndexStore.DriverReadMaxBytes` reads and
  * scores its postings on the driver in one pass, with no Spark job
  * (`searchStored`).
  *
  * Formula parity (app/query.py:131-135): raw IDF `ln(N/df)` (no +0.5
  * smoothing, no max(0,.)), k1=1.0, b=0.75, score summed per doc, top-k
  * descending. Ties broken by doc_id ascending and scores rounded to 4
  * decimals for cross-engine determinism (SURVEY.md §7.4).
  *
  * Scale notes (100 TB): query terms enter as a broadcast literal side; tf
  * is pruned to query terms BEFORE any join with per-doc stats, so the big
  * side of every join is already |query-terms|-bounded. Top-k plans as
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows), not
  * a global sort.
  */
object BM25 {

  /** The reference's `set(query.split())` (SURVEY T6): lowercase, split on
    * whitespace, drop empties, dedup in first-seen order. */
  private def queryTerms(query: String): Seq[String] =
    query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  def search(spark: SparkSession, docs: DataFrame, query: String,
             k1: Double = 1.0, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qTerms = queryTerms(query).toDF("term")

    // ONE tokenize pass feeds tf; df and dl derive from tf by
    // re-aggregation (the corpus text scan is the scale-dominant cost —
    // 2 scans total here: tf and the corpus stats).
    val tf = InvertedIndex.termFrequency(docs)
    val dfreq = InvertedIndex.docFrequencyFromTf(tf)
    val dl = InvertedIndex.docLengthFromTf(tf)
    val stats = InvertedIndex.corpusInfo(docs)

    // Restrict postings + vocab to query terms first (J3 as joins, not
    // loops); the term predicate pushes below the df aggregation.
    val qtf = tf.join(broadcast(qTerms), Seq("term"))
    val qdf = dfreq.join(broadcast(qTerms), Seq("term"))
    top(scoreAll(qtf, qdf, dl, stats, k1, b), topK)
  }

  /** BM25 served from champion lists only (round 5): per query term, at
    * most m candidate postings — the approximate serving mode whose cost
    * is |terms| * m however hot the terms are. df/idf, doc lengths, and
    * corpus stats stay TRUE corpus values (pruning changes the candidate
    * set, not the formula), so every returned score equals the exact
    * BM25 score; only docs outside every champion list can be missed.
    * The query-term restriction applies BEFORE the champion ranking —
    * valid because a term's champion list depends only on that term's
    * own postings — so the window ranks |terms| partitions, not the
    * vocabulary (a join above the window would not be pushed through by
    * Catalyst; verified in the physical plan). */
  def searchChampions(spark: SparkSession, docs: DataFrame, query: String,
                      m: Int = 10, k1: Double = 1.0, b: Double = 0.75,
                      topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qTerms = queryTerms(query).toDF("term")
    val tf = InvertedIndex.termFrequency(docs)
    val dfreq = InvertedIndex.docFrequencyFromTf(tf)
    val dl = InvertedIndex.docLengthFromTf(tf)
    val stats = InvertedIndex.corpusInfo(docs)
    val qtf = InvertedIndex.championListsFromTf(
        tf.join(broadcast(qTerms), Seq("term")), m)
      .select("term", "doc_id", "term_frequency")
    val qdf = dfreq.join(broadcast(qTerms), Seq("term"))
    top(scoreAll(qtf, qdf, dl, stats, k1, b), topK)
  }

  /** EXACT top-k with WAND/MaxScore-style candidate pruning (Broder'03 /
    * Turtle-Flood'95, re-expressed as a batch plan): a cheap bound pass
    * shrinks the doc set the full scoring chain runs on, and the result
    * is PROVABLY identical to `search` — the declared oracle is the plain
    * exact BM25 chain.
    *
    * Two phases. (1) Bounds: each term's score is capped by
    * idf·(k1+1) (the tf→∞ limit of A7, monotone in tf with the dl term
    * at its floor), so a doc's score is capped by the sum of caps of the
    * query terms it CONTAINS — computable from postings alone, before
    * the dl/stats joins and float chain. The pruning threshold θ is the
    * k-th exact score of the champion-list candidates (a subset, so its
    * k-th best is ≤ the true k-th best; one topK-row driver read, the
    * kmeansFit scalar discipline). (2) Verify: docs with cap-sum ≥
    * θ − margin run the exact J1/J2 scoring tail; every champion doc
    * passes its own bound, so the candidate set always covers top-k.
    * The margin (1e-3) guards the final round(4)+doc_id tie-break: a doc
    * whose unrounded score sits within rounding distance of θ can still
    * win a tie, so it must not be pruned.
    *
    * Scale notes (100 TB): the bound pass touches ONLY the query-term
    * postings joined to a |terms|-row broadcast of caps — no doc-length
    * join, no corpus stats, no transcendentals — and at serving scale the
    * stored-index form prunes the same way off the postings buckets. The
    * tf frame is localCheckpoint'ed once for its three consumers
    * (champions, bounds, final scoring). */
  def searchWand(spark: SparkSession, docs: DataFrame, query: String,
                 k1: Double = 1.0, b: Double = 0.75,
                 topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qTerms = queryTerms(query).toDF("term")
    val tfAll = InvertedIndex.termFrequency(docs)
    val tf = tfAll.join(broadcast(qTerms), Seq("term")).localCheckpoint(true)
    val qdf = InvertedIndex.docFrequencyFromTf(tf)
    // Round-9 (guide §1.2 step 1): dl used to re-derive from the
    // UN-checkpointed tfAll (tf's checkpoint truncates the lineage dl
    // would have shared), so each of dl's two consumers — champion
    // scoring and the final rank — re-ran the full tokenize + explode +
    // (doc, term) aggregate, the scan-dominant cost, and corpusInfo
    // re-scanned the text twice more. docInfo is the no-shuffle size()
    // spelling (identical doc_length wherever a posting exists:
    // Σ tf == size(tokens); zero-token docs never join a posting), the
    // checkpoint pays its ONE narrow scan once for both consumers, and
    // stats re-derives from the same frame instead of re-reading text.
    val info = InvertedIndex.docInfo(docs).localCheckpoint(true)
    val dl = info
    val stats = InvertedIndex.corpusInfoFromDocInfo(info)
    // phase-1a: θ from the champions' EXACT scores (unrounded)
    val champ = InvertedIndex.championListsFromTf(tf, topK)
      .select("term", "doc_id", "term_frequency")
    val champTop = scoreAll(champ, qdf, dl, stats, k1, b)
      .orderBy(desc("score")).limit(topK).collect()
    val theta =
      if (champTop.length < topK) Double.NegativeInfinity
      else champTop.last.getAs[Double]("score")
    // phase-1b: per-term cap idf*(k1+1); candidate docs by cap-sum
    val caps = qdf.crossJoin(broadcast(stats))
      .select(col("term"),
        (log(col("doc_n").cast("double") / col("doc_frequency")) *
          lit(k1 + 1)).as("__cap"))
    val cand = tf.join(broadcast(caps), Seq("term"))
      .groupBy("doc_id").agg(sum("__cap").as("__cap_sum"))
      .filter(col("__cap_sum") >= lit(theta - 1e-3))
      .select("doc_id")
    // phase-2: exact scoring on the pruned doc set only
    top(scoreAll(tf.join(cand, Seq("doc_id"), "leftsemi"), qdf, dl, stats, k1, b),
      topK)
  }

  /** EXACT top-k with BLOCK-MAX WAND pruning (Ding-Suel'11, re-expressed
    * as a batch plan) — `searchWand`'s bound pass composed with the
    * postings BLOCK structure (`InvertedIndex.PostingsBlockWidth` doc-id
    * blocks, the same layout `postingsCompression` encodes): per
    * (term, block) the stored max tf caps that term's contribution at
    * idf·(k1+1)·maxtf/(k1·(1−b)+maxtf) — the dl term at its floor, and
    * the tf ratio monotone in tf — which is strictly tighter than plain
    * WAND's tf→∞ cap idf·(k1+1). Pruning is two-stage: (1) WHOLE blocks
    * whose cap-sum over the query terms can't reach θ are skipped before
    * any per-doc work — the real serving win on stopword-heavy queries,
    * where dense blocks of low-impact postings never reach the exchange;
    * (2) surviving docs are bounded by their own per-(term, block)
    * cap-sum. θ comes from the champions' exact scores (a subset, so its
    * k-th best ≤ the true k-th best), and every pruned doc has true
    * score ≤ cap-sum < θ − margin, so the result is PROVABLY identical
    * to `search` — the declared oracle is the plain unpruned exact chain
    * (the bm25_wand standing: pruning must be invisible).
    *
    * Scale notes (100 TB): block caps are one (term, block)-grain
    * aggregate over the query terms' postings only — the serving-time
    * equivalent reads them precomputed next to the compressed blocks,
    * skipping without decoding (the absolute-block-head layout). The
    * surviving-block semi-join prunes the postings BEFORE the per-doc
    * cap aggregate, so θ-misses never shuffle. */
  def searchBlockMax(spark: SparkSession, docs: DataFrame, query: String,
                     k1: Double = 1.0, b: Double = 0.75,
                     topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qTerms = queryTerms(query).toDF("term")
    val tfAll = InvertedIndex.termFrequency(docs)
    val tf = tfAll.join(broadcast(qTerms), Seq("term")).localCheckpoint(true)
    val qdf = InvertedIndex.docFrequencyFromTf(tf)
    // same dl/stats rework as searchWand (one checkpointed size() scan
    // instead of three tokenize+aggregate re-evaluations — see there)
    val info = InvertedIndex.docInfo(docs).localCheckpoint(true)
    val dl = info
    val stats = InvertedIndex.corpusInfoFromDocInfo(info)
    val champ = InvertedIndex.championListsFromTf(tf, topK)
      .select("term", "doc_id", "term_frequency")
    val champTop = scoreAll(champ, qdf, dl, stats, k1, b)
      .orderBy(desc("score")).limit(topK).collect()
    val theta =
      if (champTop.length < topK) Double.NegativeInfinity
      else champTop.last.getAs[Double]("score")
    val cand = blockMaxCandidates(tf, qdf, stats, k1, b, theta)
    top(scoreAll(tf.join(cand, Seq("doc_id"), "leftsemi"), qdf, dl, stats, k1, b),
      topK)
  }

  /** Per-(term, block) score caps from the block-local max tf — exposed
    * (with [[blockMaxCandidates]]) for the planted whole-block-skip spec. */
  private[graft] def blockMaxBlockCaps(tf: DataFrame, qdf: DataFrame,
                                       stats: DataFrame, k1: Double,
                                       b: Double): DataFrame = {
    val idf = qdf.crossJoin(broadcast(stats))
      .select(col("term"),
        log(col("doc_n").cast("double") / col("doc_frequency")).as("__idf"))
    tf.withColumn("block",
        floor(col("doc_id") / lit(InvertedIndex.PostingsBlockWidth)).cast("long"))
      .groupBy("term", "block")
      .agg(max("term_frequency").as("__maxtf"))
      .join(broadcast(idf), Seq("term"))
      .select(col("term"), col("block"),
        (col("__idf") * lit(k1 + 1) * col("__maxtf") /
          (lit(k1 * (1 - b)) + col("__maxtf"))).as("__cap"))
  }

  /** Candidate docs that survive both block-max stages for threshold θ.
    * The margin guards the final round(4)+doc_id tie-break, exactly as in
    * `searchWand`. */
  private[graft] def blockMaxCandidates(tf: DataFrame, qdf: DataFrame,
                                        stats: DataFrame, k1: Double,
                                        b: Double, theta: Double): DataFrame = {
    // (term, block)-grain: bounded by |terms| * blocks-touched — tiny;
    // checkpointed once for its two consumers (block skip, doc bound)
    val caps = blockMaxBlockCaps(tf, qdf, stats, k1, b).localCheckpoint(true)
    val liveBlocks = caps.groupBy("block").agg(sum("__cap").as("__bsum"))
      .filter(col("__bsum") >= lit(theta - 1e-3))
      .select("block")
    tf.withColumn("block",
        floor(col("doc_id") / lit(InvertedIndex.PostingsBlockWidth)).cast("long"))
      .join(broadcast(liveBlocks), Seq("block"), "leftsemi")
      .join(broadcast(caps), Seq("term", "block"))
      .groupBy("doc_id").agg(sum("__cap").as("__cap_sum"))
      .filter(col("__cap_sum") >= lit(theta - 1e-3))
      .select("doc_id")
  }

  /** BM25 search served from a persisted IndexStore — no recompute. The
    * bucket modulus and the corpus stats come from the store's
    * index_meta, read once per request on the driver, and only the query
    * terms' hash-bucket directories are opened (the
    * Cassandra-token-routing equivalent).
    *
    * When those directories' part files sum to at most
    * `driverReadMaxBytes` (default [[IndexStore.DriverReadMaxBytes]]),
    * the request runs no Spark job: the rows are read on the driver
    * (`IndexStore.postingsOnDriver`) and scored there by [[topOnDriver]],
    * and the answer is a LocalRelation. Above the cap, the postings read
    * is a pruned Spark scan and the scoring a plan (df window, per-doc
    * sum, top-k). Both branches return the same rows. */
  def searchStored(spark: SparkSession, indexDir: String, query: String,
                   k1: Double = 1.0, b: Double = 0.75, topK: Int = 10,
                   driverReadMaxBytes: Long = IndexStore.DriverReadMaxBytes): DataFrame = {
    val meta = IndexStore.indexMeta(spark, indexDir)
    val terms = queryTerms(query)
    IndexStore.postingsOnDriver(spark, indexDir, terms, meta, driverReadMaxBytes,
        IndexStore.BM25Columns) match {
      case Some(postings) => topOnDriver(spark, postings, meta, k1, b, topK)
      case None =>
        top(scorePostings(storedPostings(spark, indexDir, terms, meta), k1, b), topK)
    }
  }

  /** The rounded top-k of driver-read (term, doc_id, term_frequency,
    * doc_length) postings, as a LocalRelation. df is counted per term over
    * the postings, as the Spark plan's window counts it; each posting is
    * scored, and each per-doc sum rounded, by the plan's own Catalyst
    * expressions (`bm25Score`, `roundedRank`) bound on the driver: one
    * formula, no job. */
  private def topOnDriver(spark: SparkSession, postings: IndexStore.DriverPostings,
                          meta: IndexStore.IndexMeta, k1: Double, b: Double,
                          topK: Int): DataFrame = {
    val scorer = driverScorer(spark)
    val df = postings.term.groupMapReduce(identity)(_ => 1L)(_ + _)
    val avg = meta.avgDocLength.map(Double.box).orNull
    val sums = scala.collection.mutable.LongMap.empty[Double]
    postings.term.indices.foreach { i =>
      val s = scorer.score(InternalRow(postings.termFrequency(i), postings.docLength(i),
        df(postings.term(i)), meta.docN, avg, k1, b)).asInstanceOf[Double]
      val d = postings.docId(i)
      sums(d) = sums.get(d).fold(s)(_ + s)
    }
    // doc_rank descending, then doc_id: compared in place, since a key
    // tuple per comparison would allocate O(docs log docs) objects
    val byRank: Ordering[Row] = (x, y) => {
      val c = java.lang.Double.compare(y.getDouble(1), x.getDouble(1))
      if (c != 0) c else java.lang.Long.compare(x.getLong(0), y.getLong(0))
    }
    val rows = sums.toSeq.map { case (d, s) => Row(d, scorer.rank(InternalRow(s))) }
      .sorted(byRank).take(topK)
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("doc_rank", DoubleType))))
  }

  /** `bm25Score` and `roundedRank` as driver-side functions of rows. The
    * scorer's row carries `k1` and `b`, so one binding serves every
    * request: Catalyst analyses the two expressions once per JVM, not
    * once per request, and nothing is kept per parameter pair. */
  private final class DriverScorer(spark: SparkSession) {
    val score: InternalRow => Any = evaluator(spark, bm25Score(col("k1"), col("b")),
      "term_frequency" -> LongType, "doc_length" -> LongType, "doc_frequency" -> LongType,
      "doc_n" -> LongType, "avg_doc_length" -> DoubleType, "k1" -> DoubleType,
      "b" -> DoubleType)
    val rank: InternalRow => Any = evaluator(spark, roundedRank, "score" -> DoubleType)
  }

  private var boundScorer: Option[DriverScorer] = None

  private def driverScorer(spark: SparkSession): DriverScorer = synchronized {
    boundScorer.getOrElse {
      val s = new DriverScorer(spark)
      boundScorer = Some(s)
      s
    }
  }

  /** A Column as a driver-side function of rows with the given fields:
    * Catalyst resolves it over an empty relation of those fields, and the
    * resolved expression is bound to the row's ordinals and interpreted. */
  private def evaluator(spark: SparkSession, c: Column,
                        fields: (String, DataType)*): InternalRow => Any = {
    val schema = StructType(fields.map { case (n, t) => StructField(n, t) })
    spark.createDataFrame(java.util.List.of[Row](), schema).select(c)
      .queryExecution.analyzed match {
      case Project(Seq(e), child) => BindReferences.bindReference(e, child.output).eval
    }
  }

  /** The terms' stored postings with every column bm25Score reads:
    * doc_frequency counted per term over the rows the request reads anyway
    * (df == |{docs: tf > 0}|; a window, not an aggregate joined back, so
    * the postings are scanned once), and doc_n and avg_doc_length as
    * literals from index_meta. */
  private def storedPostings(spark: SparkSession, indexDir: String,
                             terms: Seq[String], meta: IndexStore.IndexMeta): DataFrame =
    IndexStore.postingsForTerms(spark, indexDir, terms, meta)
      .withColumn("doc_frequency", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("doc_n", lit(meta.docN))
      .withColumn("avg_doc_length", typedLit(meta.avgDocLength))

  /** The scalar A7 score (app/query.py:131-135) over the joined columns
    * (term_frequency, doc_frequency, doc_length, doc_n, avg_doc_length) —
    * the single source of the formula for every search form. The Spark
    * plans pass `k1` and `b` as literals, which Catalyst folds; the driver
    * scorer passes them as row fields. */
  private def bm25Score(k1: Column, b: Column): Column =
    log(col("doc_n").cast("double") / col("doc_frequency")) *
      ((k1 + 1) * col("term_frequency")) /
      (k1 * ((lit(1) - b) +
        b * col("doc_length") / col("avg_doc_length")) +
        col("term_frequency"))

  private def bm25Score(k1: Double, b: Double): Column = bm25Score(lit(k1), lit(b))

  /** Per-doc UNROUNDED BM25 sums over postings that already carry every
    * column bm25Score reads — the shared scoring core; top() and the
    * phrase-boosted form round only their FINAL score (a boost over a
    * pre-rounded sum would compound rounding error). */
  private def scorePostings(postings: DataFrame, k1: Double, b: Double): DataFrame =
    postings
      .withColumn("bm25", bm25Score(k1, b))
      .groupBy("doc_id")
      .agg(sum("bm25").as("score"))

  /** The recompute forms' scoring: J1 (vocab) + J2 (doc stats) joins and
    * the 1-row corpus stats, then the shared core. Empty-on-OOV (S9) falls
    * out naturally: zero surviving postings => zero rows, schema intact. */
  private def scoreAll(qtf: DataFrame, qdf: DataFrame, dl: DataFrame,
                       stats: DataFrame, k1: Double, b: Double): DataFrame =
    scorePostings(qtf
      .join(broadcast(qdf), Seq("term"))                  // J1
      .join(dl, Seq("doc_id"))                            // J2
      .crossJoin(broadcast(stats)),                       // N, avgdl as 1-row side
      k1, b)

  /** O1: rounded top-k of per-doc scores. */
  private def top(scores: DataFrame, topK: Int): DataFrame =
    scores.select(col("doc_id"), roundedRank.as("doc_rank"))
      .orderBy(desc("doc_rank"), asc("doc_id"))
      .limit(topK)

  /** A per-doc score rounded to 4 decimals (HALF_UP). */
  private def roundedRank: Column = round(col("score"), 4)

  /** Shared frames for pseudo-relevance feedback: the corpus stat tables,
    * the feedback top-`feedbackK` of the ORIGINAL query, and the top-
    * `expandE` expansion terms by tf-idf mass inside the feedback docs
    * (original query terms excluded; weight rounded to 6 and tie-broken
    * by term so the selection is deterministic cross-engine). The tf
    * table feeds three consumers (feedback ranking, expansion scoring,
    * final scoring) — localCheckpoint'ed once so the corpus tokenize
    * scan is paid once, not three times.
    *
    * df is computed PER TERM SET, never for the whole vocabulary: the
    * term restriction — a broadcast left-semi join against the term-set
    * frame, for both the literal query terms and the feedback docs'
    * candidate terms — runs map-side on the checkpointed tf BEFORE the
    * groupBy, so the df exchange carries only the restricted terms'
    * partials. The round-7 spelling joined
    * the few-hundred-row candidate side against a full-vocabulary df
    * table — a corpus-scale exchange per query (49x at the 10x gate) for
    * df values only the candidates ever read. */
  private def dfForTermSet(tf: DataFrame, termSet: DataFrame): DataFrame =
    tf.join(broadcast(termSet.select("term")), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("doc_frequency"))

  private def expansionFrames(spark: SparkSession, docs: DataFrame,
                              query: String, feedbackK: Int, expandE: Int,
                              k1: Double, b: Double)
      : (Seq[String], DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val terms = queryTerms(query)
    val tf = InvertedIndex.termFrequency(docs).localCheckpoint(true)
    val dl = InvertedIndex.docLengthFromTf(tf)
    val stats = InvertedIndex.corpusInfo(docs)
    val qTerms = terms.toDF("term")
    val fb = top(scoreAll(tf.join(broadcast(qTerms), Seq("term")),
      dfForTermSet(tf, qTerms), dl, stats, k1, b), feedbackK).select("doc_id")
    // The candidate vocabulary lives in feedbackK docs — a constant-size
    // frame. Checkpointed so the feedback ranking is paid once, then df
    // for exactly these terms derives from tf and broadcasts back in.
    val fbTf = tf.join(fb, Seq("doc_id"), "left_semi")
      .filter(!col("term").isin(terms: _*))
      .localCheckpoint(true)
    val exp = fbTf
      .join(broadcast(dfForTermSet(tf, fbTf.select("term").distinct())),
        Seq("term"))
      .crossJoin(broadcast(stats.select("doc_n")))
      .groupBy("term")
      .agg(round(sum(col("term_frequency").cast("double") *
        log(col("doc_n").cast("double") / col("doc_frequency"))), 6)
        .as("expansion_weight"))
      .orderBy(desc("expansion_weight"), asc("term")).limit(expandE)
    (terms, tf, dl, stats, exp)
  }

  /** The chosen expansion terms themselves — the observable a relevance
    * engineer inspects before trusting automatic expansion. */
  def expansionTerms(spark: SparkSession, docs: DataFrame, query: String,
                     feedbackK: Int = 10, expandE: Int = 5,
                     k1: Double = 1.0, b: Double = 0.75): DataFrame =
    expansionFrames(spark, docs, query, feedbackK, expandE, k1, b)._5
      .orderBy(desc("expansion_weight"), asc("term"))

  /** RM3-style pseudo-relevance-feedback search (Lavrenko & Croft'01
    * relevance models, the simplified tf-idf-mass variant production
    * stacks run): rank with the original query, mine the top feedback
    * docs for the `expandE` highest tf-idf-mass new terms, then re-rank
    * with the UNION query — original terms at weight 1, expansion terms
    * at `expandWeight` — so the final score is Σ_t w_t · bm25(t, d).
    * Recall widens (docs matching only expansion vocabulary surface)
    * while original-term matches keep their full contribution.
    *
    * Scale notes (100 TB): the expansion vocabulary is mined from
    * `feedbackK` docs (a constant), df/dl/stats stay TRUE corpus tables,
    * and the final ranking is the same J1/J2-join shape as `search` with
    * a ≤ |terms|+expandE broadcast weight table — the second pass costs
    * what any bm25 query costs, never a corpus re-tokenize (shared
    * checkpointed tf). */
  def searchExpanded(spark: SparkSession, docs: DataFrame, query: String,
                     feedbackK: Int = 10, expandE: Int = 5,
                     expandWeight: Double = 0.5, k1: Double = 1.0,
                     b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val (terms, tf, dl, stats, exp) =
      expansionFrames(spark, docs, query, feedbackK, expandE, k1, b)
    // The union query is |terms| + expandE rows; checkpointed so the
    // expansion-term selection (a rank over the feedback docs) is paid
    // once, not once per consumer below.
    val wq = terms.toDF("term").withColumn("qw", lit(1.0))
      .unionByName(exp.select(col("term"), lit(expandWeight).as("qw")))
      .localCheckpoint(true)
    val qtf = tf.join(broadcast(wq), Seq("term"))
    val qdf = dfForTermSet(tf, wq)
    qtf.join(broadcast(qdf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("bm25w", bm25Score(k1, b) * col("qw"))
      .groupBy("doc_id").agg(sum("bm25w").as("score"))
      .select(col("doc_id"), round(col("score"), 4).as("doc_rank"))
      .orderBy(desc("doc_rank"), asc("doc_id"))
      .limit(topK)
  }

  /** Phrase-aware ranking from ONE stored index: bag-of-words BM25 over
    * the phrase's terms, boosted for documents containing the EXACT
    * phrase — `score * (1 + boost * ln(1 + phrase_occurrences))`. The
    * natural composition now that tf and positions live in the same
    * postings rows: the BM25 side reads the terms' buckets without the
    * positions column, the phrase side explodes the positions of the same
    * buckets, and one left join marries them — phrase hits rank above
    * their bag-of-words ties, docs without the phrase keep their base
    * score (ln(1+0) = 0). Boost applies BEFORE top-k: an exact-phrase doc
    * outside the bag-of-words top-k can still surface. */
  def searchStoredPhraseBoosted(spark: SparkSession, indexDir: String,
                                phrase: String, k1: Double = 1.0,
                                b: Double = 0.75, topK: Int = 10,
                                boost: Double = 0.5): DataFrame = {
    val chain = InvertedIndex.phraseTerms(phrase)
    val meta = IndexStore.indexMeta(spark, indexDir)
    val scores = scorePostings(storedPostings(spark, indexDir, chain.distinct, meta), k1, b)
    val phr = IndexStore.phraseScan(spark, indexDir, chain, meta)
    scores.join(phr, Seq("doc_id"), "left")
      .withColumn("n_phrase", coalesce(col("n_occurrences"), lit(0L)))
      .select(col("doc_id"),
        round(col("score") *
          (lit(1.0) + lit(boost) * log(lit(1.0) + col("n_phrase"))), 4)
          .as("doc_rank"),
        col("n_phrase"))
      .orderBy(desc("doc_rank"), asc("doc_id"))
      .limit(topK)
  }

  /** Batch form: score MANY queries in one plan — the query-workload scale
    * path. One tf build amortizes over all queries; per-query top-k is a
    * ranking window instead of a global limit. `queries` is
    * (query_id LONG, query STRING). */
  def searchMany(spark: SparkSession, docs: DataFrame, queries: DataFrame,
                 k1: Double = 1.0, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val qTerms = queries.select(col("query_id"),
      explode(array_distinct(split(lower(col("query")), "\\s+"))).as("term"))
      .filter(length(col("term")) > 0)

    val tf = InvertedIndex.termFrequency(docs)
    val dfreq = InvertedIndex.docFrequencyFromTf(tf)
    val dl = InvertedIndex.docLengthFromTf(tf)
    val stats = InvertedIndex.corpusInfo(docs)

    val scored = tf
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq.join(broadcast(qTerms.select("term").distinct()),
        Seq("term"))), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("bm25", bm25Score(k1, b))
    rankMany(scored, topK)
  }

  /** Batch search served from a persisted IndexStore — the query-workload
    * serving path: the whole workload's term set picks the postings
    * bucket directories to open (one pruned scan amortized over ALL
    * queries), and scoring is the same one-plan
    * windowed top-k as searchMany. Queries are driver-known pairs
    * (query_id, query) — they must be, for the bucket list to land in the
    * plan as pruning literals. */
  def searchManyStored(spark: SparkSession, indexDir: String,
                       queries: Seq[(Long, String)], k1: Double = 1.0,
                       b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qTerms = queries.flatMap { case (qid, q) =>
      queryTerms(q).map((qid, _))
    }
    // df counts over the workload's distinct terms, BEFORE the query join
    // repeats a posting once per query holding its term
    val scored = storedPostings(spark, indexDir, qTerms.map(_._2).distinct,
        IndexStore.indexMeta(spark, indexDir))
      .join(broadcast(qTerms.toDF("query_id", "term")), Seq("term"))
      .withColumn("bm25", bm25Score(k1, b))
    rankMany(scored, topK)
  }

  /** Shared multi-query scoring tail: per-(query, doc) score sum, then a
    * per-query ranking window. */
  private def rankMany(scored: DataFrame, topK: Int): DataFrame = {
    val perQuery = scored.groupBy("query_id", "doc_id")
      .agg(sum("bm25").as("score"))
      .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("doc_rank"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("doc_rank"), asc("doc_id"))
    perQuery.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("query_id", "doc_id", "doc_rank", "rn")
      .orderBy("query_id", "rn")
  }

  /** Search-result snippets: for each of the query's top-k docs, the
    * `window`-token window holding the most DISTINCT query terms (ties →
    * the earliest start), re-assembled from the same pinned tokenizer —
    * the serving-side highlight pass every search frontend runs on the
    * ranked page.
    *
    * Candidate windows are anchored at query-term hit positions only:
    * shifting a window left to its first contained hit never loses a
    * hit, so some maximal window always starts AT a hit and anchoring is
    * lossless — candidates are |hits| per doc, not |tokens|.
    *
    * Scale notes (100 TB): the ranking pays the corpus cost; snippet
    * extraction re-reads text for the TOP-K DOCS ONLY (broadcast
    * semi-join restricts the scan before tokenize) and the per-doc
    * window scoring is |hits|² at worst — page-sized, constant in the
    * corpus. */
  def searchSnippets(spark: SparkSession, docs: DataFrame, query: String,
                     window: Int = 15, topK: Int = 10): DataFrame = {
    val top = search(spark, docs, query, topK = topK)
      .select("doc_id", "doc_rank")
    val terms = queryTerms(query)
    val toks = docs.join(broadcast(top), Seq("doc_id"))
      .select(col("doc_id"), col("doc_rank"),
        graft.text.Tokenize.tokens(col("text")).as("tk"))
      .localCheckpoint(true) // feeds hits AND the final slice (k rows)
    val hits = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("term"))
    val wins = hits.as("a").join(hits.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") >= col("a.pos") &&
          col("b.pos") < col("a.pos") + window)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.pos").as("start"))
      .agg(countDistinct(col("b.term")).as("n_terms"))
    val w = Window.partitionBy("doc_id").orderBy(desc("n_terms"), asc("start"))
    wins.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("doc_rank"),
        col("start").cast("long").as("start"), col("n_terms"),
        array_join(slice(col("tk"), col("start"), lit(window)), " ")
          .as("snippet"))
      .orderBy(desc("doc_rank"), asc("doc_id"))
  }

  /** Query spell-suggestion from the corpus vocabulary: for each query
    * term, the top-k vocabulary terms within edit distance <= maxDist,
    * ranked (edit_dist ASC, doc_frequency DESC, term ASC) — the
    * did-you-mean pass a search frontend runs when a term is rare or
    * OOV. Distances come from the banded early-exit Levenshtein kernel
    * (exact for dist <= maxDist, the dedup_edit_pairs discipline), with
    * a lossless |len| band pre-filter so most of the vocabulary never
    * reaches the DP.
    *
    * Scale notes (100 TB): the compare is VOCABULARY-sized × |query
    * terms| — never corpus-sized; the vocabulary aggregation is the
    * same one the index build pays, and the query side broadcasts. */
  def spellSuggest(spark: SparkSession, docs: DataFrame, query: String,
                   maxDist: Int = 2, k: Int = 3): DataFrame = {
    import spark.implicits._
    val qt = queryTerms(query).toDF("query_term")
    val vocab = InvertedIndex.docFrequency(docs)
    val cand = vocab.join(broadcast(qt),
        abs(length(col("term")) - length(col("query_term"))) <= maxDist)
      .withColumn("edit_dist", graft.functions.StringDistanceFunctions
        .bandedLevenshtein(col("term"), col("query_term"), maxDist))
      .filter(col("edit_dist") <= maxDist)
    val w = Window.partitionBy("query_term")
      .orderBy(asc("edit_dist"), desc("doc_frequency"), asc("term"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_term"), col("term").as("suggestion"),
        col("edit_dist").cast("long").as("edit_dist"),
        col("doc_frequency"), col("rank").cast("int").as("rank"))
      .orderBy("query_term", "rank")
  }

  /** Prefix (wildcard) search: each query token is a PREFIX, expanded
    * against the vocabulary to at most `maxExpand` concrete terms —
    * highest-df first, the Lucene bounded-wildcard discipline (an
    * unbounded `a*` would otherwise drag half the vocabulary into the
    * postings join) — then scored as a plain BM25 disjunction where
    * every expanded term keeps its own TRUE df/idf (expansion changes
    * the candidate term set, not the formula; a term matched by two
    * prefixes scores once).
    *
    * Scale: expansion runs on the VOCABULARY table (a broadcast
    * nested-loop against |prefixes| rows — vocab-sized, never postings);
    * the per-prefix cap is a |prefixes|-partition window; postings are
    * then restricted by the <= |prefixes|·maxExpand expanded terms
    * exactly like the literal-terms path. */
  def searchPrefix(spark: SparkSession, docs: DataFrame, query: String,
                   maxExpand: Int = 50, k1: Double = 1.0, b: Double = 0.75,
                   topK: Int = 10): DataFrame = {
    import spark.implicits._
    val prefixes = queryTerms(query).toDF("prefix")
    val tf = InvertedIndex.termFrequency(docs)
    val dfreq = InvertedIndex.docFrequencyFromTf(tf)
    val dl = InvertedIndex.docLengthFromTf(tf)
    val stats = InvertedIndex.corpusInfo(docs)
    val byDf = Window.partitionBy("prefix")
      .orderBy(col("doc_frequency").desc, col("term"))
    val qTerms = dfreq.join(broadcast(prefixes),
        col("term").startsWith(col("prefix")))
      .withColumn("rn", row_number().over(byDf))
      .filter(col("rn") <= maxExpand)
      .select("term").distinct()
    val qtf = tf.join(broadcast(qTerms), Seq("term"))
    val qdf = dfreq.join(broadcast(qTerms), Seq("term"))
    top(scoreAll(qtf, qdf, dl, stats, k1, b), topK)
  }
}
