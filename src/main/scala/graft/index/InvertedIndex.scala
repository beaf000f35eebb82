package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.text.Tokenize

/** The reference's statistical inverted index (4 Cassandra tables,
  * app/cassandra/schema.cql:5-32; built by 2 hadoop-streaming MR jobs,
  * app/index.sh:53-73) as one declarative lineage over a documents
  * DataFrame. Spark's partial+final HashAggregateExec replaces the
  * combiner-less mapper/reducer pipes — strictly less shuffle IO.
  *
  * Scale notes (100 TB): every table below is a single groupBy — partial
  * aggregation happens map-side, the shuffle carries (key, partial) only.
  * Skewed terms (stopwords) stay cheap for exactly that reason: the
  * map-side combine collapses per-partition duplicates before the exchange.
  * Persist postings bucketed by `term` for repeated query workloads.
  */
object InvertedIndex {

  /** term_frequency_in_doc (schema.cql:12-19; MR2 mapper2.py:22-23 +
    * reducer2.py:49-64): occurrences per (doc, term). */
  def termFrequency(docs: DataFrame): DataFrame =
    Tokenize.termOccurrences(docs)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("term_frequency"))

  /** Impact-ordered champion lists (round 5): per term, only the top-m
    * postings by (term_frequency desc, doc_id) survive — the classic
    * static index-pruning that bounds per-term SERVE cost at m rows
    * regardless of document frequency (the stopword posting list that is
    * 10^8 rows at 100 TB serves as m). The window partitions by term —
    * the exchange the postings build already pays — and Spark plans the
    * rank<=m filter as a partial+final WindowGroupLimit, so each map task
    * keeps at most m rows per term before the exchange (no full posting
    * list is ever sorted in one task). Callers that only need some terms
    * must restrict BEFORE ranking (BM25.searchChampions does): champion
    * lists are per-term independent, and Catalyst does not push a join
    * through a Window. */
  def championLists(docs: DataFrame, m: Int = 10): DataFrame =
    championListsFromTf(termFrequency(docs), m)

  def championListsFromTf(tf: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("term")
      .orderBy(desc("term_frequency"), asc("doc_id"))
    tf.withColumn("impact_rank", row_number().over(w))
      .filter(col("impact_rank") <= m)
  }

  /** Positional postings: (doc_id, pos, term), one row per occurrence,
    * pos 0-based in token order — the recompute path's input to phrase,
    * proximity and snippet queries (IndexStore stores them per posting). */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(Tokenize.tokens(col("text"))).as(Seq("pos", "term")))

  /** Exact phrase match over positional postings: docs containing the
    * phrase's terms at consecutive positions, with overlap-counting
    * occurrence totals. Term i's postings join on (doc_id, pos - i), so
    * every join is an equi-join on the SAME (doc_id, start-pos) key —
    * one partitioning serves the whole chain, and each side is pre-filtered
    * to a single term's postings (the selective part of the plan). Served
    * from `IndexStore`'s term-bucketed postings, each side becomes a
    * partition-pruned lookup rather than a corpus scan. */
  def phraseMatch(docs: DataFrame, phrase: String): DataFrame = {
    val p = positionalPostings(docs)
    phraseFromPostings(phraseTerms(phrase), t => p.filter(col("term") === t))
  }

  /** Phrase tokens, in order, duplicates kept (unlike BM25's T6 dedup —
    * "the the" is a different phrase than "the"). Same pinned char class
    * as Tokenize. */
  private[graft] def phraseTerms(phrase: String): Seq[String] = {
    val terms = phrase.toLowerCase.split("[^a-z0-9_']+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "phrase must contain at least one token")
    terms
  }

  /** (doc_id, pos) of every phrase START — the adjacency chain itself,
    * parameterized over the per-term postings fetcher (corpus-scan or
    * stored bucket-pruned). */
  private[graft] def phraseStarts(terms: Seq[String],
                                  forTerm: String => DataFrame): DataFrame =
    terms.zipWithIndex.map { case (t, i) =>
      forTerm(t).select(col("doc_id"), (col("pos") - i).as("pos"))
    }.reduce(_.join(_, Seq("doc_id", "pos")))

  private[graft] def phraseFromPostings(terms: Seq[String],
                                        forTerm: String => DataFrame): DataFrame =
    phraseStarts(terms, forTerm)
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")

  /** `phraseFromPostings` over driver-held positions: `occ(term)(doc)` is
    * the term's sorted positions in a doc, duplicates kept. A start s of
    * term 0 counts the product of the multiplicities of s + i in term i's
    * positions — the rows the join chain makes for it — and a doc is kept
    * when its count is positive. (doc_id, n_occurrences) rows by doc_id. */
  private[graft] def phraseOnDriver(terms: Seq[String],
                                    occ: String => Map[Long, Array[Int]]): Seq[Row] = {
    val chain = terms.map(occ)
    chain.head.keys.toSeq.sorted.flatMap { d =>
      val lists = chain.map(_.getOrElse(d, Array.emptyIntArray)).toArray
      var n = 0L
      var j = 0
      while (j < lists(0).length) {
        var product = 1L
        var i = 1
        while (i < lists.length && product != 0) {
          product *= countOf(lists(i), lists(0)(j).toLong + i)
          i += 1
        }
        n += product
        j += 1
      }
      Option.when(n > 0)(Row(d, n))
    }
  }

  /** Search-result snippets: for each matching doc, the token window
    * around its FIRST phrase occurrence (`context` tokens each side).
    * The phrase chain produces starts; one min-aggregate picks the first;
    * a single re-tokenize of ONLY the matching docs (semi-joined before
    * the slice) renders the window — the corpus at large is never
    * re-scanned past the postings. Clamped at the doc start; slice
    * truncates at the end naturally. */
  def phraseSnippets(docs: DataFrame, phrase: String,
                     context: Int = 3): DataFrame = {
    require(context >= 0)
    val terms = phraseTerms(phrase)
    val p = positionalPostings(docs)
    val first = phraseStarts(terms, t => p.filter(col("term") === t))
      .groupBy("doc_id").agg(min(col("pos")).cast("long").as("first_pos"))
    val win = lit(terms.length + 2 * context)
    docs.join(first, Seq("doc_id"))
      .select(col("doc_id"), col("first_pos"),
        array_join(slice(graft.text.Tokenize.tokens(col("text")),
          greatest(col("first_pos") + 1 - context, lit(1)).cast("int"), win),
          " ").as("snippet"))
      .orderBy("doc_id")
  }

  /** Proximity match: docs where two DISTINCT terms co-occur within
    * `window` token positions (either order), with pair count and closest
    * distance. Candidates come from a banded equi-join keyed
    * (doc_id, pos/window band) — TemporalJoins.bandedRangeJoin's trick
    * applied to token positions: one side explodes to 3 adjacent bands, so
    * every qualifying pair matches in EXACTLY one band (dup-free) and the
    * join never degenerates to per-doc position cross products. Like
    * phraseMatch, each side is one term's postings; the stored postings
    * serve them as pruned bucket lookups. */
  def proximityMatch(docs: DataFrame, termA: String, termB: String,
                     window: Int = 8): DataFrame = {
    val p = positionalPostings(docs)
    proximityFromPostings(termA, termB, window, t => p.filter(col("term") === t))
  }

  /** The banded proximity core, parameterized over the per-term postings
    * fetcher like `phraseFromPostings` — shared by the corpus-scan form
    * and the stored bucket-pruned form (IndexStore.proximityMatchStored). */
  private[graft] def proximityFromPostings(termA: String, termB: String,
                                           window: Int,
                                           forTerm: String => DataFrame): DataFrame = {
    val (ta, tb) = proximityTerms(termA, termB, window)
    val a = forTerm(ta)
      .select(col("doc_id"), col("pos").as("__pa"))
      .withColumn("__band", floor(col("__pa") / window))
    val b = forTerm(tb)
      .select(col("doc_id"), col("pos").as("__pb"))
      .withColumn("__band", explode(array(
        floor(col("__pb") / window) - 1,
        floor(col("__pb") / window),
        floor(col("__pb") / window) + 1)))
    a.join(b, Seq("doc_id", "__band"))
      .filter(abs(col("__pa") - col("__pb")) <= window)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("__pa") - col("__pb"))).cast("long").as("min_distance"))
      .orderBy("doc_id")
  }

  /** The two terms of a proximity request, lowercased, once the request
    * is known valid. */
  private[graft] def proximityTerms(termA: String, termB: String,
                                    window: Int): (String, String) = {
    require(window >= 1, "window must be positive")
    val ta = termA.toLowerCase
    val tb = termB.toLowerCase
    require(ta != tb, "proximity of a term with itself is not supported")
    (ta, tb)
  }

  /** `proximityFromPostings` over driver-held positions (each doc's sorted
    * positions of the two terms, duplicates kept): every (pa, pb) pair of
    * a doc with |pa - pb| <= window, which the banded join finds in
    * exactly one band, counted by binary search over b's positions, and
    * the closest of them. (doc_id, n_pairs, min_distance) rows by doc_id. */
  private[graft] def proximityOnDriver(a: Map[Long, Array[Int]], b: Map[Long, Array[Int]],
                                       window: Int): Seq[Row] =
    a.keys.filter(b.contains).toSeq.sorted.flatMap { d =>
      val pb = b(d)
      var pairs = 0L
      var closest = Long.MaxValue
      a(d).foreach { pa =>
        val lo = lowerBound(pb, pa.toLong - window)
        val hi = lowerBound(pb, pa.toLong + window + 1)
        pairs += hi - lo
        // the nearest b positions to pa: the first at or after it, and
        // the one before that (lo <= at <= hi)
        val at = lowerBound(pb, pa.toLong)
        if (at < hi) closest = math.min(closest, pb(at).toLong - pa)
        if (at > lo) closest = math.min(closest, pa.toLong - pb(at - 1))
      }
      Option.when(pairs > 0)(Row(d, pairs, closest))
    }

  /** The first index of a sorted array whose value is >= x. */
  private def lowerBound(sorted: Array[Int], x: Long): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** How many times x occurs in a sorted array. */
  private def countOf(sorted: Array[Int], x: Long): Long =
    lowerBound(sorted, x + 1) - lowerBound(sorted, x)

  /** Document frequency (schema.cql:5-10; MR1 mapper1.py:20-23 +
    * reducer1.py:33-43): number of docs containing each term. */
  def docFrequency(docs: DataFrame): DataFrame =
    Tokenize.distinctTerms(docs)
      .groupBy("term")
      .agg(count(lit(1)).as("doc_frequency"))

  /** Postings-block width for [[postingsCompression]] — doc-id range per
    * delta block. Named so the oracle SQL interpolates the same value. */
  val PostingsBlockWidth = 4096L

  /** Delta + LEB128-varint postings compression report: what a 100 TB
    * index actually stores. Per term, postings sort by doc_id and encode
    * as BLOCK-LOCAL deltas — the first id of each `PostingsBlockWidth`
    * doc-id block is absolute, the rest are gaps — exactly the
    * skip-pointer-friendly layout production indexes use (absolute block
    * heads let a query seek without decoding prior blocks). Varint byte
    * counts come from integer range tests (no log(), no float): gaps are
    * >= 1 and ids fit 5 bytes below 2^35.
    *
    * Scale notes: blocking is ALSO what makes the window safe at scale —
    * the lag() partitions by (term, block), so a stopword with a
    * 10^9-doc posting list becomes many bounded-width sort partitions
    * instead of one giant skewed one. The aggregate then re-exchanges by
    * term alone, but that carries one row per (term, block), not per
    * posting. Report: per-term df, raw int64 bytes, varint bytes, block
    * count, compression ratio. */
  def postingsCompression(docs: DataFrame): DataFrame = {
    val block = (col("doc_id") / lit(PostingsBlockWidth)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"), col("block")).orderBy("doc_id")
    val entries = Tokenize.distinctTerms(docs)
      .withColumn("block", block)
      .withColumn("gap",
        coalesce(col("doc_id") - lag("doc_id", 1).over(w), col("doc_id")))
    val vbytes = when(col("gap") < 128L, 1L)
      .when(col("gap") < (1L << 14), 2L)
      .when(col("gap") < (1L << 21), 3L)
      .when(col("gap") < (1L << 28), 4L)
      .otherwise(5L)
    entries
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        (count(lit(1)) * 8).as("raw_bytes"),
        sum(vbytes).as("varint_bytes"),
        countDistinct(col("block")).as("n_blocks"))
      .withColumn("ratio",
        round(col("varint_bytes").cast("double") / col("raw_bytes"), 4))
      .orderBy("term")
  }

  /** doc_info (schema.cql:21-26; reducer2.py:66-70): token count per doc.
    * Computed as size(tokens) — no shuffle at all, unlike the reference's
    * second full MR pass. */
  def docInfo(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(Tokenize.tokens(col("text"))).cast("long").as("doc_length"))

  /** corpus_info (schema.cql:28-32; reducer2.py:80-92): single-row global
    * stats. */
  def corpusInfo(docs: DataFrame): DataFrame =
    corpusInfoFromDocInfo(docInfo(docs))

  /** The corpus-stats aggregation over an existing doc_info table — the
    * single source of the formula for both the recompute path (above) and
    * the stats IndexStore records in index_meta. */
  def corpusInfoFromDocInfo(info: DataFrame): DataFrame =
    info.agg(
      count(lit(1)).as("doc_n"),
      sum("doc_length").as("total_doc_length"),
      avg("doc_length").as("avg_doc_length"))

  // ---- derived forms: everything below re-aggregates the tf table instead
  // of re-tokenizing the corpus. At scale the tokenize+explode scan over the
  // text column IS the dominant cost, so downstream stats must derive from
  // tf (SURVEY.md §5 invariants: df == |{docs: tf>0}|, dl == Σ tf).

  /** doc_frequency derived from tf: one row per (doc,term) counted per term. */
  def docFrequencyFromTf(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("doc_frequency"))

  /** doc_length derived from tf (docs with zero tokens drop out — callers
    * needing them use docInfo, which is a no-shuffle size() scan). */
  def docLengthFromTf(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sum("term_frequency").as("doc_length"))

  /** Incremental indexing (S8/A8). The reference upserts per-key into
    * Cassandra from inside reduce tasks (reducer1.py:11-30,
    * reducer2.py:25-45) so re-runs increment stored stats; our equivalent
    * is a pure re-aggregation: union the stored tf with the delta corpus's
    * tf and merge counts. Idempotent recompute of the same docs is the
    * caller's dedup responsibility (same as the reference, which would
    * double-count a re-submitted doc).
    *
    * At scale this touches only (key, partial) pairs — the stored tf is
    * already aggregated, the delta is small, and the merge is one shuffle
    * on (doc_id, term). */
  def mergeTermFrequency(storedTf: DataFrame, newDocs: DataFrame): DataFrame =
    storedTf.unionByName(termFrequency(newDocs))
      .groupBy("doc_id", "term")
      .agg(sum("term_frequency").as("term_frequency"))
}
