package graft

import graft.textstats.TextAnalysis

/** Planted-value checks for the text-quality family (the declared queries
  * carry the full DuckDB oracle; these pin hand-computable cases). */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("qualityRegression: perfect-fit corpus recovers the exact line, zero residuals") {
    // y (stopword count) = x/2 exactly on every doc:
    // n=3, Σx=12, Σy=6, Σxx=56, Σxy=28 -> slope 0.5, intercept 0
    val docs = Seq(
      (1L, "a", "the x"),
      (2L, "a", "the x the y"),
      (3L, "b", "the x the y the z"))
      .toDF("doc_id", "source", "text")
    val rows = TextAnalysis.qualityRegression(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(rows == Seq(("a", 2L, 0.5, 0.0, 0.0, 0.0),
      ("b", 1L, 0.5, 0.0, 0.0, 0.0)))
  }

  test("qualityRegression: the stopword-poor source sits below the line") {
    val docs = Seq(
      (1L, "a", "the x"),
      (2L, "a", "the x the y"),
      (3L, "b", "the x the y the z"),
      // 8 tokens, ZERO stopwords — far under what the line predicts
      (4L, "c", "x y z w x y z w"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.qualityRegression(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got("c") < 0.0)        // below the fitted line
    assert(got("a") > got("c") && got("b") > got("c"))
  }

  test("repetition stats: planted loops score high, clean text scores low") {
    val docs = Seq(
      // "spam spam spam spam": trigrams = [s s s, s s s] -> dup frac 0.5;
      // bigrams = 3x "spam spam" -> top share 1.0
      (1L, "spam spam spam spam"),
      // all-distinct n-grams -> zero dup fraction; the hottest of 4
      // equally-rare bigrams still holds a 1/4 share
      (2L, "one two three four five"),
      // too short for any trigram/bigram -> defined as 0, not null/NaN
      (3L, "word"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0.5, 1.0)))
    assert(got(2L) == ((0.0, 0.25)))
    assert(got(3L) == ((0.0, 0.0)))
    assert(got(4L) == ((0.0, 0.0)))
  }

  test("source stats: per-(source, lang) counts, totals, and exact mean") {
    val docs = Seq(
      (1L, "one two three", "en", "web", 13L),
      (2L, "four five", "en", "web", 9L),
      (3L, "sechs sieben", "de", "web", 12L),
      (4L, "eight", "en", "books", 5L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.sourceStats(docs)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      ("books", "en", 1L, 5L, 1L, 5.0),
      ("web", "de", 1L, 12L, 2L, 12.0),
      ("web", "en", 2L, 22L, 5L, 11.0)))
  }

  test("bigram LM scores: hand-computed MLE probabilities") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    // corpus counts: c("a b") = 2, c("a c") = 1, left-token count c1(a) = 3
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = TextAnalysis.bigramLmScores(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(rows(1L) == ((1L, Some(r4(math.log(2.0) - math.log(3.0))))))
    assert(rows(2L) == rows(1L))
    assert(rows(3L) == ((1L, Some(r4(math.log(1.0) - math.log(3.0))))))
    assert(rows(4L) == ((0L, None))) // single token: no bigrams, NULL score
  }

  test("cross-LM scores: reference-trained, add-1 smoothed, OOV counted") {
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(
      (1L, "ref", "a b a b"), // LM training: c2("a b")=2, c2("b a")=1
      (2L, "web", "a b c"),   // "a b" seen, "b c" unseen (OOV)
      (3L, "web", "x"))       // single token: no bigrams
      .toDF("doc_id", "source", "text")
    // V = |{a, b}| = 2; c1(a) = 2, c1(b) = 1
    val rows = TextAnalysis.crossLmScores(docs, "ref").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    // ref doc scores itself: ln(3/4), ln(2/3), ln(3/4) — no OOV
    val refAvg = (2 * (math.log(3.0) - math.log(4.0)) +
      (math.log(2.0) - math.log(3.0))) / 3.0
    assert(rows(1L) == ((3L, 0L, Some(r4(refAvg)))))
    // "a b": ln((2+1)/(2+2)); "b c": unseen -> ln((0+1)/(1+2)), 1 OOV
    val webAvg = ((math.log(3.0) - math.log(4.0)) +
      (math.log(1.0) - math.log(3.0))) / 2.0
    assert(rows(2L) == ((2L, 1L, Some(r4(webAvg)))))
    assert(rows(3L) == ((0L, 0L, None)))
  }

  test("stupid backoff: hand-computed scores at all three backoff levels") {
    // ref tokens: a b c d b c e
    //   c3: each of "a b c","b c d","c d b","d b c","b c e" once
    //   c2: "a b"=1,"b c"=2,"c d"=1,"d b"=1,"c e"=1; c1: a=1,b=2,c=2,d=1,e=1
    //   N=7, V=5
    val docs = Seq(
      (1L, "ref", "a b c d b c e"),
      (2L, "web", "a b c x"), // "a b c" hit (lvl0), "b c x" fully OOV (lvl2)
      (3L, "web", "x b c"),   // "x b c" backs off to bigram "b c" (lvl1)
      (4L, "web", "a"))       // <3 tokens: no trigrams, NULL score
      .toDF("doc_id", "source", "text")
    val rows = TextAnalysis.stupidBackoffScores(docs, "ref").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
      .toMap
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ref self-score: ln(1/1), ln(1/2), ln(1/1), ln(1/1), ln(1/2)
    assert(rows(1L) == ((5L, 0L, 0L, Some(r4(2 * math.log(0.5) / 5)))))
    // lvl0: ln(1/1) = 0; lvl2: ln(0.4 * 0.4 * (0+1)/(7+5))
    val oov = math.log(0.4 * 0.4 * (1.0 / 12.0))
    assert(rows(2L) == ((2L, 0L, 1L, Some(r4(oov / 2)))))
    // lvl1: ln(0.4 * c2("b c")/c1(b)) = ln(0.4 * 2/2)
    assert(rows(3L) == ((1L, 1L, 0L, Some(r4(math.log(0.4 * (2.0 / 2.0)))))))
    assert(rows(4L) == ((0L, 0L, 0L, None)))
  }

  test("logistic quality classifier matches an independent plain-Scala GD replay") {
    // stopword-rich docs are 'en'; stopword-free ones are not — separable
    val data = Seq(
      (1L, "en", "the cat is on the mat"),
      (2L, "en", "a dog and a cat"),
      (3L, "de", "zz yy xx ww"),
      (4L, "de", "qq rr ss tt uu"),
      (5L, "en", ""))
    val docs = data.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.logisticQualityScores(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getInt(3))))
      .toMap

    // independent replay of the exact training arithmetic
    val markers = Set("the", "a", "of", "and", "is")
    def tokens(t: String): Seq[String] =
      "[a-z0-9_']+".r.findAllIn(t.toLowerCase).toSeq
    val feats = data.map { case (id, lang, t) =>
      val tk = tokens(t)
      val y = if (lang == "en") 1.0 else 0.0
      val x1 = if (tk.isEmpty) 0.0 else tk.count(markers).toDouble / tk.size
      val x2 = if (tk.isEmpty) 0.0
        else tk.map(_.length).sum.toDouble / tk.size
      (id, y, x1, x2)
    }
    def r(v: Double, s: Int): Double =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to TextAnalysis.ClassifierIters) {
      val g = Array(0.0, 0.0, 0.0)
      feats.foreach { case (_, y, x1, x2) =>
        val p = 1.0 / (1.0 + math.exp(-(w(0) + w(1) * x1 + w(2) * x2)))
        g(0) += p - y; g(1) += (p - y) * x1; g(2) += (p - y) * x2
      }
      w = Array.tabulate(3)(j => r(w(j) - g(j) / feats.size, 12))
    }
    feats.foreach { case (id, y, x1, x2) =>
      val p = 1.0 / (1.0 + math.exp(-(w(0) + w(1) * x1 + w(2) * x2)))
      val score = r(p, 4)
      assert(got(id) == ((y.toInt, score, if (score >= 0.5) 1 else 0)),
        s"doc $id")
    }
    // the trained model separates the planted slices
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(4L)._2)
  }

  test("KS drift: hand-computed max CDF gap between source and rest") {
    // A: lengths {1,1,2}; B: lengths {2,3}; support {1,2,3}
    // cdf_A = [2/3, 1, 1]; cdf_restOfA (=B) = [0, 1/2, 1] -> KS_A = 2/3
    // and by symmetry KS_B = 2/3
    val docs = Seq(
      (1L, "A", "w"), (2L, "A", "w w"), (3L, "A", "w"),
      (4L, "B", "w w"), (5L, "B", "w w w"))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.ksLengthDrift(docs)
      .as[(String, Long, Double)].collect().toSeq
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r == Seq(("A", 3L, r6(2.0 / 3.0)), ("B", 2L, r6(2.0 / 3.0))))
  }

  test("chunk sequences: docs split exactly at fixed chunk boundaries") {
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // shard stream (doc_id order): 4 + 8 + 10 + 3 tokens, chunk len 10:
    //  d1 [0,4)   -> chunk 0 only
    //  d2 [4,12)  -> chunk 0 (6 toks at offset 4) + chunk 1 (2 at 0)
    //  d3 [12,22) -> chunk 1 (8 at 2) + chunk 2 (2 at 0)
    //  d4 [22,25) -> chunk 2 (3 at 2); d5 empty -> no rows
    val docs = Seq(
      (1L, "en", words(4)), (2L, "en", words(8)), (3L, "en", words(10)),
      (4L, "en", words(3)), (5L, "en", ""))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.chunkSequences(docs, seqTokens = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      (0L, 1L, 0L, 4L), (0L, 2L, 4L, 6L),
      (1L, 2L, 0L, 2L), (1L, 3L, 2L, 8L),
      (2L, 3L, 0L, 2L), (2L, 4L, 2L, 3L)))
    // spans tile each chunk exactly: per chunk, sum(n_toks) == chunk fill
    val fills = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(fills == Map(0L -> 10L, 1L -> 10L, 2L -> 5L))
  }

  test("bpeTrainMerges reproduces the classic hand-computed merge table") {
    // freqs: low:5 lower:2 newest:3 widest:1
    // r1: (l,o)=7 ties (o,w)=7 -> lex picks (l,o); r2: (lo,w)=7;
    // r3: (e,s)=4 ties (s,t)=4 -> lex picks (e,s)
    val docs = Seq(
      (1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest"), (4L, "widest"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrainMerges(docs, nMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, "l", "o", "lo", 7L),
      (2L, "lo", "w", "low", 7L),
      (3L, "e", "s", "es", 4L)))
  }

  test("bpeTrainMerges checkpoints no vocabulary after its last merge") {
    val docs = Seq(
      (1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest"), (4L, "widest"))
      .toDF("doc_id", "text")
    // three merges in 13 jobs: the vocabulary after the last merge,
    // which no round reads, is not checkpointed
    val (out, jobs) = jobsIn("graft-bpe-jobs")(
      TextAnalysis.bpeTrainMerges(docs, nMerges = 3).collect())
    assert(out.length == 3)
    assert(jobs.size == 13, s"${jobs.size} jobs: $jobs")
  }

  test("bpeTrainMerges applies merges greedily non-overlapping (aaaa)") {
    // "aaaa": r1 pair (a,a) counted 3 times but ONE merge pass yields
    // [aa, aa] (leftmost non-overlap), so r2 merges (aa,aa) with count 1
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrainMerges(docs, nMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(4))).toSeq
    assert(out == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("bpeTrainMerges stops early when the vocabulary is fully merged") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrainMerges(docs, nMerges = 5).collect()
    assert(out.length == 1) // (a,b) merges once; no pairs remain
  }

  test("bpeEncode applies the trained merges and counts symbols per doc") {
    // train on {aaaa x2, ab}: r1 merges (a,a) [weight 3*2=6 beats (a,b)=1]
    // -> aaaa=[aa,aa]; r2 merges (aa,aa) -> aaaa=1 symbol; ab stays [a,b]
    val docs = Seq((1L, "aaaa aaaa ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, nMerges = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 3L, 4L, 1.3333)))
  }

  test("bpeCompressionCurve: monotone non-increasing, exact endpoints, early-exhaust truncation") {
    // train on {aaaa x2, ab}: words aaaa(tf2, 4 chars) ab(tf1, 2 chars)
    // k=0: tokens 2*4+1*2=10; after r1 (a,a): aaaa=[aa,aa] -> 2*2+2=6;
    // after r2 (aa,aa): aaaa=1 sym -> 2*1+2=4
    val docs = Seq((1L, "aaaa aaaa ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeCompressionCurve(docs, nMerges = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 3L, 10L, 3.3333),
      (1L, 3L, 6L, 2.0),
      (2L, 3L, 4L, 1.3333)))
    // tokens-per-word never increases with more merges
    assert(out.map(_._4) == out.map(_._4).sorted.reverse)
    // exhausted vocabulary truncates the curve at the last real merge
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val t = TextAnalysis.bpeCompressionCurve(tiny, nMerges = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(t == Seq((0L, 2L, 4L, 2.0), (1L, 2L, 2L, 1.0)))
  }

  test("sparse cosine neighbors rank shared-phrase docs and skip disjoint ones") {
    // bigram features: d1/d2 share "apple banana" (df 2); d3 shares a
    // TOKEN with d1/d2 but no bigram; d4 fully disjoint
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana durian"),
      (3L, "apple fig grape"),
      (4L, "kiwi lemon mango"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosineNeighbors(docs, m = 3, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    assert(byDoc(1L).map(t => (t._2, t._4)).toSeq == Seq((2L, 1)))
    assert(byDoc(2L).map(t => (t._2, t._4)).toSeq == Seq((1L, 1)))
    // cosine replays the rounded-weight arithmetic: shared "apple banana"
    // at ln(4/2) against each doc's unique second bigram at ln(4/1)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wShared = r4(math.log(4.0 / 2)); val wUniq = r4(math.log(4.0))
    val n2 = wShared * wShared + wUniq * wUniq
    val exp12 = wShared * wShared / math.sqrt(n2 * n2)
    val got12 = byDoc(1L).head._3
    assert(math.abs(got12 - exp12) < 5e-4, s"got $got12 expected ~$exp12")
  }

  test("blocklist filter: per-doc hits, distinct blocked terms, C4 drop verdict") {
    val docs = Seq(
      (1L, "src0", "clean text only here"),
      (2L, "src0", "a dup and a dup and one big thing"),
      (3L, "src1", "slow"),
      (4L, "src1", ""))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.blocklistFilter(docs)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(out == Seq(
      (1L, 4L, 0L, 0L, "kept"),
      (2L, 9L, 3L, 2L, "dropped"),   // dup x2 + big x1; distinct {dup, big}
      (3L, 1L, 1L, 1L, "dropped"),
      (4L, 0L, 0L, 0L, "kept")))
  }

  test("ngram novelty: fraction of trigrams unseen in the reference slice") {
    val docs = Seq(
      (1L, "src0", "a b c d"),       // ref universe: {a b c, b c d}
      (2L, "src1", "a b c x"),       // {a b c seen, b c x novel} -> 0.5
      (3L, "src1", "p q r s"),       // both novel -> 1.0
      (4L, "src1", "z z"))           // too short -> NULL novelty
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.ngramNovelty(docs, "src0", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(out == Seq(
      (2L, 2L, 1L, Some(0.5)),
      (3L, 2L, 2L, Some(1.0)),
      (4L, 0L, 0L, None)))
  }

  test("span corruption: spans replay the md5 coin and merge maximal islands") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def masked(doc: Long, pos: Int): Boolean =
      java.lang.Long.parseLong(md5hex(s"$doc:$pos:17").substring(0, 8), 16) % 100 < 15
    val nTok = 120
    val docs = Seq((7L, (0 until nTok).map(i => "w" + i).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanCorruptionPlan(docs, 15, 17L)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4)))
    // plain-Scala islands replay
    val m = (0 until nTok).filter(masked(7L, _))
    val islands = m.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
      case (acc, p) => (p, p) :: acc
    }.reverse.map { case (s, e) => (s, e, (e - s + 1).toLong) }
    assert(m.nonEmpty && out.toSeq == islands)
    // spans are maximal: no two adjacent spans touch
    out.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(1)._1 > w(0)._2 + 1) }
  }

  test("batch plan: buckets by length band, batches in md5 order, exact pad waste") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // 5 docs in band 0 (<=16 tokens), batchDocs=2, one shard -> batches of
    // sizes 2,2,1 in hash order; one long doc lands alone in band 1
    val docs = (Seq((10L, 20), (1L, 3), (2L, 5), (3L, 7), (4L, 9), (5L, 11)))
      .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val out = TextAnalysis.batchPlan(docs, 16, 2, 1, 7L)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val order = Seq(1L, 2L, 3L, 4L, 5L).sortBy(i => (md5hex(s"$i:7"), i))
    val lens = Map(1L -> 3L, 2L -> 5L, 3L -> 7L, 4L -> 9L, 5L -> 11L)
    val expected = order.grouped(2).zipWithIndex.map { case (g, bi) =>
      val ls = g.map(lens)
      (0, bi.toLong, g.size.toLong, ls.max,
        BigDecimal(1.0 - ls.sum.toDouble / (g.size * ls.max))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq :+ ((1, 0L, 1L, 20L, 0.0))
    assert(out.toSeq == expected)
  }

  test("PMI: the planted collocation outranks independent fillers") {
    // 'new york' always adjacent (perfect collocation); 'aa'/'bb' appear
    // often but never within the window of each other more than chance
    val docs = (1L to 10L).map(i =>
      (i, s"new york f$i g$i h$i aa k$i l$i m$i bb"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiPairs(docs, 3, 5, 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.head._1 == "new" && out.head._2 == "york" && out.head._3 == 10L)
    // every reported pair hit the count floor
    assert(out.forall(_._3 >= 5L))
    // replay the top PMI by hand: c_ab=10, T=total pair slots, N=tokens
    val T = 10L * (9 + 8 + 7)   // 10 docs x (len-1 + len-2 + len-3), len=10
    val N = 100L
    val exp = math.log((10.0 / T) / ((10.0 / N) * (10.0 / N)))
    val expR = BigDecimal(exp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head._4 == expR)
  }

  test("classifier calibration: bins partition the corpus, gap = |mean - frac|") {
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    val out = TextAnalysis.classifierCalibration(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._2).sum == 500L)
    out.foreach { case (bin, _, mean, frac, gap) =>
      assert(bin >= 0 && bin <= 9)
      assert(mean >= 0.0 && mean <= 1.0 && frac >= 0.0 && frac <= 1.0)
      assert(math.abs(gap - math.abs(mean - frac)) <= 1e-3)
    }
  }

  test("Luhn scan: planted valid cards verify, off-by-one checks fail, known card detected") {
    // doc 0 -> planted valid; doc 1 -> planted invalid; doc 2 carries the
    // canonical test card in its own text (no planting at doc_id % 9 == 2)
    val docs = Seq(
      (0L, "some text"),
      (1L, "other text"),
      (2L, "pay with 4111111111111111 today"),
      (3L, "no digits here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.luhnCardScan(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 1L, 1L), (1L, 1L, 0L), (2L, 1L, 1L)))
  }

  test("percentile calibration: hand ranks, tie sharing, single-doc source") {
    // source s lens {1,2,3}; source t len {2}; global [1,2,2,3]
    val docs = Seq(
      (1L, "s", "a"), (2L, "s", "a b"), (3L, "s", "a b c"), (4L, "t", "x y"),
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.percentileCalibration(docs)
      .as[(Long, String, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      (1L, "s", 1L, 0.0, 0.0, 0.0),
      (2L, "s", 2L, 0.5, 0.333333, 0.166667),
      (3L, "s", 3L, 1.0, 1.0, 0.0),
      (4L, "t", 2L, 0.0, 0.333333, -0.333333))) // single-doc source -> 0
  }

  test("normalize: control chars + whitespace runs collapse to one form") {
    val docs = Seq(
      (1L, "a\tb c", 5L), (2L, "a b  c\n", 7L), (3L, "distinct", 8L),
    ).toDF("doc_id", "text", "n_chars")
    val out = TextAnalysis.normalizeText(docs)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0)._2 == out(1)._2) // both normalize to "a b c" -> collide
    assert(out(0)._4 == 5L && out(1)._4 == 5L)
    assert(out(2)._2 != out(0)._2)
    assert(out.map(_._3) == Seq(5L, 7L, 8L)) // before-lengths pass through
  }

  test("utf8 stats: multi-byte chars raise bytes_per_char and non-ascii share") {
    val docs = Seq(
      (1L, "en", "abcd"),     // 4 chars, 4 bytes, all ascii
      (2L, "de", "abéé"), // 4 chars, 6 bytes (2x 2-byte e-acute)
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.utf8Stats(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("de", 1L, 4L, 6L, 1.5, 0.5),
      ("en", 1L, 4L, 4L, 1.0, 0.0)))
  }

  test("skipgram pairs: hand co-occurrence counts + full negative replay") {
    // "x y z x y": directed pairs |d|<=2 -> (x,y)/(y,x) 3x, the other
    // four directed pairs 2x; negatives replayed with MessageDigest
    val docs = Seq((1L, "s", "x y z x y")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.skipgramPairs(docs, 2, 2, 2, 42L)
      .as[(String, String, Long, Int, String)].collect().toSeq
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val vocab = Seq("x", "y", "z").sortBy(t => (md5hex(t + ":42"), t))
    def neg(c: String, t: String, i: Int) = vocab(
      (java.lang.Long.parseLong(md5hex(s"$c:$t:$i:42").take(8), 16) % 3).toInt)
    val counts = Seq(("x", "y", 3L), ("x", "z", 2L), ("y", "x", 3L),
      ("y", "z", 2L), ("z", "x", 2L), ("z", "y", 2L))
    val expect = counts.flatMap { case (c, t, n) =>
      Seq((c, t, n, 0, neg(c, t, 0)), (c, t, n, 1, neg(c, t, 1))) }
    assert(out == expect)
  }

  test("MAD outliers: hand-computed median/MAD; the 100-token doc flagged") {
    // source s: lengths 1,2,3,4,100 -> med 3, devs {2,1,0,1,97} -> mad 1,
    // outliers = dev > 3*1 = {100-token doc} -> 1
    val docs = Seq(
      (1L, "s", "a"), (2L, "s", "a b"), (3L, "s", "a b c"),
      (4L, "s", "a b c d"), (5L, "s", ("w " * 100).trim),
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.madOutlierStats(docs)
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(out == Seq(("s", 5L, 3.0, 1.0, 1L)))
  }

  test("MAD outliers: even-count interpolation and the MAD=0 contract") {
    // source t: lengths 2,4 -> med 3.0 (interpolated), devs {1,1} -> mad 1,
    // no dev exceeds 3 -> 0 outliers
    // source u: lengths 5,5,5,9 -> med 5, devs {0,0,0,4} -> mad 0:
    // contract degrades to "any deviation" -> the 9-token doc flags
    val docs = Seq(
      (1L, "t", "a b"), (2L, "t", "a b c d"),
      (3L, "u", "a b c d e"), (4L, "u", "a b c d e"),
      (5L, "u", "a b c d e"), (6L, "u", "a b c d e f g h i"),
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.madOutlierStats(docs)
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(out == Seq(("t", 2L, 3.0, 1.0, 0L), ("u", 4L, 5.0, 0.0, 1L)))
  }

  test("keyness: the overused term tops its source, shared terms do not") {
    // 'zebra' is 'webby'-only; 'common' is everywhere (no keyness)
    val docs = Seq(
      (1L, "common zebra zebra zebra common", "webby"),
      (2L, "common zebra zebra common filler", "webby"),
      (3L, "common plain words here common", "bookish"),
      (4L, "common other plain text common", "bookish"),
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceKeyness(docs, k = 2)
      .select("source", "term", "rank").as[(String, String, Int)]
      .collect().toSeq
    assert(out.find(r => r._1 == "webby" && r._3 == 1).get._2 == "zebra")
    // 'common' has identical shares on both sides: never a top-key term
    assert(!out.exists(_._2 == "common"))
    // z is anti-symmetric-ish: zebra must NOT rank for bookish
    assert(!out.exists(r => r._1 == "bookish" && r._2 == "zebra"))
  }

  test("lang mixture: pure, mixed, and empty docs") {
    val docs = Seq(
      (1L, "the cat of the house is big"),       // pure en: 4 hits
      (2L, "the der cat und dog"),               // en 1 + de 2 -> mixed
      (3L, "xyzzy plugh"),                       // no markers
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langMixture(docs)
      .as[(Long, Long, Int, String, Double, Double)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L) == ((1L, 4L, 1, "en", 1.0, 0.0)))
    val (_, marks, nl, dom, share, ent) = byId(2L)
    assert(marks == 3L && nl == 2 && dom == "de")
    assert(math.abs(share - 0.6667) < 1e-9)
    // H(1/3, 2/3) = ln3 - (2/3)ln2
    assert(math.abs(ent - (math.log(3) - 2.0 / 3 * math.log(2))) < 1e-4)
    assert(byId(3L) == ((3L, 0L, 0, "und", 0.0, 0.0)))
  }

  test("sentence stats: boundaries, blank segments, terminal rule") {
    val docs = Seq(
      (1L, "One two. Three four! Five?"),      // 3 sentences, 5 tokens
      (2L, "no terminal punctuation here"),    // 1 sentence, not terminal
      (3L, "Trailing spaces end. "),           // terminal despite spaces
      (4L, "Ellipsis... counts once. Yes."),   // ... opens a new segment
      (5L, ""),                                // zero sentences
    ).toDF("doc_id", "text")
    val out = TextAnalysis.sentenceStats(docs)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 1.6667, true),
      (2L, 1L, 4.0, false),
      (3L, 1L, 3.0, true),
      (4L, 3L, 1.3333, true),
      (5L, 0L, 0.0, false)))
  }

  test("textrank: the co-occurrence hub outranks leaves, ranks are a probability-ish vector") {
    import spark.implicits._
    // star topology: "core" is adjacent to every leaf; leaves only ever
    // touch core. Graph centrality must put core first regardless of the
    // fact every token has the same raw frequency.
    val docs = (1 to 8).map(i =>
      (i.toLong, s"leaf$i core leaf${i % 8 + 1} core leaf${(i + 2) % 8 + 1}"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.textRankKeywords(docs)
      .as[(String, Double, Long)].collect().toSeq
    assert(out.head._1 == "core")
    assert(out.map(_._3) == (1L to out.size))
    // rank mass stays a distribution (sum ~ 1) — the (1-d)/n + d*m
    // formula preserves total mass on a symmetric graph
    assert(math.abs(out.map(_._2).sum - 1.0) < 0.01)
    // deterministic across layout
    val re = TextAnalysis.textRankKeywords(docs.repartition(5))
      .as[(String, Double, Long)].collect().toSeq
    assert(re == out)
  }

  test("textrank: empty corpus yields empty with schema intact") {
    import spark.implicits._
    val docs = Seq((1L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.textRankKeywords(docs)
    assert(out.columns.toSeq == Seq("term", "textrank", "rk"))
    assert(out.count() == 0)
  }

  test("perplexity buckets: head/middle/tail by LM score, short docs to no_lm") {
    import spark.implicits._
    // reference source trains the LM; the scored source has 3 docs with
    // strictly ordered scores (verbatim > half-match > OOV) + 1 unscorable
    val docs = Seq(
      (1L, "src0", "the cat sat on the mat and then the cat slept"),
      (10L, "srcX", "the cat sat on the mat and then the cat slept"), // verbatim: highest
      (11L, "srcX", "the cat sat under a blue lamp near a window"),   // partial
      (12L, "srcX", "zzq qqz zqz qzq zzz qqq zqq qzz zzz abc"),       // OOV: lowest
      (13L, "srcX", "so be"),                                         // < 3 tokens: no_lm
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "src0")
      .as[(String, String, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    val x = out.filter(_._1 == "srcX").map(r => (r._2, r._3)).toMap
    // n=3 scored docs: ceil(3/3)=1 -> head = top score only; ceil(6/3)=2
    // -> middle = second; tail = third; the 2-token doc lands in no_lm
    assert(x == Map("head" -> 1L, "middle" -> 1L, "tail" -> 1L, "no_lm" -> 1L))
    val srcX = out.filter(r => r._1 == "srcX" && r._2 != "no_lm")
    // per-bucket score ranges are ordered and non-overlapping
    val byBucket = srcX.map(r => r._2 -> (r._5.get, r._6.get)).toMap
    assert(byBucket("head")._1 > byBucket("middle")._2)
    assert(byBucket("middle")._1 > byBucket("tail")._2)
    // no_lm has null score bounds
    val noLm = out.find(r => r._1 == "srcX" && r._2 == "no_lm").get
    assert(noLm._5.isEmpty && noLm._6.isEmpty)
  }

  test("AUC: perfect separation, inversion, and all-tied fixtures") {
    import spark.implicits._
    def auc(rows: Seq[(Int, Double)]): (Long, Long, Long, Option[Double]) =
      TextAnalysis.aucFromScored(rows.toDF("label", "score"))
        .as[(Long, Long, Long, Option[Double])].head()
    // positives strictly above negatives -> 1.0
    assert(auc(Seq((1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1))) ==
      ((2L, 2L, 14L, Some(1.0))))
    // inverted -> 0.0
    assert(auc(Seq((0, 0.9), (0, 0.8), (1, 0.2), (1, 0.1))) ==
      ((2L, 2L, 6L, Some(0.0))))
    // every score tied -> 0.5 via tie-averaged ranks
    assert(auc(Seq((1, 0.5), (0, 0.5), (1, 0.5), (0, 0.5)))._4 == Some(0.5))
    // hand case: scores pos {0.8, 0.4}, neg {0.6, 0.4}: one win, one loss,
    // one tie out of 4 pairs -> (1 + 0.5 + 0 + 1)/4 ... recompute:
    // pairs: (0.8 vs 0.6)=1, (0.8 vs 0.4)=1, (0.4 vs 0.6)=0, (0.4 vs 0.4)=0.5
    // -> 2.5/4 = 0.625
    assert(auc(Seq((1, 0.8), (1, 0.4), (0, 0.6), (0, 0.4)))._4 == Some(0.625))
    // single-class input reports null AUC rather than dividing by zero
    assert(auc(Seq((1, 0.8), (1, 0.4)))._4.isEmpty)
  }

  test("NB classifier: matches a plain-Scala replay; prior fallback on out-of-vocab docs") {
    import spark.implicits._
    // construct doc_ids so the md5 split puts a known subset in train:
    // replicate the operator's own split to derive expectations
    val docs = Seq(
      (1L, "alpha", "x x x y"), (2L, "alpha", "x x y y"),
      (3L, "beta", "z z z w"), (4L, "beta", "z w w w"),
      (5L, "alpha", "x y x y"), (6L, "beta", "z w z w"),
      (7L, "alpha", "x x x x"), (8L, "beta", "w w w w"),
      (9L, "alpha", "qqq qqq"), // tokens unseen in train -> prior argmax
      (10L, "beta", ""),        // empty -> prior argmax
      (11L, "alpha", "x z"), (12L, "beta", "w y"),
    ).toDF("doc_id", "source", "text")
    val split = graft.sources.Sampling.hashSplit(docs, "doc_id")
      .select($"doc_id", $"source", $"text", $"split")
      .as[(Long, String, String, String)].collect()
    val train = split.filter(_._4 == "train")
    val eval = split.filter(_._4 != "train")
    assert(train.nonEmpty && eval.nonEmpty)
    // plain-Scala NB replay with the same micro-nat quantization
    val classes = train.map(_._2).distinct.sorted
    def tok(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val counts = train.groupBy(_._2).map { case (c, ds) =>
      c -> ds.flatMap(d => tok(d._3)).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    }
    val vocab = counts.values.flatMap(_.keys).toSet
    def unats(x: Double) = math.round(
      BigDecimal(math.log(x) * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    val expected = eval.sortBy(_._1).map { case (id, src, text, _) =>
      val scores = classes.map { c =>
        val cw = counts(c)
        val nc = cw.values.sum
        val pw = unats(train.count(_._2 == c).toDouble / train.length)
        val s = tok(text).filter(vocab.contains).map { w =>
          unats((cw.getOrElse(w, 0L) + 1.0) / (nc + vocab.size))
        }.sum
        c -> (pw + s)
      }
      val best = scores.minBy { case (c, s) => (-s, c) }
      (id, src, best._1, best._2, if (best._1 == src) 1 else 0)
    }.toSeq
    val got = TextAnalysis.nbSourceClassifier(docs)
      .as[(Long, String, String, Long, Int)].collect().toSeq
    assert(got == expected)
    // out-of-vocab / empty docs (if they landed in eval) carry the pure
    // prior score of their predicted class
    got.filter(r => r._1 == 9L || r._1 == 10L).foreach { r =>
      val priorOnly = classes.map { c =>
        c -> unats(train.count(_._2 == c).toDouble / train.length)
      }.minBy { case (c, s) => (-s, c) }
      assert(r._3 == priorOnly._1 && r._4 == priorOnly._2)
    }
    // confusion matrix: cell counts reproduce the per-doc predictions and
    // recall shares partition each true class
    val cm = TextAnalysis.nbConfusionMatrix(docs)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    assert(cm.map(_._3).sum == got.length)
    val brute = got.groupBy(r => (r._2, r._3)).view.mapValues(_.size.toLong).toMap
    assert(cm.map(r => (r._1, r._2) -> r._3).toMap == brute)
    cm.groupBy(_._1).values.foreach { rows =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 0.001)
    }
  }

  test("gopherRules: each planted violation trips exactly its rule; the clean doc survives") {
    val clean = ("the cat and dog of tree " * 9).trim // 54 words, ml 3.0
    val docs = Seq(
      (1L, "clean", clean),
      (2L, "short", "cat dog tree bird fish"),
      (3L, "bullets", "- the item one\n- the item two\n- the item three"),
      (4L, "symbols", "# # # # # the cat and of dog"),
      (5L, "nonalpha", "111 222 333 444 the and of is"),
      (6L, "tiny_words", "a b c d the of a b c d the of"),
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // clean: zero fails, keeps
    assert(got("clean").getLong(8) == 1L)   // n_keep
    assert((2 to 7).forall(i => got("clean").getLong(i) == 0L))
    assert(got("short").getLong(2) == 1L)   // fail_word_count
    assert(got("bullets").getLong(5) == 1L) // fail_bullet_lines
    assert(got("symbols").getLong(4) == 1L) // fail_symbol_ratio
    assert(got("nonalpha").getLong(6) == 1L) // fail_alpha_words
    assert(got("tiny_words").getLong(3) == 1L) // fail_mean_len
    assert(got("short").getLong(7) == 1L)   // no stopwords at all
    // all violators are dropped
    Seq("short", "bullets", "symbols", "nonalpha", "tiny_words")
      .foreach(s => assert(got(s).getLong(8) == 0L, s))
  }

  test("readability: hand-computed Flesch/FK on a two-sentence doc; empty docs excluded") {
    // tokens: the cat it runs -> w=4; vowel groups: e,a,i,u -> sy=4;
    // sentence runs: '.' '!' -> se=2
    // flesch = 206.835 - 1.015*(4/2) - 84.6*(4/4) = 120.205
    // fk     = 0.39*2 + 11.8*1 - 15.59           = -3.01
    val docs = Seq((1L, "s", "The cat. It runs!"), (2L, "s", ""))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.readability(docs)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(r == Seq(("s", 1L, 4L, 4L, 2L, 120.205, -3.01)))
  }

  test("zipfFit: an exact 1/r corpus recovers slope -1, intercept ln(c), r2 = 1") {
    // counts 6, 3, 2 = 6/r at ranks 1, 2, 3 -> ln y = ln 6 - 1 * ln r
    // exactly, so OLS must return the line itself
    val docs = Seq((1L, "s", ("aa " * 6 + "bb " * 3 + "cc " * 2).trim))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.zipfFit(docs).as[(String, Long, Double, Double,
      Double)].collect().toSeq
    assert(r == Seq(("s", 3L, -1.0, math.rint(math.log(6) * 1e6) / 1e6, 1.0)))
  }

  test("zipfFit: equal-count ranks break ties by term, top-k cut respected") {
    // 4 terms all with count 2 -> ranks are alphabetical; k=3 drops 'dd'
    val docs = Seq((1L, "s", "aa bb cc dd aa bb cc dd"))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.zipfFit(docs, k = 3).collect()
    assert(r.length == 1 && r.head.getLong(1) == 3L)
    // all y equal -> slope exactly 0, r2 defined as 0 (ssTot = 0 guard)
    assert(r.head.getDouble(2) == 0.0 && r.head.getDouble(4) == 0.0)
  }

  test("heapsLaw: checkpoints are arithmetic, counts cumulative, final row is the whole corpus") {
    // doc_ids 0..9, each doc d contributes d+1 copies of its own term
    // plus one shared term -> types grow by exactly 1 per doc
    val docs = (0L to 9L).map(d =>
      (d, "s", (s"t$d " * (d.toInt + 1) + "shared").trim))
      .toDF("doc_id", "source", "text")
    val rows = TextAnalysis.heapsLaw(docs)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._1) == (1L to 10L))
    // bound_i = 0 + 9*i DIV 10
    assert(rows.map(_._2) == (1L to 10L).map(i => 9L * i / 10L))
    // cumulative and monotone; last checkpoint covers everything
    assert(rows.map(_._4) == rows.map(_._4).sorted)
    assert(rows.map(_._5) == rows.map(_._5).sorted)
    val last = rows.last
    assert(last._3 == 10L)                       // all docs
    assert(last._4 == (1 to 10).map(_ + 1).sum)  // all tokens incl shared
    assert(last._5 == 11L)                       // 10 own terms + shared
    // the fitted constants are the same on every row
    assert(rows.map(_._6).distinct.size == 1)
    assert(rows.map(_._7).distinct.size == 1)
  }

  test("heapsLaw: a pure-duplication corpus fits beta ~ 0 (no new types)") {
    // same text in every doc: types flat at 2 while tokens grow 10x
    val docs = (0L to 9L).map(d => (d, "s", "aa bb"))
      .toDF("doc_id", "source", "text")
    val rows = TextAnalysis.heapsLaw(docs)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._5).distinct == Seq(2L))
    assert(math.abs(rows.head._6) < 1e-9)        // beta rounds to 0
  }
}
