package graft

import java.nio.file.Files
import graft.index.{IndexStore, InvertedIndex}
import graft.rank.BM25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class IndexStoreSpec extends StoredBranches with AdaptiveSparkPlanHelper {

  /** (table, directories opened) of every file scan in the plan, AQE
    * stages and subqueries included: a postings scan opens `term_bucket=`
    * directories, any other scan its table root. */
  private def storeScans(q: DataFrame): Seq[(String, Set[String])] =
    collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        val roots = s.relation.location.rootPaths
        if (roots.forall(_.getName.startsWith("term_bucket=")))
          (roots.map(_.getParent.getName).distinct.mkString(","),
            roots.map(_.getName).toSet)
        else (roots.map(_.getName).distinct.mkString(","), Set.empty[String])
    }

  /** Leaf scans of the postings table, as plan strings. */
  private def postingScans(q: DataFrame): Seq[String] =
    q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .filter(_.contains("/postings/"))

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-index").toString
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    IndexStore.write(docs, d, buckets = 16)
    d
  }

  test("stored-index search equals recompute search") {
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    // GoldenSearchSpec's queries, and OOV terms alone and mixed in, at
    // both branches
    bothBranches(dir, docs, Seq("spark join window", "football game", "the value",
      "zzzznotaword", "spark zzzznotaword", "Spark  SPARK join"))
    phraseBranches(dir, docs, "the value", "Spark join", "the the")
    proximityBranches(dir, docs, ("the", "value", 8), ("Spark", "join", 3))
  }

  test("stored batch search equals the recompute batch search") {
    import spark.implicits._
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    val qs = Seq((1L, "spark join window"), (2L, "batch stream"))
    val fresh = BM25.searchMany(spark, docs, qs.toDF("query_id", "query"))
      .collect().toSeq
    val stored = BM25.searchManyStored(spark, dir, qs)
      .collect().toSeq
    assert(stored.nonEmpty && stored == fresh)
    // serving plan invariant: the batch path prunes postings scans too
    val scans = postingScans(BM25.searchManyStored(spark, dir, qs))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.contains("PartitionFilters") && s.contains("term_bucket"),
        s"batch postings scan not pruned:\n$s")
    }
  }

  test("term lookup partition-prunes to the term's hash buckets") {
    val df = IndexStore.postingsForTerms(spark, dir, Seq("spark"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"),
      s"no partition pruning in:\n$plan")
    assert(df.select("term").distinct().collect().map(_.getString(0)).toSet
      == Set("spark"))
    // every postings scan of the serving surface opens exactly its terms'
    // bucket directories — never the table root, which would list all 16
    // buckets — and no serving plan scans any other table: doc_length
    // comes with the posting, the corpus stats with index_meta
    def dirs(terms: String*) =
      terms.map(t => s"term_bucket=${IndexStore.bucketOf(t, 16)}").toSet
    val bag = dirs("spark", "join", "window")
    val phrase = Set(dirs("the"), dirs("value"))
    def pin(q: DataFrame, allowed: Map[String, Set[Set[String]]]): Unit = {
      val scans = storeScans(q)
      assert(scans.map(_._1).toSet == allowed.keySet,
        s"scanned tables ${scans.map(_._1)}")
      scans.foreach { case (table, opened) =>
        assert(allowed(table).contains(opened),
          s"$table scan opened $opened, expected one of ${allowed(table)}")
      }
    }
    pin(df, Map("postings" -> Set(dirs("spark"))))
    pin(BM25.searchStored(spark, dir, "spark join window", driverReadMaxBytes = 0),
      Map("postings" -> Set(bag)))
    pin(BM25.searchManyStored(spark, dir,
        Seq((1L, "spark join"), (2L, "window"))),
      Map("postings" -> Set(bag)))
    pin(BM25.searchStoredPhraseBoosted(spark, dir, "the value"),
      Map("postings" -> (phrase + dirs("the", "value"))))
    pin(IndexStore.phraseMatchStored(spark, dir, "the value", driverReadMaxBytes = 0),
      Map("postings" -> phrase))
    pin(IndexStore.proximityMatchStored(spark, dir, "the", "value", 8,
        driverReadMaxBytes = 0),
      Map("postings" -> phrase))
  }

  test("building stored queries launches no job; serving `searchStored` runs no job") {
    import spark.implicits._
    // the default 64 buckets, all of them filled (the sf0.001 corpus has
    // too few distinct terms): above the parallel partition-discovery
    // threshold (32), opening a table root becomes a listing job
    val d = Files.createTempDirectory("graft-index-64").toString
    val docs = (0 until 200).map(i => (i.toLong,
      (0 until 10).map(j => s"w${(i * 7 + j * 13) % 500}").mkString(" ")))
      .toDF("doc_id", "text")
    IndexStore.write(docs, d)
    assert(new java.io.File(s"$d/postings").list()
      .count(_.startsWith("term_bucket=")) > 32)
    def jobs[T](body: => T): (T, Map[Int, Int]) =
      jobsIn("graft-serving-jobs")(body)
    val (frames, built) = jobs(Seq(
      BM25.searchStored(spark, d, "w1 w2 w3"),
      BM25.searchManyStored(spark, d, Seq((1L, "w1 w2"), (2L, "w3"))),
      BM25.searchStoredPhraseBoosted(spark, d, "w0 w13"),
      IndexStore.phraseMatchStored(spark, d, "w0 w13"),
      IndexStore.proximityMatchStored(spark, d, "w0", "w26", 8)))
    assert(built.isEmpty, s"building stored queries ran jobs $built")
    // under the byte cap a search, a phrase and a proximity request read
    // and answer on the driver
    Seq("search" -> frames(0), "phrase" -> frames(3), "proximity" -> frames(4))
      .foreach { case (kind, f) =>
        val (rows, ran) = jobs(f.collect())
        assert(rows.nonEmpty, s"the $kind is empty")
        assert(ran.isEmpty, s"the $kind ran jobs (id -> tasks) $ran")
      }
    // the Spark plan (cap 0) runs no wide job
    val (_, run) = jobs(
      BM25.searchStored(spark, d, "w1 w2 w3", driverReadMaxBytes = 0).collect())
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(run.nonEmpty && run.values.forall(_ <= cap),
      s"searchStored at cap 0 ran jobs (id -> tasks) $run, cap $cap tasks")
  }

  test("stores with missing bucket directories serve the recompute answer") {
    import spark.implicits._
    val three = Seq((1L, "the quick brown fox jumps"),
      (2L, "the lazy dog sleeps by the quick brown fox"),
      (3L, "quick brown dogs run")).toDF("doc_id", "text")
    for ((docs, name) <- Seq((three.limit(0), "zero-row"), (three, "3-doc"))) {
      val d = Files.createTempDirectory("graft-index-sparse").toString
      IndexStore.write(docs, d)
      // the 3-doc store fills at most 11 of 64 buckets; the OOV term's
      // bucket directory must really be absent for this case to bite
      val oov = Iterator.from(0).map(i => s"zzzoov$i").find(t =>
        !new java.io.File(s"$d/postings/term_bucket=" +
          IndexStore.bucketOf(t)).exists()).get
      def same(stored: DataFrame, fresh: DataFrame): Unit = {
        assert(stored.schema.map(f => (f.name, f.dataType)) ==
          fresh.schema.map(f => (f.name, f.dataType)), name)
        assert(stored.collect().toSeq == fresh.collect().toSeq, name)
      }
      bothBranches(d, docs, Seq("quick fox", s"quick fox $oov", oov, "the"))
      // an OOV term ends, splits and is the whole chain
      phraseBranches(d, docs, "quick brown fox", s"brown $oov", s"quick $oov brown",
        oov)
      proximityBranches(d, docs, ("the", "fox", 8), ("the", oov, 8), (oov, "quick", 8))
      same(BM25.searchManyStored(spark, d, Seq((1L, "quick fox"), (2L, oov))),
        BM25.searchMany(spark, docs, Seq((1L, "quick fox"), (2L, oov))
          .toDF("query_id", "query")))
      // the zero-row store records null length stats, as the recompute does
      same(IndexStore.corpusInfo(spark, d), InvertedIndex.corpusInfo(docs))
    }
  }

  private def bucketDirs(d: String): Seq[java.io.File] =
    new java.io.File(s"$d/postings").listFiles().toSeq
      .filter(_.getName.startsWith("term_bucket="))

  test("searchStored's driver read and its Spark plan break rounded-score ties alike") {
    import spark.implicits._
    // twelve docs with one token multiset, cut inside the tie group by
    // topK, so doc_id decides who is kept
    val ties = ((1L to 12L).map(i => (i * 7 % 13, "alpha beta gamma filler")) ++
      Seq((20L, "alpha alpha beta"), (21L, "gamma delta"), (22L, "beta alpha filler gamma")))
      .toDF("doc_id", "text")
    val t = Files.createTempDirectory("graft-index-ties").toString
    IndexStore.write(ties, t)
    bothBranches(t, ties, Seq("alpha beta gamma", "filler", "alpha delta"), topK = 10)
    bothBranches(t, ties, Seq("alpha beta gamma"), topK = 3)
  }

  test("searchStored serves an ingested store with several part files per bucket") {
    import spark.implicits._
    val docs = (0 until 120).map(i => (i.toLong,
      (0 until 8).map(j => s"w${(i * 5 + j * 11) % 90}").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((500L, "w1 w2 w3 zzznew"), (501L, "w5 w5 w5 zzznew"))
      .toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft-index-parts").toString
    // a small file roll-over makes each bucket several part files
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try {
      IndexStore.write(docs, d, buckets = 8)
      IndexStore.ingest(delta, d)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val parts = bucketDirs(d).map(_.list().count(_.startsWith("part-")))
    assert(parts.nonEmpty && parts.forall(_ > 1), parts.toSeq)
    val all = docs.unionByName(delta)
    bothBranches(d, all, Seq("w1 w2 w3", "zzznew w5", "w44"))
    phraseBranches(d, all, "w1 w2 w3", "w5 w5", "w0 w11 w22", "w3 zzznew")
    proximityBranches(d, all, ("w5", "zzznew", 1), ("w0", "w33", 3), ("w22", "w0", 8))
  }

  test("phrase and proximity serve repeated terms, shared buckets and the window edge") {
    import spark.implicits._
    val docs = Seq((1L, "the the the cat sat on the mat"),
      (2L, "alpha x x beta"), (3L, "beta x x alpha the the"),
      (4L, "alpha x x x beta gamma delta gamma delta delta"),
      (5L, "alpha beta alpha y")).toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft-index-chain").toString
    IndexStore.write(docs, d, buckets = 4)
    // a bigram of two terms that hash to one bucket file
    val (s1, s2) = docs.as[(Long, String)].collect().toSeq
      .flatMap(_._2.split(" ").sliding(2).map(w => (w(0), w(1))))
      .find { case (a, b) => a != b && IndexStore.bucketOf(a, 4) == IndexStore.bucketOf(b, 4) }
      .get
    assert(!IndexStore.phraseMatchStored(spark, d, s"$s1 $s2").isEmpty)
    phraseBranches(d, docs, "the the", "the the the", "delta delta", "gamma delta",
      s"$s1 $s2", s"$s2 $s1", s"$s1 $s2 $s1")
    // alpha and beta sit exactly 3 apart in doc 2 (alpha first) and doc 3
    // (beta first), 4 apart in doc 4, and 1 apart twice in doc 5
    proximityBranches(d, docs, ("alpha", "beta", 3), ("beta", "alpha", 3),
      ("alpha", "beta", 2), ("alpha", "beta", 4), ("the", "mat", 8), (s1, s2, 2))
    assert(IndexStore.proximityMatchStored(spark, d, "alpha", "beta", 3)
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 1L, 3L), (3L, 1L, 3L), (5L, 2L, 1L)))
    assert(IndexStore.phraseMatchStored(spark, d, "the the")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("the driver read serves bucket files of several row groups, several pages and no dictionary") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import spark.implicits._
    // 300 docs of 12 tokens: "the" twice in a row every fifth position
    val docs = (0 until 300).map(i => (i.toLong,
      (0 until 12).map(j => if ((i + j) % 5 < 2) "the" else s"w${(i * 7 + j * 3) % 60}")
        .mkString(" "))).toDF("doc_id", "text")
    val conf = spark.sparkContext.hadoopConfiguration
    /** (row groups, pages of each column chunk, whether a chunk is
      * dictionary-encoded) of every bucket part file of a store. */
    def layout(d: String): Seq[(Int, Seq[Int], Boolean)] =
      bucketDirs(d).flatMap(_.listFiles().filter(_.getName.startsWith("part-"))).map { f =>
        val r = new ParquetFileReader(HadoopInputFile.fromPath(new Path(f.toString), conf),
          org.apache.parquet.HadoopReadOptions.builder(conf).build())
        try {
          val chunks = r.getRowGroups.asScala.toSeq.flatMap(_.getColumns.asScala)
          (r.getRowGroups.size, chunks.map(c => r.readOffsetIndex(c).getPageCount),
            chunks.exists(_.hasDictionaryPage))
        } finally r.close()
      }
    // each store is written under the session's parquet writer settings
    for ((settings, holds) <- Seq[(Map[String, String], Seq[(Int, Seq[Int], Boolean)] => Boolean)](
        Map("parquet.block.size" -> "1024") -> (_.exists(_._1 > 2)),
        Map("parquet.page.row.count.limit" -> "7") -> (_.exists(_._2.exists(_ > 2))),
        Map("parquet.enable.dictionary" -> "false") -> (_.forall(!_._3)))) {
      val d = Files.createTempDirectory("graft-index-layout-").toString
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try IndexStore.write(docs, d, buckets = 4)
      finally settings.keys.foreach(spark.conf.unset)
      assert(holds(layout(d)), s"$settings: ${layout(d)}")
      bothBranches(d, docs, Seq("w6 w9 w12", "the w21", "W3  w3 w59"))
      phraseBranches(d, docs, "w6 w9", "the the w6", "the the", "w9 w12 the the")
      proximityBranches(d, docs, ("the", "w9", 3), ("w6", "w12", 2), ("w21", "w3", 8))
    }
  }

  test("the driver scorer serves interleaved (k1, b) pairs and concurrent requests") {
    import spark.implicits._
    // docs of varied length, so that b weighs in
    val docs = (0 until 200).map(i => (i.toLong,
      (0 until 4 + i % 9).map(j => s"w${(i * 5 + j * 11) % 70}").mkString(" ")))
      .toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft-index-scorer").toString
    IndexStore.write(docs, d, buckets = 8)
    val q = "w1 w12 w40"
    val terms = q.split(" ").toSeq
    // each pair against the recompute with the same parameters, in an
    // order that returns to earlier pairs
    for ((k1, b) <- Seq((1.0, 0.75), (1.2, 0.3), (0.5, 1.0), (1.0, 0.75), (2.0, 0.0),
        (1.2, 0.3))) {
      checkBranches(d, terms, s"'$q' k1=$k1 b=$b",
        BM25.search(spark, docs, q, k1 = k1, b = b))(cap =>
        BM25.searchStored(spark, d, q, k1 = k1, b = b, driverReadMaxBytes = cap))
    }
    // four threads at once against one store get the sequential answers
    val requests = for {
      query <- Seq(q, "w5 w5 w66", "zzzznotaword")
      (k1, b) <- Seq((1.0, 0.75), (1.5, 0.5))
    } yield (query, k1, b)
    def answer(r: (String, Double, Double)) =
      BM25.searchStored(spark, d, r._1, k1 = r._2, b = r._3).collect().toSeq
    val want = requests.map(answer)
    assert(want.exists(_.nonEmpty))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = (0 until 4).map { t =>
        pool.submit[Unit] { () =>
          start.await()
          // each thread walks the requests from its own offset, three times
          (0 until 3 * requests.size).map(i => (i + t) % requests.size).foreach { i =>
            assert(answer(requests(i)) == want(i), s"thread $t: ${requests(i)}")
          }
        }
      }
      start.countDown()
      runs.foreach(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
  }

  test("the driver read opens exactly the query terms' bucket files") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong,
      (0 until 6).map(j => s"v${(i * 3 + j * 17) % 150}").mkString(" ")))
      .toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft-index-opens").toString
    IndexStore.write(docs, d, buckets = 16)
    val q = "v1 v2 v40"
    val want = BM25.search(spark, docs, q).collect().toSeq
    val touched = q.split(" ").map(t => s"term_bucket=${IndexStore.bucketOf(t, 16)}").toSet
    val buckets = bucketDirs(d)
    assert(buckets.length > touched.size)
    def corrupt(bucket: java.io.File): Unit =
      bucket.listFiles().filter(_.getName.startsWith("part-"))
        .foreach(f => Files.writeString(f.toPath, "not a parquet file"))
    // a file of any other bucket would now fail the read; the right
    // answer needs every touched bucket's rows
    buckets.filterNot(b => touched(b.getName)).foreach(corrupt)
    assert(BM25.searchStored(spark, d, q).collect().toSeq == want)
    // and the touched files are read on each request, not remembered
    corrupt(buckets.find(b => touched(b.getName)).get)
    intercept[Exception](BM25.searchStored(spark, d, q).collect())
  }

  test("searchStored's whole plan partition-prunes the postings scan") {
    // the declared bm25_stored query's serving plan: the scan itself must
    // carry term_bucket PartitionFilters (Cassandra-token-routing parity),
    // not filter after reading all buckets
    val scans = postingScans(
      BM25.searchStored(spark, dir, "spark join window", driverReadMaxBytes = 0))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.contains("PartitionFilters") && s.contains("term_bucket"),
        s"postings scan not pruned:\n$s")
    }
  }

  test("stored tables round-trip the index contracts") {
    import org.apache.spark.sql.functions._
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    assert(IndexStore.docInfo(spark, dir).count() == docs.count())
    assert(IndexStore.corpusInfo(spark, dir).collect().toSeq ==
      InvertedIndex.corpusInfo(docs).collect().toSeq)
    // the one postings table carries tf, positions and doc length; df is
    // its row count per term — each equal to the recompute table
    val post = IndexStore.postings(spark, dir)
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    same(post.select("doc_id", "term", "term_frequency"),
      InvertedIndex.termFrequency(docs))
    same(post.groupBy("term").agg(count(lit(1)).as("doc_frequency")),
      InvertedIndex.docFrequency(docs))
    same(post.select(col("doc_id"), explode(col("positions")).as("pos"),
        col("term")), InvertedIndex.positionalPostings(docs))
    same(post.select("doc_id", "doc_length").distinct(),
      InvertedIndex.docInfo(docs).join(post.select("doc_id").distinct(),
        Seq("doc_id"), "left_semi"))
    // positions are stored sorted; the BM25 reader never selects them
    assert(post.filter(col("positions") =!= array_sort(col("positions")))
      .isEmpty)
    assert(IndexStore.postingsForTerms(spark, dir, Seq("spark")).columns.toSeq ==
      Seq("term", "doc_id", "term_frequency", "doc_length"))
  }

  test("stored phrase search equals recompute and prunes per-term buckets") {
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    // the Spark plan: the driver read plans no scan
    val stored = IndexStore.phraseMatchStored(spark, dir, "the value", driverReadMaxBytes = 0)
    val fresh = graft.index.InvertedIndex.phraseMatch(docs, "the value")
      .collect().toSeq
    assert(fresh.nonEmpty && stored.collect().toSeq == fresh)
    // every postings scan in the chain must carry bucket pruning
    val posScans = postingScans(stored)
    assert(posScans.nonEmpty)
    posScans.foreach { s =>
      assert(s.contains("PartitionFilters") && s.contains("term_bucket"),
        s"postings scan not pruned:\n$s")
    }
  }

  test("stored proximity equals recompute and prunes both term buckets") {
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    val stored = IndexStore.proximityMatchStored(spark, dir, "the", "value", 8,
      driverReadMaxBytes = 0)
    val fresh = graft.index.InvertedIndex.proximityMatch(docs, "the", "value", 8)
      .collect().toSeq
    assert(fresh.nonEmpty && stored.collect().toSeq == fresh)
    // AQE may fold one side under a reused exchange, so pin that every
    // SURVIVING postings leaf carries bucket pruning (same pattern as
    // the phrase pin)
    val posScans = postingScans(stored)
    assert(posScans.nonEmpty)
    posScans.foreach(s => assert(
      s.contains("PartitionFilters") && s.contains("term_bucket"),
      s"postings scan not pruned:\n$s"))
  }

  test("ingest carries positions: new-doc phrases become servable") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-index-pp").toString
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    IndexStore.write(docs, d, buckets = 16)
    val delta = Seq((900001L, "zzzalpha zzzbeta zzzalpha zzzbeta"))
      .toDF("doc_id", "text")
    IndexStore.ingest(delta, d)
    val hit = IndexStore.phraseMatchStored(spark, d, "zzzalpha zzzbeta")
      .as[(Long, Long)].collect().toSeq
    assert(hit == Seq((900001L, 2L)))
    // pre-existing phrases still served after the swap
    assert(IndexStore.phraseMatchStored(spark, d, "the value").count() ==
      graft.index.InvertedIndex.phraseMatch(docs, "the value").count())
  }

  test("the index build runs <= 6 jobs from one tokenize pass") {
    // the docs are persisted and counted first, so every job in the call
    // is the build's own: the tokens' cache, the postings exchange and
    // write, doc_info, and the corpus stats' collect (index_meta is
    // written on the driver)
    import spark.implicits._
    val docs = (0 until 400).map(i => (i.toLong, s"w${i % 7} w${i % 13} w${i % 31} w$i"))
      .toDF("doc_id", "text").repartition(4).persist()
    try {
      assert(docs.count() > 0)
      val ran = jobsIn("graft-build-jobs")(IndexStore.write(docs,
        Files.createTempDirectory("graft-index-jobs").toString))._2.keySet
      assert(ran.nonEmpty && ran.size <= 6, s"IndexStore.write ran ${ran.size} jobs $ran")
    } finally docs.unpersist()
  }

  test("a store of an older layout, or with no index_meta, fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val d = Files.createTempDirectory("graft-index-layout").toString
    IndexStore.write(docs, d)
    def refused(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    // the five-table store's index_meta held only the bucket count; the
    // layout-2 store's also its layout, with the stats in corpus_info
    for ((meta, layout) <- Seq(
        Seq(IndexStore.DefaultBuckets).toDF("buckets") -> 1,
        Seq((IndexStore.DefaultBuckets, 2)).toDF("buckets", "layout") -> 2)) {
      meta.coalesce(1).write.mode("overwrite").parquet(s"$d/index_meta")
      Seq(refused(BM25.searchStored(spark, d, "beta")),
        refused(BM25.searchStored(spark, d, "beta", driverReadMaxBytes = 0)),
        refused(IndexStore.phraseMatchStored(spark, d, "alpha beta")),
        refused(IndexStore.phraseMatchStored(spark, d, "alpha beta", driverReadMaxBytes = 0)),
        refused(IndexStore.proximityMatchStored(spark, d, "alpha", "beta")),
        refused(IndexStore.ingest(Seq((3L, "delta")).toDF("doc_id", "text"), d)))
        .foreach { m =>
          assert(m.contains(s"index layout $layout") &&
            m.contains("re-`write` the store"), m)
        }
    }
    // a build that dies part-way has deleted index_meta and never wrote it
    // back: the half-written store is refused, not served empty
    val failing = spark.range(1).select(col("id").as("doc_id"),
      raise_error(lit("planted build failure")).cast("string").as("text"))
    intercept[Exception](IndexStore.write(failing, d))
    assert(!new java.io.File(s"$d/index_meta").exists())
    val m = refused(BM25.searchStored(spark, d, "beta"))
    assert(m.contains("index_meta") && m.contains("re-`write` the store"), m)
    // re-writing in place makes it servable again
    IndexStore.write(docs, d)
    assert(BM25.searchStored(spark, d, "beta").count() == 2)
  }

  test("write replaces every table of an earlier layout") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-index-relayout").toString
    // the tables of the layout-1 and layout-2 stores
    Seq("term_frequency_in_doc", "doc_frequency_of_term", "positional_postings",
      "corpus_info").foreach { t =>
      Files.createDirectories(java.nio.file.Paths.get(d, t))
      Files.writeString(java.nio.file.Paths.get(d, t, "part-00000.parquet"), "x")
    }
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    IndexStore.write(docs, d)
    val tables = Set("doc_info", "index_meta", "postings")
    assert(new java.io.File(d).list().toSet == tables)
    IndexStore.ingest(Seq((3L, "gamma delta")).toDF("doc_id", "text"), d)
    assert(new java.io.File(d).list().toSet == tables)
    assert(IndexStore.indexMeta(spark, d) ==
      IndexStore.IndexMeta(IndexStore.DefaultBuckets, 3L, Some(6L), Some(2.0)))
  }

  test("src/main opens parquet files on the driver only through IndexStore's one reader") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    // code only: a comment may name the calls it warns against
    val code = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
      .toSeq
    def filesWith(pattern: String): Seq[String] = code.flatMap { case (f, src) =>
      Seq.fill(pattern.r.findAllIn(src).size)(f)
    }
    val why = "each parquet open outside IndexStore.openParquet builds a fresh default " +
      "Hadoop Configuration and re-parses Hadoop's *-default.xml files, ~20 ms per open"
    // no record reader at all: a driver read goes column by column
    assert(filesWith("\\b[A-Za-z]*Parquet(Record)?Reader\\b").isEmpty,
      "a record reader assembles every row of a file; read its columns instead")
    assert(filesWith("ParquetFileReader\\.open\\(").isEmpty, why)
    assert(filesWith("new\\s+ParquetFileReader\\b") == Seq("graft/index/IndexStore.scala"), why)
    val store = code.collectFirst { case ("graft/index/IndexStore.scala", src) => src }.get
    assert("(?s)def openParquet\\b[^=]*=\\s*\\{[^}]*new\\s+ParquetFileReader\\b".r
      .findFirstIn(store).isDefined, "the one construction is IndexStore.openParquet's")
  }

  test("OOV query against the stored index is empty with intact schema") {
    val res = BM25.searchStored(spark, dir, "zzzznotaword")
    assert(res.columns.toSeq == Seq("doc_id", "doc_rank"))
    assert(res.count() == 0)
  }
}
