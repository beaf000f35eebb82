package graft.index

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.AtomicStore

/** Persisted inverted index — the engine-native replacement for the
  * reference's four Cassandra tables (app/cassandra/schema.cql:5-32).
  *
  * The reference makes term lookups single-partition reads by keying
  * Cassandra on (term, corpus_name) (SURVEY.md §4 row 1). Here the postings
  * and vocabulary tables are partitioned by a term-hash bucket, and the
  * serving reader opens ONLY the k `term_bucket=<b>` directories a k-term
  * query hashes to — the point read Cassandra token routing did. Reading
  * the table root and relying on Catalyst partition pruning is not
  * enough: a partitioned read first lists EVERY partition directory, and
  * above spark.sql.sources.parallelPartitionDiscovery.threshold (32) that
  * listing is itself a distributed job, paid per table per request. At
  * 100 TB the difference between opening 4/64 buckets and the full table
  * IS the query latency.
  */
object IndexStore {

  val DefaultBuckets = 64

  def termBucket(term: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(term), lit(buckets.toLong))

  /** Build and persist all five index tables (the reference's four plus
    * positional postings for phrase/proximity queries). Idempotent full
    * recompute (the S8/A8 design decision: recompute beats
    * read-modify-write). */
  def write(docs: DataFrame, dir: String, buckets: Int = DefaultBuckets): Unit =
    writeTables(InvertedIndex.termFrequency(docs), InvertedIndex.docInfo(docs),
      Some(InvertedIndex.positionalPostings(docs)), dir, buckets)

  /** The stat tables from a (tf, doc_info) pair plus optional positional
    * postings — shared by the full build (stats from a corpus scan) and
    * the incremental merge (stats from stored tables + a delta; positional
    * absent when merging into a store written before the table existed). */
  private def writeTables(tfIn: DataFrame, info: DataFrame,
                          posOpt: Option[DataFrame], dir: String,
                          buckets: Int): Unit = {
    // the bucket count is INDEX metadata, not caller knowledge: a reader
    // pruning with the wrong modulus silently treats ~ (1 - 1/buckets) of
    // terms as OOV (confidently wrong results, no error). Written inside
    // writeTables so the ingest swap carries it too.
    val spark = tfIn.sparkSession
    import spark.implicits._
    Seq(buckets).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/index_meta")
    // persist tf across the two writes: the tokenize+explode+aggregate (or
    // merge) lineage is the scale-dominant cost and would otherwise run twice
    val tf = tfIn.persist()
    try {
      // repartition on the bucket column before partitionBy: each task then
      // holds whole buckets, so every bucket directory gets O(1) files
      // instead of one per task — at 100 TB the difference between
      // buckets×tasks small files and buckets compact ones.
      tf.withColumn("term_bucket", termBucket(col("term"), buckets))
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$dir/term_frequency_in_doc")
      InvertedIndex.docFrequencyFromTf(tf)
        .withColumn("term_bucket", termBucket(col("term"), buckets))
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$dir/doc_frequency_of_term")
    } finally tf.unpersist()
    // positional postings share the term-hash bucketing, so a k-term
    // phrase prunes to <= k buckets exactly like the BM25 serving path
    posOpt.foreach { pos =>
      pos.withColumn("term_bucket", termBucket(col("term"), buckets))
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$dir/positional_postings")
    }
    // persist doc_info across its two consumers: in the full-build path its
    // lineage is a complete corpus tokenize scan, and the corpus-stats agg
    // would otherwise re-run it
    val inf = info.persist()
    try {
      inf.write.mode("overwrite").parquet(s"$dir/doc_info")
      // the ONE corpus-stats formula, shared with the recompute path — if
      // the stored and recomputed aggregations ever drifted, searchStored
      // and search would silently disagree
      InvertedIndex.corpusInfoFromDocInfo(inf)
        .write.mode("overwrite").parquet(s"$dir/corpus_info")
    } finally inf.unpersist()
  }

  /** Merge a small delta corpus into a stored index WITHOUT re-tokenizing
    * the stored corpus (A8/S8; the batch twin of the streaming
    * incrementalIndexWriter, and the landing point for
    * Sources.ingestLocalFile's one-file flow — app/index.sh:21-41). The
    * stored tf is already aggregated, so the merge shuffles only
    * (key, partial) pairs; df/dl/corpus stats re-derive from the merged
    * tables, never from old text.
    *
    * Write-then-swap at the index root (`AtomicStore`, same as
    * incrementalIndexWriter): the merge READS the tables it replaces, so
    * everything materializes into the sibling `.<name>.next` dir first,
    * then two checked renames swap it live. Crash between the renames
    * leaves the sibling `.<name>.old` complete — rename it back to
    * `<name>` to recover. */
  def ingest(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    // A re-ingested doc_id would SUM its stored tf with the new tf and
    // duplicate its doc_info row — stats silently corrupt (a full recompute
    // would be right). Fail loudly instead: one broadcast-semi-join count
    // against the (small) delta before any write.
    val dup = docInfo(spark, dir)
      .join(broadcast(newDocs.select("doc_id")), Seq("doc_id"), "left_semi")
      .count()
    require(dup == 0,
      s"IndexStore.ingest: $dup doc_id(s) already indexed at $dir — " +
        "re-indexing a changed doc needs a full recompute (write), not ingest")
    val mergedTf = InvertedIndex.mergeTermFrequency(
      postings(spark, dir).drop("term_bucket"), newDocs)
    val mergedInfo = docInfo(spark, dir)
      .unionByName(InvertedIndex.docInfo(newDocs))
    // doc_ids are guaranteed new (guard above), so the positional merge is
    // a pure union; a store written before the table existed stays without
    // it (phraseMatchStored fails loudly there; re-`write` to add it)
    val mergedPos =
      if (new java.io.File(s"$dir/positional_postings").exists())
        Some(positional(spark, dir).drop("term_bucket")
          .unionByName(InvertedIndex.positionalPostings(newDocs)))
      else None
    val store = new java.io.File(dir).getAbsoluteFile
    val p = AtomicStore.paths(store.getParent, store.getName)
    if (p.tmp.exists()) AtomicStore.delete(p.tmp) // partial, from a crashed ingest
    // keep the STORE's bucketing, not the caller's default — re-bucketing
    // on ingest would strand the existing postings files
    writeTables(mergedTf, mergedInfo, mergedPos, p.tmp.getPath,
      storedBuckets(spark, dir))
    AtomicStore.promote(p, Some(p.cur), "IndexStore.ingest")
  }

  // Explicit read schemas: a ZERO-TOKEN corpus writes partitioned tables
  // with no part files at all (partitionBy of an empty frame), and a
  // schema-inferring read would throw UNABLE_TO_INFER_SCHEMA — an empty
  // index must serve empty results with the schema intact (the S9
  // standing), not crash the store readers. Spelled once per table,
  // matching what writeTables emits bit-for-bit.
  import org.apache.spark.sql.types._
  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("term", StringType),
    StructField("term_frequency", LongType),
    StructField("term_bucket", LongType)))
  private val vocabularySchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_frequency", LongType),
    StructField("term_bucket", LongType)))
  private val positionalSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", IntegerType),
    StructField("term", StringType), StructField("term_bucket", LongType)))
  private val docInfoSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("doc_length", LongType)))
  private val corpusInfoSchema = StructType(Seq(
    StructField("doc_n", LongType), StructField("total_doc_length", LongType),
    StructField("avg_doc_length", DoubleType)))

  def postings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$dir/term_frequency_in_doc")

  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(vocabularySchema).parquet(s"$dir/doc_frequency_of_term")

  def positional(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(positionalSchema).parquet(s"$dir/positional_postings")

  def docInfo(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(docInfoSchema).parquet(s"$dir/doc_info")

  def corpusInfo(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(corpusInfoSchema).parquet(s"$dir/corpus_info")

  /** The bucket count a store was written with (index_meta). Eagerly read:
    * it becomes the bucket-directory list of the serving reads. Read on the
    * driver straight from the 1-row part file — a `spark.read` here would
    * be a Spark job per call on the request path. */
  def storedBuckets(spark: SparkSession, dir: String): Int = {
    val meta = new Path(s"$dir/index_meta")
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = meta.getFileSystem(conf).listStatus(meta).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    require(parts.length == 1,
      s"IndexStore: $meta holds ${parts.length} part files, expected exactly 1")
    val reader = ParquetReader.builder(new GroupReadSupport(), parts.head)
      .withConf(conf).build()
    try {
      val row = reader.read()
      require(row != null, s"IndexStore: ${parts.head} holds no bucket count")
      row.getInteger("buckets", 0)
    } finally reader.close()
  }

  /** Postings for a set of terms, read from only their hash buckets (the
    * per-term point-read of app/query.py:64-73, minus the driver loop).
    * The modulus comes from the store's own metadata — a caller-supplied
    * count could silently mis-prune. */
  def postingsForTerms(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    postingsForTerms(spark, dir, terms, storedBuckets(spark, dir))

  /** As above with the store's bucket count already read, so a request
    * touching several tables reads index_meta once. */
  def postingsForTerms(spark: SparkSession, dir: String, terms: Seq[String],
                       buckets: Int): DataFrame =
    bucketRead(spark, s"$dir/term_frequency_in_doc", postingsSchema, terms, buckets)

  def vocabularyForTerms(spark: SparkSession, dir: String, terms: Seq[String],
                         buckets: Int): DataFrame =
    bucketRead(spark, s"$dir/doc_frequency_of_term", vocabularySchema, terms, buckets)

  /** Phrase search served from the stored positional table: each term of
    * the adjacency chain reads ONLY its hash bucket, so a k-term phrase
    * touches <= k of `buckets` directories of the positional table — never
    * the corpus, never the full table. Results ≡ InvertedIndex.phraseMatch
    * on the indexed docs. */
  def phraseMatchStored(spark: SparkSession, dir: String, phrase: String): DataFrame =
    phraseMatchStored(spark, dir, phrase, storedBuckets(spark, dir))

  def phraseMatchStored(spark: SparkSession, dir: String, phrase: String,
                        buckets: Int): DataFrame =
    InvertedIndex.phraseFromPostings(InvertedIndex.phraseTerms(phrase),
      t => bucketRead(spark, s"$dir/positional_postings", positionalSchema,
        Seq(t), buckets))

  /** Proximity search served from the stored positional table — both
    * sides of the banded join read only their term's hash bucket. */
  def proximityMatchStored(spark: SparkSession, dir: String, termA: String,
                           termB: String, window: Int = 8): DataFrame = {
    val buckets = storedBuckets(spark, dir)
    InvertedIndex.proximityFromPostings(termA, termB, window,
      t => bucketRead(spark, s"$dir/positional_postings", positionalSchema,
        Seq(t), buckets))
  }

  /** The one serving-path table reader: opens only the `term_bucket=<b>`
    * directories the terms hash to and that exist (a zero-token store, or
    * an OOV term's empty bucket, has none), so the read lists k
    * directories on the driver instead of every bucket in a listing job.
    * The bucket and term predicates stay on the frame, so the scan still
    * carries term_bucket PartitionFilters and only the terms' rows
    * survive. No bucket directory: an empty frame with the table's schema
    * intact (the S9 standing). A missing TABLE fails loudly — a store
    * written before the positional table existed must be re-`write`n,
    * never served as empty. */
  private def bucketRead(spark: SparkSession, table: String, schema: StructType,
                         terms: Seq[String], buckets: Int): DataFrame = {
    val bucketIds = terms.map(t => bucketOf(t, buckets)).distinct
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"IndexStore: no table at $table")
    val dirs = bucketIds.map(b => new Path(root, s"term_bucket=$b"))
      .filter(fs.exists).map(_.toString)
    val df =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).option("basePath", table).parquet(dirs: _*)
    df.filter(col("term_bucket").isin(bucketIds: _*) &&
      col("term").isin(terms: _*))
  }

  /** Spark-side xxhash64 of a literal term, evaluated eagerly so the bucket
    * list names the directories to open and lands in the plan as
    * partition-pruning literals. */
  def bucketOf(term: String, buckets: Int = DefaultBuckets): Long = {
    // XxHash64 over a UTF8String with Spark's default seed 42L — the same
    // expression termBucket uses, evaluated locally.
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(term)), 42L)
      .eval(null).asInstanceOf[Long]
    val m = h % buckets
    if (m < 0) m + buckets else m
  }
}
