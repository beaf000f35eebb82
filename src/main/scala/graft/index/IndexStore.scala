package graft.index

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.AtomicStore
import graft.text.Tokenize

/** Persisted inverted index — the engine-native replacement for the
  * reference's four Cassandra tables (app/cassandra/schema.cql:5-32):
  * `postings`, one row per (term, doc) with its tf, the doc's length and
  * the term's positions (the positional index of Manning, Raghavan &
  * Schütze, IIR §2.4); `doc_info`, every doc's length; and `index_meta`,
  * the store's one record of scalar values: the bucket count, the layout
  * and the corpus stats (schema.cql's `corpus_info` row: doc_n,
  * total_doc_length, plus avg_doc_length), which the driver reads without
  * a job. df is not stored: it is |{docs: tf > 0}|, which a request
  * counts over the posting rows it reads anyway.
  *
  * The reference makes term lookups single-partition reads by keying
  * Cassandra on (term, corpus_name) (SURVEY.md §4 row 1). Here `postings`
  * is partitioned by a term-hash bucket, and the serving reader opens
  * ONLY the k `term_bucket=<b>` directories a k-term query hashes to —
  * the point read Cassandra token routing did. Reading the table root and
  * relying on Catalyst partition pruning is not enough: a partitioned read
  * first lists EVERY partition directory, and above
  * spark.sql.sources.parallelPartitionDiscovery.threshold (32) that
  * listing is itself a distributed job, paid per request. At 100 TB the
  * difference between opening 4/64 buckets and the full table IS the
  * query latency.
  *
  * A request whose k bucket files are small is not a Spark job at all:
  * `postingsOnDriver` reads them on the driver with parquet-hadoop's
  * reader, as `indexMeta` reads the meta, when their lengths sum to at
  * most [[DriverReadMaxBytes]]. `BM25.searchStored` then scores the rows
  * on the driver, and `phraseMatchStored` and `proximityMatchStored` match
  * their positions there. Above the cap the request is the pruned Spark
  * scan. Every driver-side open goes through `openParquet`, which reuses
  * the session's Hadoop configuration.
  */
object IndexStore {

  val DefaultBuckets = 64

  /** The table layout `write` records in index_meta. Layout 1 (no
    * `layout` column) had separate df and positional tables; layout 2 kept
    * the corpus stats in a `corpus_info` table. */
  private val Layout = 3

  /** index_meta's one record. The length stats are None for a zero-row
    * store (sum and avg over no rows are null). */
  final case class IndexMeta(buckets: Int, docN: Long,
                             totalDocLength: Option[Long],
                             avgDocLength: Option[Double])

  /** Build and persist the index from ONE tokenize pass: (doc_id, tokens,
    * doc_length) is persisted once and both `postings` and `doc_info`
    * derive from it. Idempotent full recompute (the S8/A8 design decision:
    * recompute beats read-modify-write). `dir` is the store's own: the
    * write replaces everything in it. */
  def write(docs: DataFrame, dir: String, buckets: Int = DefaultBuckets): Unit = {
    val toks = tokenized(docs).persist()
    try writeTables(postingsOf(toks, buckets), toks.select("doc_id", "doc_length"),
      dir, buckets)
    finally toks.unpersist()
  }

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Tokenize.tokens(col("text")).as("tokens"))
      .withColumn("doc_length", size(col("tokens")).cast("long"))

  /** One posting per (term, doc) with its sorted 0-based positions. The
    * token rows are hash-partitioned on the bucket BEFORE the aggregate,
    * so that one exchange both groups the postings and hands each write
    * task whole buckets (O(1) files per bucket directory instead of one
    * per task). */
  private def postingsOf(toks: DataFrame, buckets: Int): DataFrame =
    toks.select(col("doc_id"), col("doc_length"),
        posexplode(col("tokens")).as(Seq("pos", "term")))
      .withColumn("term_bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .repartition(col("term_bucket"))
      .groupBy("term_bucket", "term", "doc_id", "doc_length")
      .agg(count(lit(1)).as("term_frequency"),
        array_sort(collect_list(col("pos"))).as("positions"))

  /** Write the tables, index_meta LAST. Both `write` and `ingest`'s
    * sibling build run in a directory that may hold an earlier store, of
    * this or an older layout: the whole directory is cleared first, so no
    * table of an earlier layout survives, and a build that dies part-way
    * leaves no meta, which the serving readers refuse. */
  private def writeTables(post: DataFrame, info: DataFrame, dir: String,
                          buckets: Int): Unit = {
    val conf = post.sparkSession.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    root.getFileSystem(conf).delete(root, true)
    post.select(postingsSchema.fieldNames.map(col): _*)
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$dir/postings")
    info.write.mode("overwrite").parquet(s"$dir/doc_info")
    // the ONE corpus-stats formula, shared with the recompute path — if
    // the stored and recomputed aggregations ever drifted, searchStored
    // and search would silently disagree
    val stats = InvertedIndex.corpusInfoFromDocInfo(info).head()
    // the bucket count is INDEX metadata, not caller knowledge: a reader
    // pruning with the wrong modulus silently treats ~ (1 - 1/buckets) of
    // terms as OOV (confidently wrong results, no error). One row,
    // written on the driver like indexMeta reads it: no Spark job.
    val schema = MessageTypeParser.parseMessageType(
      "message index_meta { required int32 buckets; required int32 layout; " +
        "required int64 doc_n; optional int64 total_doc_length; " +
        "optional double avg_doc_length; }")
    val row = new SimpleGroupFactory(schema).newGroup()
      .append("buckets", buckets).append("layout", Layout)
      .append("doc_n", stats.getLong(0))
    if (!stats.isNullAt(1)) row.append("total_doc_length", stats.getLong(1))
    if (!stats.isNullAt(2)) row.append("avg_doc_length", stats.getDouble(2))
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/index_meta/part-00000.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try writer.write(row) finally writer.close()
  }

  /** Merge a small delta corpus into a stored index WITHOUT re-tokenizing
    * the stored corpus (A8/S8; the landing point for
    * Sources.ingestLocalFile's one-file flow — app/index.sh:21-41). The
    * guard below refuses doc_ids already indexed, so every (term, doc)
    * posting of the delta is new: the merged postings and doc_info are
    * plain unions, and the corpus stats in index_meta re-derive from the
    * merged doc_info, never from old text.
    *
    * Write-then-swap at the index root (`AtomicStore`, same as
    * Streaming.incrementalIndexWriter): the merge READS the tables it
    * replaces, so everything materializes into the sibling `.<name>.next`
    * dir first, then two checked renames swap it live. Crash between the
    * renames leaves the sibling `.<name>.old` complete — rename it back to
    * `<name>` to recover. */
  def ingest(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    // keep the STORE's bucketing, not the caller's default — re-bucketing
    // on ingest would strand the existing postings files. Read first, so
    // a store of an older layout fails before any job.
    val buckets = storedBuckets(spark, dir)
    // A re-ingested doc_id would duplicate its postings and doc_info row —
    // stats silently corrupt (a full recompute would be right). Fail
    // loudly instead: one broadcast-semi-join count against the (small)
    // delta before any write.
    val dup = docInfo(spark, dir)
      .join(broadcast(newDocs.select("doc_id")), Seq("doc_id"), "left_semi")
      .count()
    require(dup == 0,
      s"IndexStore.ingest: $dup doc_id(s) already indexed at $dir — " +
        "re-indexing a changed doc needs a full recompute (write), not ingest")
    val delta = tokenized(newDocs)
    val store = new java.io.File(dir).getAbsoluteFile
    val p = AtomicStore.paths(store.getParent, store.getName)
    writeTables(
      postings(spark, dir).unionByName(postingsOf(delta, buckets))
        .repartition(col("term_bucket")),
      docInfo(spark, dir).unionByName(delta.select("doc_id", "doc_length")),
      p.tmp.getPath, buckets)
    AtomicStore.promote(p, Some(p.cur), "IndexStore.ingest")
  }

  // Explicit read schemas: a ZERO-TOKEN corpus writes a partitioned table
  // with no part files at all (partitionBy of an empty frame), and a
  // schema-inferring read would throw UNABLE_TO_INFER_SCHEMA — an empty
  // index must serve empty results with the schema intact (the S9
  // standing), not crash the store readers. Spelled once per table,
  // matching what writeTables emits bit-for-bit.
  import org.apache.spark.sql.types._
  private val postingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("term_frequency", LongType), StructField("doc_length", LongType),
    StructField("positions", ArrayType(IntegerType)),
    StructField("term_bucket", LongType)))
  private val docInfoSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("doc_length", LongType)))
  private val corpusInfoSchema = StructType(Seq(
    StructField("doc_n", LongType), StructField("total_doc_length", LongType),
    StructField("avg_doc_length", DoubleType)))

  def postings(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$dir/postings")

  def docInfo(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(docInfoSchema).parquet(s"$dir/doc_info")

  /** The corpus stats as a 1-row local frame, from index_meta (no job). */
  def corpusInfo(spark: SparkSession, dir: String): DataFrame = {
    val m = indexMeta(spark, dir)
    spark.createDataFrame(java.util.List.of(Row(m.docN,
      m.totalDocLength.getOrElse(null), m.avgDocLength.getOrElse(null))),
      corpusInfoSchema)
  }

  /** The byte cap of a driver-side postings read: the summed lengths of
    * the part files in a request's `term_bucket=` directories. Sized by
    * measurement on a 4-core box, local[4] (CHANGES.md), with a query term
    * in every doc: at 7.9 MB of bucket files a driver-served search took a
    * median 383 ms against the Spark plan's 468 ms and allocated about
    * 390 MB of short-lived objects on the driver; at 16 MB it took 752 ms
    * against 506 ms. Phrase and proximity requests also decode
    * `positions`; with both terms in every doc, ten times each, at 8.0 MB
    * a driver-served phrase took a median 670 ms against the Spark plan's
    * 1,302 ms, and a proximity request 749 ms against 2,008 ms. */
  val DriverReadMaxBytes: Long = 8L << 20

  /** The BM25 columns of a driver read; `positions` is never decoded. */
  private[graft] val BM25Columns = Seq("term", "doc_id", "term_frequency", "doc_length")

  /** The columns a driver-side phrase or proximity check reads. */
  private val PositionColumns = Seq("term", "doc_id", "positions")

  /** The given columns of the terms' postings, read on the driver from
    * their bucket files with a term filter pushed into the reader, or None
    * when those files hold more than `maxBytes` (the caller then plans the
    * Spark scan). The decision is made from a driver listing of the k
    * directories, before anything is planned; no Spark job runs. Each Row
    * holds the columns in the order asked: `term` a String, `positions` an
    * Array[Int], the others Longs. */
  private[graft] def postingsOnDriver(spark: SparkSession, dir: String, terms: Seq[String],
                                      meta: IndexMeta, maxBytes: Long,
                                      columns: Seq[String]): Option[Seq[Row]] = {
    val files = bucketFiles(spark, dir, terms, meta.buckets)
    if (files.map(_.getLen).sum > maxBytes) None
    else {
      val filter = FilterCompat.get(FilterApi.in[Binary, Operators.BinaryColumn](
        FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava))
      Some(files.flatMap { f =>
        val reader = openParquet(spark, f.getPath, new Projection(columns), filter)
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => Row.fromSeq(columns.map(decode(g, _)))).toVector
        finally reader.close()
      })
    }
  }

  private def decode(g: Group, column: String): Any = column match {
    case "term" => g.getString(column, 0)
    case "positions" =>
      // a LIST group: one repeated group of one element per position
      val list = g.getGroup(column, 0)
      Array.tabulate(list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getInteger(0, 0))
    case _ => g.getLong(column, 0)
  }

  /** Reads the named columns with the repetition the file declares for
    * each (a read schema written by hand must match it: Spark writes
    * `term_frequency` as required). */
  private final class Projection(columns: Seq[String]) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getFields.asScala.filter(f => columns.contains(f.getName)).asJava))
    }
  }

  /** The one way graft opens a parquet file on the driver. The reader
    * takes the session's Hadoop configuration as its own: the Path-based
    * `ParquetReader.builder(...).withConf(conf)` first builds a fresh
    * default `Configuration` and reads it, which parses Hadoop's
    * `*-default.xml` files out of the jars, about 20 ms per open on a
    * 4-core box — more than the read of a small bucket file itself.
    * IndexStoreSpec's guard keeps every other open out of `src/main`. */
  private def openParquet(spark: SparkSession, file: Path, support: ReadSupport[Group],
                          filter: FilterCompat.Filter): ParquetReader[Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override def getReadSupport: ReadSupport[Group] = support
    }.withFilter(filter).build()
  }

  /** The part files of the terms' bucket directories. Names starting
    * with `.` or `_` (checksums, commit markers) are not data. */
  private def bucketFiles(spark: SparkSession, dir: String, terms: Seq[String],
                          buckets: Int): Seq[FileStatus] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    bucketDirs(spark, dir, terms, buckets)._2.flatMap(fs.listStatus(_))
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
  }

  /** The terms' bucket ids, and those of their `term_bucket=<b>`
    * directories that exist (a zero-token store, or an OOV term's empty
    * bucket, has none). A missing postings TABLE fails loudly — never
    * served as empty. */
  private def bucketDirs(spark: SparkSession, dir: String, terms: Seq[String],
                         buckets: Int): (Seq[Long], Seq[Path]) = {
    val ids = terms.map(t => bucketOf(t, buckets)).distinct
    val root = new Path(s"$dir/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"IndexStore: no table at $root")
    (ids, ids.map(b => new Path(root, s"term_bucket=$b")).filter(fs.exists))
  }

  /** The bucket count a store was written with. */
  def storedBuckets(spark: SparkSession, dir: String): Int =
    indexMeta(spark, dir).buckets

  /** index_meta's record, once the store is known complete and of the
    * current layout. Eagerly read on the driver straight from the 1-row
    * part file — a `spark.read` here would be a Spark job per call on the
    * request path. */
  def indexMeta(spark: SparkSession, dir: String): IndexMeta = {
    val meta = new Path(s"$dir/index_meta")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = meta.getFileSystem(conf)
    val rewrite = "re-`write` the store (IndexStore.write) to serve it"
    require(fs.exists(meta), s"IndexStore: no $meta (no store, or its build died); $rewrite")
    val parts = fs.listStatus(meta).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    require(parts.length == 1,
      s"IndexStore: $meta holds ${parts.length} part files, expected exactly 1")
    val reader = openParquet(spark, parts.head, new GroupReadSupport(), FilterCompat.NOOP)
    try {
      val row = reader.read()
      require(row != null, s"IndexStore: ${parts.head} holds no record")
      val layout =
        if (row.getType.containsField("layout")) row.getInteger("layout", 0) else 1
      require(layout == Layout,
        s"IndexStore: $dir has index layout $layout, this reader serves layout $Layout; $rewrite")
      def has(field: String) = row.getFieldRepetitionCount(field) > 0
      IndexMeta(row.getInteger("buckets", 0), row.getLong("doc_n", 0),
        Option.when(has("total_doc_length"))(row.getLong("total_doc_length", 0)),
        Option.when(has("avg_doc_length"))(row.getDouble("avg_doc_length", 0)))
    } finally reader.close()
  }

  /** Postings for a set of terms, read from only their hash buckets (the
    * per-term point-read of app/query.py:64-73, minus the driver loop):
    * the four BM25 columns (term, doc_id, term_frequency, doc_length), so
    * Parquet column pruning never reads `positions`. The modulus comes
    * from the store's own metadata — a caller-supplied count could
    * silently mis-prune. */
  def postingsForTerms(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    postingsForTerms(spark, dir, terms, indexMeta(spark, dir))

  /** As above with the store's record already read, so a request that
    * reads the postings and the corpus stats reads index_meta once. */
  def postingsForTerms(spark: SparkSession, dir: String, terms: Seq[String],
                       meta: IndexMeta): DataFrame =
    bucketRead(spark, dir, terms, meta.buckets)
      .select("term", "doc_id", "term_frequency", "doc_length")

  /** (doc_id, pos) of one term's occurrences: its postings' positions,
    * exploded after the term's bucket read. */
  private def positionsOf(spark: SparkSession, dir: String,
                          buckets: Int)(term: String): DataFrame =
    bucketRead(spark, dir, Seq(term), buckets)
      .select(col("doc_id"), explode(col("positions")).as("pos"))

  /** Phrase search served from the stored postings: the adjacency chain
    * reads ONLY its terms' hash buckets, so a k-term phrase touches <= k of
    * `buckets` directories — never the corpus, never the full table.
    * Results ≡ InvertedIndex.phraseMatch on the indexed docs.
    *
    * When those directories' part files sum to at most
    * `driverReadMaxBytes`, the request runs no Spark job: the chain terms'
    * positions are read on the driver (`postingsOnDriver`), the chain is
    * matched there (`InvertedIndex.phraseOnDriver`), and the answer is a
    * LocalRelation. Above the cap, the chain is the Spark plan. */
  def phraseMatchStored(spark: SparkSession, dir: String, phrase: String,
                        driverReadMaxBytes: Long = DriverReadMaxBytes): DataFrame = {
    val terms = InvertedIndex.phraseTerms(phrase)
    val meta = indexMeta(spark, dir)
    positionsServed(spark, dir, terms.distinct, meta, driverReadMaxBytes, PhraseSchema)(
      InvertedIndex.phraseOnDriver(terms, _))(phraseScan(spark, dir, terms, meta))
  }

  /** The phrase chain as a Spark plan over the terms' bucket reads. */
  private[graft] def phraseScan(spark: SparkSession, dir: String, terms: Seq[String],
                                meta: IndexMeta): DataFrame =
    InvertedIndex.phraseFromPostings(terms, positionsOf(spark, dir, meta.buckets))

  /** Proximity search served from the stored postings — both sides read
    * only their term's hash bucket: on the driver at or under
    * `driverReadMaxBytes` (`InvertedIndex.proximityOnDriver`, a
    * LocalRelation), above it as the banded Spark join. */
  def proximityMatchStored(spark: SparkSession, dir: String, termA: String,
                           termB: String, window: Int = 8,
                           driverReadMaxBytes: Long = DriverReadMaxBytes): DataFrame = {
    val (a, b) = InvertedIndex.proximityTerms(termA, termB, window)
    val meta = indexMeta(spark, dir)
    positionsServed(spark, dir, Seq(a, b), meta, driverReadMaxBytes, ProximitySchema)(
      occ => InvertedIndex.proximityOnDriver(occ(a), occ(b), window))(
      InvertedIndex.proximityFromPostings(a, b, window, positionsOf(spark, dir, meta.buckets)))
  }

  // the Spark branches' output schemas: doc_id keeps the stored column's
  // nullability, a count is never null, and a min aggregate always may be
  private val PhraseSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("n_occurrences", LongType, nullable = false)))
  private val ProximitySchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("n_pairs", LongType, nullable = false),
    StructField("min_distance", LongType)))

  /** A positional request: `onDriver`'s rows over the terms' positions as
    * a LocalRelation when their bucket files fit `maxBytes`, else `scan`. */
  private def positionsServed(spark: SparkSession, dir: String, terms: Seq[String],
                              meta: IndexMeta, maxBytes: Long, schema: StructType)(
      onDriver: Map[String, Map[Long, Array[Int]]] => Seq[Row])(
      scan: => DataFrame): DataFrame =
    postingsOnDriver(spark, dir, terms, meta, maxBytes, PositionColumns) match {
      case Some(rows) => spark.createDataFrame(onDriver(positionsByTerm(rows)).asJava, schema)
      case None => scan
    }

  /** term -> doc_id -> the term's sorted positions in that doc (stored
    * sorted), from (term, doc_id, positions) rows; a term read no row of
    * maps every doc to nothing. Two rows of one (term, doc) — which
    * `ingest`'s guard keeps out of a store — would both count, as the
    * Spark join counts both. */
  private def positionsByTerm(rows: Seq[Row]): Map[String, Map[Long, Array[Int]]] =
    rows.groupBy(_.getString(0)).map { case (t, rs) =>
      t -> rs.groupMapReduce(_.getLong(1))(_.getAs[Array[Int]](2))((x, y) => (x ++ y).sorted)
    }.withDefaultValue(Map.empty)

  /** The one Spark serving-path postings reader: opens only the
    * `term_bucket=<b>` directories the terms hash to and that exist, so
    * the read lists k directories on the driver instead of every bucket
    * in a listing job. The bucket and term predicates stay on the frame,
    * so the scan still carries term_bucket PartitionFilters and only the
    * terms' rows survive. No bucket directory: an empty frame with the
    * table's schema intact (the S9 standing). */
  private def bucketRead(spark: SparkSession, dir: String, terms: Seq[String],
                         buckets: Int): DataFrame = {
    val (bucketIds, dirs) = bucketDirs(spark, dir, terms, buckets)
    val df =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), postingsSchema)
      else spark.read.schema(postingsSchema).option("basePath", s"$dir/postings")
        .parquet(dirs.map(_.toString): _*)
    df.filter(col("term_bucket").isin(bucketIds: _*) &&
      col("term").isin(terms: _*))
  }

  /** Spark-side xxhash64 of a literal term, evaluated eagerly so the bucket
    * list names the directories to open and lands in the plan as
    * partition-pruning literals. */
  def bucketOf(term: String, buckets: Int = DefaultBuckets): Long = {
    // XxHash64 over a UTF8String with Spark's default seed 42L — the same
    // expression postingsOf buckets with, evaluated locally.
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(term)), 42L)
      .eval(null).asInstanceOf[Long]
    val m = h % buckets
    if (m < 0) m + buckets else m
  }
}
