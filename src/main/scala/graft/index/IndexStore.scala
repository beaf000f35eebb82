package graft.index

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, VersionParser}
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReaderImpl
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.{Binary, PrimitiveConverter}
import org.apache.parquet.schema.MessageTypeParser
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
  * `postingsOnDriver` reads them on the driver column by column with
  * parquet-hadoop's file reader, as `indexMeta` reads the meta, when their
  * lengths sum to at most [[DriverReadMaxBytes]]. `BM25.searchStored` then scores the rows
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
    * measurement on a 4-core box, local[4] (CHANGES.md), on a one-bucket
    * store in which every doc holds the query term `common` and the phrase
    * `pa pb` ten times, median of 7 warm requests a branch: with the
    * column-wise read a driver-served search took 222 ms against the Spark
    * plan's 284 ms at 8.5 MB of bucket files, and 546 ms against 376 ms at
    * 12.9 MB. A phrase also reads `positions`, and stayed faster on the
    * driver up to 17.4 MB (1,118 ms against 1,687 ms); the search
    * crossover sets the one cap. */
  val DriverReadMaxBytes: Long = 8L << 20

  /** The BM25 columns of a driver read; `positions` is never decoded. */
  private[graft] val BM25Columns = Seq("term", "doc_id", "term_frequency", "doc_length")

  /** The columns a driver-side phrase or proximity check reads. */
  private val PositionColumns = Seq("term", "doc_id", "positions")

  /** The postings of a driver read, column by column: posting i is
    * (term(i), docId(i), termFrequency(i), docLength(i), positions(i)),
    * in file order. A column the read did not ask for is empty. */
  private[graft] final class DriverPostings(val term: Array[String], val docId: Array[Long],
                                            val termFrequency: Array[Long],
                                            val docLength: Array[Long],
                                            val positions: Array[Array[Int]])

  /** The given columns of the terms' postings, read on the driver from
    * their bucket files, or None when those files hold more than
    * `maxBytes` (the caller then plans the Spark scan). The decision is
    * made from a driver listing of the k directories, before anything is
    * planned; no Spark job runs.
    *
    * The read is column by column. Row groups whose statistics or
    * dictionary hold none of the terms are dropped by the open's filter;
    * in each kept row group the `term` column is read in full (a bucket's
    * postings are not sorted by term), and every other column is read at
    * the matching rows only, its other values skipped and the chunk left
    * unread past the last match. */
  private[graft] def postingsOnDriver(spark: SparkSession, dir: String, terms: Seq[String],
                                      meta: IndexMeta, maxBytes: Long,
                                      columns: Seq[String]): Option[DriverPostings] = {
    val files = bucketFiles(spark, dir, terms, meta.buckets)
    if (files.map(_.getLen).sum > maxBytes) None
    else {
      val wanted = terms.map(t => Binary.fromString(t) -> t).toMap
      val filter = FilterCompat.get(FilterApi.in[Binary, Operators.BinaryColumn](
        FilterApi.binaryColumn("term"), wanted.keySet.asJava))
      val term = Array.newBuilder[String]
      val longs = columns.filter(c => c != "term" && c != "positions")
        .map(_ -> Array.newBuilder[Long]).toMap
      val positions = Array.newBuilder[Array[Int]]
      files.foreach { f =>
        val reader = openParquet(spark, f, filter)
        try rowGroups(reader, columns).foreach { case (n, column) =>
          val (rows, matched) = matchingRows(column("term"), n, wanted)
          if (rows.nonEmpty) {
            term ++= matched
            longs.foreach { case (c, out) => out ++= longsAt(column(c), rows) }
            if (columns.contains("positions")) positions ++= intListsAt(column("positions"), rows)
          }
        } finally reader.close()
      }
      def longColumn(c: String) = longs.get(c).fold(Array.emptyLongArray)(_.result())
      Some(new DriverPostings(term.result(), longColumn("doc_id"),
        longColumn("term_frequency"), longColumn("doc_length"), positions.result()))
    }
  }

  /** The row groups of an open file that its filter kept, each as its row
    * count and a reader factory over the given top-level columns (all of
    * them when empty): only those columns' chunks are read from the file. */
  private def rowGroups(reader: ParquetFileReader,
                        columns: Seq[String]): Iterator[(Long, String => ColumnReader)] = {
    val schema = reader.getFileMetaData.getSchema
    if (columns.nonEmpty) reader.setRequestedSchema(
      schema.getColumns.asScala.filter(d => columns.contains(d.getPath()(0))).asJava)
    // the writer's version only matters to files with corrupt delta-encoded
    // strings (PARQUET-246); an unparsable one reads them the safe way
    val writer = Try(VersionParser.parse(reader.getFileMetaData.getCreatedBy)).getOrElse(null)
    Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).map { pages =>
      pages.getRowCount -> { (name: String) =>
        val d = schema.getColumns.asScala.find(_.getPath()(0) == name).getOrElse(
          throw new IllegalStateException(s"IndexStore: ${reader.getFile} has no column $name"))
        new ColumnReaderImpl(d, pages.getPageReader(d), Unconverted, writer)
      }
    }
  }

  /** Values are taken with the reader's typed getters, never through a
    * record converter. */
  private object Unconverted extends PrimitiveConverter

  /** The ascending rows of a flat string column's `n`-row row group that
    * hold one of `wanted`'s keys, with the term each holds. */
  private def matchingRows(r: ColumnReader, n: Long,
                           wanted: Map[Binary, String]): (Array[Int], Array[String]) = {
    val rows = Array.newBuilder[Int]
    val terms = Array.newBuilder[String]
    val defined = r.getDescriptor.getMaxDefinitionLevel
    var row = 0
    while (row < n) {
      if (r.getCurrentDefinitionLevel == defined) wanted.get(r.getBinary).foreach { t =>
        rows += row
        terms += t
      }
      r.consume()
      row += 1
    }
    (rows.result(), terms.result())
  }

  /** A flat INT64 column's values at the ascending `rows` of its row
    * group; the other rows' values are skipped. */
  private def longsAt(r: ColumnReader, rows: Array[Int]): Array[Long] = {
    val out = new Array[Long](rows.length)
    val defined = r.getDescriptor.getMaxDefinitionLevel
    var row = 0
    var i = 0
    while (i < rows.length) {
      if (row == rows(i)) {
        if (r.getCurrentDefinitionLevel != defined) throw new IllegalStateException(
          s"IndexStore: a null ${r.getDescriptor.getPath.mkString(".")} in a posting")
        out(i) = r.getLong
        i += 1
      } else if (r.getCurrentDefinitionLevel == defined) r.skip()
      r.consume()
      row += 1
    }
    out
  }

  /** A repeated INT32 column's lists at the ascending `rows` of its row
    * group: a row's values run up to the next repetition level 0, and the
    * other rows' values are skipped. A null or empty list is empty. */
  private def intListsAt(r: ColumnReader, rows: Array[Int]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](rows.length)
    val defined = r.getDescriptor.getMaxDefinitionLevel
    val list = Array.newBuilder[Int]
    var row = 0
    var i = 0
    while (i < rows.length) {
      val keep = row == rows(i)
      while ({
        if (r.getCurrentDefinitionLevel == defined) {
          if (keep) list += r.getInteger else r.skip()
        }
        r.consume()
        r.getCurrentRepetitionLevel > 0
      }) ()
      if (keep) {
        out(i) = list.result()
        list.clear()
        i += 1
      }
      row += 1
    }
    out
  }

  /** The one way graft opens a parquet file on the driver: a file reader
    * over the session's Hadoop configuration, whose row groups `filter`
    * prunes by their statistics and dictionaries. Opened from the listed
    * status, so the open costs no second `getFileStatus`; the Path-based
    * reader builders first build a fresh default `Configuration` and read
    * it, which parses Hadoop's `*-default.xml` files out of the jars, about
    * 20 ms per open on a 4-core box — more than the read of a small bucket
    * file itself. IndexStoreSpec's guard keeps every other open out of
    * `src/main`. */
  private def openParquet(spark: SparkSession, file: FileStatus,
                          filter: FilterCompat.Filter): ParquetFileReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    new ParquetFileReader(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withRecordFilter(filter).build())
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
    val parts = fs.listStatus(meta).filter(_.getPath.getName.startsWith("part-"))
    require(parts.length == 1,
      s"IndexStore: $meta holds ${parts.length} part files, expected exactly 1")
    val reader = openParquet(spark, parts.head, FilterCompat.NOOP)
    try {
      val groups = rowGroups(reader, Nil).filter(_._1 > 0)
      require(groups.hasNext, s"IndexStore: ${parts.head.getPath} holds no record")
      val column = groups.next()._2
      val fields = reader.getFileMetaData.getSchema
      // the first record's value of a flat column; None when it is null
      // or the file has no such column
      def field[A](name: String)(get: ColumnReader => A): Option[A] =
        Option.when(fields.containsField(name))(column(name)).collect {
          case r if r.getCurrentDefinitionLevel == r.getDescriptor.getMaxDefinitionLevel => get(r)
        }
      val layout = field("layout")(_.getInteger).getOrElse(1)
      require(layout == Layout,
        s"IndexStore: $dir has index layout $layout, this reader serves layout $Layout; $rewrite")
      IndexMeta(field("buckets")(_.getInteger).get, field("doc_n")(_.getLong).get,
        field("total_doc_length")(_.getLong), field("avg_doc_length")(_.getDouble))
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
      case Some(p) => spark.createDataFrame(onDriver(positionsByTerm(p)).asJava, schema)
      case None => scan
    }

  /** term -> doc_id -> the term's sorted positions in that doc (stored
    * sorted), from a read of (term, doc_id, positions); a term read no row
    * of maps every doc to nothing. Two postings of one (term, doc) — which
    * `ingest`'s guard keeps out of a store — would both count, as the
    * Spark join counts both. */
  private def positionsByTerm(p: DriverPostings): Map[String, Map[Long, Array[Int]]] =
    p.term.indices.groupBy(p.term(_)).map { case (t, is) =>
      t -> is.groupMapReduce(p.docId(_))(p.positions(_))((x, y) => (x ++ y).sorted)
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
