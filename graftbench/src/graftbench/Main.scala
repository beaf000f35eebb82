package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM: runs one workload over generated inputs in
  * `<runDir>/input` and writes raw measurements to `<runDir>/result.json`.
  * Statistics, the DuckDB oracle and the report are computed by run.py.
  *
  * Usage: graftbench.Main <runDir>...   (parameters in <runDir>/spec.properties) */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val spark = graft.Cli.session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    // several run directories run one after another in this JVM; the build
    // uses that once to record the class-data-sharing archive
    args.foreach(runDir => runOne(spark, runDir, sessionS))
    spark.stop()
  }

  private def runOne(spark: SparkSession, runDir: String, sessionS: Double): Unit = {
    val spec = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(runDir, "spec.properties"))
    try spec.load(in) finally in.close()
    val p = (k: String) => Option(spec.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"spec.properties: missing $k"))

    val rec = new Recorder(spark, p("trace") == "1")
    val header = describe(spark) + ("session_s" -> sessionS)
    val body = p("workload") match {
      case "serve" => new Serve(spark, runDir, p, rec).run()
      case "curate" => new Curate(spark, runDir, p, rec).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val result = Map("header" -> header, "peak_rss_mb" -> peakRssMb(),
      "trace" -> rec.result()) ++ body
    Files.writeString(Paths.get(runDir, "result.json"), json.writeValueAsString(result))
  }

  /** What the numbers were measured on: cores actually used, the split and
    * shuffle settings, the heap, and a calibration at this core count. */
  private def describe(spark: SparkSession): Map[String, Any] = {
    val cores = spark.sparkContext.defaultParallelism
    val calib = (0 until 3).map { _ =>
      val t = System.nanoTime()
      spark.range(0L, 10000000L, 1L, cores).selectExpr("sum(pmod(xxhash64(id), 1024))").collect()
      (System.nanoTime() - t) / 1e9
    }.sorted
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
    Map(
      "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_partition_bytes" -> spark.conf.get("spark.sql.files.maxPartitionBytes"),
      "xmx" -> jvmArgs.find(_.startsWith("-Xmx")).getOrElse("default"),
      // heap and JIT flags; none of -XX:TieredStopAtLevel, -Xint or
      // -XX:-TieredCompilation means the default tiered JIT
      "jvm_flags" -> jvmArgs.filter(a => a.startsWith("-X") && !a.startsWith("-XX:SharedArchiveFile")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "java_version" -> System.getProperty("java.version"),
      "calibration" -> Map("what" -> s"sum(pmod(xxhash64(id), 1024)) over 1e7 rows at local[$cores]",
        "median_s" -> calib(1)))
  }

  /** The JVM's high-water resident set (VmHWM); in local mode the whole
    * engine runs in this process. */
  private def peakRssMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status")).toOption.map { src =>
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
}

/** Shared helpers for the workloads. */
abstract class Workload(spark: SparkSession, runDir: String,
                        p: String => String, rec: Recorder) {
  val input = s"$runDir/input"
  val work = s"$runDir/work"
  val measuredOps: Int = p("ops").toInt
  val probeCopies: Int = p("probe_copies").toInt
  val setupReps: Int = p("setup_reps").toInt
  val warmupOps: Int = p("warmup_ops").toInt
  val maxSteal: Double = p("max_steal").toDouble
  val maxRemeasures: Int = p("max_remeasures").toInt
  val cores: Int = spark.sparkContext.defaultParallelism

  val checks = ArrayBuffer[Map[String, Any]]()
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  /** Probe timings (traced pass only), by layer metric name. */
  val probes = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def probe[A](name: String, op: String)(body: => A): A = {
    val t = System.nanoTime()
    val r = rec.op(op)(rec.span(name, op)(body))
    probes.getOrElseUpdate(name, ArrayBuffer[Double]()) += (System.nanoTime() - t) / 1e6
    r
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected var remeasured = 0
  /** One measured operation: its id, result, wall ms, process CPU ms and
    * the host's steal share while it ran. An operation during which the
    * host stole more than `maxSteal` of the machine's CPU time is run
    * again, at most `maxRemeasures` times a pass, so that its time is the
    * program's and not the neighbours'. Attempt k of operation `id` runs as
    * `id#k`. A failed operation is kept as it is. */
  def measured[A](id: String)(body: String => A): (String, Try[A], Double, Double, Double) = {
    var attempt = 0
    var out: (String, Try[A], Double, Double, Double) = null
    while (out == null) {
      val aid = s"$id#$attempt"
      val ticks = cpuTicks()
      val t = System.nanoTime()
      val c = cpuNs()
      val res = rec.op(aid)(Try(body(aid)))
      val run = (aid, res, ms(t), (cpuNs() - c) / 1e6, stealShare(ticks))
      if (res.isSuccess && run._5 > maxSteal && remeasured < maxRemeasures) {
        remeasured += 1
        attempt += 1
      } else out = run
    }
    out
  }

  /** `df` replicated `probeCopies` times with distinct doc ids, cached: a
    * kernel probe over it times the kernel rather than one job's fixed
    * overhead. */
  def replicated(df: DataFrame): DataFrame = {
    val r = df.crossJoin(spark.range(probeCopies).withColumnRenamed("id", "copy"))
      .withColumn("doc_id", col("copy") * 100000000L + col("doc_id")).drop("copy").persist()
    r.count()
    r
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process: planning, task and JVM threads. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** (steal, total) ticks of the machine's CPUs from /proc/stat: time a
    * virtual machine's CPUs were ready but the host ran something else. */
  def cpuTicks(): (Long, Long) =
    Try(scala.io.Source.fromFile("/proc/stat")).toOption.map { src =>
      try {
        val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    }.getOrElse((0L, 0L))

  /** Share of CPU time stolen by the host since `t0`, the measured loop's
    * interference from outside the benchmark. */
  def stealShare(t0: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    if (t > t0._2) (s - t0._1).toDouble / (t - t0._2) else 0.0
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()

  def treeFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeFiles).sum
    else 1

  def run(): Map[String, Any]
}

/** One closed-loop request, as recorded. */
final case class Request(kind: String, cls: String, text: String, srcDoc: Long)

/** `serve`: prepare -> index as set-up (the reference's app.sh stages, each
  * called separately in Pipeline.run's order), then a closed loop of stored
  * BM25 searches and stored phrase matches from one client. */
final class Serve(spark: SparkSession, runDir: String, p: String => String,
                  rec: Recorder) extends Workload(spark, runDir, p, rec) {
  import graft.index.{IndexStore, InvertedIndex}
  import graft.rank.BM25
  import graft.sources.{DocFileSink, Sampling}

  private val sampleN = p("sample_n").toInt
  private val sampleSeed = p("sample_seed").toLong
  private val pipelineQuery = p("pipeline_query")
  private lazy val corpus = spark.read.parquet(s"$input/corpus.parquet")

  private def sample(): DataFrame =
    Sampling.deterministicSample(corpus, "doc_id", sampleN, sampleSeed).drop("sample_key")

  private def setup(r: Int): Double = {
    val dir = s"$work/store$r"
    val id = s"setup-$r"
    rec.op(id) {
      val t = System.nanoTime()
      rec.span("setup", id) {
        val s = rec.span("sources.sample", id) {
          val s = sample().persist(); s.count(); s
        }
        try {
          rec.span("sources.docsink", id)(DocFileSink.writeDocFiles(s, s"$dir/data"))
          rec.span("index.write", id)(IndexStore.write(s, s"$dir/index"))
        } finally s.unpersist()
      }
      ms(t) / 1e3
    }
  }

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val setupS = (0 until setupReps).map(setup)
    phases("setup_s") = ms(t0) / 1e3
    val store = s"$work/store${setupReps - 1}"
    val idx = s"$store/index"
    val stream = scala.io.Source.fromFile(s"$input/requests.tsv", "UTF-8")
    val requests = try stream.getLines().map(_.split("\t", -1)).map(a =>
      Request(a(0), a(1), a(2), a(3).toLong)).toVector finally stream.close()

    def request(r: Request, id: String): (Seq[String], Seq[Row]) =
      rec.span("request", id) {
        if (r.kind == "search") {
          val df = rec.span("rank.search_plan", id)(BM25.searchStored(spark, idx, r.text))
          (df.schema.fieldNames.toSeq, rec.span("rank.search_exec", id)(df.collect().toSeq))
        } else {
          val df = rec.span("index.phrase_plan", id)(IndexStore.phraseMatchStored(spark, idx, r.text))
          (df.schema.fieldNames.toSeq, rec.span("index.phrase_exec", id)(df.collect().toSeq))
        }
      }

    // untimed warm-up from the far end of the stream (the loop never gets
    // there): the first plans of a JVM pay class loading and JIT warm-up
    // that a serving process pays once
    val tWarm = System.nanoTime()
    requests.takeRight(warmupOps).foreach(r => request(r, "warmup"))
    phases("warmup_s") = ms(tWarm) / 1e3

    // ---- measured: closed loop, one client --------------------------------
    val tLoop = System.nanoTime()
    val ticks = cpuTicks()
    val ops = ArrayBuffer[Map[String, Any]]()
    val results = ArrayBuffer[(Request, Try[(Seq[String], Seq[Row])])]()
    (0 until measuredOps).foreach { i =>
      val r = requests(i % requests.size)
      val (id, res, opMs, opCpu, steal) = measured(s"op-$i")(id => request(r, id))
      ops += Map("id" -> id, "kind" -> r.kind, "cls" -> r.cls, "ms" -> opMs,
        "cpu_ms" -> opCpu, "steal" -> steal,
        "ok" -> res.isSuccess, "rows" -> res.map(_._2.size).getOrElse(0),
        "error" -> res.failed.map(_.toString).getOrElse(""))
      results += ((r, res))
    }

    phases("loop_s") = ms(tLoop) / 1e3
    phases("loop_steal_share") = stealShare(ticks)
    phases("remeasured_ops") = remeasured

    // ---- correctness, outside the timed region ----------------------------
    val tCheck = System.nanoTime()
    val s = sample().persist()
    val sampleIds = s.select("doc_id").collect().map(_.getLong(0)).toSet
    check("sample_size", sampleIds.size == sampleN, s"${sampleIds.size} != $sampleN")
    val files = Option(new File(s"$store/data").listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".txt"))
    check("docsink_file_count", files == sampleN, s"$files files for $sampleN docs")

    // expected answers run concurrently: each is an independent plan
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val distinct = results.collect { case (r, Success(_)) => r }.distinct
    // traced pass: Pipeline.run on the same input, beside the recomputed
    // answers (its answer is a function of the input alone, so one pass of
    // each seed checks it)
    val piped = if (!rec.enabled) None else Some(scala.concurrent.Future(
      graft.Pipeline.run(spark, corpus, s"$work/pipeline_run", pipelineQuery,
        sampleN = sampleN, seed = sampleSeed).collect().toSeq))
    val expected = try {
      val fs = distinct.map { r =>
        scala.concurrent.Future(r -> (
          if (r.kind == "search") {
            val df = BM25.search(spark, s, r.text)
            (df.schema.fieldNames.toSeq, df.collect().toSeq)
          } else {
            val df = InvertedIndex.phraseMatch(s, r.text)
            (df.schema.fieldNames.toSeq, df.collect().toSeq)
          }))
      }
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf).toMap
    } finally pool.shutdown()
    results.foreach {
      case (r, Success((schema, rows))) =>
        val (eSchema, eRows) = expected(r)
        val name = if (r.kind == "search") s"search_equals_recompute[${r.cls}]" else "phrase_equals_recompute"
        check(name, schema == eSchema && rows == eRows,
          s"'${r.text}': stored ${rows.take(3)} vs recomputed ${eRows.take(3)}")
        if (r.cls == "oov")
          check("oov_empty_schema_intact", rows.isEmpty && schema == Seq("doc_id", "doc_rank"),
            s"'${r.text}': ${rows.size} rows, schema $schema")
        if (r.kind == "phrase" && sampleIds.contains(r.srcDoc))
          check("phrase_finds_source_doc", rows.exists(_.getLong(0) == r.srcDoc),
            s"'${r.text}' misses doc ${r.srcDoc}")
      case (r, Failure(e)) =>
        check(s"${r.kind}_ok", ok = false, s"'${r.text}': $e")
    }

    // the staged store answers like Pipeline.run on the same input
    piped.foreach { f =>
      val staged = BM25.searchStored(spark, idx, pipelineQuery).collect().toSeq
      val pipedRows = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      check("pipeline_run_equal", staged.nonEmpty && staged == pipedRows,
        s"staged ${staged.take(3)} vs Pipeline.run ${pipedRows.take(3)}")
    }

    val textBytes = s.agg(sum(octet_length(col("text")))).head().getLong(0)
    val tokens = s.agg(sum(size(graft.text.Tokenize.tokens(col("text"))))).head().getLong(0)
    val storeBytes = treeBytes(new File(idx))
    val storeFiles = treeFiles(new File(idx))
    phases("checks_s") = ms(tCheck) / 1e3

    // ---- traced pass only: single-layer probes and the ingest path --------
    val ingests = ArrayBuffer[Map[String, Any]]()
    if (rec.enabled) {
      val heads = distinct.filter(r => r.kind == "search" && r.cls == "head").take(3)
      heads.zipWithIndex.foreach { case (r, k) =>
        probe("index.stored_buckets", s"probe-buckets-$k")(IndexStore.storedBuckets(spark, idx))
        probe("index.postings_lookup", s"probe-postings-$k")(
          IndexStore.postingsForTerms(spark, idx, r.text.split(" ").toSeq).collect())
      }
      val big = replicated(s)
      (0 until 3).foreach { k =>
        probe("text.tf_build", s"probe-tf-$k")(noop(InvertedIndex.termFrequency(big)))
      }
      big.unpersist()
      val lines = scala.io.Source.fromFile(s"$input/ingest.tsv", "UTF-8")
      val docs = try lines.getLines().map(_.split("\t")).toVector finally lines.close()
      docs.take(1).zipWithIndex.foreach { case (Array(file, docId, token), k) =>
        val id = s"ingest-$k"
        val path = s"$input/ingest/$file"
        def docN() = IndexStore.corpusInfo(spark, idx).head().getLong(0)
        val before = docN()
        val t = System.nanoTime()
        rec.op(id)(rec.span("index.ingest", id)(graft.Ingest.run(spark, idx, path, docId.toLong)))
        val ingestMs = ms(t)
        val after = docN()
        check("ingest_doc_n_plus_one", after == before + 1, s"doc_n $before -> $after")
        val top = BM25.searchStored(spark, idx, token).collect()
        check("ingest_new_doc_ranks_first",
          top.nonEmpty && top.head.getLong(0) == docId.toLong,
          s"top for $token: ${top.take(2).mkString(",")}")
        ingests += Map("ms" -> ingestMs, "op" -> id,
          "doc_bytes" -> new File(path).length())
      }
    }
    s.unpersist()

    Map("workload" -> "serve", "setup_s" -> setupS, "ops" -> ops, "phases" -> phases,
      "checks" -> checks, "probes" -> probes.map { case (k, v) => k -> v.toSeq },
      "ingests" -> ingests,
      "stats" -> Map("sample_docs" -> sampleIds.size, "sample_text_bytes" -> textBytes,
        "sample_tokens" -> tokens, "store_bytes" -> storeBytes,
        "store_files" -> storeFiles, "cores" -> cores, "probe_copies" -> probeCopies))
  }
}

/** `curate`: the curation funnel (langid -> quality -> exact dedup ->
  * near-dup clusters) over a seeded crawl, repeated in a closed loop. */
final class Curate(spark: SparkSession, runDir: String, p: String => String,
                   rec: Recorder) extends Workload(spark, runDir, p, rec) {
  import graft.curate.Curation
  import graft.dedup.Dedup

  private def setup(r: Int): Double = {
    val id = s"setup-$r"
    rec.op(id) {
      val t = System.nanoTime()
      rec.span("setup", id)(rec.span("sources.load", id)(
        graft.sources.Sources.readCorpusJsonl(spark, s"$input/crawl.jsonl")
          .write.mode("overwrite").parquet(s"$work/crawl$r.parquet")))
      ms(t) / 1e3
    }
  }

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val setupS = (0 until setupReps).map(setup)
    phases("setup_s") = ms(t0) / 1e3
    val table = s"$work/crawl${setupReps - 1}.parquet"
    val docs = spark.read.parquet(table)
    val tWarm = System.nanoTime()
    (0 until warmupOps).foreach(_ => Curation.curationFunnel(docs).collect())
    phases("warmup_s") = ms(tWarm) / 1e3

    val tLoop = System.nanoTime()
    val ticks = cpuTicks()
    val ops = ArrayBuffer[Map[String, Any]]()
    val funnels = ArrayBuffer[Try[Seq[(String, Long)]]]()
    (0 until measuredOps).foreach { i =>
      val (id, res, opMs, opCpu, steal) = measured(s"op-$i") { id =>
        rec.span("request", id)(rec.span("curate.funnel", id)(
          Curation.curationFunnel(docs).collect().toSeq
            .map(r => r.getString(0) -> r.getLong(1))))
      }
      ops += Map("id" -> id, "kind" -> "funnel", "cls" -> "funnel", "ms" -> opMs,
        "cpu_ms" -> opCpu, "steal" -> steal,
        "ok" -> res.isSuccess, "rows" -> res.map(_.size).getOrElse(0),
        "error" -> res.failed.map(_.toString).getOrElse(""))
      funnels += res
    }

    phases("loop_s") = ms(tLoop) / 1e3
    phases("loop_steal_share") = stealShare(ticks)
    phases("remeasured_ops") = remeasured
    val ok = funnels.collect { case Success(f) => f }
    check("funnel_ok", ok.size == funnels.size,
      funnels.collect { case Failure(e) => e.toString }.headOption.getOrElse(""))
    check("funnel_repeatable", ok.distinct.size <= 1, s"${ok.distinct.size} distinct results")
    check("every_stage_populated",
      ok.headOption.exists(f => f.map(_._1) == Curation.Stages && f.forall(_._2 > 0)),
      s"funnel ${ok.headOption}")

    if (rec.enabled) {
      graft.functions.TextFunctions.ensureRegistered(spark)
      val big = replicated(docs)
      val n = big.count()
      (0 until 3).foreach { k =>
        probe("textstats.lang_guess", s"probe-lang-$k")(
          noop(graft.textstats.TextAnalysis.languageGuess(big)))
        probe("functions.shingles", s"probe-shingles-$k")(noop(big.select(
          graft.functions.TextFunctions.shingles(graft.text.Tokenize.tokens(col("text")), 3))))
        val pairs = probe("dedup.jaccard_pairs", s"probe-jaccard-$k") {
          val pr = Dedup.jaccardPairs(docs.select("doc_id", "text"), 3, 0.5, 100).persist()
          pr.count(); pr
        }
        probes.getOrElseUpdate("dedup.pairs", ArrayBuffer[Double]()) += pairs.count().toDouble
        probe("dedup.clusters", s"probe-clusters-$k")(noop(Dedup.duplicateClusters(pairs)))
        pairs.unpersist()
        probe("curate.tags", s"probe-tags-$k")(noop(Curation.curationTags(docs)))
      }
      big.unpersist()
      probes.getOrElseUpdate("docs", ArrayBuffer[Double]()) += n.toDouble
    }

    Files.writeString(Paths.get(runDir, "oracle.sql"),
      graft.SparkEntry.oracleSql("curate_funnel"), StandardCharsets.UTF_8)
    Map("workload" -> "curate", "setup_s" -> setupS, "ops" -> ops, "phases" -> phases,
      "checks" -> checks, "probes" -> probes.map { case (k, v) => k -> v.toSeq },
      "table" -> table,
      "funnel" -> ok.headOption.map(_.map { case (st, c) => Seq(st, c) }).getOrElse(Seq.empty),
      "stats" -> Map("cores" -> cores))
  }
}
