package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sources.AtomicStore

/** Incremental curation: a new corpus snapshot arrives, and only the
  * delta is reprocessed. The snapshot diff (Curation.corpusDiff's hash
  * compare) routes only added/changed docs through the per-document text
  * stages; the dedup elections replay over persisted NARROW state, never
  * over stored text. Both halves are Curation's own: `Curation.verdicts`
  * scores the delta, `Curation.tags` runs the exact election, the
  * near-dup clusters and the stage tags over the stored state, so
  * incremental and full curation share one implementation of every stage.
  *
  * State (two tables, swapped atomically per update):
  *   - `verdicts` (doc_id, content_hash, pass_lang, pass_quality) for
  *     every doc of the current snapshot: `Curation.verdicts` rows, pure
  *     per-doc functions of the text, so a doc whose text is unchanged
  *     can never change verdict;
  *   - `shingles` (doc_id, shingle) for quality-passing docs: what the
  *     near-dup stage needs, so stored TEXT is never re-tokenized.
  *
  * Work per update at 100 TB: the text-proportional stages (langid,
  * token/repetition stats, hashing, shingling) run over the DELTA only,
  * the expensive part of full re-curation. The dedup elections re-run
  * over the narrow state frames: they are global by NATURE (a removed
  * representative resurrects its duplicates, a new low-id doc evicts a
  * stored one, a df crossing the cap changes the candidate set), and
  * replaying them over hash/shingle frames costs what full curation's
  * stages 3-4 cost AFTER its text scan is paid.
  * IncrementalCurationSpec proves update() ≡ full curationTags on the
  * mutated snapshot: same keep-set, including eviction and resurrection.
  *
  * For append-only triage where estimate-based screening suffices,
  * `Dedup.incrementalExactDedup` + `Dedup.lshCandidatesAgainstStore`
  * remain the cheaper streaming-shaped path; this module is the
  * batch-exact one.
  */
object IncrementalCuration {

  final case class Params(minTokens: Long = 5, maxDupTrigramFrac: Double = 0.2,
                          n: Int = 3, minJaccard: Double = 0.5,
                          maxShingleDf: Int = 100)

  private val StateName = "curation_state"

  /** Verdicts of `docs` and the shingles of their quality survivors. */
  private def scored(docs: DataFrame, p: Params): (DataFrame, DataFrame) = {
    val verdicts = Curation.verdicts(docs, p.minTokens, p.maxDupTrigramFrac)
    val sh = Dedup.shingles(
      docs.join(verdicts.filter(col("pass_quality")).select("doc_id"),
        Seq("doc_id"), "left_semi"), p.n)
    (verdicts, sh)
  }

  /** Tags of the live state's snapshot, ordered by doc_id. */
  private def liveTags(spark: SparkSession, stateDir: String,
                       p: Params): DataFrame = {
    val live = AtomicStore.live(statePaths(stateDir)).get
    val shingleStore = spark.read.parquet(s"$live/shingles")
    Curation.tags(spark.read.parquet(s"$live/verdicts"),
      ids => shingleStore.join(ids, Seq("doc_id"), "left_semi"),
      p.minJaccard, p.maxShingleDf)
      .orderBy("doc_id")
  }

  private def statePaths(stateDir: String): AtomicStore.Paths =
    AtomicStore.paths(stateDir, StateName)

  private def writeState(verdicts: DataFrame, shingleStore: DataFrame,
                         stateDir: String, readFrom: Option[java.io.File]): Unit = {
    val p = statePaths(stateDir)
    if (p.tmp.exists()) AtomicStore.delete(p.tmp)
    // materialize into tmp first: an update READS the tables it replaces
    verdicts.write.parquet(s"${p.tmp}/verdicts")
    shingleStore.write.parquet(s"${p.tmp}/shingles")
    AtomicStore.promote(p, readFrom, "IncrementalCuration")
  }

  /** Full pass over an initial snapshot: curate, persist state, return
    * per-doc tags (same shape as Curation.curationTags). */
  def initialize(spark: SparkSession, docs: DataFrame, stateDir: String,
                 p: Params = Params()): DataFrame = {
    val (verdicts, sh) = scored(docs, p)
    writeState(verdicts, sh, stateDir, AtomicStore.live(statePaths(stateDir)))
    liveTags(spark, stateDir, p)
  }

  /** Incremental pass: diff the new snapshot against the stored one by
    * content hash, run text stages over added/changed docs ONLY, retire
    * removed/changed rows, replay the elections, swap the state. Returns
    * tags for the ENTIRE new snapshot. */
  def update(spark: SparkSession, newDocs: DataFrame, stateDir: String,
             p: Params = Params()): DataFrame = {
    val paths = statePaths(stateDir)
    val liveOpt = AtomicStore.live(paths)
    require(liveOpt.isDefined,
      s"IncrementalCuration.update: no state at $stateDir — run initialize first")
    val live = liveOpt.get
    val stored = spark.read.parquet(s"$live/verdicts")
    val storedSh = spark.read.parquet(s"$live/shingles")
    // hash-only diff: the one per-doc computation the new snapshot always
    // pays (it DEFINES change); tokenization stays delta-only
    val newHashes = newDocs.select(col("doc_id"), md5(col("text")).as("__nh"))
    val joined = stored.select(col("doc_id"), col("content_hash").as("__oh"))
      .join(newHashes, Seq("doc_id"), "full_outer")
    // changed docs retire their old rows AND re-enter as delta
    val deadIds = joined
      .filter(col("__nh").isNull || (col("__oh").isNotNull && col("__oh") =!= col("__nh")))
      .select("doc_id").localCheckpoint(true)
    val deltaIds = joined
      .filter(col("__nh").isNotNull && (col("__oh").isNull || col("__oh") =!= col("__nh")))
      .select("doc_id").localCheckpoint(true)
    val (deltaVerdicts, deltaSh) =
      scored(newDocs.join(deltaIds, Seq("doc_id"), "left_semi"), p)
    val newVerdicts = stored.join(deadIds, Seq("doc_id"), "left_anti")
      .unionByName(deltaVerdicts)
    val newSh = storedSh.join(deadIds, Seq("doc_id"), "left_anti")
      .unionByName(deltaSh)
    writeState(newVerdicts, newSh, stateDir, liveOpt)
    liveTags(spark, stateDir, p)
  }

  /** CLI: <stateDir> <sfDir> — initialize on first run, update after;
    * prints the funnel report. */
  def main(args: Array[String]): Unit = {
    val stateDir = if (args.length > 0) args(0)
      else java.nio.file.Files.createTempDirectory("graft-inc-curation").toString
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Cli.session()
    val docs = graft.table(spark, sfDir, "documents")
    val tags =
      if (AtomicStore.live(statePaths(stateDir)).isDefined)
        update(spark, docs, stateDir)
      else initialize(spark, docs, stateDir)
    tags.groupBy("stage").agg(count(lit(1)).as("n")).orderBy("stage")
      .show(truncate = false)
    spark.stop()
  }
}
