package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexStore, InvertedIndex}
import graft.rank.BM25
import graft.sources.{AtomicStore, Sources}

/** Single-file ingest (app/index.sh:21-41 conventions) folded into a stored
  * index must equal a full recompute that includes the new doc. */
class IngestSpec extends StoredBranches {
  import spark.implicits._

  test("ingestLocalFile applies the reference's filename/flattening rules") {
    val f = Files.createTempDirectory("graft-ingest-file").resolve("My Doc.txt")
    Files.writeString(f, "spark window join\nspark again\n")
    val row = Sources.ingestLocalFile(spark, f.toString, 123456L).collect().head
    assert(row.getLong(0) == 123456L)
    assert(row.getString(1) == "My Doc") // basename minus .txt
    // tr '\n' ' ' semantics: every newline (trailing included) -> space
    assert(row.getString(2) == "spark window join spark again ")
  }

  test("ingest onto a stored index equals full recompute including the doc") {
    val docs = table(spark, "/root/testdata/sf0.001", "documents")
    val dir = Files.createTempDirectory("graft-ingest-idx").toString + "/index"
    IndexStore.write(docs, dir)
    val f = Files.createTempDirectory("graft-ingest-doc").resolve("new_doc.txt")
    Files.writeString(f, "spark join window spark spark join\nwindow table\n")
    val newDoc = Sources.ingestLocalFile(spark, f.toString, 999999L)
    IndexStore.ingest(newDoc, dir)

    // stored tf after ingest == tf of the full corpus incl. the new doc
    val full = docs.select("doc_id", "text")
      .unionByName(newDoc.select("doc_id", "text"))
    val storedTf = IndexStore.postings(spark, dir)
      .select("doc_id", "term", "term_frequency")
      .orderBy("doc_id", "term")
      .as[(Long, String, Long)].collect().toSeq
    val fullTf = InvertedIndex.termFrequency(full)
      .orderBy("doc_id", "term")
      .as[(Long, String, Long)].collect().toSeq
    assert(storedTf == fullTf)

    // served search == recompute search over the merged corpus (exercises
    // df/dl/corpus stats, not just tf)
    val stored = BM25.searchStored(spark, dir, "spark join window")
      .as[(Long, Double)].collect().toSeq
    val recompute = BM25.search(spark, full, "spark join window")
      .as[(Long, Double)].collect().toSeq
    assert(stored.nonEmpty && stored == recompute)
    // the new doc is term-heavy on the query -> it must surface in top-10
    assert(stored.map(_._1).contains(999999L))

    // re-ingesting an already-indexed doc_id must fail loudly, not silently
    // double-count stored stats (merge SUMS tf; recompute would be right)
    val ex = intercept[IllegalArgumentException] {
      IndexStore.ingest(newDoc, dir)
    }
    assert(ex.getMessage.contains("already indexed"))

    // the CLI-parity entry points are thin over the same tested functions:
    // Search.run serves the merged index; Ingest.run is the one-file flow
    val f2 = Files.createTempDirectory("graft-ingest-doc2").resolve("second.txt")
    Files.writeString(f2, "window window window join\n")
    Ingest.run(spark, dir, f2.toString, 999998L)
    val served = Search.run(spark, dir, "spark join window")
      .as[(Long, Double)].collect().toSeq
    val full2 = full.unionByName(
      Sources.ingestLocalFile(spark, f2.toString, 999998L)
        .select("doc_id", "text"))
    val recompute2 = BM25.search(spark, full2, "spark join window")
      .as[(Long, Double)].collect().toSeq
    assert(served == recompute2)
    // the CLI's phrase mode serves the same store: the ingested doc's
    // repeated bigram is found with its overlap count
    val phr = Search.runPhrase(spark, dir, "window window")
      .as[(Long, Long)].collect().toMap
    assert(phr.get(999998L).contains(2L))
    // and both serving branches agree with the recompute over the merged corpus
    phraseBranches(dir, full2, "window window", "spark join", "window table")
    proximityBranches(dir, full2, ("window", "join", 3))
  }

  test("ingest leaves the tables a fresh write over the union would") {
    val docs = (0 until 300).map(i => (i.toLong, s"spark w${i % 11} join w${i % 17} w$i"))
      .toDF("doc_id", "text")
    val delta = Seq((900011L, "spark join window spark"),
      (900012L, "a brand new zzzterm"), (900013L, "")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-ingest-union")
    val ingested = root.resolve("ingested").toString
    val fresh = root.resolve("fresh").toString
    IndexStore.write(docs, ingested)
    IndexStore.ingest(delta, ingested)
    IndexStore.write(docs.unionByName(delta), fresh)
    def rows(read: (SparkSession, String) => DataFrame, dir: String, keys: String*) =
      read(spark, dir).orderBy(keys.map(col): _*).collect().toSeq
    assert(rows(IndexStore.postings, ingested, "term", "doc_id") ==
      rows(IndexStore.postings, fresh, "term", "doc_id"))
    assert(rows(IndexStore.docInfo, ingested, "doc_id") ==
      rows(IndexStore.docInfo, fresh, "doc_id"))
    assert(rows(IndexStore.corpusInfo, ingested) ==
      rows(IndexStore.corpusInfo, fresh))
    assert(IndexStore.indexMeta(spark, ingested) == IndexStore.indexMeta(spark, fresh))
    // the same bucket directories, each still holding one part file
    val buckets = (d: String) => new java.io.File(s"$d/postings").listFiles()
      .filter(_.isDirectory).map(b => b.getName -> b.list().count(_.endsWith(".parquet")))
      .toMap
    assert(buckets(ingested) == buckets(fresh) && buckets(fresh).values.forall(_ == 1))
  }

  test("ingest clears the leftovers of an earlier crashed swap") {
    val parent = Files.createTempDirectory("graft-ingest-stale")
    val dir = parent.resolve("index").toString
    IndexStore.write(table(spark, "/root/testdata/sf0.001", "documents"), dir)
    // an earlier swap died after its second rename, before deleting `old`;
    // another died mid-write, leaving a partial `tmp`
    val p = AtomicStore.paths(parent.toString, "index")
    Files.createDirectories(p.old.toPath.resolve("postings"))
    Files.writeString(p.old.toPath.resolve("postings/part-0"), "x")
    Files.createDirectories(p.tmp.toPath)
    Files.writeString(p.tmp.toPath.resolve("partial"), "x")
    IndexStore.ingest(Seq((900002L, "zzzgamma zzzdelta")).toDF("doc_id", "text"),
      dir)
    assert(parent.toFile.list().toSet == Set("index"))
    assert(!new java.io.File(dir, "partial").exists())
    assert(IndexStore.phraseMatchStored(spark, dir, "zzzgamma zzzdelta")
      .as[(Long, Long)].collect().toSeq == Seq((900002L, 1L)))
  }
}
