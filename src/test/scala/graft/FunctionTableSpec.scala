package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.ExtensionsProbe
import graft.functions.FunctionTable

/** How graft attaches to a session: one function table that both SQL
  * routes (GraftExtensions, `FunctionTable.register`) read, and one
  * session builder. */
class FunctionTableSpec extends SparkSpec {

  private val Kernels = Set(
    "graft_dot", "graft_unit", "graft_lsh_buckets", "graft_pq_min_dist",
    "graft_pq_score", "graft_bigrams", "graft_shingles", "graft_rolling_hash",
    "graft_jaro_winkler", "graft_levenshtein_banded", "graft_image_dims",
    "graft_image_features", "graft_audio_meta", "graft_video_meta",
    "graft_phash", "graft_bloom_might_contain")

  test("GraftExtensions injects exactly the function table's names") {
    assert(ExtensionsProbe.injectedFunctionNames(new GraftExtensions) == Kernels)
    val names = FunctionTable.entries.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate names: $names")
    assert(names.toSet == Kernels)
  }

  test("register makes every table name resolvable through the catalog") {
    FunctionTable.register(spark)
    val missing = FunctionTable.entries.map(_._1)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
  }

  test("src/main attaches to Spark in one place") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources: Seq[(Path, String)] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toSeq
    // one entry per occurrence, so a second builder in the same file counts
    def filesWith(pattern: String): Seq[String] = sources.flatMap {
      case (p, src) =>
        Seq.fill(pattern.r.findAllIn(src).size)(root.relativize(p).toString)
    }
    assert(filesWith("SparkSession\\.builder") == Seq("graft/Cli.scala"))
    assert(filesWith("createOrReplaceTempFunction") ==
      Seq("graft/functions/FunctionTable.scala"))
    assert(filesWith("[A-Za-z]+Functions\\.ensureRegistered").isEmpty)
  }
}
