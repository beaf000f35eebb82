package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.classic.GraftSqlBridge

/** The one table of graft's native SQL functions: every `graft_*` kernel
  * by name, with the builder that turns its argument expressions into the
  * Catalyst expression (argument coercion and literal checks live in the
  * builders).
  *
  * DataFrame code never needs the table: the Column helpers (`dot`,
  * `shingles`, `mightContain`, …) hand their arguments straight to the
  * builder through `call`, so an operator plans the same expression on any
  * session. SQL text reaches the kernels by name, either on a session
  * built with `GraftExtensions` (which injects this table) or after
  * `register` on an existing session.
  */
object FunctionTable {
  type Builder = Seq[Expression] => Expression

  val entries: Seq[(String, Builder)] = Seq(
    VectorFunctions.DotName -> VectorFunctions.dotBuilder,
    VectorFunctions.UnitName -> VectorFunctions.unitBuilder,
    LshFunctions.BucketsName -> LshFunctions.bucketsBuilder,
    PqFunctions.MinDistName -> PqFunctions.minDistBuilder,
    PqFunctions.ScoreName -> PqFunctions.scoreBuilder,
    TextFunctions.BigramsName -> TextFunctions.bigramsBuilder,
    TextFunctions.ShinglesName -> TextFunctions.shinglesBuilder,
    TextFunctions.RollingHashName -> TextFunctions.rollingHashBuilder,
    StringDistanceFunctions.JaroWinklerName -> StringDistanceFunctions.jwBuilder,
    StringDistanceFunctions.BandedLevenshteinName -> StringDistanceFunctions.blBuilder,
    ImageFunctions.DimsName -> ImageFunctions.dimsBuilder,
    ImageFunctions.FeaturesName -> ImageFunctions.featuresBuilder,
    MediaFunctions.AudioName -> MediaFunctions.audioBuilder,
    MediaFunctions.VideoName -> MediaFunctions.videoBuilder,
    PHashFunctions.PHashName -> PHashFunctions.phashBuilder,
    graft.relational.RuntimeFilters.MightContainName ->
      graft.relational.RuntimeFilters.mightContainBuilder)

  /** Make every kernel callable by name from this session's SQL. */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  /** The kernel's Column, built from its argument Columns without any
    * session lookup. */
  private[graft] def call(builder: Builder, args: Column*): Column =
    GraftSqlBridge.column(builder(args.map(GraftSqlBridge.expression)))

  /** A plan-time parameter (shingle width, LSH geometry, distance
    * threshold) as a Catalyst literal. The builders read these while they
    * build, and a `functions.lit` Column only becomes a Literal later,
    * during analysis. */
  private[graft] def param(v: Any): Column = GraftSqlBridge.column(Literal(v))
}
