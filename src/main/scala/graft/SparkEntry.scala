package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-registry contract — see SURVEY.md §7.
  *
  * Every query is registered once, in its family's `registry` (builder
  * plus optional oracle SQL); `queries` and `oracleSql` are derived from
  * [[families]]. Families live under `graft.queries.*`; the library
  * operators they exercise live under
  * `graft.{extract,quality,store,ops,functions,sources,streaming}`.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.userEventFeatures(spark, "/root/testdata/sf0.001")

  /** Every query family, by name — the one list a new family joins. */
  lazy val families: Seq[(String, Map[String, Query])] = Seq(
    "parity" -> ParityQueries.registry,
    "quality" -> QualityQueries.registry,
    "relational" -> RelationalQueries.registry,
    "dedup" -> DedupQueries.registry,
    "similarity" -> SimilarityQueries.registry,
    "text" -> TextQueries.registry,
    "multimodal" -> MultimodalQueries.registry,
    "scale" -> ScaleQueries.registry,
    "prep" -> PrepQueries.registry,
    "feature" -> FeatureQueries.registry,
    "eval" -> EvalQueries.registry,
    "model" -> ModelQueries.registry)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_._2).map { case (n, q) => n -> q.build }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.flatMap(_._2).flatMap { case (n, q) => q.oracleSql.map(n -> _) }
      .toMap
}
