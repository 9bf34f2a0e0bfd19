package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2 (plus
  * the training-data extension operators); `oracleSql` carries the DuckDB
  * twin for every SQL-expressible entry. Column aliases match pairwise, and
  * both sides order by a unique key so the hash compare is order-safe.
  */
object SparkEntry {

  /** Flagship query (the reference's richest path: DSL filter → projection →
    * stratified exact-k sample) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("q_sample_filtered_strat")(spark, "/root/testdata/sf0.001")

  /** One (queries, oracleSql) pair per query file; [[queries]] and
    * [[oracleSql]] are their unions. */
  def registries: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      ParityQueries.queries -> ParityQueries.oracleSql,
      TextQueries.queries -> TextQueries.oracleSql,
      DedupQueries.queries -> DedupQueries.oracleSql,
      SimilarityQueries.queries -> SimilarityQueries.oracleSql,
      MultimodalQueries.queries -> MultimodalQueries.oracleSql,
      EngineQueries.queries -> EngineQueries.oracleSql,
      AnalyticsQueries.queries -> AnalyticsQueries.oracleSql,
      EvalQueries.queries -> EvalQueries.oracleSql,
      DataQualityQueries.queries -> DataQualityQueries.oracleSql,
      StatsQueries.queries -> StatsQueries.oracleSql,
      MonitorQueries.queries -> MonitorQueries.oracleSql,
      StreamTwinQueries.queries -> StreamTwinQueries.oracleSql,
      PipelineQueries.queries -> PipelineQueries.oracleSql)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(_._1).reduce(_ ++ _)

  def oracleSql: Map[String, String] = registries.map(_._2).reduce(_ ++ _)
}
