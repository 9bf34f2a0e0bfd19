package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7): `queries` maps every registered query
  * name to its Spark body and `oracleSql` maps it to its DuckDB twin, both
  * derived once from [[registrations]]. Column aliases match pairwise, and
  * both sides order by a unique key so the hash compare is order-safe.
  */
object SparkEntry {

  /** Flagship query (the reference's richest path: DSL filter → projection →
    * stratified exact-k sample) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("q_sample_filtered_strat")(spark, "/root/testdata/sf0.001")

  /** Each query file's registrations, one list per file. */
  lazy val registries: Seq[Seq[Q]] = Seq(
    ParityQueries.registry, TextQueries.registry, DedupQueries.registry,
    SimilarityQueries.registry, MultimodalQueries.registry,
    EngineQueries.registry, AnalyticsQueries.registry, EvalQueries.registry,
    DataQualityQueries.registry, StatsQueries.registry,
    MonitorQueries.registry, StreamTwinQueries.registry,
    PipelineQueries.registry)

  /** Every query file's registrations, listed once. */
  lazy val registrations: Seq[Q] = registries.flatten

  /** Bodies and oracle twins by name, derived once from [[registrations]];
    * [[Q.index]] fails on a duplicate name or an empty oracle. */
  lazy val (queries, oracleSql) = {
    val byName = Q.index(registrations)
    (byName.map { case (n, q) => n -> q.build },
      byName.map { case (n, q) => n -> q.oracle })
  }
}
