package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aggregation point for the t2 query surface (SURVEY.md §2B). Each module
  * contributes `all` (Spark plans) and `oracles` (DuckDB-equivalent SQL).
  */
object Registry {
  def all: Map[String, (SparkSession, String) => DataFrame] =
    Scans.all ++ Projections.all ++ Joins.all ++ Aggregates.all ++
      Windows.all ++ SortsLimits.all ++ SetOps.all ++ Scalars.all ++
      LlmOps.all ++ IndexVerbs.all ++ ModalityVerbs.all ++ StreamingQueries.all ++ Extensibility.all ++
      ModelQueries.all ++ Reshape.all ++ CurationOps.all ++ PipelineOps.all ++
      AnalyticsOps.all ++ BehaviorOps.all ++ ExportOps.all ++ LifecycleOps.all

  def oracles: Map[String, String] =
    Scans.oracles ++ Projections.oracles ++ Joins.oracles ++
      Aggregates.oracles ++ Windows.oracles ++ SortsLimits.oracles ++
      SetOps.oracles ++ Scalars.oracles ++ LlmOps.oracles ++ ModalityVerbs.oracles ++
      StreamingQueries.oracles ++ Extensibility.oracles ++
      ModelQueries.oracles ++ Reshape.oracles ++ CurationOps.oracles ++
      PipelineOps.oracles ++ AnalyticsOps.oracles ++ BehaviorOps.oracles ++
      ExportOps.oracles ++ LifecycleOps.oracles
}

trait QueryModule {
  def all: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
