package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the per-domain modules under graft.queries;
  * each QueryDef pairs the Spark implementation with its DuckDB oracle.
  */
object SparkEntry {

  val allDefs: Seq[QueryDef] =
    CoreQueries.defs ++ LtvQueries.defs ++ ScalarQueries.defs ++ MatQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ ParityQueries.defs ++
      CheckQueries.defs ++ PipelineQueries.defs ++ StagingQueries.defs ++
      ScaleQueries.defs ++ FactQueries.defs ++ SinkQueries.defs ++
      CurationQueries.defs ++ OlapQueries.defs ++ StreamQueries.defs ++
      CorpusQueries.defs ++ MixQueries.defs ++ LayoutQueries.defs ++
      FunnelQueries.defs ++ ReconQueries.defs ++ AnalyticsQueries.defs ++
      GraphQueries.defs ++ TemporalQueries.defs ++ JourneyQueries.defs ++
      CdcQueries.defs ++ CompletenessQueries.defs ++ TimeSeriesQueries.defs ++
      AuditQueries.defs ++ MasterDataQueries.defs ++ SqlSurfaceQueries.defs ++
      StatsQueries.defs ++ ExperimentQueries.defs ++ PlannerQueries.defs ++
      RobustStatsQueries.defs ++ ConcentrationQueries.defs ++
      InstrumentationQueries.defs ++ ActivityQueries.defs ++ LmQueries.defs ++
      TokenizerQueries.defs ++ CorpusAuditQueries.defs ++ AnnIndexQueries.defs ++
      PiiQueries.defs ++ UrlQueries.defs ++ ScoringQueries.defs ++
      HtmlQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q47 is the full fct_orders composite — line math, rollup, joins,
    * as-of address pick, surrogate keys — the widest single-query surface. */
  def entry(spark: SparkSession): DataFrame =
    queries("q47_fct_orders")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Built once:
    * timed harnesses look a query up inside their window. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = allDefs.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(", ")}")
    allDefs.map(d => d.name -> d.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  lazy val oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
