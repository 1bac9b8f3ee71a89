package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  /** All registered query definitions (Spark impl + optional DuckDB oracle),
    * merged from the per-area registries. */
  def registry: Map[String, QueryDef] =
    graft.queries.Relational.defs ++
    graft.queries.MlQueries.defs ++
    graft.queries.Extensions.defs ++
    graft.queries.Curation.defs ++
    graft.queries.LayoutQueries.defs ++
    graft.queries.Stats.defs ++
    graft.queries.MaintenanceQueries.defs ++
    graft.queries.ScaleJoins.defs ++
    graft.queries.PipelineReplay.defs ++
    graft.queries.ReferenceQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
