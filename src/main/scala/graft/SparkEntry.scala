package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory.
  * Each module contributes QueryDefs (Spark impl + DuckDB oracle).
  */
object SparkEntry {

  def allDefs: Seq[QueryDef] =
    ops.RelationalQueries.defs ++
      ops.IntegrationQueries.defs ++
      streaming.EventQueries.defs ++
      ops.LlmPipelineQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs.find(_.name == "q11_multi_join").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** Why `prefixes` cannot select queries, if one of them is flag-like
    * or starts no query name — for the mains that take name prefixes. */
  def refusePrefixes(prefixes: Seq[String]): Option[String] =
    prefixes.collectFirst {
      case flag if flag.startsWith("-") => s"unknown option '$flag'"
      case p if !allDefs.exists(_.name.startsWith(p)) => s"no query name starts with '$p'"
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql.trim }.toMap
}
