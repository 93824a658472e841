package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The catalog is composed from one registry per query family under
  * `graft.queries`: the tap's own surface (SURVEY §2.1/§2.2,
  * [[TapQueries]]), the SQL surface the reference delegates to PostgreSQL
  * (§2.3, [[SqlQueries]]), and the training-data pipeline extensions
  * (text, events, dedup, search, sampling, tables, composed pipelines,
  * graphs, web/multimodal, entity resolution). Each family registers an
  * entry once, with its plan and its DuckDB oracle side by side.
  */
object SparkEntry {

  private val families: Seq[QueryFamily] = Seq(
    TapQueries, SqlQueries, TextQueries, EventQueries, DedupQueries,
    SearchQueries, SampleQueries, TableQueries, CompositionQueries,
    GraphQueries, WebQueries, EntityResolutionQueries)

  private lazy val entries: Seq[Entry] = {
    val all = families.flatMap(_.entries)
    val dup = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dup.isEmpty, s"entries registered twice: ${dup.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (the
    * driver records a weaker rows-only check for those).
    */
  def oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
