package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate entry: the plan the driver runs on a fixture directory and,
  * when the entry's semantics are SQL-expressible, the DuckDB oracle SQL
  * that replays it on the same parquet tables.
  */
final case class Entry(name: String,
                       plan: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

/** A family of gate entries. Each entry is registered once, with its plan
  * and its oracle side by side; [[graft.SparkEntry]] composes the families.
  */
trait QueryFamily {

  type Q = (SparkSession, String) => DataFrame

  /** Every entry of the family. */
  def entries: Seq[Entry]

  protected def entry(name: String, plan: Q, oracle: String): Entry =
    Entry(name, plan, Some(oracle))
}
