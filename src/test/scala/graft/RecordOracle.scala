package graft

import graft.config.StreamConfig
import graft.operators.Conformance.IsoTimestampPattern
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, date_format, struct, to_json}
import org.apache.spark.sql.types.{DateType, TimestampType}

/** The record encoding the sinks' writer must reproduce byte for byte,
  * in Spark's own expressions: `to_json` of every column, nulls kept, with
  * timestamps and dates first formatted in their reference string forms.
  */
object RecordOracle {

  /** Each column of `df`, timestamps and dates as `date_format` strings. */
  def temporalExprs(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType => date_format(col(f.name), IsoTimestampPattern).as(f.name)
        case DateType => date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case _ => col(f.name)
      }
    }

  /** Column `j`, each row's record JSON; with a replication key also `rk`,
    * the key, and `rks`, its string cast (the bookmark rendering).
    */
  def encode(df: DataFrame, stream: StreamConfig): DataFrame = {
    val j = to_json(struct(temporalExprs(df): _*),
      java.util.Map.of("ignoreNullFields", "false")).as("j")
    stream.replicationKey match {
      case Some(k) => df.select(j, col(k).as("rk"), col(k).cast("string").as("rks"))
      case None => df.select(j)
    }
  }
}
