package graft.operators

import graft.config.ColumnSpec
import graft.types.TypeMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record conformance: project to the declared columns (dropping unmapped
  * ones), cast each to its declared type, and canonicalize UUIDs.
  *
  * Reference behavior: SDK `conform_record_data_types` + UUID fix-up at
  * tap_rawpostgresql/client.py:144-161; unmapped-property drop documented at
  * client.py:147-151. Here the whole step is a single Catalyst `Project`,
  * so column pruning pushes into the scan for free. The sinks write the
  * conformed row as is; only its JSON rendering formats timestamps and
  * dates ([[IsoTimestampPattern]]).
  */
object Conformance {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warnedUnmapped =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Select + cast to the declared schema. Columns in the input but not in
    * the declaration are dropped (the `select` is the drop) with a warning
    * logged exactly once per (stream, property) name — the reference's
    * contract at client.py:147-151; declared columns missing from the input
    * raise at analysis time, mirroring the reference's strict conformance.
    */
  def conform(df: DataFrame, cols: Seq[ColumnSpec],
              streamName: String = ""): DataFrame = {
    // case-insensitive: Spark resolves declared names against the input
    // case-insensitively (a JDBC source may report N_NATIONKEY for a
    // declared n_nationkey), so the unmapped check must agree or it warns
    // about columns that ARE mapped
    val declared = cols.map(_.name.toLowerCase).toSet
    df.columns.filterNot(c => declared(c.toLowerCase)).foreach { c =>
      if (warnedUnmapped.add(s"$streamName $c"))
        log.warn(s"Property '$c' was present in the '$streamName' stream " +
          "but not found in catalog schema. Ignoring.")
    }
    df.select(cols.map(conformed): _*)
  }

  private def conformed(c: ColumnSpec): Column = {
    val target = TypeMapper.toDataType(c.typeName)
    val base = col(c.name).cast(target)
    val fixed =
      if (c.typeName.trim.equalsIgnoreCase("uuid")) lower(base) // canonical form
      else base
    fixed.as(c.name)
  }

  /** ISO8601 timestamp pattern with microseconds and `+00:00`-style offset —
    * the exact serialization the reference's JSON output uses
    * (reference: tests/test_postgres.py:200-203 asserts
    * `"2021-11-22T11:45:11.062824+00:00"`). Both sinks write a record's
    * timestamps in this form and its dates as `yyyy-MM-dd`, each in the
    * session time zone, as `date_format` formats them (`graft.sinks.RecordWriter`).
    */
  val IsoTimestampPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"
}
