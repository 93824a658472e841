package graft.sources

import graft.config.{ColumnSpec, StreamConfig, TapConfig}
import java.sql.{DriverManager, Types}
import scala.collection.mutable.ArrayBuffer

/** Introspective discovery: enumerate schemas, tables, and views from a
  * live database over JDBC `DatabaseMetaData` and synthesize catalog
  * entries — the connector-level `discover_catalog_entries` analog
  * (reference: tap_rawpostgresql/client.py:85-104, DISCOVER capability at
  * tap.py:254; the SDK walks sqlalchemy's inspector the same way:
  * schemas → objects → per-object catalog entry).
  *
  * The config-based `--discover` stays the reference tap's primary path
  * (tap.py:211-215 — its streams are raw SQL, not tables); introspection
  * is the first thing a user runs against an unfamiliar database, so
  * `--discover --introspect` emits one FULL_TABLE `SELECT *` stream per
  * discovered table/view with JDBC-derived column types and primary-key
  * `key_properties`.
  */
object Discovery {

  /** Schemas that belong to the engine, not the user: PostgreSQL catalogs
    * and the `SYS*` family (Derby/DB2/Oracle-style).
    */
  def isSystemSchema(schema: String): Boolean = {
    val s = schema.toLowerCase
    s.startsWith("sys") || s == "pg_catalog" || s == "information_schema" ||
      s.startsWith("pg_toast")
  }

  /** Map a JDBC type id (+ precision/scale for decimals) to this tap's
    * config type vocabulary ([[graft.types.TypeMapper.toDataType]]), so a
    * discovered entry round-trips directly into a `StreamConfig` column.
    */
  def configTypeName(jdbcType: Int, precision: Int, scale: Int): String =
    jdbcType match {
      case Types.VARCHAR | Types.CHAR | Types.LONGVARCHAR | Types.NVARCHAR |
           Types.NCHAR | Types.LONGNVARCHAR | Types.CLOB | Types.NCLOB |
           Types.SQLXML | Types.OTHER => "text"
      case Types.INTEGER => "int"
      case Types.BIGINT => "bigint"
      case Types.SMALLINT | Types.TINYINT => "smallint"
      case Types.NUMERIC | Types.DECIMAL =>
        if (precision > 0) s"decimal($precision,${scale.max(0)})" else "decimal"
      case Types.DOUBLE | Types.FLOAT => "double"
      case Types.REAL => "real"
      case Types.BOOLEAN | Types.BIT => "boolean"
      case Types.DATE => "date"
      case Types.TIMESTAMP | Types.TIMESTAMP_WITH_TIMEZONE => "timestamp"
      case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY |
           Types.BLOB => "binary"
      case _ => "text" // lossless fallback: everything renders as text
    }

  /** Connect with the tap's JDBC settings and synthesize one stream per
    * user table/view: `SELECT *` SQL, JDBC-typed columns, primary keys as
    * `key_properties`, FULL_TABLE replication (a user then adds
    * `replication_key` by editing the catalog/config, exactly like the
    * reference's workflow).
    */
  def introspect(tap: TapConfig): Seq[StreamConfig] = {
    Class.forName(tap.resolvedJdbcDriver)
    val props = new java.util.Properties()
    if (tap.user.nonEmpty) props.setProperty("user", tap.user)
    if (tap.password.nonEmpty) props.setProperty("password", tap.password)
    val conn = DriverManager.getConnection(tap.resolvedJdbcUrl, props)
    try {
      val md = conn.getMetaData
      // getColumns treats schema/table args as LIKE patterns: a name
      // containing '_'/'%' (ORDER_V2) would otherwise match sibling
      // tables and merge their columns into one stream
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def literal(name: String): String = name
        .replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
      val out = ArrayBuffer.empty[StreamConfig]
      val tables = md.getTables(null, null, "%", Array("TABLE", "VIEW"))
      try {
        while (tables.next()) {
          val schema = Option(tables.getString("TABLE_SCHEM")).getOrElse("")
          val table = tables.getString("TABLE_NAME")
          if (!isSystemSchema(schema)) {
            val cols = ArrayBuffer.empty[ColumnSpec]
            val rs = md.getColumns(null,
              if (schema.isEmpty) null else literal(schema), literal(table), "%")
            try {
              while (rs.next()) cols += ColumnSpec(
                name = rs.getString("COLUMN_NAME"),
                typeName = configTypeName(rs.getInt("DATA_TYPE"),
                  rs.getInt("COLUMN_SIZE"), rs.getInt("DECIMAL_DIGITS")),
                nullable = rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls)
            } finally rs.close()
            val pks = ArrayBuffer.empty[(Short, String)]
            val pkRs = md.getPrimaryKeys(null, schema, table)
            try {
              while (pkRs.next())
                pks += ((pkRs.getShort("KEY_SEQ"), pkRs.getString("COLUMN_NAME")))
            } finally pkRs.close()
            // quoted-identifier SQL; sources with no schema concept (null
            // TABLE_SCHEM — SQLite, MySQL catalogs) get an unqualified name
            def ident(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
            val from =
              if (schema.isEmpty) ident(table) else s"${ident(schema)}.${ident(table)}"
            out += StreamConfig(
              name = table,
              sql = s"SELECT * FROM $from",
              keyProperties = pks.sortBy(_._1).map(_._2).toSeq,
              columns = cols.toSeq,
              database = tap.database,
              schema = if (schema.isEmpty) "public" else schema)
          }
        }
      } finally tables.close()
      out.toSeq
    } finally conn.close()
  }

  /** Introspected Singer catalog: the discovered streams rendered through
    * the same catalog emitter as config-based discovery.
    */
  def catalogJson(tap: TapConfig): com.fasterxml.jackson.databind.node.ObjectNode =
    graft.Tap.catalogJson(tap.copy(streams = introspect(tap)))
}
