package graft.sources

import graft.config.{StreamConfig, TapConfig}
import graft.operators.Conformance
import graft.state.{Bookmarks, TapState}
import graft.types.TypeMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Stream execution: turn a `StreamConfig` into a `DataFrame`.
  *
  * Two paths, mirroring SURVEY §0:
  *  - **native**: the stream SQL runs through Catalyst over registered
  *    tables/views (`spark.sql`). This is the analytics path — predicate
  *    pushdown, column pruning, join selection all come from Catalyst.
  *  - **jdbc**: the SQL is pushed down to the remote database exactly like
  *    the reference does (reference: tap_rawpostgresql/client.py:300-304),
  *    via `spark.read.format("jdbc").option("query", …)` — plus partitioned
  *    extraction options the reference lacks (it is a single cursor;
  *    client.py:106-119), which is what makes 100 TB extraction parallel.
  */
object StreamSource {

  /** Resolve watermark → rewrite dialect → bind param → execute →
    * [flatten] → conform. The conformance `select` keeps column pruning
    * effective: only declared columns survive the plan.
    *
    * `flattenDepth` (the FLATTENING capability, tap config keys
    * `flattening_enabled`/`flattening_max_depth`) expands struct results to
    * `parent__child` columns BEFORE conformance, so the declared `columns`
    * stay flat name/type pairs exactly as in the reference's config schema
    * (tap.py:87-109) while the SQL may produce nested values.
    */
  def native(spark: SparkSession, stream: StreamConfig,
             state: TapState = Bookmarks.empty,
             flattenDepth: Option[Int] = None): DataFrame = {
    require(stream.sql.trim.nonEmpty,
      s"stream '${stream.name}': sql must not be empty") // reference: client.py:255-258
    val sql = boundSql(stream, state, SqlDialect.rewrite(stream.sql))
    // PG '...' literals are backslash-LITERAL (standard_conforming_strings,
    // PG default since 9.1); Spark's parser processes \-escapes unless
    // escapedStringLiterals is on. The parse runs under a clone of the
    // session conf with it on, so regex/SIMILAR TO patterns like '\d+' or
    // 'NATION\.5' survive intact, and the shared conf, which other queries
    // read, is never set.
    PgFunctions.ensureRegistered(spark)
    val parseConf = spark.sessionState.conf.clone()
    parseConf.setConfString("spark.sql.parser.escapedStringLiterals", "true")
    val df = SQLConf.withExistingConf(parseConf)(spark.sql(sql))
    // flattening enabled + declared json_columns ⇒ those string values
    // (PG json/jsonb through SQL) first parse through the bounded
    // schema-inference hop, then expand like any struct; undeclared
    // strings are never restructured (r9 ADVICE)
    val flat = flattenDepth
      .map(d => graft.operators.Flattener.flatten(
        parseDeclaredJson(df, stream, stream.jsonColumns), d)).getOrElse(df)
    Conformance.conform(flat, stream.columns, stream.name)
  }

  /** The JSON hop over an EXPLICIT column list, sampled in replication/
    * primary-key order so the inferred schema is stable across syncs.
    */
  private def parseDeclaredJson(df: DataFrame, stream: StreamConfig,
                                jsonCols: Seq[String]): DataFrame =
    if (jsonCols.isEmpty) df
    else graft.operators.Flattener.parseJsonStrings(df, jsonCols,
      orderBy = (stream.replicationKey.toSeq ++ stream.keyProperties).distinct)

  /** `sql` with the stream's watermark bound as a typed literal; over the
    * stream's own SQL, the exact text the remote executes.
    */
  private def boundSql(stream: StreamConfig, state: TapState,
                       sql: String): String = {
    val start = Bookmarks.resolveStart(stream, state)
    val repKeyType = stream.replicationKey.map(k =>
      TypeMapper.toDataType(stream.column(k).typeName))
      .getOrElse(org.apache.spark.sql.types.StringType)
    SqlDialect.bindRepKeyVal(sql, start, repKeyType)
  }

  /** `f` over a plain driver-side connection to the tap's database. */
  private def withConnection[A](tap: TapConfig)(f: java.sql.Connection => A): A = {
    Class.forName(tap.resolvedJdbcDriver)
    val props = new java.util.Properties()
    if (tap.user.nonEmpty) props.setProperty("user", tap.user)
    if (tap.password.nonEmpty) props.setProperty("password", tap.password)
    val conn = java.sql.DriverManager.getConnection(tap.resolvedJdbcUrl, props)
    try f(conn) finally conn.close()
  }

  /** Columns whose DECLARED remote type is json/jsonb, via one
    * driver-side prepared-statement metadata roundtrip (no rows fetched)
    * — the type-metadata path of the FLATTENING JSON hop (r9 ADVICE:
    * decide by the declared column type, never by content sniffing).
    * Nil when the driver exposes no metadata for the query.
    */
  def jsonTypedColumns(tap: TapConfig, sql: String): Seq[String] =
    withConnection(tap) { conn =>
      val md = conn.prepareStatement(sql).getMetaData
      if (md == null) Nil
      else (1 to md.getColumnCount).toSeq.flatMap { i =>
        Option(md.getColumnTypeName(i)).map(_.toLowerCase) match {
          case Some("json") | Some("jsonb") => Some(md.getColumnLabel(i))
          case _ => None
        }
      }
    }

  /** Rows a JDBC cursor fetches per round trip. A positive fetch size is
    * also what makes Spark's PostgreSQL dialect turn autocommit off
    * (`PostgresDialect.beforeFetch`), without which the PostgreSQL driver
    * reads a partition's whole result before its first row.
    */
  val FetchSize = 10000

  /** JDBC pushdown options for a stream. `partitionColumn`/bounds enable
    * parallel extraction when the stream declares a numeric/timestamp
    * replication key — each Spark task opens its own cursor over a slice.
    */
  def jdbcOptions(tap: TapConfig, stream: StreamConfig,
                  state: TapState = Bookmarks.empty,
                  numPartitions: Int = 1,
                  bounds: Option[(String, String)] = None): Map[String, String] = {
    // No bind params in Spark JDBC either: render the typed literal
    // before pushdown (reference binds server-side at client.py:300-303).
    val sql = boundSql(stream, state, stream.sql)
    val base = Map(
      "url" -> tap.resolvedJdbcUrl,
      "user" -> tap.user,
      "password" -> tap.password,
      "driver" -> tap.resolvedJdbcDriver,
      "fetchsize" -> FetchSize.toString,
      "query" -> sql)
    val partitioned = for {
      (lo, hi) <- bounds
      k <- stream.replicationKey
      if numPartitions > 1
    } yield Map(
      // partitioned read requires dbtable, not query
      "dbtable" -> s"(${sql}) AS graft_sub",
      "partitionColumn" -> k,
      "lowerBound" -> lo,
      "upperBound" -> hi,
      "numPartitions" -> numPartitions.toString) - "query"
    partitioned.map(p => (base - "query") ++ p).getOrElse(base)
  }

  def jdbc(spark: SparkSession, tap: TapConfig, stream: StreamConfig,
           state: TapState = Bookmarks.empty,
           numPartitions: Int = 1,
           bounds: Option[(String, String)] = None,
           flattenDepth: Option[Int] = None): DataFrame = {
    val df = spark.read.format("jdbc")
      .options(jdbcOptions(tap, stream, state, numPartitions, bounds)).load()
    // flattening enabled ⇒ the JSON hop runs over the stream's declared
    // json_columns, or — when none are declared — over the columns the
    // REMOTE declares as json/jsonb (metadata roundtrip); plain strings
    // are never restructured by content sniffing (r9 ADVICE)
    val flat = flattenDepth.map { d =>
      val jsonCols =
        if (stream.jsonColumns.nonEmpty) stream.jsonColumns
        else scala.util.Try(jsonTypedColumns(tap, boundSql(stream, state, stream.sql)))
          .getOrElse(Nil)
      graft.operators.Flattener.flatten(
        parseDeclaredJson(df, stream, jsonCols), d)
    }.getOrElse(df)
    Conformance.conform(flat, stream.columns, stream.name)
  }

  /** Execution-mode dispatch — the sync loop's source factory (config key
    * `execution`, per stream with a tap-level default):
    *  - `"native"` (default): [[native]] — the Catalyst analytics path.
    *  - `"jdbc"`: [[jdbcAutoPartitioned]] — the stream SQL executes on the
    *    remote database exactly as the reference's cursor does
    *    (client.py:300-304), parallelized when the replication key allows.
    *  - `"auto"`: try native; when the dialect rewrite yields SQL Spark
    *    cannot parse or resolve, fall back to pushdown of the ORIGINAL
    *    SQL. This reproduces the reference's execute-anything contract for
    *    the PG long tail (constructs `SqlDialect.rewrite` doesn't cover):
    *    instead of a Spark parse error, the query runs server-side —
    *    including genuine user errors, which then surface as the remote
    *    database's own diagnostics, just as with the reference.
    */
  def execute(spark: SparkSession, tap: TapConfig, stream: StreamConfig,
              state: TapState = Bookmarks.empty,
              flattenDepth: Option[Int] = None): DataFrame =
    stream.execution match {
      case "jdbc" =>
        jdbcAutoPartitioned(spark, tap, stream, state,
          flattenDepth = flattenDepth)
      case "auto" =>
        // the empty-SQL contract error (reference client.py:255-258) must
        // NOT fall back — an empty query shipped to the remote is a worse
        // diagnostic than the local require
        require(stream.sql.trim.nonEmpty,
          s"stream '${stream.name}': sql must not be empty")
        // spark.sql parses AND analyzes eagerly inside native(), so every
        // untranslatable construct surfaces here, before any execution.
        // ParseException extends AnalysisException, so one catch covers
        // "Spark can't parse it" and "Spark can't resolve it"; an
        // IllegalArgumentException is SqlDialect.rewrite itself refusing
        // a construct with no Spark translation (e.g. a negative PG JSON
        // path index) — equally a pushdown case.
        try native(spark, stream, state, flattenDepth)
        catch {
          case _: org.apache.spark.sql.AnalysisException |
               _: IllegalArgumentException =>
            jdbcAutoPartitioned(spark, tap, stream, state,
              flattenDepth = flattenDepth)
        }
      case "native" => native(spark, stream, state, flattenDepth)
      case other => throw new IllegalArgumentException(
        s"stream '${stream.name}': unknown execution mode '$other'")
    }

  /** Parallel JDBC extraction with AUTO-derived partition bounds: one
    * tiny `SELECT min(k), max(k)` over the stream's (watermark-bound) SQL
    * on a plain driver-side connection, then the partitioned read. This is
    * how a production extractor slices a table it has never seen — the
    * reference's single cursor (client.py:300-304) needs no bounds, and
    * manual bounds don't survive schema/host changes. Falls back to the
    * single-cursor read when the stream has no replication key or the
    * result is empty.
    */
  def jdbcAutoPartitioned(spark: SparkSession, tap: TapConfig,
                          stream: StreamConfig,
                          state: TapState = Bookmarks.empty,
                          numPartitions: Int = 8,
                          flattenDepth: Option[Int] = None): DataFrame = {
    val boundsOpt = stream.replicationKey.flatMap { k =>
      val sql = boundSql(stream, state, stream.sql)
      withConnection(tap) { conn =>
        // unquoted: the key name follows the same case-folding rules as
        // its references inside the stream's own SQL
        val rs = conn.createStatement().executeQuery(
          s"SELECT MIN($k), MAX($k) FROM ($sql) graft_bounds")
        try {
          if (!rs.next()) None
          else (Option(rs.getObject(1)), Option(rs.getObject(2))) match {
            case (Some(lo), Some(hi)) => Some((lo.toString, hi.toString))
            case _ => None // empty result: nothing to slice
          }
        } finally rs.close()
      }
    }
    boundsOpt match {
      case Some(b) => jdbc(spark, tap, stream, state, numPartitions, Some(b),
        flattenDepth)
      case None => jdbc(spark, tap, stream, state, flattenDepth = flattenDepth)
    }
  }
}
