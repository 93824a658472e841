package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.Charset
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One declared output column of a stream.
  *
  * Mirrors the reference's per-stream `columns` entries
  * (reference: tap_rawpostgresql/tap.py:87-109 — flat name/type/nullable).
  */
final case class ColumnSpec(name: String, typeName: String, nullable: Boolean = false)

/** Replication method of a stream (reference: tap.py:169 — INCREMENTAL iff
  * a replication key is declared; FULL_TABLE otherwise).
  */
sealed trait ReplicationMethod
object ReplicationMethod {
  case object Incremental extends ReplicationMethod
  case object FullTable extends ReplicationMethod
}

/** A stream: a named, schema-declared, optionally-incremental SQL query
  * (reference: tap.py:61-113 config schema).
  *
  * @param name stream name
  * @param sql arbitrary SQL text; may contain the `:rep_key_val` bind
  *            parameter (reference: client.py:283,298)
  * @param keyProperties primary-key column names
  * @param replicationKey column used as the incremental watermark
  * @param replicationKeyValueStart initial watermark when no state exists
  *            (kept as the raw JSON string; typed via the declared column)
  * @param columns declared output schema
  * @param batchSize batch-file rotation size (reference: client.py:183 —
  *            default 100,000)
  * @param isSorted declares the stream's SQL yields rows in ascending
  *            replication-key order (the SDK's `Stream.is_sorted`): mid-sync
  *            STATE messages then advance `replication_key_value` directly
  *            and an interrupted sync resumes from the last emitted row;
  *            unsorted streams get non-resumable `progress_markers` instead
  * @param execution how the stream SQL executes (config key `execution`,
  *            per stream or as a tap-level default): `"native"` through
  *            Catalyst, `"jdbc"` pushed down to the remote database (the
  *            reference's only mode, client.py:300-304), `"auto"` native
  *            with automatic pushdown fallback for SQL Spark can't
  *            parse/resolve
  * @param jsonColumns EXPLICIT opt-in list (config key `json_columns`) of
  *            result columns carrying PG json/jsonb text that the
  *            FLATTENING hop should parse into structs before expansion.
  *            When empty on a jdbc-executed stream, the remote's declared
  *            json/jsonb type metadata fills it; a plain string column is
  *            NEVER restructured by content sniffing (r9 ADVICE)
  */
final case class StreamConfig(
    name: String,
    sql: String,
    keyProperties: Seq[String] = Nil,
    replicationKey: Option[String] = None,
    replicationKeyValueStart: Option[String] = None,
    columns: Seq[ColumnSpec] = Nil,
    batchSize: Int = StreamConfig.DefaultBatchSize,
    database: String = "postgres",
    schema: String = "public",
    isSorted: Boolean = false,
    execution: String = StreamConfig.DefaultExecution,
    jsonColumns: Seq[String] = Nil) {

  def replicationMethod: ReplicationMethod =
    if (replicationKey.isDefined) ReplicationMethod.Incremental
    else ReplicationMethod.FullTable

  /** Stream id `{database}-{schema}-{name}` (reference: tap.py:160-165). */
  def streamId: String = s"$database-$schema-$name"

  def column(name: String): ColumnSpec =
    columns.find(_.name == name).getOrElse {
      throw new IllegalArgumentException(
        s"stream '${this.name}': column '$name' not declared")
    }
}

object StreamConfig {
  val DefaultBatchSize = 100000
  val DefaultExecution = "native"
  val ExecutionModes = Set("native", "jdbc", "auto")
}

/** Batch-export file encoding + storage (reference: tap.py:121-144). */
final case class BatchEncoding(format: String = "jsonl", compression: String = "gzip")
final case class BatchStorage(root: String, prefix: String = "")
final case class BatchConfig(encoding: BatchEncoding = BatchEncoding(),
                             storage: BatchStorage = BatchStorage("file:///tmp"))

/** Top-level tap config: connection + streams + batch settings
  * (reference: tap.py:30-145 `config_jsonschema`).
  */
final case class TapConfig(
    host: String = "localhost",
    port: Int = 5432,
    user: String = "",
    password: String = "",
    database: String = "postgres",
    streams: Seq[StreamConfig] = Nil,
    batchConfig: Option[BatchConfig] = None,
    /** Full JDBC URL override (else built from host/port/database as
      * PostgreSQL, matching the reference's connector; client.py:33-38).
      * Lets the same engine extract from any JDBC source.
      */
    jdbcUrl: Option[String] = None,
    jdbcDriver: Option[String] = None,
    /** Config-driven STREAM_MAPS (reference: tap.py:256, README.md:35-36),
      * keyed by stream name; a `"stream": null` entry lands in
      * [[removedStreams]] instead.
      */
    streamMaps: Map[String, graft.operators.StreamMap] = Map.empty,
    removedStreams: Set[String] = Set.empty,
    /** FLATTENING config keys (reference: tap.py:257, README.md:37-38). */
    flatteningEnabled: Boolean = false,
    flatteningMaxDepth: Option[Int] = None,
    /** Emit a STATE message every this many RECORDs (the SDK's
      * `Tap.STATE_MSG_FREQUENCY`, default 10,000) so an interrupted 100 TB
      * sync resumes from the last flushed bookmark instead of re-extracting.
      */
    stateMessageFrequency: Int = TapConfig.DefaultStateMessageFrequency) {
  def resolvedJdbcUrl: String =
    jdbcUrl.getOrElse(s"jdbc:postgresql://$host:$port/$database")
  def resolvedJdbcDriver: String =
    jdbcDriver.getOrElse("org.postgresql.Driver")
}

object TapConfig {
  val DefaultStateMessageFrequency = 10000
}

/** JSON parsing for tap/stream configs via Jackson (ships in Spark's jars;
  * parsed by explicit tree-walking so no module registration is needed).
  */
object ConfigParser {
  private val mapper = new ObjectMapper()

  def parseTap(json: String): TapConfig = {
    val n = mapper.readTree(json)
    val db = str(n, "database").getOrElse("postgres")
    // stream_map_config values surface in map expressions as `config.<key>`
    // (the SDK's simpleeval `config` namespace, README.md:36) — rendered
    // as SQL literals before the expression reaches Catalyst
    val smc: Map[String, String] = opt(n, "stream_map_config").map {
      _.properties().asScala.map { e =>
        val v = e.getValue
        val lit =
          if (v.isTextual) "'" + v.asText.replace("'", "''") + "'" else v.asText
        e.getKey -> lit
      }.toMap
    }.getOrElse(Map.empty)
    val (maps, removed) = opt(n, "stream_maps")
      .map(parseStreamMaps(_, smc)).getOrElse((Map.empty[String, graft.operators.StreamMap], Set.empty[String]))
    TapConfig(
      host = str(n, "host").getOrElse("localhost"),
      port = int(n, "port").getOrElse(5432),
      user = str(n, "user").getOrElse(""),
      password = str(n, "password").getOrElse(""),
      database = db,
      streams = opt(n, "streams").toSeq.flatMap(_.elements.asScala).map(parseStreamNode(_, db,
        int(n, "batch_size").getOrElse(StreamConfig.DefaultBatchSize),
        str(n, "execution").getOrElse(StreamConfig.DefaultExecution))),
      batchConfig = opt(n, "batch_config").map(parseBatchConfig),
      jdbcUrl = str(n, "jdbc_url"),
      jdbcDriver = str(n, "jdbc_driver"),
      streamMaps = maps,
      removedStreams = removed,
      flatteningEnabled = opt(n, "flattening_enabled").exists(_.asBoolean(false)),
      flatteningMaxDepth = int(n, "flattening_max_depth"),
      stateMessageFrequency = int(n, "state_message_frequency")
        .getOrElse(TapConfig.DefaultStateMessageFrequency))
  }

  /** SDK-style `stream_maps` object (README.md:35): per stream, either
    * `null` (remove the stream from the sync) or a property map where
    * `__filter__` is a row predicate, `__alias__` renames the emitted
    * stream, `"__else__": null` drops all unmapped properties, a `null`
    * value drops that property, and any other string is a computed-column
    * expression (Spark SQL here, where the SDK evaluates simpleeval).
    */
  private def parseStreamMaps(n: JsonNode, smc: Map[String, String])
      : (Map[String, graft.operators.StreamMap], Set[String]) = {
    // token-boundary substitution: `config.p` must not eat into
    // `config.pre` (plain String.replace would, nondeterministically with
    // HashMap iteration order)
    def subst(e: String): String =
      smc.foldLeft(e) { case (acc, (k, lit)) =>
        acc.replaceAll(
          "(?<![\\w.])config\\." + java.util.regex.Pattern.quote(k) + "(?![\\w])",
          java.util.regex.Matcher.quoteReplacement(lit))
      }
    val removed = Set.newBuilder[String]
    val maps = Map.newBuilder[String, graft.operators.StreamMap]
    n.properties().asScala.foreach { e =>
      if (e.getValue.isNull) removed += e.getKey
      else {
        var computed = Seq.empty[(String, String)]
        var dropped = Seq.empty[String]
        var filter: Option[String] = None
        var alias: Option[String] = None
        var elseDrop = false
        e.getValue.properties().asScala.foreach { p =>
          (p.getKey, p.getValue) match {
            case ("__filter__", v) => filter = Some(subst(v.asText))
            case ("__alias__", v) => alias = Some(v.asText)
            // both SDK spellings of "drop unnamed properties"
            case ("__else__", v) if v.isNull || v.asText == "__NULL__" =>
              elseDrop = true
            case (k, _) if k.startsWith("__") && k.endsWith("__") =>
              // an unrecognized SDK directive must not silently become a
              // computed column named __source__/__key_properties__/…
              fail(s"stream_maps['${e.getKey}']: unsupported directive '$k'")
            case (k, v) if v.isNull => dropped :+= k
            case (k, v) => computed :+= (k -> subst(v.asText))
          }
        }
        maps += e.getKey -> graft.operators.StreamMap(
          computed, Nil, dropped, filter, alias, elseDrop)
      }
    }
    (maps.result(), removed.result())
  }

  def parseStream(json: String): StreamConfig =
    parseStreamNode(mapper.readTree(json), "postgres",
      StreamConfig.DefaultBatchSize, StreamConfig.DefaultExecution)

  /** `--config=ENV`: build the tap config from `TAP_RAWPOSTGRESQL_<KEY>`
    * environment variables (reference README.md:46-50 — the singer_sdk
    * env-var config convention). JSON-valued settings (`streams`,
    * `batch_config`, `stream_maps`, `stream_map_config`) parse their
    * value as JSON; scalar settings are taken as text (Jackson coerces
    * numerics/booleans where the schema expects them).
    */
  val EnvPrefix = "TAP_RAWPOSTGRESQL_"
  private val EnvJsonKeys =
    Set("streams", "batch_config", "stream_maps", "stream_map_config")

  def fromEnv(env: Map[String, String]): TapConfig = {
    val entries = env.collect { case (k, v) if k.startsWith(EnvPrefix) =>
      k.stripPrefix(EnvPrefix).toLowerCase -> v
    }
    val json = entries.map { case (k, v) =>
      val value =
        if (EnvJsonKeys(k)) v else mapper.writeValueAsString(v)
      mapper.writeValueAsString(k) + ":" + value
    }.mkString("{", ",", "}")
    parseTap(json)
  }

  private def parseStreamNode(n: JsonNode, database: String, defaultBatch: Int,
                              defaultExecution: String): StreamConfig =
    StreamConfig(
      name = str(n, "name").getOrElse(fail("stream missing 'name'")),
      sql = str(n, "sql").getOrElse(fail("stream missing 'sql'")),
      keyProperties = opt(n, "key_properties").toSeq
        .flatMap(_.elements.asScala).map(_.asText),
      replicationKey = str(n, "replication_key"),
      replicationKeyValueStart = opt(n, "replication_key_value_start").map(_.asText),
      columns = opt(n, "columns").toSeq.flatMap(_.elements.asScala).map { c =>
        ColumnSpec(
          name = str(c, "name").getOrElse(fail("column missing 'name'")),
          typeName = str(c, "type").getOrElse(fail("column missing 'type'")),
          nullable = opt(c, "nullable").exists(_.asBoolean(false)))
      },
      batchSize = int(n, "batch_size").getOrElse(defaultBatch),
      database = database,
      isSorted = opt(n, "is_sorted").exists(_.asBoolean(false)),
      execution = str(n, "execution").getOrElse(defaultExecution),
      jsonColumns = opt(n, "json_columns").toSeq
        .flatMap(_.elements.asScala).map(_.asText))

  private def parseBatchConfig(n: JsonNode): BatchConfig =
    BatchConfig(
      encoding = opt(n, "encoding").map(e => BatchEncoding(
        str(e, "format").getOrElse("jsonl"),
        str(e, "compression").getOrElse("gzip"))).getOrElse(BatchEncoding()),
      storage = opt(n, "storage").map(s => BatchStorage(
        str(s, "root").getOrElse(fail("batch storage missing 'root'")),
        str(s, "prefix").getOrElse(""))).getOrElse(BatchStorage("file:///tmp")))

  /** The JVM's file-name charset (`sun.jnu.encoding`): ASCII when no
    * locale is set.
    */
  def fileNameCharset: Charset =
    Try(Charset.forName(System.getProperty("sun.jnu.encoding"))).getOrElse(Charset.defaultCharset)

  /** A batch root on the local filesystem: `file:` or no scheme. */
  private def isLocal(root: String): Boolean = !root.contains(":") || root.toLowerCase.startsWith("file:")

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def str(n: JsonNode, f: String): Option[String] = opt(n, f).map(_.asText)
  private def int(n: JsonNode, f: String): Option[Int] = opt(n, f).map(_.asInt)
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Cross-field validation, the engine's analog of the reference's
    * config_jsonschema gate (tap.py:30-145) plus the runtime checks its
    * SDK applies: every problem reported at once with the stream name
    * attached, instead of failing mid-sync. `fileNames` is the charset the
    * JVM encodes local file names in.
    */
  def validate(tap: TapConfig, fileNames: Charset = fileNameCharset): Unit = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val dupNames = tap.streams.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    dupNames.foreach(n => problems += s"duplicate stream name '$n'")
    tap.streams.foreach { s =>
      val where = s"stream '${s.name}'"
      if (s.sql.trim.isEmpty) problems += s"$where: empty sql"
      if (s.columns.isEmpty) problems += s"$where: no columns declared"
      val colNames = s.columns.map(_.name).toSet
      s.keyProperties.filterNot(colNames).foreach(k =>
        problems += s"$where: key_properties column '$k' not declared")
      s.replicationKey.filterNot(colNames).foreach(k =>
        problems += s"$where: replication_key column '$k' not declared")
      s.columns.foreach { c =>
        try graft.types.TypeMapper.toDataType(c.typeName)
        catch { case e: IllegalArgumentException =>
          problems += s"$where: column '${c.name}': ${e.getMessage}" }
      }
      if (s.batchSize <= 0) problems += s"$where: batch_size must be positive"
      if (!StreamConfig.ExecutionModes(s.execution))
        problems += s"$where: execution must be one of " +
          s"${StreamConfig.ExecutionModes.toSeq.sorted.mkString("/")}, got '${s.execution}'"
    }
    if (tap.stateMessageFrequency <= 0)
      problems += "state_message_frequency must be positive"
    tap.batchConfig.map(_.encoding.format).filter(_ != "jsonl").foreach(f =>
      problems += s"batch_config: unsupported batch format '$f'")
    // a local filesystem writes a character its charset cannot encode as
    // `?`, so the file would not be at the URL its BATCH message announces
    for (bc <- tap.batchConfig.toSeq if isLocal(bc.storage.root); s <- tap.streams) {
      val emitted = tap.streamMaps.get(s.name).flatMap(_.alias).getOrElse(s.name)
      if (!fileNames.newEncoder().canEncode(bc.storage.prefix + emitted))
        problems += s"stream '${s.name}': batch file name prefix '${bc.storage.prefix}' or stream name " +
          s"'$emitted' cannot be encoded in the file-name charset ${fileNames.name}; " +
          "run under a UTF-8 locale (LC_ALL=C.UTF-8)"
    }
    val known = tap.streams.map(_.name).toSet
    (tap.streamMaps.keySet ++ tap.removedStreams).filterNot(known).foreach(m =>
      problems += s"stream_maps: unknown stream '$m'")
    // the replication key is the incremental watermark: a map that drops,
    // renames, or OVERWRITES it would corrupt the bookmark. The computed
    // case is the insidious one — withColumn replaces the column, so the
    // bookmark would advance over transformed values; if those sit above
    // the source's real watermark, unextracted rows are silently skipped
    // forever on the next incremental run.
    tap.streamMaps.foreach { case (name, m) =>
      for (s <- tap.streams.find(_.name == name); k <- s.replicationKey) {
        if (m.dropped.contains(k) || m.aliases.exists(_._1 == k))
          problems += s"stream '$name': stream map must not drop/rename replication_key '$k'"
        if (m.computed.exists(_._1 == k))
          problems += s"stream '$name': stream map must not overwrite replication_key '$k' with a computed expression"
      }
    }
    if (problems.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid tap config:\n  ${problems.mkString("\n  ")}")
  }
}
