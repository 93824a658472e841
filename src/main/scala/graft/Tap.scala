package graft

import graft.config.{ConfigParser, StreamConfig, TapConfig}
import graft.operators.StreamMaps
import graft.sinks.{BatchManifest, BatchSink, MaxKey, SingerSink}
import graft.sinks.SingerSink.{line, obj, strings}
import graft.sources.StreamSource
import graft.state.{Bookmarks, TapState}
import graft.types.TypeMapper
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{BufferedOutputStream, FileDescriptor, FileOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** The tap orchestrator — the engine's equivalent of the SDK's
  * `Tap.sync_all` (reference: invoked from tap_rawpostgresql/tap.py via
  * singer_sdk): for each configured stream, resolve the watermark, execute,
  * emit (Singer messages or batch files), and advance the state bookmark.
  */
object Tap {

  /** Result of one stream sync. */
  final case class StreamResult(stream: StreamConfig, records: Long,
                                manifests: Seq[BatchManifest])

  /** Sync every stream: Singer mode (SCHEMA/RECORD per stream, one STATE
    * at the end) or batch mode when `tap.batchConfig` is set.
    */
  def syncAll(spark: SparkSession, tap: TapConfig,
              statePath: Option[String] = None,
              out: PrintStream = System.out): (Seq[StreamResult], TapState) = {
    var state = statePath.map(Bookmarks.load).getOrElse(Bookmarks.empty)
    val syncStartMs = System.currentTimeMillis()
    // FLATTENING expands struct results to parent__child columns before
    // conformance (config keys flattening_enabled / flattening_max_depth,
    // reference tap.py:257)
    val flattenDepth =
      if (tap.flatteningEnabled) Some(tap.flatteningMaxDepth.getOrElse(Int.MaxValue))
      else None
    // Build the conformed, mapped frame for one stream (lazy plan — no
    // execution happens here).
    //
    // The bookmark must reflect the rows actually EMITTED (a live JDBC
    // source could commit rows between two lazy executions; the
    // reference derives state from processed records, singer_sdk
    // _sync_records). Each sink therefore executes the stream exactly
    // ONCE and tracks max(rep_key) inside its emit or write pass — no
    // full-stream persist, which at a 100 TB extraction would
    // materialize the whole stream on executor storage.
    // Execution-mode dispatch (config key `execution`): native Catalyst,
    // JDBC pushdown, or auto (native with pushdown fallback for SQL
    // Spark can't parse — the reference's execute-anything contract,
    // client.py:300-304).
    def planStream(s: StreamConfig)
        : (DataFrame, StreamConfig, Option[graft.operators.StreamMap]) = {
      val source = StreamSource.execute(spark, tap, s, state, flattenDepth)
      // STREAM_MAPS transform the conformed stream (reference tap.py:256);
      // key properties + replication key always survive an __else__ drop,
      // and validate() rejects maps that drop/rename the replication key,
      // so the bookmark still tracks inside the emit pass. With a
      // __filter__, the bookmark advances over EMITTED rows only —
      // deliberately conservative (at-least-once: filtered-out rows may
      // re-extract next run, but data is never skipped), where the SDK
      // advances state over processed-then-filtered records too.
      val smap = tap.streamMaps.get(s.name)
      val df = smap.map(m => StreamMaps(source, m,
        alwaysKeep = s.keyProperties ++ s.replicationKey)).getOrElse(source)
      val emitStream = smap.flatMap(_.alias)
        .map(a => s.copy(name = a)).getOrElse(s)
      (df, emitStream, smap)
    }
    // One STATE point of a stream, after a batch chunk or `stateEvery`
    // records. A sorted stream commits the max emitted so far: a target
    // that persists the last STATE line before a crash resumes from what
    // it actually received. An unsorted stream's later rows may still lie
    // below that max, so until its `last` point the max rides in progress
    // markers and the bookmark stays put (at-least-once, never skipping).
    // A stream without a max (full table, or nothing emitted yet) gets a
    // heartbeat.
    def checkpoint(s: StreamConfig, maxSoFar: Option[String], last: Boolean): Unit =
      (maxSoFar, s.replicationKey) match {
        case (Some(v), Some(k)) if !s.isSorted && !last =>
          SingerSink.emitState(state, out, Some(SingerSink.Progress(s.streamId, k, v)))
        case _ =>
          maxSoFar.foreach(v => state = state.advanced(s.streamId, v))
          SingerSink.emitState(state, out)
      }
    // Streams extract one after another, in config order, as the
    // reference's single cursor does (client.py:300-304).
    val results = tap.streams.filterNot(s => tap.removedStreams.contains(s.name)).map { s =>
      val (df, emitStream, smap) = planStream(s)
      tap.batchConfig match {
        case Some(bc) =>
          // one BATCH message per chunk as soon as the sink announces it,
          // each followed by a STATE over the chunks announced so far. An
          // unsorted stream's STATE depends on whether its chunk is the
          // last, so it waits for the next chunk or the write's end.
          val max = new MaxKey
          val holds = s.replicationKey.isDefined && !s.isSorted
          var held = false
          val chunks = BatchSink.write(df, emitStream, bc, announce = { c =>
            if (held) checkpoint(s, max.value, last = false)
            SingerSink.emitBatch(emitStream, c.manifest, out)
            out.flush()
            max.merge(c.maxKey)
            if (holds) held = true else checkpoint(s, max.value, last = false)
          })
          if (held) checkpoint(s, max.value, last = true)
          StreamResult(s, chunks.map(_.records).sum, chunks.map(_.manifest))
        case None =>
          // a mapped stream's SCHEMA reflects the transformed shape
          val shape = if (smap.isDefined) df.schema else TypeMapper.structType(s.columns)
          SingerSink.emitSchema(emitStream, TypeMapper.jsonSchema(s, shape), out)
          val te = java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
            .format(java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"))
          // periodic STATE (SDK STATE_MSG_FREQUENCY); the stream's end
          // only advances the bookmark, which the final STATE carries
          val (n, bookmark) = SingerSink.emitRecords(df, emitStream, out, Some(te),
            stateEvery = tap.stateMessageFrequency,
            onProgress = checkpoint(s, _, last = false))
          bookmark.foreach(v => state = state.advanced(s.streamId, v))
          // FULL_TABLE resync handshake: stamp this sync's version
          // after its last RECORD so a version-aware target can
          // hard-delete stale rows (the singer_sdk ACTIVATE_VERSION
          // behavior); incremental streams never emit it
          if (s.replicationKey.isEmpty)
            SingerSink.emitActivateVersion(emitStream, syncStartMs, out)
          StreamResult(s, n, Nil)
      }
    }
    SingerSink.emitState(state, out)
    statePath.foreach(p => Bookmarks.save(p, state, tap.streams))
    (results, state)
  }

  /** Parse a (possibly user-edited) Singer catalog and return the selected
    * tap_stream_ids — the `--catalog` selection flow (reference: CATALOG
    * capability, tap.py:252; Singer convention: a stream is selected
    * unless its root-breadcrumb metadata says `"selected": false`).
    */
  def selectedStreams(catalogJson: String): Set[String] =
    catalogStreams(catalogJson).flatMap { s =>
      val id = Option(s.get("tap_stream_id")).map(_.asText)
      val deselected = Option(s.get("metadata")).exists(_.elements().asScala.exists { m =>
        val rootCrumb = Option(m.get("breadcrumb")).forall(_.isEmpty)
        val sel = Option(m.get("metadata")).flatMap(md => Option(md.get("selected")))
        rootCrumb && sel.exists(n => n.isBoolean && !n.asBoolean)
      })
      if (deselected) None else id
    }.toSet

  /** Per-stream DESELECTED property names from a Singer catalog: entries
    * whose breadcrumb is `["properties", <name>]` and whose metadata says
    * `"selected": false` — unless `"inclusion": "automatic"`, which per the
    * singer-sdk standard-metadata rules always syncs regardless of user
    * selection. Names are lower-cased for the same case-insensitive
    * resolution conformance uses.
    */
  def deselectedProperties(catalogJson: String): Map[String, Set[String]] =
    catalogStreams(catalogJson).flatMap { s =>
      val id = Option(s.get("tap_stream_id")).map(_.asText)
      val drops = Option(s.get("metadata")).map(_.elements().asScala.flatMap { m =>
        val crumb = Option(m.get("breadcrumb"))
          .filter(b => b.isArray && b.size() == 2 &&
            b.get(0).asText == "properties")
          .map(_.get(1).asText)
        val md = Option(m.get("metadata"))
        val deselected = md.flatMap(x => Option(x.get("selected")))
          .exists(n => n.isBoolean && !n.asBoolean)
        val automatic = md.flatMap(x => Option(x.get("inclusion")))
          .exists(_.asText == "automatic")
        if (deselected && !automatic) crumb else None
      }.map(_.toLowerCase).toSet).getOrElse(Set.empty[String])
      id.filter(_ => drops.nonEmpty).map(_ -> drops)
    }.toMap

  private def catalogStreams(catalogJson: String): Seq[JsonNode] =
    Option(SingerSink.mapper.readTree(catalogJson).get("streams")).toSeq.flatMap(_.elements().asScala)

  /** Apply a (possibly user-edited) Singer catalog to the config:
    * stream-level selection ([[selectedStreams]]) plus property-level
    * selection — a deselected property is removed from the stream's
    * declared columns BEFORE the sync, so it is absent from the SCHEMA
    * message and from every RECORD (the conformance projection is the
    * drop). Key properties and the replication key are always kept
    * (automatic inclusion: the bookmark and primary-key contracts must
    * survive any user selection), matching the singer-sdk standard
    * metadata semantics (reference: tap.py:196-202 via singer_sdk).
    */
  def applyCatalogSelection(tap: TapConfig, catalogJson: String): TapConfig = {
    val ids = selectedStreams(catalogJson)
    val drops = deselectedProperties(catalogJson)
    tap.copy(streams = tap.streams.filter(s => ids(s.streamId)).map { s =>
      val auto = (s.keyProperties ++ s.replicationKey).map(_.toLowerCase).toSet
      val drop = drops.getOrElse(s.streamId, Set.empty)
      if (drop.isEmpty) s
      else s.copy(columns = s.columns.filterNot(c =>
        drop(c.name.toLowerCase) && !auto(c.name.toLowerCase)))
    })
  }

  /** `--discover`: the Singer catalog. As in the reference, the catalog for
    * this tap comes from the configured streams (tap.py:211-215), not DB
    * introspection.
    */
  def catalogJson(tap: TapConfig): ObjectNode = {
    val root = obj()
    val streams = root.putArray("streams")
    tap.streams.foreach { s =>
      val method = if (s.replicationKey.isDefined) "INCREMENTAL" else "FULL_TABLE"
      val entry = streams.addObject().put("tap_stream_id", s.streamId).put("stream", s.name)
        .set[ObjectNode]("schema", TypeMapper.jsonSchema(s, TypeMapper.structType(s.columns)))
        .set[ObjectNode]("key_properties", strings(s.keyProperties))
        .put("replication_method", method)
      s.replicationKey.foreach(entry.put("replication_key", _))
      // singer-sdk STANDARD METADATA, under the names
      // get_standard_metadata emits: one root-breadcrumb entry with the
      // table facts and NO `selected` key (absent means selected), then
      // one ["properties", name] entry per column, `automatic` for key /
      // replication-key properties (they sync regardless of user
      // deselection) and `available` otherwise — so a discovered catalog
      // round-trips through deselectedProperties / applyCatalogSelection
      val metadata = entry.putArray("metadata")
      val tableMd = metadata.addObject().set[ObjectNode]("breadcrumb", strings(Nil))
        .putObject("metadata").put("inclusion", "available").put("schema-name", s.name)
        .set[ObjectNode]("table-key-properties", strings(s.keyProperties))
        .put("forced-replication-method", method)
      s.replicationKey.foreach(k => tableMd.putArray("valid-replication-keys").add(k))
      val auto = (s.keyProperties ++ s.replicationKey).map(_.toLowerCase).toSet
      s.columns.foreach { c =>
        metadata.addObject().set[ObjectNode]("breadcrumb", strings(Seq("properties", c.name)))
          .putObject("metadata")
          .put("inclusion", if (auto(c.name.toLowerCase)) "automatic" else "available")
      }
    }
    root
  }

  /** `--about`: capabilities/settings self-description (reference README:40,
    * capabilities at tap.py:244-259). `settings` names every top-level key
    * `ConfigParser.parseTap` reads, plus the per-stream `json_columns`.
    */
  def aboutJson: ObjectNode = obj().put("name", "graft")
    .set[ObjectNode]("capabilities", strings(Seq("state", "catalog", "discover", "about",
      "stream-maps", "flattening", "batch")))
    .set[ObjectNode]("settings", strings(Seq("host", "port", "user", "password", "database",
      "streams", "batch_config", "batch_size", "stream_maps", "stream_map_config",
      "flattening_enabled", "flattening_max_depth", "json_columns", "state_message_frequency",
      "execution", "jdbc_url", "jdbc_driver")))
}

/** CLI entry point mirroring the reference's (`tap.py:262-263`):
  * `graft.Main --config cfg.json [--discover|--about] [--state state.json]`.
  */
object Main {
  private val ValueOpts = Set("--config", "--state", "--catalog")
  private val FlagOpts = Set("--discover", "--about", "--version", "--introspect")

  /** Iterative arg parse: only options known to take a value consume the
    * next token, so `--discover --config cfg.json` parses the same as
    * `--config cfg.json --discover` (position-insensitive).
    */
  private[graft] def parseArgs(args: Array[String]): (Map[String, String], Set[String]) = {
    var opts = Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (FlagOpts(a)) { flags += a; i += 1 }
      else if (ValueOpts(a)) {
        if (i + 1 >= args.length) sys.error(s"option $a requires a value")
        opts += (a -> args(i + 1)); i += 2
      } else sys.error(s"unknown argument: $a")
    }
    (opts, flags)
  }

  /** stdout and stderr are UTF-8 whatever the platform charset. stderr
    * flushes on every line as `System.err` does; stdout is [[buffered]].
    */
  def main(args: Array[String]): Unit = {
    val err = new PrintStream(new FileOutputStream(FileDescriptor.err), true, UTF_8)
    val code = try run(args, buffered(new FileOutputStream(FileDescriptor.out)), err)
      finally SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(code)
  }

  /** The tap's stdout: UTF-8 through a 64 KB buffer, not flushed per line
    * (one `write(2)` per RECORD would cost more than encoding it). A STATE
    * line flushes it ([[SingerSink.emitState]]), so a STATE and every
    * RECORD before it always reach the target together, and [[run]]
    * flushes it on exit, also on failure.
    */
  private[graft] def buffered(fd: OutputStream): PrintStream =
    new PrintStream(new BufferedOutputStream(fd, 1 << 16), false, UTF_8)

  /** CLI body with the SDK's error contract: any config/validation/run
    * failure emits ONE structured CRITICAL line on stderr and exits
    * non-zero (singer_sdk logs CRITICAL through Python logging on stderr;
    * orchestrators like Meltano key off it), instead of a bare stack
    * trace. Stdout stays reserved for Singer messages. A sync runs on
    * `session()`, which [[main]] stops.
    */
  private[graft] def run(args: Array[String], out: PrintStream, err: PrintStream,
                         session: () => SparkSession = () => tapSession()): Int =
    try { body(args, out, session); 0 }
    catch {
      case e: Throwable =>
        line(err, obj().put("level", "CRITICAL").put("logger", "graft")
          .put("message", Option(e.getMessage).getOrElse(e.toString)))
        1
    } finally out.flush()

  private def tapSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-tap")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def body(args: Array[String], out: PrintStream, session: () => SparkSession): Unit = {
    val (opts, flags) = parseArgs(args)

    if (flags("--version")) { out.println("graft 0.1.0"); return }
    val cfgPath = opts.getOrElse("--config",
      sys.error("usage: graft.Main --config <cfg.json|ENV> [--discover|--about] " +
        "[--state <state.json>] [--catalog <catalog.json>]"))
    // --config=ENV: settings from TAP_RAWPOSTGRESQL_* environment
    // variables (reference README.md:46-50)
    val tap =
      if (cfgPath == "ENV") ConfigParser.fromEnv(sys.env)
      else ConfigParser.parseTap(
        java.nio.file.Files.readString(java.nio.file.Paths.get(cfgPath)))

    if (flags("--about")) { line(out, Tap.aboutJson); return }
    ConfigParser.validate(tap)
    if (flags("--discover")) {
      // config-based catalog by default (the reference's primary path,
      // tap.py:211-215); --introspect walks the live database instead
      // (client.py:85-104)
      line(out,
        if (flags("--introspect")) graft.sources.Discovery.catalogJson(tap)
        else Tap.catalogJson(tap))
      return
    }

    // --catalog: run only the streams the supplied catalog selects, minus
    // any per-property deselections (both SCHEMA and RECORD drop them)
    val effectiveTap = opts.get("--catalog")
      .map(p => Tap.applyCatalogSelection(tap,
        java.nio.file.Files.readString(java.nio.file.Paths.get(p))))
      .getOrElse(tap)

    Tap.syncAll(session(), effectiveTap, opts.get("--state"), out)
  }
}
