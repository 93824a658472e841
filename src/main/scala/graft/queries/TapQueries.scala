package graft.queries

import graft.Tables
import graft.config.ConfigParser
import graft.operators.{Flattener, StreamMap, StreamMaps}
import graft.sources.StreamSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Queries exercising the tap's own operator surface (SURVEY §2.1/§2.2):
  * raw-SQL scan, incremental predicate, conformance, projection-drop,
  * dialect rewriting, stream maps, flattening. Each runs the REAL engine
  * path (config JSON → parse → StreamSource.native → conformance), not a
  * hand-built equivalent.
  */
object TapQueries extends QueryFamily {

  private def run(json: String): Q = (spark, dir) => {
    Tables.register(spark, dir)
    StreamSource.native(spark, ConfigParser.parseStream(json))
  }

  private val rawScanJson =
    """{"name":"orders_big","sql":"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_totalprice > 1000.0",
      |"key_properties":["o_orderkey"],
      |"columns":[{"name":"o_orderkey","type":"bigint"},{"name":"o_custkey","type":"bigint"},
      |{"name":"o_totalprice","type":"double"},{"name":"o_orderdate","type":"datetime"}]}""".stripMargin

  private val incrementalJson =
    """{"name":"orders_inc","sql":"SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderdate > :rep_key_val",
      |"key_properties":["o_orderkey"],"replication_key":"o_orderdate",
      |"replication_key_value_start":"1995-06-01 00:00:00",
      |"columns":[{"name":"o_orderkey","type":"bigint"},{"name":"o_custkey","type":"bigint"},
      |{"name":"o_orderdate","type":"datetime"}]}""".stripMargin

  private val conformJson =
    """{"name":"customer_conform","sql":"SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
      |"key_properties":["c_custkey"],
      |"columns":[{"name":"c_custkey","type":"string"},{"name":"c_name","type":"text"},
      |{"name":"c_nationkey","type":"bigint"},{"name":"c_acctbal","type":"double"}]}""".stripMargin

  // PG-isms from the reference's own test SQL (FIXTURES.md F4) plus the
  // wider real-config surface: '::uuid' cast, timestamptz literal,
  // double-quoted identifier, posix-regex match (~), and
  // extract(epoch from …) — all rewritten by SqlDialect.
  private val dialectJson =
    """{"name":"nation_dialect","sql":"SELECT '1441C21D-9921-4a1d-B239-9C6EA18AF234'::uuid AS id, timestamptz '2021-11-22T11:45:11.062824+00:00' AS last_updated, extract(epoch from timestamp '2021-11-22 00:00:00') AS epoch_s, \"n_nationkey\", n_name, CASE WHEN n_name ~ '^A' THEN 1 ELSE 0 END AS starts_a FROM nation",
      |"key_properties":["n_nationkey"],
      |"columns":[{"name":"id","type":"uuid"},{"name":"last_updated","type":"datetime"},
      |{"name":"epoch_s","type":"bigint"},
      |{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"text"},
      |{"name":"starts_a","type":"int"}]}""".stripMargin

  // PG numeric to_char templates — rewritten by SqlDialect to the
  // native PG-rules renderer (pg_to_char_num / plans.PgNumFormat):
  // padded+grouped, FM, forced zeros, trailing-S sign, over real
  // positive AND negative acctbal values. The oracle replays each fixed
  // template with DuckDB format/printf + the PG sign-column rules.
  private val toCharNumericJson =
    """{"name":"customer_tochar","sql":"SELECT c_custkey, to_char(c_acctbal::numeric(12,2), '99,990.00') AS amt_pad, to_char(c_acctbal::numeric(12,2), 'FM99,990.00') AS amt_fm, to_char(c_acctbal::numeric(12,2), '0000.00') AS amt_zero, to_char(c_acctbal::numeric(12,2), 'FM99,990.00S') AS amt_s FROM customer",
      |"key_properties":["c_custkey"],
      |"columns":[{"name":"c_custkey","type":"bigint"},{"name":"amt_pad","type":"text"},{"name":"amt_fm","type":"text"},{"name":"amt_zero","type":"text"},{"name":"amt_s","type":"text"}]}""".stripMargin

  // PG JSON extraction operators (`->`, `->>`, `#>>`) over the events
  // props column plus inline-built nested JSON — rewritten by SqlDialect
  // to get_json_object; DuckDB runs its native `->>` / JSONPath forms as
  // the oracle (it has no `#>>`).
  private val jsonOpsJson =
    """{"name":"events_json","sql":"SELECT event_id, props ->> 'k' AS k_txt, ('{\"a\": {\"b\": [5,' || (props ->> 'k') || ']}}') #>> '{a,b,1}' AS nested, ('{\"arr\": [10,20,30]}'::json -> 'arr') ->> 1 AS second FROM events WHERE (props ->> 'k')::int >= 50",
      |"key_properties":["event_id"],
      |"columns":[{"name":"event_id","type":"bigint"},{"name":"k_txt","type":"text"},
      |{"name":"nested","type":"text"},{"name":"second","type":"text"}]}""".stripMargin

  // PG quantified comparisons over array literals (`= ANY('{…}')`,
  // `::int[]`) and an array-literal cast — rewritten to IN lists /
  // typed array(); the oracle states the equivalent IN form directly.
  private val anyArrayJson =
    """{"name":"nation_any","sql":"SELECT n_nationkey, n_name, cardinality('{tag1,tag2,tag3}'::text[]) AS n_tags FROM nation WHERE n_name = ANY('{FRANCE,GERMANY,CANADA,JAPAN}') OR n_nationkey = ANY('{1,2}'::int[])",
      |"key_properties":["n_nationkey"],
      |"columns":[{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"text"},
      |{"name":"n_tags","type":"int"}]}""".stripMargin

  // PG `SIMILAR TO` (SQL regex, whole-string match): alternation, `\_`
  // literal-underscore escape, `_` single-char wildcard — and the PG
  // rule that `.` `^` `$` are LITERAL characters (PG docs §9.7.2), which
  // the two trailing clauses pin: 'NATION.5' and 'NATION_1$' must match
  // NOTHING (fixture names have no '.' or '$'); an unescaped rewrite
  // would match NATION_5 / NATION_1. DuckDB's own SIMILAR TO is raw
  // regex (different semantics), so the oracle states the PG meaning
  // explicitly via regexp_full_match.
  private val similarToJson =
    """{"name":"nation_similar","sql":"SELECT n_nationkey, n_name FROM nation WHERE n_name SIMILAR TO 'NATION\\_(1|2)_' OR n_name SIMILAR TO 'NATION.5' OR n_name SIMILAR TO 'NATION_1$'",
      |"key_properties":["n_nationkey"],
      |"columns":[{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"text"}]}""".stripMargin

  // PG explicit-operator syntax, LIKE-family operators (~~ / ~~* and
  // negations), a COLLATE clause, and a ::regclass cast — the dialect
  // long tail; DuckDB runs the plain LIKE/ILIKE equivalent as oracle.
  private val operatorCollateJson =
    """{"name":"nation_ops","sql":"SELECT n_nationkey, n_name FROM nation WHERE (n_name OPERATOR(pg_catalog.~~) 'NATION_1%' OR n_name ~~* 'nation_2_' OR (n_name COLLATE \"C\") !~~* '%2%') AND 'nation'::regclass = 'nation'",
      |"key_properties":["n_nationkey"],
      |"columns":[{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"text"}]}""".stripMargin

  // PG ordered array_agg + array_to_string — the most common PG
  // aggregation idiom the Spark parser rejects verbatim: the dialect
  // layer rewrites the single-key ORDER BY form to the struct-sort
  // shape and injects array_join's element cast. DESC exercised with a
  // globally-unique key so both engines' tie behavior is moot.
  private val arrayAggJson =
    """{"name":"cust_orders","sql":"SELECT o_custkey, array_to_string(array_agg(o_orderkey ORDER BY o_orderkey DESC), ',') AS recent_desc, array_to_string(array_agg(o_orderkey ORDER BY o_orderkey), ',') AS all_asc, count(*) AS n FROM orders WHERE o_totalprice > 100000.0 GROUP BY o_custkey",
      |"key_properties":["o_custkey"],
      |"columns":[{"name":"o_custkey","type":"bigint"},{"name":"recent_desc","type":"text"},
      |{"name":"all_asc","type":"text"},{"name":"n","type":"bigint"}]}""".stripMargin

  // PG interval long tail (VERDICT r6 item 4): the `'…'::interval` cast
  // spelling, the native multi-unit `interval '…'` literal (Spark parses
  // it — the rewrite leaves it alone), and `(s1,e1) OVERLAPS (s2,e2)`
  // expanded to the SQL-standard normalized formula — all staying on the
  // native Catalyst path (comparisons push down; no fallback needed).
  private val intervalJson =
    """{"name":"orders_interval","sql":"SELECT o_orderkey, o_orderdate::timestamp + '30 days'::interval AS due, o_orderdate::timestamp + interval '12 hours' AS due_h FROM orders WHERE (o_orderdate::timestamp, o_orderdate::timestamp + '7 days'::interval) OVERLAPS (timestamp '1995-06-01 00:00:00', timestamp '1995-06-08 00:00:00')",
      |"key_properties":["o_orderkey"],
      |"columns":[{"name":"o_orderkey","type":"bigint"},{"name":"due","type":"datetime"},
      |{"name":"due_h","type":"datetime"}]}""".stripMargin

  // SELECT * but only 3 declared columns: conformance drops the rest
  // (reference: client.py:147-154 unmapped-property drop).
  private val projectionJson =
    """{"name":"documents_proj","sql":"SELECT * FROM documents",
      |"key_properties":["doc_id"],
      |"columns":[{"name":"doc_id","type":"bigint"},{"name":"lang","type":"text"},
      |{"name":"source","type":"text"}]}""".stripMargin

  // PG `DISTINCT ON`: first lineitem per order under the declared ORDER
  // BY — rewritten by SqlDialect into a row_number window; DuckDB runs
  // the original form natively as the oracle.
  private val distinctOnJson =
    """{"name":"li_first","sql":"SELECT DISTINCT ON (l_orderkey) l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_quantity DESC, l_linenumber",
      |"key_properties":["l_orderkey"],
      |"columns":[{"name":"l_orderkey","type":"bigint"},{"name":"l_linenumber","type":"int"},
      |{"name":"l_quantity","type":"double"}]}""".stripMargin

  /** Load the (25-row) nation fixture into an embedded Derby database so a
    * pushdown entry has a live remote to execute against — test-harness
    * setup, not part of the measured operator (the reference's remote is
    * the live PostgreSQL its tests spin up).
    */
  private def derbyNationTap(spark: SparkSession, dir: String,
                             dbName: String): graft.config.TapConfig = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = s"jdbc:derby:memory:$dbName;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE nation")
      catch { case _: java.sql.SQLException => () } // first run: no table
      st.executeUpdate(
        "CREATE TABLE nation (n_nationkey INT, n_name VARCHAR(64), n_regionkey INT)")
      val ps = conn.prepareStatement("INSERT INTO nation VALUES (?,?,?)")
      Tables.read(spark, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect().foreach { r =>
          ps.setInt(1, r.getInt(0)); ps.setString(2, r.getString(1))
          ps.setInt(3, r.getInt(2)); ps.executeUpdate()
        }
    } finally conn.close()
    graft.config.TapConfig(
      jdbcUrl = Some(s"jdbc:derby:memory:$dbName"),
      jdbcDriver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
  }

  /** Load the orders fixture into an embedded Derby database — the live
    * remote for the partitioned-extraction entry (like [[derbyNationTap]],
    * test-harness setup, not part of the measured operator).
    */
  private def derbyOrdersTap(spark: SparkSession, dir: String,
                             dbName: String): graft.config.TapConfig = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = s"jdbc:derby:memory:$dbName;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE orders")
      catch { case _: java.sql.SQLException => () } // first run: no table
      st.executeUpdate(
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement("INSERT INTO orders VALUES (?,?,?)")
      Tables.read(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect().foreach { r =>
          ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
          ps.setDouble(3, r.getDouble(2)); ps.addBatch()
        }
      ps.executeBatch(); conn.commit()
    } finally conn.close()
    graft.config.TapConfig(
      jdbcUrl = Some(s"jdbc:derby:memory:$dbName"),
      jdbcDriver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
  }

  // Partitioned JDBC extraction — the engine's core scale claim over the
  // reference's single cursor (client.py:106-119,300-304): the same
  // incremental stream syncs once through the single-cursor path and once
  // through jdbcAutoPartitioned (min/max bounds probe → 4 concurrent
  // range cursors), and both must produce identical rows AND advance the
  // bookmark to the identical value (VERDICT r8 item 1).
  private val jdbcPartitionedJson =
    """{"name":"orders_part","sql":"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey > :rep_key_val",
      |"key_properties":["o_orderkey"],"replication_key":"o_orderkey",
      |"replication_key_value_start":"32",
      |"columns":[{"name":"o_orderkey","type":"bigint"},{"name":"o_custkey","type":"bigint"},
      |{"name":"o_totalprice","type":"double"}]}""".stripMargin

  // Auto-mode pushdown fallback: `FETCH FIRST n ROWS ONLY` is SQL:2008
  // that PostgreSQL (and Derby, our live stand-in) executes but Spark's
  // parser rejects and SqlDialect deliberately doesn't rewrite — the
  // dialect long tail. In `execution: "auto"` the engine tries the
  // native path, catches the AnalysisException, and ships the ORIGINAL
  // SQL to the remote database — the reference's execute-anything
  // behavior (client.py:300-304). nation is ALSO registered as a Spark
  // view here, proving the fallback triggers on parseability, not on a
  // missing table.
  private val pushdownJson =
    """{"name":"nation_push","sql":"SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey FETCH FIRST 5 ROWS ONLY",
      |"key_properties":["n_nationkey"],"execution":"auto",
      |"columns":[{"name":"n_nationkey","type":"int"},{"name":"n_name","type":"text"}]}""".stripMargin

  /** The SQL of every stream config above, for the dialect-rewrite pin. */
  private[graft] def streamSql: Seq[String] = Seq(rawScanJson, incrementalJson,
    conformJson, dialectJson, toCharNumericJson, jsonOpsJson, anyArrayJson,
    similarToJson, operatorCollateJson, arrayAggJson, intervalJson,
    projectionJson, distinctOnJson, jdbcPartitionedJson, pushdownJson)
    .map(ConfigParser.parseStream(_).sql)

  lazy val entries: Seq[Entry] = Seq(

    entry("tap_pushdown_fallback", (spark, dir) => {
      Tables.register(spark, dir)
      val tap = derbyNationTap(spark, dir, "graftpush")
      StreamSource.execute(spark, tap, ConfigParser.parseStream(pushdownJson))
    },
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey FETCH FIRST 5 ROWS ONLY""".stripMargin),

    entry("tap_jdbc_partitioned", (spark, dir) => {
      import graft.state.Bookmarks
      val tap = derbyOrdersTap(spark, dir, "graftpart")
      val stream = ConfigParser.parseStream(jdbcPartitionedJson)
      val single = StreamSource.jdbc(spark, tap, stream)
      val part = StreamSource.jdbcAutoPartitioned(spark, tap, stream,
        numPartitions = 4)
      // the partitioned read must actually fan out: 4 range cursors, not
      // a silent fallback to one
      require(part.rdd.getNumPartitions >= 4,
        s"partitioned extraction collapsed to ${part.rdd.getNumPartitions} cursor(s)")
      // both paths advance the bookmark through the REAL state machinery;
      // the value rides in the output so the oracle checks it too
      def bm(df: org.apache.spark.sql.DataFrame): String =
        Bookmarks.advance(stream, df, Bookmarks.empty)
          .bookmark(stream.streamId)
          .getOrElse(sys.error("sync produced no bookmark"))
      single.withColumn("path", lit("single"))
        .withColumn("bookmark", lit(bm(single)))
        .unionByName(part.withColumn("path", lit("partitioned"))
          .withColumn("bookmark", lit(bm(part))))
    },
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |    FROM orders WHERE o_orderkey > 32),
        |  bm AS (SELECT CAST(max(o_orderkey) AS VARCHAR) AS bookmark FROM base)
        |SELECT 'single' AS path, b.*, bm.bookmark FROM base b CROSS JOIN bm
        |UNION ALL
        |SELECT 'partitioned' AS path, b.*, bm.bookmark FROM base b CROSS JOIN bm""".stripMargin),

    entry("tap_to_char_numeric", run(toCharNumericJson),
      // fixed-template DuckDB replay of the PG numeric to_char rules:
      // grouped format + lpad for the sign column, printf %0 for forced
      // zeros, floating '-' adjacent to the digits
      """WITH v AS (SELECT c_custkey,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS a FROM customer),
        |f AS (SELECT c_custkey, a,
        |    concat(format('{:,}', CAST(trunc(abs(a)) AS BIGINT)),
        |      right(printf('%.2f', CAST(abs(a) AS DOUBLE)), 3)) AS g,
        |    printf('%07.2f', CAST(abs(a) AS DOUBLE)) AS z FROM v)
        |SELECT c_custkey,
        |  lpad(CASE WHEN a < 0 THEN '-' || g ELSE g END, 10, ' ')
        |    AS amt_pad,
        |  CASE WHEN a < 0 THEN '-' || g ELSE g END AS amt_fm,
        |  concat(CASE WHEN a < 0 THEN '-' ELSE ' ' END, z) AS amt_zero,
        |  concat(g, CASE WHEN a < 0 THEN '-' ELSE '+' END) AS amt_s
        |FROM f""".stripMargin),

    entry("tap_raw_sql_scan", run(rawScanJson),
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_totalprice > 1000.0""".stripMargin),

    entry("tap_incremental", run(incrementalJson),
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_orderdate > TIMESTAMP '1995-06-01 00:00:00'""".stripMargin),

    entry("tap_conform_cast", run(conformJson),
      """SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
        |CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal FROM customer""".stripMargin),

    entry("tap_dialect_rewrite", run(dialectJson),
      """SELECT lower('1441C21D-9921-4a1d-B239-9C6EA18AF234') AS id,
        |TIMESTAMP '2021-11-22 11:45:11.062824' AS last_updated,
        |CAST(epoch(TIMESTAMP '2021-11-22 00:00:00') AS BIGINT) AS epoch_s,
        |n_nationkey, n_name,
        |CASE WHEN regexp_matches(n_name, '^A') THEN 1 ELSE 0 END AS starts_a
        |FROM nation""".stripMargin),

    entry("tap_distinct_on", run(distinctOnJson),
      """SELECT DISTINCT ON (l_orderkey) l_orderkey, l_linenumber, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_quantity DESC, l_linenumber""".stripMargin),

    entry("tap_json_ops", run(jsonOpsJson),
      """SELECT event_id, props ->> 'k' AS k_txt,
        |json_extract_string('{"a": {"b": [5,' || (props ->> 'k') || ']}}', '$.a.b[1]') AS nested,
        |json_extract_string('{"arr": [10,20,30]}', '$.arr[1]') AS second
        |FROM events WHERE CAST(props ->> 'k' AS INTEGER) >= 50""".stripMargin),

    entry("tap_any_array", run(anyArrayJson),
      """SELECT n_nationkey, n_name, 3 AS n_tags FROM nation
        |WHERE n_name IN ('FRANCE','GERMANY','CANADA','JAPAN') OR n_nationkey IN (1,2)""".stripMargin),

    entry("tap_similar_to", run(similarToJson),
      // DuckDB's SIMILAR TO is raw regex, NOT PG SIMILAR TO — the oracle
      // states the PG semantics (\_ literal, _ any-char, . ^ $ literal).
      """SELECT n_nationkey, n_name FROM nation
        |WHERE regexp_full_match(n_name, 'NATION_(1|2).')
        |OR regexp_full_match(n_name, 'NATION\.5')
        |OR regexp_full_match(n_name, 'NATION.1\$')""".stripMargin),

    entry("tap_operator_collate", run(operatorCollateJson),
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_name LIKE 'NATION_1%' OR n_name ILIKE 'nation_2_'
        |OR n_name NOT ILIKE '%2%'""".stripMargin),

    entry("tap_projection", run(projectionJson),
      "SELECT doc_id, lang, source FROM documents"),

    entry("tap_interval", run(intervalJson),
      // non-point normalized periods: the standard OVERLAPS formula
      // reduces to the half-open check s1 < e2 AND s2 < e1
      """SELECT o_orderkey,
        |CAST(o_orderdate AS TIMESTAMP) + INTERVAL '30 days' AS due,
        |CAST(o_orderdate AS TIMESTAMP) + INTERVAL '12 hours' AS due_h
        |FROM orders
        |WHERE CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1995-06-08 00:00:00'
        |AND TIMESTAMP '1995-06-01 00:00:00' < CAST(o_orderdate AS TIMESTAMP) + INTERVAL '7 days'""".stripMargin),

    entry("tap_array_agg", run(arrayAggJson),
      """SELECT o_custkey, array_to_string(array_agg(o_orderkey
        |    ORDER BY o_orderkey DESC), ',') AS recent_desc,
        |  array_to_string(array_agg(o_orderkey ORDER BY o_orderkey), ',')
        |    AS all_asc,
        |  count(*) AS n
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY o_custkey""".stripMargin),

    entry("tap_stream_map", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_returnflag")
      StreamMaps(li, StreamMap(
        computed = Seq("revenue" -> "l_extendedprice * (1 - l_discount)"),
        aliases = Seq("l_returnflag" -> "flag"),
        dropped = Seq("l_quantity", "l_extendedprice", "l_discount"),
        filter = Some("l_quantity > 10.0")))
    },
      """SELECT l_orderkey, l_linenumber, l_returnflag AS flag,
        |l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem WHERE l_quantity > 10.0""".stripMargin),

    entry("tap_flatten", (spark, dir) => {
      val df = Tables.read(spark, dir, "customer").select(
        struct(col("c_custkey").as("custkey"),
          struct(col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg")).as("acct")).as("c"),
        col("c_name"))
      Flattener.flatten(df)
    },
      """SELECT c_custkey AS c__custkey, c_acctbal AS c__acct__bal,
        |c_mktsegment AS c__acct__seg, c_name FROM customer""".stripMargin),

    // JSON-value flattening (VERDICT r8 missing #3, r9-ADVICE form): a
    // PG json/jsonb value arriving as a STRING column — EXPLICITLY
    // declared via json_columns, with the inference sample ordered by
    // the key — parses through the bounded schema-inference hop, then
    // flattens to `__` names like any struct, leaving a `props__raw`
    // fallback (all-null here: every value is a matching object). The
    // JSON text is constructed deterministically from fixture columns,
    // so the oracle replays the flattened values straight from the base
    // table — the whole hop (inference, parse, name mangling, value
    // extraction, raw fallback) is hash-checked.
    entry("tap_flatten_json", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        concat(lit("{\"cust\":"), col("o_custkey").cast("string"),
          lit(",\"meta\":{\"status\":\""), col("o_orderstatus"),
          lit("\"}}")).as("props"))
      Flattener.flatten(Flattener.parseJsonStrings(o, Seq("props"),
        orderBy = Seq("okey")))
    },
      // the JSON hop replayed from the base columns the JSON was built of;
      // every value parses, so the raw fallback is uniformly NULL
      """SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |CAST(o_custkey AS BIGINT) AS props__cust,
        |o_orderstatus AS props__meta__status,
        |CAST(NULL AS VARCHAR) AS props__raw FROM orders""".stripMargin),

    // The lossless-hop pin (r9 ADVICE high, r10 ADVICE null-literal
    // gap): PG json routinely mixes objects with arrays, scalars and
    // the JSON `null` LITERAL in ONE column. Object rows parse and
    // flatten; every non-object row — INCLUDING the literal "null",
    // which from_json turns into a null struct without touching the
    // corrupt-record channel — keeps its ORIGINAL text in
    // `props__raw`; nothing silently NULLs. The four shapes key off
    // o_orderkey % 4, so the oracle replays both the parsed field and
    // the raw fallback exactly.
    entry("tap_flatten_json_mixed", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders").select(
        col("o_orderkey").cast("long").as("okey"),
        when(col("o_orderkey") % 4 === 0,
            concat(lit("{\"cust\":"), col("o_custkey").cast("string"),
              lit("}")))
          .when(col("o_orderkey") % 4 === 1,
            concat(lit("["), col("o_custkey").cast("string"), lit(",7]")))
          .when(col("o_orderkey") % 4 === 2, lit("null"))
          .otherwise(lit("plain text, not json")).as("props"))
      Flattener.flatten(Flattener.parseJsonStrings(o, Seq("props"),
        orderBy = Seq("okey")))
    },
      // mixed-shape hop: objects parse; arrays/scalars/the JSON null
      // literal keep their exact original text in the raw fallback
      """SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_custkey AS BIGINT) END
        |  AS props__cust,
        |CASE WHEN o_orderkey % 4 = 1
        |    THEN '[' || CAST(o_custkey AS VARCHAR) || ',7]'
        |  WHEN o_orderkey % 4 = 2 THEN 'null'
        |  WHEN o_orderkey % 4 = 3 THEN 'plain text, not json' END
        |  AS props__raw
        |FROM orders""".stripMargin))
}
