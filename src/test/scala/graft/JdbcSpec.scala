package graft

import graft.config.ConfigParser
import graft.sources.StreamSource
import org.apache.spark.sql.jdbc.JdbcDialects
import java.lang.reflect.{Method, Proxy}
import java.sql.Connection
import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite

/** JDBC pushdown path: option-map construction (no live database in this
  * environment — the reader itself is `spark.read.format("jdbc")`, pure
  * Spark; what's ours is watermark substitution and partitioned-extraction
  * wiring).
  */
class JdbcSpec extends AnyFunSuite {

  private val tap = ConfigParser.parseTap(
    """{"host":"db.example.com","port":5439,"user":"u","password":"p","database":"warehouse",
      |"streams":[{"name":"s","sql":"SELECT id, at FROM t WHERE at > :rep_key_val",
      | "key_properties":["id"],"replication_key":"at",
      | "replication_key_value_start":"2021-01-01 00:00:00",
      | "columns":[{"name":"id","type":"bigint"},{"name":"at","type":"datetime"}]}]}""".stripMargin)

  test("query pushdown options with bound watermark") {
    val opts = StreamSource.jdbcOptions(tap, tap.streams.head)
    assert(opts("url") === "jdbc:postgresql://db.example.com:5439/warehouse")
    assert(opts("driver") === "org.postgresql.Driver")
    assert(opts("query") ===
      "SELECT id, at FROM t WHERE at > TIMESTAMP '2021-01-01 00:00:00'")
  }

  test("partitioned extraction swaps query for dbtable + bounds") {
    val opts = StreamSource.jdbcOptions(tap, tap.streams.head,
      numPartitions = 8, bounds = Some(("2021-01-01", "2022-01-01")))
    assert(!opts.contains("query"))
    assert(opts("dbtable").startsWith("(SELECT id, at FROM t WHERE at > TIMESTAMP"))
    assert(opts("partitionColumn") === "at")
    assert(opts("numPartitions") === "8")
  }

  // Spark's PostgreSQL dialect turns autocommit off before a read only
  // when the options carry a positive fetch size, and the PostgreSQL
  // driver streams through a server-side cursor only with autocommit off.
  // A proxy Connection records what the dialect does with the tap's
  // options, with no driver or server.
  test("the tap's JDBC options make the PostgreSQL dialect read through a cursor") {
    val calls = ArrayBuffer.empty[String]
    val conn = Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      (_: AnyRef, m: Method, args: Array[AnyRef]) => {
        calls += s"${m.getName}(${Option(args).map(_.mkString(",")).getOrElse("")})"
        null
      }).asInstanceOf[Connection]
    val url = "jdbc:postgresql://h/db"
    val opts = StreamSource.jdbcOptions(tap, tap.streams.head)
    assert(opts("fetchsize").toInt > 0)
    JdbcDialects.get(url).beforeFetch(conn, opts)
    assert(calls.toSeq === Seq("setAutoCommit(false)"))
    // without the option the dialect leaves autocommit alone
    calls.clear()
    JdbcDialects.get(url).beforeFetch(conn, opts - "fetchsize")
    assert(calls.isEmpty)
  }

  test("live end-to-end JDBC extraction against embedded Derby") {
    // the reference's core path — SQL shipped to a real database over a
    // connection — exercised against Derby (in Spark's jars)
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE users (id BIGINT, name VARCHAR(32))")
      st.execute("INSERT INTO users VALUES (1, 'ada'), (2, 'grace'), (3, 'edsger')")
    } finally conn.close()

    val derbyTap = ConfigParser.parseTap(
      """{"jdbc_url":"jdbc:derby:memory:graftdb","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"users","sql":"SELECT id, name FROM users WHERE id > :rep_key_val",
        | "key_properties":["id"],"replication_key":"id","replication_key_value_start":1,
        | "columns":[{"name":"id","type":"bigint"},{"name":"name","type":"text"}]}]}""".stripMargin)
    val df = StreamSource.jdbc(SparkTestSession.spark, derbyTap, derbyTap.streams.head)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((2L, "grace"), (3L, "edsger")))

    // bookmark advances to the max extracted id
    val st2 = graft.state.Bookmarks.advance(derbyTap.streams.head, df,
      graft.state.Bookmarks.empty)
    assert(st2.bookmark(derbyTap.streams.head.streamId) === Some("3"))
  }

  test("auto-partitioned extraction derives bounds from the live source") {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = "jdbc:derby:memory:graftauto;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ap (id BIGINT, v VARCHAR(16))")
      val ps = conn.prepareStatement("INSERT INTO ap VALUES (?, ?)")
      (1 to 500).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"v$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()

    val tap3 = ConfigParser.parseTap(
      """{"jdbc_url":"jdbc:derby:memory:graftauto","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"ap","sql":"SELECT id, v FROM ap WHERE id > :rep_key_val",
        | "key_properties":["id"],"replication_key":"id","replication_key_value_start":100,
        | "columns":[{"name":"id","type":"bigint"},{"name":"v","type":"text"}]}]}""".stripMargin)
    val df = StreamSource.jdbcAutoPartitioned(SparkTestSession.spark, tap3,
      tap3.streams.head, numPartitions = 4)
    // bounds derived from the watermark-bound SQL: min 101, max 500
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 400)
    assert(df.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).collect()(0)
      .toSeq === Seq(101L, 500L))

    // a stream with no replication key falls back to the single cursor
    val full = ConfigParser.parseTap(
      """{"jdbc_url":"jdbc:derby:memory:graftauto","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"ap","sql":"SELECT id, v FROM ap",
        | "key_properties":["id"],
        | "columns":[{"name":"id","type":"bigint"},{"name":"v","type":"text"}]}]}""".stripMargin)
    assert(StreamSource.jdbcAutoPartitioned(SparkTestSession.spark, full,
      full.streams.head).count() === 500)
  }

  test("jdbc JSON hop: declared json_columns parse+flatten; undeclared never restructure") {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = "jdbc:derby:memory:graftjson;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE j (id BIGINT, props VARCHAR(128), note VARCHAR(64))")
      st.execute("""INSERT INTO j VALUES
        |(1, '{"cust": 10, "kind": "a"}', '{"sniff": "me"}'),
        |(2, '[7, 8]', '{"sniff": "me too"}'),
        |(3, '{"cust": 30, "kind": "c"}', 'plain')""".stripMargin)
    } finally conn.close()
    // Derby declares no json/jsonb type: the metadata path must come
    // back EMPTY (and never error) — so without explicit json_columns
    // the flatten path leaves every string column alone, even `note`,
    // whose first rows are object-shaped (the r9 no-sniffing contract)
    val base =
      """{"jdbc_url":"jdbc:derby:memory:graftjson","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"j","sql":"SELECT id, props, note FROM j",
        | "key_properties":["id"],%s
        | "columns":[{"name":"id","type":"bigint"},
        |   %s{"name":"note","type":"text"}]}]}""".stripMargin
    val noDecl = ConfigParser.parseTap(base.format("",
      """{"name":"props","type":"text"},"""))
    assert(StreamSource.jsonTypedColumns(noDecl,
      "SELECT id, props, note FROM j") === Seq.empty)
    val plain = StreamSource.jdbc(SparkTestSession.spark, noDecl,
      noDecl.streams.head, flattenDepth = Some(Int.MaxValue))
    assert(plain.columns.toSeq === Seq("id", "props", "note"))
    assert(plain.where(org.apache.spark.sql.functions.col("id") === 2)
      .head().getString(1) === "[7, 8]")
    // explicit json_columns: props parses + flattens, its non-object
    // row keeps the original text in props__raw; note stays a string
    val decl = ConfigParser.parseTap(base.format(
      """"json_columns":["props"],""",
      """{"name":"props__cust","type":"bigint","nullable":true},
        |{"name":"props__kind","type":"text","nullable":true},
        |{"name":"props__raw","type":"text","nullable":true},""".stripMargin))
    val flat = StreamSource.jdbc(SparkTestSession.spark, decl,
      decl.streams.head, flattenDepth = Some(Int.MaxValue))
      .orderBy("id").collect()
    assert(flat(0).getLong(1) === 10L && flat(0).getString(2) === "a" &&
      flat(0).isNullAt(3))
    assert(flat(1).isNullAt(1) && flat(1).getString(3) === "[7, 8]")
    assert(flat(2).getLong(1) === 30L && flat(2).isNullAt(3))
    assert(flat(0).getString(4).contains("sniff")) // note untouched
  }

  test("live partitioned JDBC extraction: parallel cursors, same rows") {
    // the genuine scale improvement over the reference's single cursor
    // (client.py:300-304): N Spark tasks each open their own slice cursor
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val url = "jdbc:derby:memory:graftpart;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE evts (id BIGINT, v VARCHAR(16))")
      val ps = conn.prepareStatement("INSERT INTO evts VALUES (?, ?)")
      (1 to 1000).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"v$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()

    val tap2 = ConfigParser.parseTap(
      """{"jdbc_url":"jdbc:derby:memory:graftpart","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"evts","sql":"SELECT id, v FROM evts WHERE id > :rep_key_val",
        | "key_properties":["id"],"replication_key":"id","replication_key_value_start":0,
        | "columns":[{"name":"id","type":"bigint"},{"name":"v","type":"text"}]}]}""".stripMargin)

    val partitioned = StreamSource.jdbc(SparkTestSession.spark, tap2,
      tap2.streams.head, numPartitions = 4, bounds = Some(("1", "1000")))
    assert(partitioned.rdd.getNumPartitions === 4,
      "expected one input slice per configured partition")
    val single = StreamSource.jdbc(SparkTestSession.spark, tap2, tap2.streams.head)
    assert(partitioned.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === single.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    assert(partitioned.count() === 1000)
  }

  // auto mode must also fall back when SqlDialect.rewrite ITSELF refuses a
  // construct (negative PG JSON path index — no get_json_object form), not
  // only when Spark's parser does; observable here as the failure moving
  // from the local rewrite error to the remote connection error. The
  // empty-SQL contract error stays local (reference client.py:255-258).
  test("auto mode: dialect-rewrite refusal routes to pushdown; empty SQL does not") {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val tap3 = ConfigParser.parseTap(
      """{"jdbc_url":"jdbc:derby:memory:graftnosuchdb","jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver",
        |"streams":[{"name":"t","sql":"SELECT props #> '{a,-1}' AS x FROM t","execution":"auto",
        | "key_properties":["x"],"columns":[{"name":"x","type":"text"}]}]}""".stripMargin)
    val e = intercept[Throwable](
      StreamSource.execute(SparkTestSession.spark, tap3, tap3.streams.head))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(!chain(e).exists(_.contains("get_json_object")),
      s"rewrite refusal must not surface — pushdown should be attempted: $e")
    assert(chain(e).exists(m => m.contains("not found") || m.contains("nosuchdb")),
      s"failure should come from the remote connection attempt: ${chain(e)}")

    val empty = tap3.copy(streams = tap3.streams.map(_.copy(sql = "  ")))
    val e2 = intercept[IllegalArgumentException](
      StreamSource.execute(SparkTestSession.spark, empty, empty.streams.head))
    assert(e2.getMessage.contains("sql must not be empty"))
  }
}
