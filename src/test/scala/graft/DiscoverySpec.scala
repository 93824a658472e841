package graft

import graft.config.ConfigParser
import graft.sources.{Discovery, StreamSource}
import org.scalatest.funsuite.AnyFunSuite

/** Introspective discovery against live embedded Derby: schemas/tables/
  * views enumerate into catalog entries with JDBC-derived column types and
  * primary-key key_properties (reference: client.py:85-104), system
  * schemas excluded, and a discovered entry is directly runnable.
  */
class DiscoverySpec extends AnyFunSuite {

  private val url = "jdbc:derby:memory:graftdisc;create=true"
  private val tapJson =
    """{"database":"discdb","jdbc_url":"jdbc:derby:memory:graftdisc",
      |"jdbc_driver":"org.apache.derby.iapi.jdbc.AutoloadedDriver","streams":[]}""".stripMargin

  private lazy val prepared: Unit = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE inv (
        |id BIGINT NOT NULL, qty INT, price DECIMAL(12,2), label VARCHAR(64),
        |ts TIMESTAMP, ok BOOLEAN, PRIMARY KEY (id))""".stripMargin)
      st.execute("INSERT INTO inv VALUES (1, 5, 9.99, 'a', TIMESTAMP('2021-01-01 00:00:00'), true)")
      st.execute("INSERT INTO inv VALUES (2, 7, 1.50, 'b', TIMESTAMP('2022-01-01 00:00:00'), false)")
      st.execute("CREATE VIEW inv_v AS SELECT id, qty FROM inv")
    } finally conn.close()
  }

  test("introspection enumerates user tables/views with typed columns and keys") {
    prepared
    val tap = ConfigParser.parseTap(tapJson)
    val streams = Discovery.introspect(tap)
    val names = streams.map(_.name)
    assert(names.contains("INV") && names.contains("INV_V"))
    // no Derby SYS* catalogs leak through
    assert(streams.forall(s => !Discovery.isSystemSchema(s.schema)))

    val inv = streams.find(_.name == "INV").get
    assert(inv.keyProperties === Seq("ID")) // from getPrimaryKeys
    val types = inv.columns.map(c => c.name -> c.typeName).toMap
    assert(types("ID") === "bigint")
    assert(types("QTY") === "int")
    assert(types("PRICE") === "decimal(12,2)")
    assert(types("LABEL") === "text")
    assert(types("TS") === "timestamp")
    assert(types("OK") === "boolean")
    assert(!inv.columns.find(_.name == "ID").get.nullable) // NOT NULL PK
    assert(inv.columns.find(_.name == "QTY").get.nullable)

    // every discovered type round-trips through the tap's type table
    streams.flatMap(_.columns).foreach(c =>
      graft.types.TypeMapper.toDataType(c.typeName))
  }

  test("introspected catalog renders Singer entries; discovered SQL runs") {
    prepared
    val tap = ConfigParser.parseTap(tapJson)
    val cat = graft.sinks.SingerSink.render(Discovery.catalogJson(tap))
    assert(cat.contains(""""tap_stream_id":"discdb-APP-INV""""))
    assert(cat.contains(""""replication_method":"FULL_TABLE""""))
    assert(cat.contains(""""key_properties":["ID"]"""))
    // the generated SELECT * runs over JDBC as-is: discovery output is a
    // usable config, not just a listing
    val inv = Discovery.introspect(tap).find(_.name == "INV").get
    val df = StreamSource.jdbc(SparkTestSession.spark, tap, inv)
    assert(df.count() === 2)
    assert(df.columns.toSeq === inv.columns.map(_.name))
  }
}
