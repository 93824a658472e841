package graft

import graft.config.ConfigParser
import graft.sources.StreamSource
import graft.state.{Bookmarks, TapState}
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's golden tests (FIXTURES.md F1–F3): the engine
  * path config → parse → native execution → conformance, asserted against
  * the exact golden records.
  */
class StreamSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // F1: SQL int literal, declared string — conformance must coerce.
  test("F1 minimal conformance stream") {
    val s = ConfigParser.parseStream(
      """{"name":"test","sql":"SELECT 1 as one","key_properties":["one"],
        |"columns":[{"name":"one","type":"string"}]}""".stripMargin)
    val rows = StreamSource.native(spark, s).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "1")
  }

  // F2: incremental stream, golden record {"one":"Ichi","two":2,...}.
  test("F2 incremental stream with replication key") {
    val s = ConfigParser.parseStream(
      """{"name":"test","sql":"SELECT 'Ichi' as one, 2 as two, '3' as three, '4' as four",
        |"key_properties":["one"],"replication_key":"two","replication_key_value_start":0,
        |"columns":[{"name":"one","type":"text"},{"name":"two","type":"int"},
        |{"name":"three","type":"text","nullable":true},{"name":"four","type":"text","nullable":false}]}""".stripMargin)
    assert(s.streamId === "postgres-public-test")
    val df = StreamSource.native(spark, s)
    assert(df.columns.toSeq === Seq("one", "two", "three", "four"))
    val r = df.collect()(0)
    assert((r.getString(0), r.getInt(1), r.getString(2), r.getString(3)) ===
      (("Ichi", 2, "3", "4")))
  }

  // F2 with :rep_key_val — the incremental predicate actually filters.
  test("incremental predicate binds and filters") {
    val s = ConfigParser.parseStream(
      """{"name":"inc","sql":"SELECT * FROM (SELECT 'a' AS k, 1 AS v UNION ALL SELECT 'b', 5) WHERE v > :rep_key_val",
        |"key_properties":["k"],"replication_key":"v","replication_key_value_start":2,
        |"columns":[{"name":"k","type":"text"},{"name":"v","type":"int"}]}""".stripMargin)
    val rows = StreamSource.native(spark, s).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("b"))
  }

  // state bookmark takes precedence over the configured start (§2.4.3)
  test("bookmark precedence over replication_key_value_start") {
    val s = ConfigParser.parseStream(
      """{"name":"inc","sql":"SELECT * FROM (SELECT 1 AS v UNION ALL SELECT 5 UNION ALL SELECT 9) WHERE v > :rep_key_val",
        |"key_properties":["v"],"replication_key":"v","replication_key_value_start":0,
        |"columns":[{"name":"v","type":"int"}]}""".stripMargin)
    val state = TapState(Map(s.streamId -> "5"))
    val rows = StreamSource.native(spark, s, state).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(9))
  }

  test("INCREMENTAL with no value errors; FULL_TABLE with :rep_key_val requires start (§2.4.2)") {
    val inc = ConfigParser.parseStream(
      """{"name":"x","sql":"SELECT 1 AS v WHERE 1 > :rep_key_val","key_properties":["v"],
        |"replication_key":"v","columns":[{"name":"v","type":"int"}]}""".stripMargin)
    assertThrows[IllegalStateException](StreamSource.native(spark, inc))

    val full = ConfigParser.parseStream(
      """{"name":"x","sql":"SELECT v FROM (SELECT 2 AS v) WHERE v > :rep_key_val","key_properties":["v"],
        |"columns":[{"name":"v","type":"int"}]}""".stripMargin)
    assertThrows[IllegalStateException](StreamSource.native(spark, full))
  }

  test("empty SQL is rejected (client.py:255-258)") {
    val s = ConfigParser.parseStream(
      """{"name":"x","sql":"  ","columns":[{"name":"v","type":"int"}]}""")
    assertThrows[IllegalArgumentException](StreamSource.native(spark, s))
  }

  test("unmapped columns are dropped, missing declared column fails") {
    val s = ConfigParser.parseStream(
      """{"name":"x","sql":"SELECT 1 AS a, 2 AS b","key_properties":["a"],
        |"columns":[{"name":"a","type":"int"}]}""".stripMargin)
    assert(StreamSource.native(spark, s).columns.toSeq === Seq("a"))

    val bad = ConfigParser.parseStream(
      """{"name":"x","sql":"SELECT 1 AS a","key_properties":["a"],
        |"columns":[{"name":"zz","type":"int"}]}""".stripMargin)
    assertThrows[Exception](StreamSource.native(spark, bad).collect())
  }

  test("bookmark advance after sync") {
    val s = ConfigParser.parseStream(
      """{"name":"adv","sql":"SELECT * FROM (SELECT 1 AS v UNION ALL SELECT 7)",
        |"key_properties":["v"],"replication_key":"v","replication_key_value_start":0,
        |"columns":[{"name":"v","type":"int"}]}""".stripMargin)
    val df = StreamSource.native(spark, s)
    val st = Bookmarks.advance(s, df, Bookmarks.empty)
    assert(st.bookmark("postgres-public-adv") === Some("7"))
  }

  // native parses with PG literal semantics (backslash literal) under a
  // private clone of the session conf. Plannings on a shared session may
  // run at once; none may flip the shared setting, which every other
  // query on the session parses with.
  test("concurrent native plannings leave the session's string escaping alone") {
    val key = "spark.sql.parser.escapedStringLiterals"
    val before = spark.conf.getOption(key)
    val s = ConfigParser.parseStream(
      """{"name":"esc","sql":"SELECT regexp_extract('a12b', '\\d+', 0) AS d","key_properties":["d"],
        |"columns":[{"name":"d","type":"text"}]}""".stripMargin)
    // Spark's default escaping drops the backslash of an unknown escape
    def shared(): String = spark.sql("SELECT '\\d' AS x").head().getString(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val jobs = (0 until 60).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            if (i % 2 == 0) StreamSource.native(spark, s).head().getString(0) else shared()
        })
      }
      val got = jobs.map(_.get())
      assert(got.zipWithIndex.forall { case (g, i) => g == (if (i % 2 == 0) "12" else "d") },
        got.distinct.mkString(", "))
    } finally pool.shutdown()
    assert(spark.conf.getOption(key) === before)
    assert(shared() === "d")
  }
}
