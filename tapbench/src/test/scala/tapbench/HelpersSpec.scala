package tapbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("median of odd and even sample counts, reported with the count") {
    assert(Stats.median(Seq(3.0)) === 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assert(Stats.medianOf(Seq(2.0, 9.0, 4.0, 1.0)) === (3.0, "median of 4"))
  }

  test("union of task intervals counts overlapping time once") {
    assert(Stats.unionLength(Nil) === 0)
    assert(Stats.unionLength(Seq((0L, 10L))) === 10)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) === 15) // disjoint
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) === 15) // overlapping
    assert(Stats.unionLength(Seq((0L, 30L), (5L, 10L), (12L, 20L))) === 30) // nested
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) === 20) // touching, unsorted
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) === 0) // empty and inverted
  }

  test("call sites map to layers by the graft source file they name") {
    assert(Layers.ofCallSite("json at BatchSink.scala:54") === Some(Layers.BatchSink))
    assert(Layers.ofCallSite("collect at Tap.scala:181") === Some(Layers.Readback))
    assert(Layers.ofCallSite("hasNext at SingerSink.scala:86") === Some(Layers.SingerSink))
    assert(Layers.ofCallSite("sql at StreamSource.scala:60") === Some(Layers.Sources))
    assert(Layers.ofCallSite("count at TapBench.scala:12") === Some(Layers.Other))
    assert(Layers.ofCallSite("run at CompletableFuture.java:1768") === None)
  }

  test("a job's layer prefers its SQL execution, and skips AQE stage names") {
    assert(Layers.ofJob(Some("json at BatchSink.scala:54"),
      Seq("hasNext at SingerSink.scala:86")) === Layers.BatchSink)
    assert(Layers.ofJob(None, Seq("hasNext at SingerSink.scala:86")) === Layers.SingerSink)
    assert(Layers.ofJob(None, Seq("$anonfun$withThreadLocalCaptured$1 at CompletableFuture.java:1768",
      "collect at Tap.scala:181")) === Layers.Readback)
    assert(Layers.ofJob(Some("no call site"),
      Seq("run at CompletableFuture.java:1768")) === Layers.Other)
  }

  test("digest normalization: missing is null, numbers by value, timestamps by instant") {
    def node(json: String) = mapper.readTree(json)
    val cols = Seq(Digest.Column("id", temporal = false), Digest.Column("x", temporal = false),
      Digest.Column("ts", temporal = true))
    val a = Digest.ofJsonRecord(node("""{"id":7,"x":null,"ts":"2024-01-01T00:00:11.172425+00:00"}"""), cols)
    val b = Digest.ofJsonRecord(node("""{"ts":"2024-01-01T01:00:11.172425+01:00","id":7.0}"""), cols)
    val fromRow = Digest.recordHash(Seq(7L, null,
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:11.172425Z")))
      .map(Digest.ofValue))
    assert(a === b)
    assert(a === fromRow)
    assert(Digest.ofJson(node("17"), temporal = false) === Digest.ofValue(17.0))
    assert(Digest.ofJson(node("0.07"), temporal = false) === Digest.ofValue(0.07))
    assert(Digest.ofValue(java.math.BigDecimal.valueOf(1234.5)) === Digest.ofValue(1234.50))
    assert(Digest.isoMicros("2024-01-01T00:00:00.000001+00:00") ===
      Digest.isoMicros("2024-01-01T00:00:00.000001Z"))
    assert(Digest.recordHash(Seq("1", "2")) !== Digest.recordHash(Seq("2", "1")))
  }

  test("the digest accumulator ignores record order") {
    val hs = Seq(11L, -5L, Long.MaxValue, 42L)
    val fwd = new Digest.Acc
    val rev = new Digest.Acc
    hs.foreach(fwd.add)
    hs.reverse.foreach(rev.add)
    assert(fwd.value === rev.value)
    assert(fwd.count === 4)
    rev.add(42L)
    assert(fwd.value !== rev.value)
  }

  test("bookmark timestamps render as Spark casts them to string") {
    val micros = java.time.Instant.parse("2024-01-01T00:00:11.1724Z").toEpochMilli * 1000 + 400
    assert(Workloads.bookmarkTimestamp(micros) === "2024-01-01 00:00:11.1724")
    assert(Workloads.bookmarkTimestamp(86400L * 1000000) === "1970-01-02 00:00:00")
  }

  test("batch file names follow the reference scheme") {
    val re = Checks.batchFileName("p-", "orders")
    assert(re.matches("p-tap-rawpostgresql--orders-0f8fad5b-d9cb-469f-a165-70867728950e-12.json.gz"))
    assert(!re.matches("p-tap-rawpostgresql--orders-0f8fad5b-d9cb-469f-a165-70867728950e-12.json"))
    assert(!re.matches("tap-rawpostgresql--orders-0f8fad5b-d9cb-469f-a165-70867728950e-0.json.gz"))
    assert(!re.matches("p-tap-rawpostgresql--lineitem-0f8fad5b-d9cb-469f-a165-70867728950e-0.json.gz"))
  }

  test("stdout checks count records, read the final bookmark and flag bad lines") {
    val stream = StreamSpec("s", "SELECT 1", Seq("id"), Seq("id" -> "bigint"), Some("id"), Some("0"))
    def read(lines: String*) = Checks.read(
      new java.io.ByteArrayInputStream(lines.mkString("", "\n", "\n").getBytes("UTF-8")),
      Seq(stream), None, 10, "", threads = 2)
    val ok = read("""{"type":"SCHEMA","stream":"s","schema":{},"key_properties":["id"]}""",
      """{"type":"RECORD","stream":"s","record":{"id":1}}""",
      """{"type":"RECORD","stream":"s","record":{"id":2}}""",
      """{"type":"STATE","value":{"bookmarks":{"postgres-public-s":{"replication_key_value":"2"}}}}""")
    assert(ok.problems.isEmpty)
    assert(ok.counts === Map("s" -> 2L))
    assert(ok.stateLines === 1)
    assert(ok.finalBookmarks === Some(Map("postgres-public-s" -> "2")))
    val exp = Expected(Map("s" -> 2L), Map("postgres-public-s" -> "2"), Map.empty)
    assert(Checks.compare(ok, exp, Map("s" -> ok.digests("s"))).isEmpty)
    assert(Checks.compare(ok, exp.copy(counts = Map("s" -> 3L)), Map.empty).nonEmpty)

    val bad = read("""{"type":"RECORD","stream":"s","record":{"id":1}}""", "not json",
      """{"type":"RECORD","stream":"other","record":{"id":1}}""")
    assert(bad.problems.exists(_.contains("stdout line 2 is not a Singer message")))
    assert(bad.problems.exists(_.contains("unknown stream 'other'")))
    assert(bad.problems.exists(_.contains("last stdout line is not a STATE")))
  }
}
