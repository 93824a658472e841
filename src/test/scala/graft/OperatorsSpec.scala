package graft

import graft.config.{ColumnSpec, ConfigParser, StreamConfig}
import graft.operators.{Flattener, StreamMap, StreamMaps}
import graft.functions.Multimodal
import graft.sinks.{LineEncoder, SingerSink}
import graft.state.{Bookmarks, TapState}
import graft.types.TypeMapper
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bounded funnel survives a 10⁶-event bot user and gets it right") {
    // One user with a million view events (generated distributed — no
    // driver-side array) plus a signup and a late purchase: the bounded
    // conditional-min form keeps O(1) state per user where the old
    // collect_list form would materialize a 10⁶-element aggregation
    // buffer; output must still be the exact funnel timestamps.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val bot = spark.range(1000000L).select(
      lit(7L).as("user_id"), lit("view").as("event_type"),
      // views at base+10s, +11s, ... — all after signup (base+5s)
      timestamp_seconds(lit(base).cast("long") + col("id") + 10).as("ts_s"))
    val anchors = Seq(
      (7L, "signup", new java.sql.Timestamp(base.getTime + 5000L)),
      (7L, "purchase", new java.sql.Timestamp(base.getTime + 500000L * 1000L)),
      (8L, "view", base)) // user with no signup: all stages null
    .toDF("user_id", "event_type", "ts_s")
    val out = graft.queries.PipelineQueries
      .funnelBounded(bot.union(anchors))
      .orderBy("user_id")
      .collect()
    assert(out.length === 2)
    val u7 = out(0)
    assert(u7.getTimestamp(1) === new java.sql.Timestamp(base.getTime + 5000L))
    assert(u7.getTimestamp(2) === new java.sql.Timestamp(base.getTime + 10000L))
    assert(u7.getTimestamp(3) === new java.sql.Timestamp(base.getTime + 500000000L))
    assert(u7.getBoolean(4) && u7.getBoolean(5))
    val u8 = out(1)
    assert(u8.isNullAt(1) && u8.isNullAt(2) && u8.isNullAt(3))
    assert(!u8.getBoolean(4) && !u8.getBoolean(5))
  }

  test("flattener expands nested structs with __ names, depth-limited") {
    val df = Seq((1, ("x", (2.5, "y")))).toDF("id", "c")
      .select(col("id"), struct(col("c._1").as("a"),
        struct(col("c._2._1").as("b1"), col("c._2._2").as("b2")).as("b")).as("c"))
    assert(Flattener.flatten(df).columns.toSeq ===
      Seq("id", "c__a", "c__b__b1", "c__b__b2"))
    assert(Flattener.flatten(df, maxDepth = 1).columns.toSeq ===
      Seq("id", "c__a", "c__b"))
  }

  test("parseJsonStrings: declared columns parse+flatten, others untouched") {
    val df = Seq(
      (1L, """{"a": 1, "b": {"c": "x"}}""", """{"looks": "like json"}""",
        null.asInstanceOf[String]),
      (2L, """{"a": 2, "b": {"c": "y"}}""", """{"but": "undeclared"}""", null)
    ).toDF("id", "props", "note", "empty")
    val out = Flattener.flatten(
      Flattener.parseJsonStrings(df, Seq("props"), orderBy = Seq("id")))
    // ONLY the declared column expands (+ its raw fallback); `note` is
    // object-shaped but undeclared, so it MUST stay a plain string —
    // the r9-ADVICE no-content-sniffing contract
    assert(out.columns.toSeq ===
      Seq("id", "props__a", "props__b__c", "props__raw", "note", "empty"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getLong(1) === 1L && rows(0).getString(2) === "x")
    assert(rows(1).getLong(1) === 2L && rows(1).getString(2) === "y")
    assert(rows(0).isNullAt(3) && rows(1).isNullAt(3)) // all parsed → no raw
    assert(rows(0).getString(4).contains("looks"))
  }

  test("parseJsonStrings: non-object rows fall back to __raw, never NULL") {
    // PG json mixes objects/arrays/scalars in one column (r9 ADVICE high):
    // the inferred schema comes from object rows; everything else keeps
    // its ORIGINAL text in the raw sibling
    val df = Seq(
      (1L, """{"a": 1}"""),
      (2L, """[1,2,3]"""),
      (3L, "plain"),
      (4L, """{"a": 4, "later": true}"""),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "props")
    val out = Flattener.flatten(
      Flattener.parseJsonStrings(df, Seq("props"), orderBy = Seq("id")))
    assert(out.columns.toSeq === Seq("id", "props__a", "props__later", "props__raw"))
    val r = out.orderBy("id").collect()
    assert(r(0).getLong(1) === 1L && r(0).isNullAt(3))
    assert(r(1).isNullAt(1) && r(1).getString(3) === "[1,2,3]")
    assert(r(2).isNullAt(1) && r(2).getString(3) === "plain")
    assert(r(3).getLong(1) === 4L && r(3).getBoolean(2) && r(3).isNullAt(3))
    assert(r(4).isNullAt(1) && r(4).isNullAt(3)) // null input → null raw
    // a declared column with NO object-shaped sample stays untouched
    val flat = Seq((1L, "x"), (2L, "y")).toDF("id", "props")
    assert(Flattener.parseJsonStrings(flat, Seq("props"))
      .schema("props").dataType === org.apache.spark.sql.types.StringType)
    // malformed JSON in an otherwise-object column: schema inference
    // flags _corrupt_record → the column is left untouched
    val bad = Seq((1L, """{"a": 1}"""), (2L, """{"a": """))
      .toDF("id", "props")
    assert(Flattener.parseJsonStrings(bad, Seq("props"))
      .schema("props").dataType === org.apache.spark.sql.types.StringType)
    // determinism (r9 ADVICE medium): with sampleRows=1 the ordered
    // sample must pick id=1 (the only object) regardless of input row
    // order, so the column parses — plan-independent
    val mixed = Seq((2L, "plain"), (1L, """{"a": 1}""")).toDF("id", "props")
    assert(Flattener.parseJsonStrings(mixed.repartition(4), Seq("props"),
        sampleRows = 1, orderBy = Seq("id"))
      .schema("props").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
  }

  test("stream maps: filter sees pre-drop columns; compute/alias/drop apply") {
    val df = Seq((1, 10.0, "a"), (2, 3.0, "b")).toDF("id", "amt", "tag")
    val out = StreamMaps(df, StreamMap(
      computed = Seq("amt2" -> "amt * 2"),
      aliases = Seq("tag" -> "label"),
      dropped = Seq("amt"),
      filter = Some("amt > 5.0")))
    assert(out.columns.toSeq === Seq("id", "label", "amt2"))
    val r = out.collect()
    assert(r.length === 1 && r(0).getInt(0) === 1 && r(0).getDouble(2) === 20.0)
  }

  test("conformance serializes timestamps in reference ISO form") {
    val df = spark.sql(
      "SELECT TIMESTAMP '2021-11-22 11:45:11.062824' AS ts, DATE '2021-11-22' AS d")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    LineEncoder(df, StreamConfig("t", "")).encode(df.queryExecution.toRdd.map(_.copy()).collect().iterator)(
      (block, _) => block.line(0))(lines += _)
    assert(lines.toSeq === Seq("""{"ts":"2021-11-22T11:45:11.062824+00:00","d":"2021-11-22"}"""))
  }

  test("singer sink emits SCHEMA/RECORD/STATE lines") {
    val s = ConfigParser.parseStream(
      """{"name":"t","sql":"SELECT 'Ichi' AS one, 2 AS two","key_properties":["one"],
        |"replication_key":"two","replication_key_value_start":0,
        |"columns":[{"name":"one","type":"text"},{"name":"two","type":"int","nullable":true}]}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    SingerSink.emitSchema(s, TypeMapper.jsonSchema(s, TypeMapper.structType(s.columns)), out)
    val df = graft.sources.StreamSource.native(spark, s)
    val (n, bookmark) = SingerSink.emitRecords(df, s, out)
    SingerSink.emitState(TapState(Map(s.streamId -> "2")), out)
    val lines = buf.toString("UTF-8").split("\n")
    assert(n === 1 && lines.length === 3)
    assert(bookmark === Some("2")) // tracked inside the single emit pass
    assert(lines(0).contains(""""type":"SCHEMA"""") &&
      lines(0).contains(""""two":{"type":["integer"]}""")) // rep key ⇒ required
    assert(lines(1) === """{"type":"RECORD","stream":"t","record":{"one":"Ichi","two":2}}""")
    assert(lines(2).contains(""""postgres-public-t":{"replication_key_value":"2"}"""))

    // a stream name with a quote and a backslash stays inside its JSON
    // string: the RECORD line parses and names the stream it came from
    val odd = s.copy(name = "a\"b\\c")
    val oddBuf = new ByteArrayOutputStream()
    SingerSink.emitRecords(df, odd, new PrintStream(oddBuf, true, "UTF-8"))
    val rec = SingerSink.mapper.readTree(oddBuf.toString("UTF-8").trim)
    assert(rec.get("stream").asText === "a\"b\\c")
    assert(rec.get("record").get("one").asText === "Ichi")
  }

  test("singer sink stamps time_extracted when provided") {
    val s = ConfigParser.parseStream(
      """{"name":"t","sql":"SELECT 1 AS v","key_properties":["v"],
        |"columns":[{"name":"v","type":"int"}]}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val df = graft.sources.StreamSource.native(spark, s)
    SingerSink.emitRecords(df, s, out,
      timeExtracted = Some("2026-08-12T00:00:00.000000+00:00"))
    assert(buf.toString("UTF-8").trim ===
      """{"type":"RECORD","stream":"t","record":{"v":1},""" +
        """"time_extracted":"2026-08-12T00:00:00.000000+00:00"}""")
  }

  // ADVICE r1 (medium): RECORD messages must carry every declared column —
  // null values as explicit JSON nulls, not omitted keys.
  test("singer sink emits explicit nulls for null-valued columns") {
    val s = ConfigParser.parseStream(
      """{"name":"t","sql":"SELECT 'a' AS one, CAST(NULL AS INT) AS two","key_properties":["one"],
        |"columns":[{"name":"one","type":"text"},{"name":"two","type":"int","nullable":true}]}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val df = graft.sources.StreamSource.native(spark, s)
    SingerSink.emitRecords(df, s, out)
    assert(buf.toString("UTF-8").trim ===
      """{"type":"RECORD","stream":"t","record":{"one":"a","two":null}}""")
  }

  test("bookmarks save/load round-trip") {
    val tmp = Files.createTempDirectory("graft-state").resolve("state.json").toString
    val s = StreamConfig("t", "SELECT 1", replicationKey = Some("v"),
      columns = Seq(ColumnSpec("v", "int")))
    Bookmarks.save(tmp, TapState(Map(s.streamId -> "41")), Seq(s))
    assert(Bookmarks.load(tmp).bookmark(s.streamId) === Some("41"))
    assert(Bookmarks.load("/nonexistent/state.json") === Bookmarks.empty)
  }

  test("multimodal: meta, frame sampling, partition decode") {
    val df = Seq((1L, "abcdefghij"), (2L, "xy")).toDF("doc_id", "text")
    val ingested = Multimodal.ingest(df, "text")
    val m = ingested.select(col("meta.size_bytes"), col("meta.magic")).collect()
    assert(m(0).getInt(0) === 10 && m(0).getString(1) === "61626364")

    val frames = ingested.select(
      Multimodal.frameSample(col("content"), nFrames = 3, frameBytes = 4).as("f"))
      .collect().map(_.getSeq[Array[Byte]](0))
    assert(frames(0).map(new String(_)).toSeq === Seq("abcd", "efgh", "ij"))
    assert(frames(1).map(new String(_)).toSeq === Seq("xy"))

    val feats = Multimodal.decodePartitions(
      ingested.select("doc_id", "content"), "content", new Multimodal.FakeCodec(4))
    val row = feats.filter(col("doc_id") === 1L).select("features").collect()(0)
      .getSeq[Float](0)
    assert(row.length === 4)
    // deterministic: 'a'+'e'+'i' = (97+101+105)/255 in slot 0
    assert(math.abs(row(0) - (97 + 101 + 105) / 255.0f) < 1e-6)
  }

  test("multimodal: real container-header parsing by magic bytes") {
    // hand-crafted minimal headers (published container layouts)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x01, 0x40, /* w=320 */ 0, 0, 0x00, 0xF0 /* h=240 */).map(_.toByte)
    val gif = ("GIF89a".getBytes.toSeq ++
      Seq(0x40, 0x01, 0xF0, 0x00).map(_.toByte)).toArray // w=320 h=240 LE
    val jpeg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00, // APP0 len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0xF0, 0x01, 0x40, 0x03, 0, 0, 0
    ).map(_.toByte) // SOF0: h=240 w=320
    val wav = ("RIFF".getBytes.toSeq ++ Seq.fill(4)(0.toByte) ++
      "WAVEfmt ".getBytes.toSeq ++ Seq.fill(6)(0.toByte) ++
      Seq(0x02, 0x00).map(_.toByte) ++ // channels=2 @22
      Seq(0x44, 0xAC, 0x00, 0x00).map(_.toByte)).toArray // 44100 @24
    val junk = "not a media file".getBytes

    val df = Seq((1L, png), (2L, gif), (3L, jpeg), (4L, wav), (5L, junk))
      .toDF("id", "content")
    val got = df.select(col("id"), Multimodal.mediaHeader(col("content")).as("h"))
      .select(col("id"), col("h.format"), col("h.width"), col("h.height"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got(1L) === (("png", 320, 240)))
    assert(got(2L) === (("gif", 320, 240)))
    assert(got(3L) === (("jpeg", 320, 240)))
    assert(got(4L) === (("wav", 44100, 2)))
    assert(got(5L) === (("unknown", -1, -1)))
  }

  test("phashPairs: one-byte flip is near, unrelated payloads are silent") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def pay(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Array.fill(200)(f"${r.nextInt(256)}%02X").mkString
    }
    val base = pay(1)
    val nearDup = base.substring(0, 20) + "FF" + base.substring(22)
    val exact = base
    val rows = Seq(
      (1L, base), (2L, nearDup), (3L, exact),
      (4L, pay(2)), (5L, pay(3)), // unrelated random payloads
      (6L, "AB") // below the 64-byte floor → excluded entirely
    ).toDF("id", "h")
    val got = Multimodal.phashPairs(rows, "id", col("h"), maxHamming = 5)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((1L, 3L)) && got((1L, 3L)) === 0) // exact dup
    assert(got.contains((1L, 2L)) && got((1L, 2L)) <= 5)  // flipped byte
    // transitivity of the plant: nearDup vs exact also near
    assert(got.contains((2L, 3L)))
    // no unrelated pair, no under-floor id
    assert(!got.keys.exists(k => k._1 >= 4L || k._2 >= 4L))
    val _ = rnd
  }

  test("dHash56Sql: signature never sets the sign bit and is length-stable") {
    import spark.implicits._
    val payloads = (1 to 50).map { s =>
      val r = new scala.util.Random(s)
      (s.toLong, Array.fill(64 + r.nextInt(400))(f"${r.nextInt(256)}%02X").mkString)
    }
    val sigs = payloads.toDF("id", "h")
      .withColumn("nb", (length(col("h")) / 2).cast("long"))
      .withColumn("sig", expr(Multimodal.dHash56Sql("h", "nb")))
      .select("sig").as[Long].collect()
    assert(sigs.forall(s => s >= 0L && s < (1L << 56)))
  }
}
