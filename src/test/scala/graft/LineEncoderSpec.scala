package graft

import com.fasterxml.jackson.databind.util.RawValue
import graft.config.{BatchConfig, BatchEncoding, BatchStorage, ConfigParser, StreamConfig}
import graft.sinks.{BatchSink, CoreBudget, LineBlock, LineEncoder, MaxKey, Sent, SingerSink, TaskChannel}
import graft.sources.StreamSource
import org.apache.spark.JobExecutionStatus
import org.apache.spark.GraftRpcProbe
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.io.{BufferedReader, ByteArrayOutputStream, InputStreamReader, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream
import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite

/** The block line encoder both sinks run: the lines are exactly
  * [[RecordOracle.encode]]'s whoever encodes a block, block and partition
  * boundaries never show in either sink's output or bookmarks, and a
  * failed RECORD-mode sync gives back every core slot.
  */
class LineEncoderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val B = LineEncoder.BatchRows

  /** 60k rows over 4 partitions of every value class `to_json` escapes or
    * formats: quotes, backslashes, control characters, non-BMP text,
    * strings that are not valid UTF-8, nulls, floats and doubles (NaN,
    * -0.0, ±Infinity, scientific notation), integers of every width and
    * `Long.MinValue`, decimals (scientific too), timestamps and dates
    * (years 0, 385 and 10000, before the epoch), booleans, binary, and a
    * stream map's struct, array and map columns and `timestamp_ntz`.
    */
  private def awkward: DataFrame = spark.range(0, 60000, 1, 4).select(
    col("id"),
    when(col("id") % 7 === 0, lit(null)).otherwise(concat(
      lit("q\"b\\s\u0001\u001f\t\n\b\f\r\u007f "), col("id").cast("string"),
      lit("😀 é"))).as("s"),
    expr("""CASE id % 11 WHEN 0 THEN double('NaN') WHEN 1 THEN -0.0D WHEN 2 THEN double('Infinity')
           |WHEN 3 THEN double('-Infinity') WHEN 4 THEN id * 1e-10 ELSE id / 3.0D END""".stripMargin).as("d"),
    expr("""CAST(CASE id % 7 WHEN 0 THEN double('NaN') WHEN 1 THEN -0.0D WHEN 2 THEN double('-Infinity')
           |WHEN 3 THEN id * 1e-9 ELSE id / 7.0D END AS FLOAT)""".stripMargin).as("f"),
    (col("id") * 1.23).cast("decimal(18,4)").as("dec"),
    expr("CAST(CASE WHEN id % 3 = 0 THEN (id % 5) * 0.0000001 ELSE id * 1.5 END AS DECIMAL(18,10))").as("small"),
    expr("CASE id % 5 WHEN 0 THEN bigint('-9223372036854775808') WHEN 1 THEN bigint('9223372036854775807') ELSE id * -1000003 END").as("l"),
    expr("CAST(id % 65536 - 32768 AS SMALLINT)").as("sh"),
    expr("CAST(id % 256 - 128 AS TINYINT)").as("by \"é\""),
    expr("""CAST(CASE id % 6 WHEN 0 THEN X'C0AF41' WHEN 1 THEN X'EDA080' WHEN 2 THEN X'E282'
           |WHEN 3 THEN X'F4908080' WHEN 4 THEN X'41FF42E282AC' ELSE X'F09F9880E282AC' END AS STRING)""".stripMargin)
      .as("bad"),
    expr("timestamp_micros(1637581511062824 + id * 1000001)").as("ts"),
    expr("""timestamp_micros(CASE id % 5 WHEN 0 THEN -62161989903876544 + id WHEN 1 THEN -50000885877000000 - id
           |WHEN 2 THEN 253402300800000000 + id WHEN 3 THEN -1 - id * 997 ELSE 253402300799999999 END)""".stripMargin)
      .as("ts2"),
    expr("date_add(DATE'2020-01-01', CAST(id % 1000 AS INT))").as("dt"),
    expr("date_from_unix_date(CAST(CASE id % 4 WHEN 0 THEN -719528 WHEN 1 THEN -578714 WHEN 2 THEN 2932897 ELSE -1 - id END AS INT))")
      .as("dt2"),
    (col("id") % 2 === 0).as("b"),
    expr("CAST(concat('b\u0001', id) AS BINARY)").as("bin"),
    expr("named_struct('i', id, 't', timestamp_micros(1637581511062824 + id), 'q', concat('\"', id), 'n', CAST(NULL AS STRING))")
      .as("st"),
    expr("array(id, NULL, id * 2)").as("arr"),
    expr("map('k\"', concat('v', id), 'z', CAST(NULL AS STRING))").as("m"),
    expr("CAST(timestamp_micros(1637581511062824 + id) AS TIMESTAMP_NTZ)").as("ntz"))

  private def lines(block: LineBlock): Seq[String] = (0 until block.lines).map(block.line)

  /** Each line's bytes, one char per byte: equal exactly when the bytes are. */
  private def rawLines(block: LineBlock): Seq[String] = (0 until block.lines).map(i =>
    new String(block.bytes, block.start(i), block.ends(i) - 1 - block.start(i), ISO_8859_1))

  /** `body` with the session time zone set to `zone`. */
  private def inZone[T](zone: String)(body: => T): T = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("blocks hold exactly encode's lines and keys, inline and on helpers") {
    // UTC, a zone with DST and LMT offsets, and a fixed offset that is not UTC
    for ((zone, key) <- Seq(("UTC", None), ("UTC", Some("s")), ("UTC", Some("ts")),
      ("Europe/Berlin", Some("ts")), ("+05:30", Some("dt2")))) inZone(zone) {
      val df = awkward
      val stream = StreamConfig("awk", "", replicationKey = key)
      val encoded = RecordOracle.encode(df, stream).collect()
      val expected = encoded.map(r => new String(r.getString(0).getBytes(UTF_8), ISO_8859_1)).toSeq
      val expectedMax = new MaxKey
      if (key.isDefined) encoded.foreach(r => expectedMax.add(r.get(1), r.getString(2)))
      val rows = df.queryExecution.toRdd.map(_.copy()).collect()
      assert(rows.length === 60000)
      for (budget <- Seq(new CoreBudget(0), new CoreBudget(8))) {
        val encoder = LineEncoder(df, stream)
        val got = ArrayBuffer.empty[String]
        val max = new MaxKey
        // as a remote task's block message reaches the driver
        encoder.encode(rows.iterator, budget)((block, _) => block) { sent =>
          val block = viaMessage(sent)
          assert(block.lines <= B)
          got ++= rawLines(block)
          (0 until block.lines).foreach(block.offerKey(_, max))
        }
        assert(got.length === expected.length, s"$zone, $key, ${budget.cores} cores")
        val diff = got.indices.find(i => got(i) != expected(i))
        assert(diff.isEmpty, s"$zone, $key, ${budget.cores} cores: ${diff.map(i => s"${got(i)} != ${expected(i)}")}")
        assert(max.value === expectedMax.value)
        assert(budget.available === budget.cores)
      }
    }
  }

  /** `block` back from a Java serialization round trip of its
    * [[Sent]] message: the form in which a remote executor's task
    * sends it to the driver.
    */
  private def viaMessage(block: LineBlock): LineBlock = {
    val serializer = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    serializer.deserialize[Sent](serializer.serialize(Sent(3, 1, 7, block))) match {
      case Sent(3, 1, 7, got: LineBlock) => got
      case other => fail(s"not the message sent: $other")
    }
  }

  /** `df`'s blocks, encoded under `budget` and sent as block messages. */
  private def blocks(df: DataFrame, stream: StreamConfig, budget: CoreBudget,
                     envelope: (String, String) = ("", "")): Seq[LineBlock] = {
    val encoder = LineEncoder(df, stream, envelope)
    val got = ArrayBuffer.empty[LineBlock]
    encoder.encode(df.queryExecution.toRdd.map(_.copy()).collect().iterator, budget)(
      (block, _) => block)(got += viaMessage(_))
    got.toSeq
  }

  test("a block's max key is the max of its lines' keys; an enveloped line is the RECORD message") {
    val tied = spark.range(0, 5000, 1, 1).select(col("id"), (col("id") % 100).as("k"))
    val allNull = spark.range(0, 3000, 1, 1).select(col("id"), lit(null).cast("string").as("k"))
    for ((df, key) <- Seq((awkward, "s"), (awkward, "ts"), (tied, "k"), (allNull, "k"));
         budget <- Seq(new CoreBudget(0), new CoreBudget(8))) {
      val stream = StreamConfig("mx", "", replicationKey = Some(key))
      val perLine, perBlock = new MaxKey
      for (block <- blocks(df, stream, budget)) {
        (0 until block.lines).foreach(block.offerKey(_, perLine))
        block.offerMax(perBlock)
      }
      assert(perBlock.value === perLine.value, s"$key, ${budget.cores} cores")
      assert(budget.available === budget.cores)
    }
    // the first of tied maxima, and no max among null keys
    val tiedBlock = blocks(tied, StreamConfig("mx", "", replicationKey = Some("k")), new CoreBudget(0)).head
    assert(tiedBlock.maxLine === 99)
    assert(blocks(allNull, StreamConfig("mx", "", replicationKey = Some("k")), new CoreBudget(0))
      .forall(_.maxLine === -1))

    val stream = StreamConfig("strøm 😀 \"q\"", "", replicationKey = Some("ts"))
    val te = "2021-11-22T11:45:11.062824+00:00"
    val json = RecordOracle.encode(awkward, stream).collect().map(_.getString(0)).toSeq
    val enveloped = blocks(awkward, stream, new CoreBudget(8), SingerSink.envelope(stream, Some(te)))
      .flatMap(lines)
    assert(enveloped === json.map(j => SingerSink.render(SingerSink.obj().put("type", "RECORD")
      .put("stream", stream.name).putRawValue("record", new RawValue(j)).put("time_extracted", te))))
  }

  /** Partitions of 0, 1, B-1, B and B+1 rows with empty ones between;
    * key `k` is a zero-padded string, so its byte order is row order.
    */
  private def boundaries: (DataFrame, Seq[Int]) = {
    val sizes = Seq(0, 1, 0, B - 1, 0, 0, B, 0, B + 1, 0)
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", StringType)))
    val rdd = spark.sparkContext.parallelize(sizes.indices, sizes.length).flatMap { p =>
      (0 until sizes(p)).map(i => Row(p * 100000L + i, f"k${p * 100000L + i}%08d"))
    }
    (spark.createDataFrame(rdd, schema), sizes)
  }

  test("RECORD mode across block and partition boundaries") {
    val (df, sizes) = boundaries
    assert(df.rdd.getNumPartitions === sizes.length)
    val stream = StreamConfig("bnd", "", keyProperties = Seq("id"), replicationKey = Some("k"))
    val keys = RecordOracle.encode(df, stream).collect()
    val expected = keys.map(_.getString(0)).toSeq
    val buf = new ByteArrayOutputStream()
    val progress = ArrayBuffer.empty[Option[String]]
    val (n, max) = SingerSink.emitRecords(df, stream, new PrintStream(buf, true, UTF_8),
      stateEvery = B - 1, onProgress = progress += _)
    assert(n === sizes.sum)
    val printed = buf.toString(UTF_8).split("\n").toSeq
    assert(printed === expected.map(j => s"""{"type":"RECORD","stream":"bnd","record":$j}"""))
    assert(max === Some(keys.map(_.getString(2)).max))
    // each progress bookmark is the max key of the records before it
    assert(progress.toSeq === (1 to sizes.sum / (B - 1)).map(i =>
      Some(keys.take(i * (B - 1)).map(_.getString(2)).max)))
  }

  private def gunzipLines(uri: String): Seq[String] = {
    val in = new BufferedReader(new InputStreamReader(new GZIPInputStream(
      Files.newInputStream(Paths.get(java.net.URI.create(uri)))), UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  test("batch chunks across block and partition boundaries, smaller and larger than a block") {
    val (df, sizes) = boundaries
    for (batchSize <- Seq(B / 2 + 1, B + B / 2)) {
      val tmp = Files.createTempDirectory("graft-encoder-batch").toString
      val stream = StreamConfig("bnd", "", keyProperties = Seq("id"), replicationKey = Some("k"),
        batchSize = batchSize)
      val chunks = BatchSink.write(df, stream,
        BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
      val expected = sizes.filter(_ > 0).flatMap(s =>
        Seq.fill(s / batchSize)(batchSize) ++ Seq(s % batchSize).filter(_ > 0))
      assert(chunks.map(_.records) === expected, s"batch_size $batchSize")
      val all = chunks.flatMap { c =>
        val file = gunzipLines(c.manifest.files.head)
        assert(file.length === c.records)
        val keys = file.map(l => """"k":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1))
        assert(c.maxKey.value === Some(keys.max))
        file
      }
      assert(all === RecordOracle.encode(df, stream).collect().map(_.getString(0)).toSeq)
      // a chunk's gzip members depend on its lines alone: the files are the
      // pieces encoded inline and on helpers, byte for byte
      val files = chunks.flatMap(c => Files.readAllBytes(Paths.get(java.net.URI.create(c.manifest.files.head))))
      val partitions = df.queryExecution.toRdd.map(_.copy()).glom().collect()
      for (budget <- Seq(new CoreBudget(0), new CoreBudget(8))) {
        val encoder = LineEncoder(df, stream)
        val pieces = ArrayBuffer.empty[Byte]
        partitions.foreach(rows => encoder.encode(rows.iterator, budget)(
          BatchSink.pieces(_, _, batchSize, gzip = true))(_.foreach(pieces ++= _.bytes)))
        assert(pieces.toSeq === files, s"batch_size $batchSize, ${budget.cores} cores")
        assert(budget.available === budget.cores)
      }
    }
  }

  // Sorted, 10k rows in 3 partitions, STATE every 997 records: neither a
  // block nor a partition boundary. Each mid-sync bookmark must be the max
  // key among the records printed before it.
  test("sorted stream: every mid-sync bookmark is the max of the records printed so far") {
    val tap = ConfigParser.parseTap(
      """{"database":"db1","state_message_frequency":997,"streams":[
        |{"name":"srt","sql":"SELECT id, id * 3 AS k FROM range(0, 10000, 1, 3) WHERE id * 3 > :rep_key_val",
        | "key_properties":["id"],"replication_key":"k","replication_key_value_start":-1,
        | "is_sorted":true,"columns":[{"name":"id","type":"bigint"},{"name":"k","type":"bigint"}]}]}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    Tap.syncAll(spark, tap, None, new PrintStream(buf, true, UTF_8))
    var max = -1L
    var records = 0
    val mids = ArrayBuffer.empty[(Int, Long, Long)]
    buf.toString(UTF_8).split("\n").foreach { l =>
      val msg = SingerSink.mapper.readTree(l)
      msg.get("type").asText match {
        case "RECORD" =>
          records += 1
          max = math.max(max, msg.at("/record/k").asLong)
        case "STATE" if records < 10000 =>
          mids += ((records, msg.at("/value/bookmarks/db1-public-srt/replication_key_value").asText.toLong, max))
        case _ =>
      }
    }
    assert(records === 10000)
    assert(mids.map(_._1).toSeq === (1 to 10).map(_ * 997))
    mids.foreach { case (n, bookmark, printedMax) => assert(bookmark === printedMax, s"after $n") }
  }

  // A row of the third of four partitions fails the sync while the task
  // has line blocks in flight on helpers and asked of the driver:
  // emitRecords throws within seconds, not after an RPC ask timeout, and
  // every core slot comes back once the task has stopped. A leaked slot
  // would serialize every later sync in this JVM. A partition job still in
  // flight behind the failed one is cancelled and the block endpoint is
  // stopped: nothing outlives the sync.
  test("a failed RECORD-mode sync gives back every core slot") {
    val s = ConfigParser.parseStream(
      """{"name":"f","key_properties":["id"],
        |"sql":"SELECT id, CASE WHEN id = 250000 THEN raise_error('boom') ELSE id END AS v, repeat('x', 100) AS pad FROM range(0, 400000, 1, 4)",
        |"columns":[{"name":"id","type":"bigint"},{"name":"v","type":"bigint"},{"name":"pad","type":"text"}]}""".stripMargin)
    // the third partition fails, or the second, behind a 100k-row first
    // one, while the third's job is in flight and must be cancelled
    for ((failAt, before) <- Seq((250000, 200000), (100000, 100000))) {
      val df = StreamSource.native(spark, s.copy(sql = s.sql.replace("250000", failAt.toString)))
      var printed = 0L // newline-terminated lines written
      val out = new PrintStream(new OutputStream {
        def write(b: Int): Unit = if (b == '\n') printed += 1
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          (off until off + len).foreach(i => write(b(i).toInt))
      }, false, UTF_8)
      val endpoints = TaskChannel.Endpoints.get
      val errors = SyncCleanup.executorErrors {
        val t0 = System.nanoTime()
        val e = intercept[Exception](SingerSink.emitRecords(df, s, out))
        assert(System.nanoTime() - t0 < 30L * 1000 * 1000 * 1000, s"fail at $failAt")
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("boom")))
        SyncCleanup.assertSettled(spark, s"after-$failAt", endpoints)
      }
      // the earlier partitions in full, and of the failed one at most the
      // blocks before its failing row: the printed lines are a prefix
      assert(printed >= before && printed <= failAt, s"fail at $failAt: $printed lines")
      // only the failed task's exception: the job in flight behind it ends
      // as killed
      assert(errors.size === 1, errors.mkString("\n"))
    }
  }

  // A one-partition stream of 60 blocks into a stdout that blocks on its
  // first line: the task stops pulling rows once the driver holds
  // MaxInFlight of its unprinted blocks and its encoder queue is full, and
  // waits; released, every line arrives in order.
  test("RECORD mode: a blocked stdout holds the task at the block window") {
    val rows = 60 * B
    val schema = StructType(Seq(StructField("id", LongType), StructField("pad", StringType)))
    val source = spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      Iterator.range(0, rows).map { i => SyncCleanup.pulled.incrementAndGet(); Row(i.toLong, "x" * 40) }
    }
    val df = spark.createDataFrame(source, schema)
    SyncCleanup.pulled.set(0)
    val release = new java.util.concurrent.CountDownLatch(1)
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, false, UTF_8) {
      override def println(x: String): Unit = { release.await(); super.println(x) }
    }
    val sync = scala.concurrent.Future(SingerSink.emitRecords(df, StreamConfig("win", ""), out))(
      scala.concurrent.ExecutionContext.global)
    // wait until the task has pulled no row for a second
    var (last, still) = (-1L, 0)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (still < 10 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = SyncCleanup.pulled.get
      if (now == last && now > 0) still += 1 else { last = now; still = 0 }
    }
    assert(still === 10, s"the task kept pulling rows: $last of $rows")
    // one block printing, MaxInFlight asked of the driver, MaxInFlight
    // queued in the encoder and one batch filling
    assert(last <= (2 * LineEncoder.MaxInFlight + 2) * B, s"$last of $rows rows pulled")
    assert(!sync.isCompleted)
    release.countDown()
    val (n, _) = scala.concurrent.Await.result(sync, scala.concurrent.duration.Duration(60, "s"))
    assert(n === rows)
    out.flush()
    val printed = buf.toString(UTF_8).split("\n")
    assert(printed.length === rows)
    assert(printed.indices.forall(i => printed(i).startsWith(s"""{"type":"RECORD","stream":"win","record":{"id":$i,""")))
  }
}

/** What a finished or failed sync leaves behind, for the specs. */
object SyncCleanup {
  /** Rows the blocked-stdout case's source has produced. */
  val pulled = new java.util.concurrent.atomic.AtomicLong

  /** Within 30 s of a sync's end: no active job, no running task, every
    * slot of [[CoreBudget.shared]] free, and none of the sink endpoints
    * after the first `endpoints` registered.
    */
  def assertSettled(spark: SparkSession, label: String, endpoints: Long): Unit = {
    val sc = spark.sparkContext
    val budget = CoreBudget.shared // sized by the running session
    // the status tracker learns of jobs late, from the listener bus: once
    // it has seen a job submitted after the sync end, it has seen every
    // job the sync started
    sc.setJobGroup(label, label)
    sc.parallelize(Seq(0), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def settled = budget.available == budget.cores &&
      sc.statusTracker.getExecutorInfos.forall(_.numRunningTasks == 0) &&
      sc.statusTracker.getJobIdsForGroup(label).flatMap(sc.statusTracker.getJobInfo)
        .exists(_.status == JobExecutionStatus.SUCCEEDED) &&
      sc.statusTracker.getActiveJobIds.isEmpty
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    assert(settled, s"$label: active jobs ${sc.statusTracker.getActiveJobIds.toSeq}")
    assert(budget.available == budget.cores, label)
    val live = (endpoints + 1 to TaskChannel.Endpoints.get).map(i => s"graft-sink-$i")
      .filter(GraftRpcProbe.registered)
    assert(live.isEmpty, s"$label: endpoints still registered: $live")
  }

  /** What `org.apache.spark.executor.Executor` logs at ERROR (such as
    * `Exception in task …`, with its stack trace) while `body` runs, seen
    * through a log4j2 appender attached for the call only.
    */
  def executorErrors(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("executor-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errors.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("org.apache.spark.executor.Executor").asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    errors.asScala.toSeq
  }
}
