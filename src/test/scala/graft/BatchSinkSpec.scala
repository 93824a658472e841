package graft

import graft.config.{BatchConfig, BatchEncoding, BatchStorage, ConfigParser}
import graft.sinks.{BatchChunk, BatchSink, CoreBudget, LineEncoder, TaskChannel}
import graft.sources.StreamSource
import org.apache.spark.sql.functions.{col, udf}
import java.io.{BufferedReader, ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** F4 batch round-trip: gzip JSONL, rotation at batch_size, filename
  * scheme, and the exact UUID/timestamp serialization forms
  * (reference: tests/test_postgres.py:175-203).
  */
/** A local filesystem registered under a non-`file:` scheme — the standard
  * Hadoop-test trick for exercising scheme resolution without a real
  * object store.
  */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

class BatchSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def gzipBatch(tmp: String, compression: String = "gzip") =
    BatchConfig(BatchEncoding("jsonl", compression), BatchStorage(s"file://$tmp"))

  private def chunkLines(c: BatchChunk): Seq[String] =
    gunzipLines(Paths.get(java.net.URI.create(c.manifest.files.head)).toString)

  /** The lines of a chunk file, gunzipped when it is a `.gz` one. */
  private def gunzipLines(path: String): Seq[String] = {
    val raw = Files.newInputStream(Paths.get(path))
    val in = new BufferedReader(new InputStreamReader(
      if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw, "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  test("F4 uuid + timestamptz serialization round-trip") {
    val tmp = Files.createTempDirectory("graft-batch").toString
    val s = ConfigParser.parseStream(
      """{"name":"test","sql":"SELECT '1441c21d-9921-4a1d-b239-9c6ea18af234'::uuid as id, timestamptz '2021-11-22T11:45:11.062824+00:00' as last_updated",
        |"key_properties":["id"],"batch_size":5,
        |"columns":[{"name":"id","type":"string"},{"name":"last_updated","type":"datetime"}]}""".stripMargin)
    val df = StreamSource.native(spark, s)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp"))).map(_.manifest)
    assert(manifests.nonEmpty)
    val file = Paths.get(java.net.URI.create(manifests.head.files.head))
    assert(file.getFileName.toString.matches(
      "tap-rawpostgresql--test-[0-9a-f-]{36}-0\\.json\\.gz"))
    val lines = gunzipLines(file.toString)
    assert(lines.length === 1)
    assert(lines.head.contains(""""id":"1441c21d-9921-4a1d-b239-9c6ea18af234""""))
    assert(lines.head.contains(""""last_updated":"2021-11-22T11:45:11.062824+00:00""""))
  }

  // Object-store readiness: the sink resolves its root through the Hadoop
  // FileSystem API, so any configured scheme works (s3a://, gs://, …).
  // Exercised with a registered non-`file:` scheme backed by
  // RawLocalFileSystem — write, rotation-rename, and manifest URLs must
  // all go through that filesystem, not java.nio.
  test("batch root on a non-file filesystem scheme") {
    val tmp = Files.createTempDirectory("graft-batch-mockfs").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val s = ConfigParser.parseStream(
      """{"name":"obj","sql":"SELECT id FROM range(0, 7)","key_properties":["id"],"batch_size":4,
        |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    val df = StreamSource.native(spark, s).coalesce(1)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"mockfs://$tmp"))).map(_.manifest)
    assert(manifests.length === 2) // 7 records, batch_size 4 → 4/3
    assert(manifests.forall(_.files.head.startsWith("mockfs:")))
    val counts = manifests.map { m =>
      val local = new java.net.URI(m.files.head).getPath
      gunzipLines(local).length
    }
    assert(counts.sorted === Seq(3, 4))
  }

  test("rotation at batch_size with remainder flush") {
    val tmp = Files.createTempDirectory("graft-batch").toString
    val s = ConfigParser.parseStream(
      """{"name":"rot","sql":"SELECT id FROM range(0, 12)","key_properties":["id"],"batch_size":5,
        |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    val df = StreamSource.native(spark, s).coalesce(1)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp"))).map(_.manifest)
    // 12 records, batch_size 5 → 3 chunk files (5/5/2), one manifest each
    assert(manifests.length === 3)
    val counts = manifests.map(m =>
      gunzipLines(Paths.get(java.net.URI.create(m.files.head)).toString).length)
    assert(counts.sorted === Seq(2, 5, 5))
    val total = Files.list(Paths.get(tmp)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".json.gz"))
    assert(total === 3)
  }

  // The write pass itself reports each chunk's count and bookmark: both
  // must equal what reading the chunk back finds, for a numeric, a string
  // and a temporal key (whose file form is ISO, its bookmark Spark's
  // string cast) — in small chunks, and in chunks that span several
  // encoder blocks (a padded 30k-row source rotated at 4000 rows), so
  // several gzip members; gzipped and plain.
  test("each chunk's records and max key match its file") {
    val tmp = Files.createTempDirectory("graft-batch-max").toString
    def sql(n: Int, pad: Int) = "SELECT id, (id * 37) % 23 AS k, CAST((id * 37) % 23 AS STRING) AS sk, " +
      s"timestamp_micros(1637581511062824 + ((id * 7919) % 23) * 1000001) AS ts, " +
      s"repeat(CAST(id AS STRING), $pad) AS pad FROM range(0, $n, 1, 3)"
    def stream(key: String, n: Int, pad: Int, batchSize: Int) = ConfigParser.parseStream(
      s"""{"name":"m","sql":"${sql(n, pad)}",
         |"key_properties":["id"],"replication_key":"$key","batch_size":$batchSize,
         |"replication_key_value_start":"1970-01-01",
         |"columns":[{"name":"id","type":"bigint"},{"name":"k","type":"bigint"},{"name":"sk","type":"text"},
         |  {"name":"ts","type":"datetime"},{"name":"pad","type":"text"}]}""".stripMargin)
    for ((n, pad, batchSize, counts) <- Seq(
           // 3 partitions of 7/8/8 rows, rotated at 3 → 3 chunks each
           (23, 0, 3, Seq(3, 3, 1, 3, 3, 2, 3, 3, 2)),
           // 3 partitions of 10000 rows of ~150 bytes: ~600 KB chunks
           (30000, 30, 4000, Seq(4000, 4000, 2000, 4000, 4000, 2000, 4000, 4000, 2000)));
         key <- Seq("k", "sk", "ts");
         compression <- Seq("gzip", "none")) {
      val s = stream(key, n, pad, batchSize)
      val df = StreamSource.native(spark, s)
      val chunks = BatchSink.write(df, s, gzipBatch(tmp, compression))
      assert(chunks.map(_.records) === counts)
      // a full chunk spans more than one encoder block
      if (pad > 0) assert(batchSize > graft.sinks.LineEncoder.BatchRows)
      val ext = if (compression == "gzip") ".json.gz" else ".json"
      chunks.zipWithIndex.foreach { case (c, i) =>
        assert(c.manifest.compression === compression)
        assert(c.manifest.files.head.endsWith(s"-$i$ext"))
        assert(chunkLines(c).length === c.records)
        val readBack = spark.read.schema(df.schema)
          .option("timestampFormat", graft.operators.Conformance.IsoTimestampPattern)
          .json(c.manifest.files.head)
          .selectExpr(s"CAST(max($key) AS STRING)").head().getString(0)
        assert(c.maxKey.value === Some(readBack))
      }
    }
  }

  // Each piece of a block is its own gzip member, so no deflate dictionary
  // carries over from one block to the next: on JSON lines with random
  // fields that costs 0.50% (3.25 MB of lines in 22 members) over one gzip
  // stream of the same lines.
  test("a chunk of per-block gzip members is at most 1% larger than one gzip stream") {
    val tmp = Files.createTempDirectory("graft-batch-size").toString
    val s = ConfigParser.parseStream(
      """{"name":"z","key_properties":["id"],
        |"sql":"SELECT id, CAST(rand(7) * 100000 AS INT) AS k, substr(base64(unhex(sha2(CAST(id AS STRING), 256))), 1, CAST(rand(8) * 40 AS INT)) AS s, rand(9) AS v FROM range(0, 45000, 1, 1)",
        |"columns":[{"name":"id","type":"bigint"},{"name":"k","type":"int"},{"name":"s","type":"text"},{"name":"v","type":"double"}]}""".stripMargin)
    val Seq(chunk) = BatchSink.write(StreamSource.native(spark, s), s, gzipBatch(tmp))
    assert(chunk.records === 45000)
    val file = Files.readAllBytes(Paths.get(java.net.URI.create(chunk.manifest.files.head)))
    val lines = new GZIPInputStream(new ByteArrayInputStream(file)).readAllBytes()
    val one = new ByteArrayOutputStream()
    val z = new GZIPOutputStream(one)
    z.write(lines)
    z.close()
    assert(file.length <= one.size * 1.01, s"${file.length} vs ${one.size}")
  }

  // Partition 0 of this source is empty after the filter; a chunk file is
  // only opened on its first row, so no manifest names an empty file.
  test("empty partitions announce no empty chunk") {
    val tmp = Files.createTempDirectory("graft-batch-empty").toString
    val s = ConfigParser.parseStream(
      """{"name":"e","sql":"SELECT id FROM range(0, 6, 1, 3) WHERE id >= 2","key_properties":["id"],
        |"batch_size":5,"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    val chunks = BatchSink.write(StreamSource.native(spark, s), s, gzipBatch(tmp))
    assert(chunks.map(chunkLines(_).length) === Seq(2, 2))
    assert(chunks.map(_.records) === Seq(2, 2))
  }

  // Batch lines are the RECORD mode encoding: every declared column,
  // null-valued ones as explicit JSON nulls (as the reference writes them).
  test("batch lines carry null-valued columns as explicit nulls") {
    val tmp = Files.createTempDirectory("graft-batch-null").toString
    val s = ConfigParser.parseStream(
      """{"name":"n","sql":"SELECT 'a' AS one, CAST(NULL AS INT) AS two","key_properties":["one"],
        |"columns":[{"name":"one","type":"text"},{"name":"two","type":"int","nullable":true}]}""".stripMargin)
    val chunks = BatchSink.write(StreamSource.native(spark, s), s, gzipBatch(tmp))
    assert(chunks.flatMap(chunkLines) === Seq("""{"one":"a","two":null}"""))
  }

  /** The names of the files in `root`. */
  private def files(root: String): Set[String] = new java.io.File(root).list().toSet

  private def fileName(c: BatchChunk): String =
    Paths.get(java.net.URI.create(c.manifest.files.head)).getFileName.toString

  // The first chunk of a one-partition stream is announced while its task
  // still writes: the task's rows after the first batch_size block on a
  // latch that only the announcement of chunk 0 opens. The test holds
  // every other core slot, so the task encodes its blocks itself and
  // closes chunk 0 before it pulls the row that blocks. A chunk announced
  // only after the job would time the latch out, which fails the write.
  test("a chunk is announced while its task is still writing") {
    val tmp = Files.createTempDirectory("graft-batch-early").toString
    val bs = LineEncoder.BatchRows
    val budget = { spark; CoreBudget.shared } // sized by the running session
    val idle = new CountDownLatch(1)
    val holders = (1 until budget.cores).map { _ =>
      val t = new Thread(() => budget.holding(idle.await()))
      t.start()
      t
    }
    try {
      while (budget.available > 1) Thread.sleep(5)
      AnnounceGate.latch = new CountDownLatch(1)
      val gate = udf { (id: Long) =>
        if (id == bs) require(AnnounceGate.latch.await(30, TimeUnit.SECONDS), "chunk 0 was not announced")
        id
      }.asNondeterministic()
      val df = spark.range(0, 3L * bs, 1, 1).select(gate(col("id")).as("id"))
      val s = ConfigParser.parseStream(
        s"""{"name":"early","sql":"SELECT 1","key_properties":["id"],"batch_size":$bs,
           |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
      val announced = ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      val chunks = BatchSink.write(df, s, gzipBatch(tmp), announce = { c =>
        announced += c.records
        AnnounceGate.latch.countDown()
      })
      assert(System.nanoTime() - t0 < 30L * 1000 * 1000 * 1000)
      assert(announced.toSeq === Seq(bs, bs, bs))
      assert(chunks.map(_.records) === Seq(bs, bs, bs))
      assert(chunks.flatMap(chunkLines).map(_.stripPrefix("{\"id\":").stripSuffix("}").toLong) === (0L until 3L * bs))
    } finally {
      idle.countDown()
      holders.foreach(_.join())
    }
  }

  // A row of a later partition fails the write job after other tasks have
  // written chunks: the root then holds exactly the chunks announced
  // before the failure, as the reference leaves the files it yielded
  // before a failure, with no staging dir. Run 20 times: the other tasks
  // are still creating chunk files while the directory is deleted.
  test("a failed write job leaves only the announced chunks in the batch root") {
    val s = ConfigParser.parseStream(
      """{"name":"f","key_properties":["id"],"batch_size":2,
        |"sql":"SELECT id, CASE WHEN id = 10 THEN raise_error('boom') ELSE id END AS v FROM range(0, 12, 1, 4)",
        |"columns":[{"name":"id","type":"bigint"},{"name":"v","type":"bigint"}]}""".stripMargin)
    for (_ <- 0 until 20) {
      val tmp = Files.createTempDirectory("graft-batch-fail").toString
      val announced = ArrayBuffer.empty[String]
      val e = intercept[Exception](
        BatchSink.write(StreamSource.native(spark, s), s, gzipBatch(tmp), announce = announced += fileName(_)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")))
      assert(files(tmp) === announced.toSet)
    }

    // The same failure while every task has blocks in flight on
    // helpers: each task's encoder drains them, so every core slot comes
    // back once the killed tasks have stopped. A leaked slot would
    // serialize every later write in this JVM.
    val budget = CoreBudget.shared
    val wideSql = "SELECT id, CASE WHEN id = 250000 THEN raise_error('boom') ELSE id END AS v, " +
      "repeat('x', 100) AS pad FROM range(0, 400000, 1, 4)"
    val wide = ConfigParser.parseStream(
      s"""{"name":"f","key_properties":["id"],"sql":"$wideSql",
        |"columns":[{"name":"id","type":"bigint"},{"name":"v","type":"bigint"},{"name":"pad","type":"text"}]}""".stripMargin)
    val tmp = Files.createTempDirectory("graft-batch-fail").toString
    val announced = ArrayBuffer.empty[String]
    intercept[Exception](BatchSink.write(StreamSource.native(spark, wide), wide, gzipBatch(tmp),
      announce = announced += fileName(_)))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (budget.available != budget.cores && System.nanoTime() < deadline) Thread.sleep(20)
    assert(budget.available === budget.cores)
    assert(files(tmp) === announced.toSet)

    // The driver fails as it announces the first chunk (a target that
    // went away) while the tasks still write: the root holds that chunk
    // alone, and the tasks the write's end stops end as killed, with no
    // executor ERROR, job, sink endpoint or core slot left behind.
    val cut = Files.createTempDirectory("graft-batch-cut").toString
    val clean = wide.copy(sql = wideSql.replace("250000", "-1"), batchSize = 10000)
    val endpoints = TaskChannel.Endpoints.get
    val first = ArrayBuffer.empty[String]
    val errors = SyncCleanup.executorErrors {
      val e = intercept[IllegalStateException](BatchSink.write(StreamSource.native(spark, clean), clean,
        gzipBatch(cut), announce = { c => first += fileName(c); throw new IllegalStateException("target gone") }))
      assert(e.getMessage === "target gone")
      SyncCleanup.assertSettled(spark, "after-announce-failure", endpoints)
    }
    assert(first.size === 1)
    assert(files(cut) === first.toSet)
    assert(errors.isEmpty, errors.mkString("\n"))
  }
}

/** The latch the announced-while-writing case's rows wait on. */
object AnnounceGate {
  @volatile var latch = new java.util.concurrent.CountDownLatch(0)
}
