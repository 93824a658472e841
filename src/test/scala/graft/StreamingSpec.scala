package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The events table as a file stream, `ts` normalized to µs
    * TimestampType exactly like [[Tables.read]]: the fixture's physical ts
    * type has varied across generations (TIMESTAMP(NANOS) → Long under
    * nanosAsLong; TIMESTAMP(MICROS) ntz → TimestampNTZType), so the footer
    * is peeked with a batch read first.
    */
  private def readEvents(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the fixture is a single file; the file stream source needs a
    // directory basePath with a glob that selects just the events table
    val raw = spark.readStream.schema(fileSchema)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/{events}.parquet")
    fileSchema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  test("streaming hourly counts match the batch aggregation") {
    val stream = EventStream.hourlyCounts(
      readEvents(spark, SparkTestSession.Sf))
    EventStream.runToMemory(stream, "hourly_out", OutputMode.Complete())
    val streamed = spark.table("hourly_out")
      .select("hour_start", "event_type", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    val batch = Tables.read(spark, SparkTestSession.Sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("streaming session_window matches the batch session query") {
    import org.apache.spark.sql.functions.{session_window => sw}
    val streamed = readEvents(spark, SparkTestSession.Sf)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
      .withWatermark("ts_s", "1 hour")
      .groupBy(sw(col("ts_s"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    EventStream.runToMemory(streamed, "sessions_out",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val got = spark.table("sessions_out")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet

    val batch = SparkEntry.queries("events_session_window")(spark, SparkTestSession.Sf)
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got === batch)
  }

  // Pins session_window's boundary rule: a gap of EXACTLY the window size
  // merges (new session only when gap > size). Found by the sf0.1
  // correctness sweep — one exact-1800s gap made Spark one session short
  // of an oracle written with the >= rule.
  test("session_window merges a gap of exactly the window size") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")), // gap == 1800s
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:30:01")) // gap == 1801s
    ).toDF("user_id", "ts")
    val perUser = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().collect().groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    assert(perUser === Map(1L -> 1, 2L -> 2))
  }

  test("streaming funnel matches the batch events_funnel query") {
    val streamed = EventStream.funnel(
      readEvents(spark, SparkTestSession.Sf)
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts"))
        .as[EventStream.FunnelEvent])
    EventStream.runToMemory(streamed.toDF(), "funnel_out", OutputMode.Update())
    val got = spark.table("funnel_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet

    val batch = SparkEntry.queries("events_funnel")(spark, SparkTestSession.Sf)
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet
    assert(got === batch)
  }

  test("streaming retention flags match the batch per-user retention stage") {
    val streamed = EventStream.retentionFlags(
      readEvents(spark, SparkTestSession.Sf)
        .select(col("user_id"), col("event_type"),
          to_date(col("ts")).as("day"))
        .as[EventStream.RetentionEvent])
    EventStream.runToMemory(streamed.toDF(), "retention_out", OutputMode.Update())
    val got = spark.table("retention_out")
      .as[(Long, java.sql.Date, Boolean, Boolean)].collect().toSet

    // the batch query's per-user stage (its cohort rollup is stateless)
    val batch = Tables.read(spark, SparkTestSession.Sf, "events")
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("day"))).as("signup_day"),
        collect_set(col("day")).as("days"))
      .where(col("signup_day").isNotNull)
      .select(col("user_id"), col("signup_day"),
        array_contains(col("days"), date_add(col("signup_day"), 1)).as("d1"),
        array_contains(col("days"), date_add(col("signup_day"), 7)).as("d7"))
      .as[(Long, java.sql.Date, Boolean, Boolean)].collect().toSet
    assert(got.nonEmpty && got === batch)
  }

  // Cross-batch state: the events are split into four event-time-range
  // files with chronological modification times and streamed one file per
  // microbatch, so the funnel's per-user state must survive and merge
  // across batches. Per-user funnel stages are monotone (None→Some, never
  // mutated), so the most-advanced emitted row per user IS the final
  // state and must equal the batch aggregation.
  test("streaming funnel equals batch across multiple microbatches") {
    val ev = Tables.read(spark, SparkTestSession.Sf, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts"))
    val bounds = ev
      .selectExpr("percentile(unix_timestamp(ts), array(0.25, 0.5, 0.75)) AS q")
      .head().getSeq[Double](0)
    val dir = java.nio.file.Files.createTempDirectory("graft-mb").toString
    val slices = Seq(
      col("ts") < timestamp_seconds(lit(bounds(0))),
      col("ts") >= timestamp_seconds(lit(bounds(0))) &&
        col("ts") < timestamp_seconds(lit(bounds(1))),
      col("ts") >= timestamp_seconds(lit(bounds(1))) &&
        col("ts") < timestamp_seconds(lit(bounds(2))),
      col("ts") >= timestamp_seconds(lit(bounds(2))))
    val base = System.currentTimeMillis() - 3600_000L
    slices.zipWithIndex.foreach { case (cond, i) =>
      val path = s"$dir/b$i"
      ev.where(cond).coalesce(1).write.parquet(path)
      // chronological mod times force oldest-first batch order
      java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator()
        .asScala.foreach(p => p.toFile.setLastModified(base + i * 60_000L))
    }

    val streamed = EventStream.funnel(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*")
        .as[EventStream.FunnelEvent])
    EventStream.runToMemory(streamed.toDF(), "funnel_mb_out", OutputMode.Update())
    val rows = spark.table("funnel_mb_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect()
    // users spanning several slices emit once per batch they appear in
    assert(rows.length > rows.map(_._1).distinct.length,
      "expected multiple microbatches to re-emit advancing users")
    val got = rows.groupBy(_._1).view.mapValues(
      _.maxBy(r => r._2.size + r._3.size + r._4.size)).values.toSet

    val batch = SparkEntry.queries("events_funnel")(spark, SparkTestSession.Sf)
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet
    assert(got === batch)
  }

  // Out-of-order delivery: slices are fed in scrambled order (2,0,3,1) —
  // the watermark-buffered funnelExact must STILL equal the batch
  // aggregation, because it folds events only after the watermark seals
  // them, in event-time order. A far-future sentinel event (user −1)
  // pushes the final watermark past every real event so all buffers
  // drain via the event-time timeout.
  test("watermark-ordered exact funnel equals batch under scrambled delivery") {
    val ev = Tables.read(spark, SparkTestSession.Sf, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts"))
    val bounds = ev
      .selectExpr("percentile(unix_timestamp(ts), array(0.25, 0.5, 0.75)) AS q")
      .head().getSeq[Double](0)
    val span = ev.selectExpr(
        "unix_timestamp(max(ts)) - unix_timestamp(min(ts))",
        "unix_timestamp(max(ts))")
      .as[(Long, Long)].head()
    val delaySec = span._1 + 3600L
    val dir = java.nio.file.Files.createTempDirectory("graft-ooo").toString
    val slices = Seq(
      col("ts") < timestamp_seconds(lit(bounds(0))),
      col("ts") >= timestamp_seconds(lit(bounds(0))) &&
        col("ts") < timestamp_seconds(lit(bounds(1))),
      col("ts") >= timestamp_seconds(lit(bounds(1))) &&
        col("ts") < timestamp_seconds(lit(bounds(2))),
      col("ts") >= timestamp_seconds(lit(bounds(2))))
    val base = System.currentTimeMillis() - 3600_000L
    // arrival order 2,0,3,1 — disorder spans the full event-time range,
    // covered by the watermark delay (span + 1h)
    Seq(2, 0, 3, 1).zipWithIndex.foreach { case (sliceIdx, arrival) =>
      val path = s"$dir/b$arrival"
      ev.where(slices(sliceIdx)).coalesce(1).write.parquet(path)
      java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator()
        .asScala.foreach(p => p.toFile.setLastModified(base + arrival * 60_000L))
    }
    // sentinel: watermark = sentinel_ts − delay > max real ts → drains all
    val sentinelTs = new java.sql.Timestamp(
      (span._2 + delaySec + 7200L) * 1000L)
    val sentPath = s"$dir/b4"
    Seq((-1L, "noop", sentinelTs)).toDF("user_id", "event_type", "ts")
      .coalesce(1).write.parquet(sentPath)
    java.nio.file.Files.list(java.nio.file.Paths.get(sentPath)).iterator()
      .asScala.foreach(p => p.toFile.setLastModified(base + 4 * 60_000L))

    val streamed = EventStream.funnelExact(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*")
        .withWatermark("ts", s"$delaySec seconds")
        .as[EventStream.FunnelEvent])
    EventStream.runToMemory(streamed.toDF(), "funnel_ooo_out", OutputMode.Update())
    val got = spark.table("funnel_ooo_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect()
      .filter(_._1 >= 0)
      .groupBy(_._1).view.mapValues(
        _.maxBy(r => r._2.size + r._3.size + r._4.size)).values.toSet
    val batch = SparkEntry.queries("events_funnel")(spark, SparkTestSession.Sf)
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet
    assert(got === batch)
  }

  // The events_funnel_stream GATE ENTRY (funnelExact run end-to-end as a
  // file-source streaming query, sentinel-drained) must equal the batch
  // events_funnel entry row-for-row — the same equivalence the DuckDB
  // oracle hash-checks, asserted here against the batch plan directly.
  test("events_funnel_stream gate entry equals the batch funnel entry") {
    val streamed = SparkEntry.queries("events_funnel_stream")(
        spark, SparkTestSession.Sf)
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet
    val batch = SparkEntry.queries("events_funnel")(spark, SparkTestSession.Sf)
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  // The other two streaming gate entries: exact gap sessionization and
  // retention must reproduce their batch counterparts row-for-row (the
  // same equivalence their DuckDB oracles hash-check).
  test("events_sessions_stream gate entry equals the batch session_window entry") {
    val streamed = SparkEntry.queries("events_sessions_stream")(
        spark, SparkTestSession.Sf)
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val batch = SparkEntry.queries("events_session_window")(
        spark, SparkTestSession.Sf)
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("events_retention_stream gate entry equals the batch retention entry") {
    val streamed = SparkEntry.queries("events_retention_stream")(
        spark, SparkTestSession.Sf)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("events_retention")(spark, SparkTestSession.Sf)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("q_asof_join_stream gate entry equals the batch custom as-of entry") {
    val streamed = SparkEntry.queries("q_asof_join_stream")(
        spark, SparkTestSession.Sf)
      .as[(Long, Long, Option[java.sql.Timestamp])].collect().toSet
    val batch = SparkEntry.queries("q_asof_join")(spark, SparkTestSession.Sf)
      .as[(Long, Long, Option[java.sql.Timestamp])].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  // A right (state-side) row delivered AFTER the left row it should value
  // is lost by the unbuffered streaming as-of but recovered by the
  // watermark-buffered exact form once both are sealed.
  test("streamingAsOfExact recovers a late-delivered right row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Int, Long,
      Option[java.sql.Timestamp])]
    val q = EventStream.streamingAsOfExact(
        in.toDF().toDF("key", "ts", "side", "tag", "payload")
          .withWatermark("ts", "2 hours")
          .as[EventStream.AsOfEvt])
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("asof_ooo_out").start()
    // left at 10:30 arrives FIRST; the right row at 10:10 arrives a batch
    // later; a second left at 10:05 checks the before-any-right case
    in.addData((1L, ts("2024-01-01 10:30:00"), 1, 100L, None),
      (1L, ts("2024-01-01 10:05:00"), 1, 101L, None))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 10:10:00"), 0, 0L,
      Some(ts("2024-01-01 10:10:00"))))
    q.processAllAvailable()
    in.addData((99L, ts("2024-01-02 12:00:00"), 1, -1L, None)) // sentinel
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_ooo_out").where(col("key") === 1L)
      .as[(Long, Long, Option[java.sql.Timestamp])].collect().toSet
    assert(got === Set(
      (1L, 100L, Some(ts("2024-01-01 10:10:00"))), // valued by the late right
      (1L, 101L, None)))                           // before any right row
  }

  // Cross-batch disorder: an event delivered in a LATER microbatch than a
  // newer one must still fold into the right session once sealed — the
  // watermark-buffered sessionizer recovers the exact split.
  test("sessionizeExact recovers exact sessions under cross-batch disorder") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStream.sessionizeExact(
        in.toDF().toDF("user_id", "ts").withWatermark("ts", "2 hours")
          .as[EventStream.SessionEvent], gapMinutes = 30)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("sess_ooo_out").start()
    // 10:20 (merges with 10:00) arrives AFTER 11:30 (a separate session)
    in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:30:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 10:20:00")))
    q.processAllAvailable()
    in.addData((99L, ts("2024-01-02 12:00:00"))) // sentinel: drains user 1
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_ooo_out").where(col("user_id") === 1L)
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got === Set(
      (1L, ts("2024-01-01 10:00:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 1L)))
  }

  // The interval-union fold shares sessionizeExact's machinery; this pins
  // its OWN contract — epoch-second island bounds with end = last + L —
  // under the same cross-batch disorder, including the exactly-touching
  // boundary (11:30 starts ≤ 30 min after 11:00's interval opens ⇒ one
  // island spanning both).
  test("intervalUnionExact merges exact islands under cross-batch disorder") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def es(s: String) = ts(s).getTime / 1000L
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStream.intervalUnionExact(
        in.toDF().toDF("user_id", "ts").withWatermark("ts", "2 hours")
          .as[EventStream.SessionEvent], lenSeconds = 1800L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("iu_ooo_out").start()
    // 10:20 (merges with 10:00) arrives AFTER the 11:00/11:30 pair,
    // which themselves touch exactly at the 30-minute boundary
    in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-01 11:30:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-01 10:20:00")))
    q.processAllAvailable()
    in.addData((99L, ts("2024-01-02 12:00:00"))) // sentinel: drains user 1
    q.processAllAvailable(); q.stop()
    val got = spark.table("iu_ooo_out").where(col("user_id") === 1L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, es("2024-01-01 10:00:00"), es("2024-01-01 10:50:00"), 2L),
      (1L, es("2024-01-01 11:00:00"), es("2024-01-01 12:00:00"), 2L)))
  }

  // An event delivered AFTER a newer one of a different type must still
  // extend its own run once sealed — unbuffered folding would emit a
  // spurious a|b|a run split; the watermark buffer recovers the exact
  // a[2 events] → b compaction.
  test("scd2Exact recovers exact intervals under cross-batch disorder") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = EventStream.scd2Exact(
        in.toDF().toDF("user_id", "event_id", "event_type", "ts")
          .withWatermark("ts", "3 hours")
          .as[EventStream.Scd2Event])
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("scd2_ooo_out").start()
    // the 10:30 'a' (extends the first run) arrives AFTER the 11:00 'b'
    in.addData((1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (1L, 3L, "b", ts("2024-01-01 11:00:00")))
    q.processAllAvailable()
    in.addData((1L, 2L, "a", ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    in.addData((99L, 9L, "noop", ts("2024-01-02 12:00:00"))) // drains user 1
    q.processAllAvailable(); q.stop()
    val fin = spark.table("scd2_ooo_out").where(col("user_id") === 1L)
      .groupBy("user_id", "event_type", "valid_from", "from_eid")
      .agg(max(col("n_events")).as("n"), max(col("valid_to")).as("vt"))
      .select("event_type", "valid_from", "vt", "n")
      .as[(String, java.sql.Timestamp, Option[java.sql.Timestamp], Long)]
      .collect().toSet
    assert(fin === Set(
      ("a", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 11:00:00")), 2L),
      ("b", ts("2024-01-01 11:00:00"), None, 1L)))
  }

  // A d1 activity delivered BEFORE its signup (cross-batch) is lost by the
  // unbuffered retention fold but recovered by the watermark-buffered one.
  test("retentionFlagsExact recovers a d1 activity delivered before its signup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = EventStream.retentionFlagsExact(
        in.toDF().toDF("user_id", "event_type", "ts")
          .withWatermark("ts", "10 days")
          .as[EventStream.FunnelEvent])
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("ret_ooo_out").start()
    in.addData((1L, "view", ts("2024-01-02 09:00:00"))) // day signup+1, first
    q.processAllAvailable()
    in.addData((1L, "signup", ts("2024-01-01 08:00:00")))
    q.processAllAvailable()
    in.addData((99L, "noop", ts("2024-03-01 00:00:00"))) // sentinel: drains
    q.processAllAvailable(); q.stop()
    val fin = spark.table("ret_ooo_out").where(col("user_id") === 1L)
      .groupBy("user_id")
      .agg(max(col("signup_day")).as("sd"),
        max(col("d1").cast("int")).as("d1"), max(col("d7").cast("int")).as("d7"))
      .as[(Long, java.sql.Date, Int, Int)].collect().toSeq
    assert(fin === Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1, 0)))

    // the unbuffered fold on the same delivery misses d1 (one-sided)
    val in2 = MemoryStream[(Long, String, java.sql.Date)]
    val q2 = EventStream.retentionFlags(
        in2.toDF().toDF("user_id", "event_type", "day")
          .as[EventStream.RetentionEvent])
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("ret_fw_out").start()
    in2.addData((1L, "view", java.sql.Date.valueOf("2024-01-02")))
    q2.processAllAvailable()
    in2.addData((1L, "signup", java.sql.Date.valueOf("2024-01-01")))
    q2.processAllAvailable(); q2.stop()
    val fw = spark.table("ret_fw_out").where(col("user_id") === 1L)
      .groupBy("user_id").agg(max(col("d1").cast("int")).as("d1"))
      .as[(Long, Int)].collect().toSeq
    assert(fw === Seq((1L, 0)))
  }

  // The first-write-wins funnel under out-of-order arrival: a stage event
  // delivered before its prerequisite is discarded and never recovered —
  // the approximation is ONE-SIDED (it can miss a reached stage, never
  // invent one). funnelExact on the same delivery recovers the exact
  // answer once the watermark seals the events.
  test("first-write-wins funnel is one-sided under late prerequisites; exact funnel recovers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val t1 = ts("2024-01-01 10:00:00")
    val t2 = ts("2024-01-01 10:10:00")
    val t3 = ts("2024-01-01 10:20:00")

    // u1 in order; u2's view arrives BEFORE its signup (cross-batch)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val fw = EventStream.funnel(in.toDF()
      .toDF("user_id", "event_type", "ts").as[EventStream.FunnelEvent])
    val q1 = fw.toDF().writeStream.outputMode("update").format("memory")
      .queryName("fw_out").start()
    in.addData((1L, "signup", t1), (1L, "view", t2), (1L, "purchase", t3),
      (2L, "view", t2))
    q1.processAllAvailable()
    in.addData((2L, "signup", t1))
    q1.processAllAvailable(); q1.stop()
    val fwRows = spark.table("fw_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect()
      .groupBy(_._1).view.mapValues(
        _.maxBy(r => r._2.size + r._3.size + r._4.size)).toMap
    assert(fwRows(1L)._5 && fwRows(1L)._6) // in-order user fully funnels
    // one-sided miss: view preceded signup in arrival order → dropped
    assert(fwRows(2L)._2 === Some(t1) && fwRows(2L)._3 === None
      && !fwRows(2L)._5)

    val in2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ex = EventStream.funnelExact(in2.toDF()
      .toDF("user_id", "event_type", "ts")
      .withWatermark("ts", "1 hour").as[EventStream.FunnelEvent])
    val q2 = ex.toDF().writeStream.outputMode("update").format("memory")
      .queryName("ex_out").start()
    in2.addData((1L, "signup", t1), (1L, "view", t2), (1L, "purchase", t3),
      (2L, "view", t2))
    q2.processAllAvailable()
    in2.addData((2L, "signup", t1))
    q2.processAllAvailable()
    // sentinel pushes the watermark past t3 + 1h so both users drain
    in2.addData((-1L, "noop", ts("2024-01-01 13:00:00")))
    q2.processAllAvailable()
    in2.addData((-1L, "noop", ts("2024-01-01 14:00:00")))
    q2.processAllAvailable(); q2.stop()
    val exRows = spark.table("ex_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean, Boolean)].collect()
      .filter(_._1 >= 0)
      .groupBy(_._1).view.mapValues(
        _.maxBy(r => r._2.size + r._3.size + r._4.size)).toMap
    assert(exRows(1L) === ((1L, Some(t1), Some(t2), Some(t3), true, true)))
    // the late-prerequisite user is recovered exactly
    assert(exRows(2L) === ((2L, Some(t1), Some(t2), None, true, false)))
  }

  test("streaming as-of join matches the custom batch operator") {
    // purchases (left) pick up the latest click ts at-or-before them
    val streamed = EventStream.streamingAsOf(
      readEvents(spark, SparkTestSession.Sf)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("user_id").as("key"),
          date_trunc("second", col("ts")).as("ts"),
          when(col("event_type") === "click", lit(0)).otherwise(lit(1)).as("side"),
          when(col("event_type") === "click",
            date_trunc("second", col("ts"))).as("payload"))
        .as[EventStream.AsOfIn])
    EventStream.runToMemory(streamed.toDF(), "asof_out", OutputMode.Append())
    val got = spark.table("asof_out")
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).toSet).toMap

    val ev = Tables.read(spark, SparkTestSession.Sf, "events")
    val batch = graft.plans.AsOfJoinPlan.asOf(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"),
            date_trunc("second", col("ts")).as("click_s")),
        "user_id", "c_user", "ts_s", "click_s")
      .select("user_id", "ts_s", "click_s")
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).toSet).toMap
    assert(got.nonEmpty && got === batch)
  }

  // The streamed pair set must equal the batch minhashDupPairs output
  // whatever microbatch split the docs arrive in: the bucket cap is a set
  // property and verification fires only once the watermark seals the
  // membership.
  test("minhashPairsStream equals batch pairs under scrambled microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Dedup
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docsDf = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(col("doc_id"), col("text"))
    val want = Dedup.minhashDupPairs(
        Tables.read(spark, SparkTestSession.Sf, "documents"),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    // scramble: deal docs round-robin into 3 batches by a hash of doc_id
    val all = docsDf.as[(Long, String)].collect()
    val batches = all.groupBy(d => math.abs(d._1 * 2654435761L % 3)).values.toSeq
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val nPerm = 64; val bands = 16
    val banded = in.toDF().toDF("doc_id", "text", "ts")
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .select(col("doc_id"), col("ts"), col("sh"),
        explode(Dedup.lshBandKeys(
          Dedup.minhashSignature(col("sh"), nPerm), nPerm, bands)).as("band"))
      .as[EventStream.BandedDoc]
    val q = EventStream.minhashPairsStream(banded, threshold = 0.5).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("minhash_pairs_out").start()
    batches.foreach { b =>
      in.addData(b.map(d => (d._1, d._2, t0)).toSeq)
      q.processAllAvailable()
    }
    in.addData((-1L, "", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("minhash_pairs_out").where(col("id_a") >= 0)
      .distinct().as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  // Streaming semantic dedup: fixed centers, stateless assignment on
  // arrival, watermark-sealed clusters — the streamed pair set must be
  // BIT-equal to batch semanticDupPairs whatever the microbatch split.
  test("cosinePairsStream equals batch semantic pairs under scrambled microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Similarity
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val want = Similarity.semanticDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nClusters = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    val centers = Similarity.semanticCenters(emb, "embedding", nClusters = 8)
    val all = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val batches = all.groupBy(d => math.abs(d._1 * 2654435761L % 3)).values.toSeq
    val in = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val clustered = in.toDF().toDF("doc_id", "v", "ts")
      .withWatermark("ts", "1 hour")
      .select(
        when(col("doc_id") < 0, lit(-1L))
          .otherwise(graft.plans.PqExpressions
            .nearestCentroid(col("v"), centers).cast("long")).as("bucket"),
        col("doc_id"), col("v"), col("ts"))
      .as[EventStream.ClusteredVec]
    val q = EventStream.cosinePairsStream(clustered, threshold = 0.4).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("semantic_pairs_out").start()
    batches.foreach { b =>
      in.addData(b.map(d => (d._1, d._2, t0)).toSeq)
      q.processAllAvailable()
    }
    in.addData((-1L, Seq.fill(64)(0.0),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("semantic_pairs_out").where(col("id_a") >= 0)
      .distinct().as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  // First-occurrence span dedup streams to the same survivors as batch
  // whatever the microbatch split: min(doc_id, span_idx) and count are
  // set properties of the sealed corpus.
  test("streaming span first-occurrence equals batch under scrambled batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Curation
    implicit val sc = spark.sqlContext
    val docsDf = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(col("doc_id"), col("text"))
    val want = Curation.spanRows(docsDf, "text", "doc_id", 16)
      .groupBy("span_text")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"),
        count(lit(1)).as("n"))
      .select(col("first.doc_id"), col("first.span_idx"), col("n"))
      .as[(Long, Int, Long)].collect().toSet
    val all = docsDf.as[(Long, String)].collect()
    val batches = all.groupBy(d => math.abs(d._1 * 40503L % 3)).values.toSeq
    val in = MemoryStream[(Long, String)]
    val agg = Curation.spanRows(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", 16)
      .groupBy("span_text")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"),
        count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("span_first_out").start()
    batches.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val got = spark.table("span_first_out")
      .groupBy("span_text")
      .agg(min(col("first")).as("first"), max(col("n")).as("n"))
      .select(col("first.doc_id"), col("first.span_idx"), col("n"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  // Timeout monotonicity: a later microbatch whose arrivals carry SMALLER
  // event-times than an already-buffered member must not pull the armed
  // seal earlier — the bucket stays open until the watermark passes the
  // max member ts EVER seen, so stragglers above the watermark still pair
  // with every earlier member.
  test("minhashPairsStream keeps bucket open for stragglers after a smaller-ts batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Dedup
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val nPerm = 64; val bands = 16
    val sameText = "the quick brown fox jumps over the lazy dog again and again"
    val banded = in.toDF().toDF("doc_id", "text", "ts")
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .select(col("doc_id"), col("ts"), col("sh"),
        explode(Dedup.lshBandKeys(
          Dedup.minhashSignature(col("sh"), nPerm), nPerm, bands)).as("band"))
      .as[EventStream.BandedDoc]
    val q = EventStream.minhashPairsStream(banded, threshold = 0.5).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("minhash_monotone_out").start()
    // A at 10:00 → watermark 09:00; the bucket's max member ts is 10:00
    in.addData((1L, sameText, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // B at 09:05 — a batch whose max arrival ts is BELOW the stored max;
    // a non-monotone re-arm would lower the seal to 09:05
    in.addData((2L, sameText, ts("2024-01-01 09:05:00")))
    q.processAllAvailable()
    // dummy pushes the watermark to 09:07 (> 09:05, still < 10:00):
    // under the bug the bucket seals NOW with only {A, B}
    in.addData((-1L, "totally unrelated filler words here", ts("2024-01-01 10:07:00")))
    q.processAllAvailable()
    // C at 09:30 is legitimately in flight (above the 09:07 watermark)
    in.addData((3L, sameText, ts("2024-01-01 09:30:00")))
    q.processAllAvailable()
    // drain: watermark past every member ts
    in.addData((-2L, "more unrelated filler", ts("2024-01-01 12:00:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("minhash_monotone_out").where(col("id_a") >= 0)
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // Stream-stream join state retention: a click delivered in a LATER
  // microbatch than its purchase still joins (the purchase waits in join
  // state until the watermark passes its interval bound); an out-of-window
  // click never matches.
  test("stream-stream interval join matches across microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // (user, side: p|c, id, ts)
    val in = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val src = in.toDF().toDF("user_id", "side", "id", "ts")
      .withWatermark("ts", "2 hours")
    val p = src.where(col("side") === "p")
      .select(col("user_id").as("p_user"), col("id").as("purchase_id"),
        col("ts").as("p_ts"))
    val c = src.where(col("side") === "c")
      .select(col("user_id").as("c_user"), col("id").as("click_id"),
        col("ts").as("c_ts"))
    val q = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      .select("purchase_id", "click_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join_out").start()
    in.addData((1L, "p", 100L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    // in-window click arrives a batch AFTER its purchase; out-of-window
    // click (2h earlier) arrives too
    in.addData((1L, "c", 200L, ts("2024-01-01 10:00:00")),
      (1L, "c", 201L, ts("2024-01-01 08:00:00")))
    q.processAllAvailable()
    in.addData((9L, "p", -1L, ts("2024-01-02 12:00:00")),
      (9L, "c", -2L, ts("2024-01-02 12:00:00"))) // advance both watermarks
    q.processAllAvailable(); q.stop()
    val got = spark.table("ss_join_out")
      .where(col("purchase_id") >= 0)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((100L, 200L)))
  }

  test("streaming minhash bucket index flags near-dup arrivals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, Seq[Long])]
    // bucket 7: doc 1 is the representative; docs 2 (identical sig) and 3
    // (half-overlapping sig) arrive later. bucket 9: doc 4 alone.
    val sigA = Seq(1L, 2L, 3L, 4L)
    val sigB = Seq(1L, 2L, 9L, 9L)
    in.addData((1L, 7L, sigA), (2L, 7L, sigA), (3L, 7L, sigB), (4L, 9L, sigA))
    val q = EventStream.minhashBucketIndex(in.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("nn_idx_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("nn_idx_out")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((2L, 1L, 4), (3L, 1L, 2)))
  }

  test("streaming near-dup end-to-end: real signatures over a doc stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.Dedup
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "THE  Quick  brown fox jumps over the lazy dog"), // dup mod norm
      (3L, "an utterly different document about query engines"))
    // signature + first-band bucket are pure projections — identical
    // expressions work on the stream and in batch
    val sigs = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.minhashSignature(
          Dedup.shingleHashes(col("text"), 3), 64, 42L).as("sig"))
      .select(col("doc_id"),
        element_at(Dedup.lshBandKeys(col("sig"), 64, 16), 1).as("bucket"),
        col("sig"))
      .as[(Long, Long, Seq[Long])]
    val q = EventStream.minhashBucketIndex(sigs).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_neardup_out").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_neardup_out")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, c) => a -> ((b, c)) }.toMap
    // doc 2 normalizes identically to doc 1: same bucket, full 64-row
    // signature overlap; doc 3 lands in a different bucket (no verdict)
    assert(got(2L) === ((1L, 64)))
    assert(!got.contains(3L))
  }

  // Watermark semantics: an event older than (max event time − watermark)
  // arriving in a LATER batch is dropped from an Append-mode windowed
  // aggregation — the bounded-state guarantee that makes unbounded
  // streams tractable.
  test("watermark drops late events from append-mode aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: events in [10:00) and [10:20) → watermark advances to 10:19
    in.addData((t("2024-01-01 10:05:00"), 1L), (t("2024-01-01 10:29:00"), 2L))
    q.processAllAvailable()
    // batch 2: a late event for the already-finalized 10:00 window + one
    // current event
    in.addData((t("2024-01-01 10:01:00"), 3L), (t("2024-01-01 10:31:00"), 4L))
    q.processAllAvailable()
    // batch 3: advance far enough to close every window
    in.addData((t("2024-01-01 11:00:00"), 5L))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("late_out")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    // the 10:00 window finalized with ONE event — the late arrival (3L)
    // was dropped, not merged
    assert(got(t("2024-01-01 10:00:00")) === 1L)
    assert(got(t("2024-01-01 10:20:00")) === 1L)
    assert(got(t("2024-01-01 10:30:00")) === 1L)
  }

  // Event-time-timeout sessionization: sessions close when the watermark
  // passes last-event + gap; per-batch splits and cross-batch merges both
  // behave like the batch session_window query.
  test("event-time-timeout sessionization emits gap-separated sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[EventStream.SessionEvent]
    val q = EventStream.sessionizeWithTimeout(in.toDS(), gapMinutes = 30).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_timeout_out").start()

    // user 1: two events 10 min apart (one session), then a 40-min gap
    // within the same batch (second session)
    in.addData(
      EventStream.SessionEvent(1L, t("2024-01-01 10:00:00")),
      EventStream.SessionEvent(1L, t("2024-01-01 10:10:00")),
      EventStream.SessionEvent(1L, t("2024-01-01 10:50:00")))
    q.processAllAvailable()
    // user 1 extends the open session cross-batch; user 2 starts one
    in.addData(
      EventStream.SessionEvent(1L, t("2024-01-01 11:05:00")),
      EventStream.SessionEvent(2L, t("2024-01-01 11:00:00")))
    q.processAllAvailable()
    // advance the watermark far past every open session → timeouts fire
    in.addData(EventStream.SessionEvent(99L, t("2024-01-01 23:00:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess_timeout_out")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .filter(_._1 != 99L).map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      (1L, t("2024-01-01 10:00:00")) -> 2L,  // 10:00 + 10:10
      (1L, t("2024-01-01 10:50:00")) -> 2L,  // 10:50 + 11:05 (cross-batch)
      (2L, t("2024-01-01 11:00:00")) -> 1L))
  }

  test("tokenBudgetAdmitExact: event-time prefix admission, disorder-proof") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = EventStream.tokenBudgetAdmitExact(
        in.toDF().toDF("doc_id", "n_tokens", "ts")
          .withWatermark("ts", "2 hours")
          .as[EventStream.BudgetDoc], budget = 100L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("budget_admit_out").start()
    // docs at 10:00 (40 tok), 10:10 (50), 10:20 (30), 10:30 (5); the
    // 10:10 doc arrives a BATCH LATE — admission must still run in
    // event-time order: 40, 90 admitted; 120 rejects the 10:20 doc AND
    // poisons the prefix, so the tiny 10:30 doc rejects too (cum=125)
    in.addData((1L, 40L, ts("2024-01-01 10:00:00")),
      (3L, 30L, ts("2024-01-01 10:20:00")),
      (4L, 5L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    in.addData((2L, 50L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    in.addData((-1L, 0L, ts("2024-01-02 12:00:00"))) // sentinel drains
    q.processAllAvailable(); q.stop()
    val got = spark.table("budget_admit_out").where(col("doc_id") >= 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 40L, 40L), (2L, 50L, 90L)))
  }

  test("sample_budget_stream gate entry equals the batch id-ordered prefix") {
    val got = SparkEntry.queries("sample_budget_stream")(
        spark, SparkTestSession.Sf)
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSet
    // batch reference: flat cumsum in doc_id order
    val all = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val expect = all.flatMap { case (id, n) =>
      cum += n
      if (cum <= 16000L) Some((id, n, cum)) else None
    }.toSet
    assert(got === expect)
    assert(got.nonEmpty)
    assert(got.size < all.length, "budget should actually cut")
  }

  test("sourceQuotaAdmitExact: per-source first-N in event-time order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = EventStream.sourceQuotaAdmitExact(
        in.toDF().toDF("doc_id", "source", "ts")
          .withWatermark("ts", "2 hours")
          .as[EventStream.QuotaDoc], quota = 2L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("quota_admit_out").start()
    // source A: the 10:05 doc arrives a batch LATE but must still take
    // rank 2 (event-time order), displacing the 10:20 doc; source B has
    // its own budget
    in.addData((1L, "A", ts("2024-01-01 10:00:00")),
      (3L, "A", ts("2024-01-01 10:20:00")),
      (10L, "B", ts("2024-01-01 10:15:00")))
    q.processAllAvailable()
    in.addData((2L, "A", ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    in.addData((-1L, "sentinel", ts("2024-01-02 12:00:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("quota_admit_out").where(col("doc_id") >= 0)
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "A", 1L), (2L, "A", 2L), (10L, "B", 1L)))
  }

  test("events_active_users equals a driver-side trailing-window replay") {
    val got = SparkEntry.queries("events_active_users")(
        spark, SparkTestSession.Sf)
      .as[(java.sql.Date, Long, Long)].collect()
      .map(r => r._1.toLocalDate -> ((r._2, r._3))).toMap
    val du = Tables.read(spark, SparkTestSession.Sf, "events")
      .select(to_date(col("ts")), col("user_id"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, u) => (d.toLocalDate, u) }.toSet
    val byDay = du.groupBy(_._1)
    assert(got.keySet === byDay.keySet)
    byDay.foreach { case (day, pairs) =>
      val dau = pairs.size.toLong
      val wau = du.filter { case (d, _) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._2).size.toLong
      assert(got(day) === ((dau, wau)), s"day $day")
    }
    // WAU dominates DAU everywhere
    got.values.foreach { case (dau, wau) => assert(wau >= dau) }
  }

  test("events_wau_stream: sliding-window WAU equals the driver replay") {
    val got = SparkEntry.queries("events_wau_stream")(
        spark, SparkTestSession.Sf)
      .as[(java.sql.Date, Long)].collect()
      .map(r => r._1.toLocalDate -> r._2).toMap
    val du = Tables.read(spark, SparkTestSession.Sf, "events")
      .select(to_date(col("ts")), col("user_id"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, u) => (d.toLocalDate, u) }.toSet
    val rdays = du.flatMap { case (d, _) => (0 to 6).map(d.plusDays(_)) }
    assert(got.keySet === rdays)
    rdays.foreach { rday =>
      val wau = du.filter { case (d, _) =>
        !d.isAfter(rday) && !d.isBefore(rday.minusDays(6))
      }.map(_._2).size.toLong
      assert(got(rday) === wau, s"report day $rday")
    }
  }

  // VERDICT r6 item 6: durable checkpoints. A STATEFUL windowed count is
  // killed mid-stream (some windows sealed and emitted, others still
  // open in operator state), new data for an OPEN window arrives while
  // the query is down, and the restarted plan — same checkpoint, same
  // name — must merge the pre-kill partial counts with the new rows and
  // emit every window exactly once across both runs. That only works if
  // offsets, watermark, AND aggregation state survived the restart.
  //
  // The durable run is a parquet-append file sink with a named
  // checkpoint: the sink's transaction log and the checkpoint's offsets
  // and state commit together, which is what makes it exactly-once.
  private def startToParquet(df: org.apache.spark.sql.DataFrame, name: String,
                             outPath: String, checkpointRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", s"$checkpointRoot/$name")
      .start()

  test("durable checkpoint: stateful windowed count kill-resumes exactly-once") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ckpt-kr").toString
    val src = s"$root/arrivals"
    val out = s"$root/out"

    // three phase-1 files, chronological mtimes so the file source
    // replays them in event-time order (no spurious late-drops)
    val f1 = Seq((1L, ts("2024-01-01 00:10:00")), (2L, ts("2024-01-01 00:40:00")),
      (3L, ts("2024-01-01 01:10:00")))
    val f2 = Seq((4L, ts("2024-01-01 02:05:00")), (5L, ts("2024-01-01 02:20:00")),
      (6L, ts("2024-01-01 03:30:00")))
    val f3 = Seq((7L, ts("2024-01-01 03:45:00")))
    val base = System.currentTimeMillis() - 3600_000L
    Seq(f1, f2, f3).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("append").parquet(src)
      java.nio.file.Files.list(java.nio.file.Paths.get(src))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .filter(_.toFile.lastModified() > base + i * 60_000L)
        .foreach(_.toFile.setLastModified(base + i * 60_000L))
    }

    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts", "timestamp")
    def plan() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("n"))

    val ckpt = s"$root/ckpt"
    val q1 = startToParquet(plan(), "kr", out, ckpt)
    q1.processAllAvailable()
    q1.stop() // kill: watermark 02:45 — hours 00/01 sealed, 02/03 open in state

    val phase1 = spark.read.parquet(out)
      .as[(java.sql.Timestamp, Long)].collect().toSet
    assert(phase1.nonEmpty, "some windows should have sealed before the kill")
    assert(!phase1.exists(_._1 == ts("2024-01-01 02:00:00")),
      "hour-02 window must still be OPEN at the kill")

    // while down: MORE hour-02 data (merges into restored state) + a
    // sentinel far enough ahead to seal everything real
    (Seq((8L, ts("2024-01-01 02:50:00")), (9L, ts("2024-01-02 00:00:00")))
      .toDF("user_id", "ts")).coalesce(1).write.mode("append").parquet(src)

    val q2 = startToParquet(plan(), "kr", out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val finalRows = spark.read.parquet(out)
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    // exactly-once: one row per sealed window across BOTH runs
    assert(finalRows.size === finalRows.map(_._1).distinct.size)
    val got = finalRows.toMap
    assert(got === Map(
      ts("2024-01-01 00:00:00") -> 2L,
      ts("2024-01-01 01:00:00") -> 1L,
      ts("2024-01-01 02:00:00") -> 3L, // 2 before the kill + 1 after
      ts("2024-01-01 03:00:00") -> 2L))
    assert(phase1.subsetOf(got.toSet), "resume must not rewrite sealed output")
  }
}
