package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures.{sentinelBounds, streamWithSentinel}

/** Event-stream entries over the `events` table: sessionization, funnels,
  * windowed counts, sketches (HLL, quantiles), SCD2 history and the
  * streaming twins that must reproduce their batch forms bit-for-bit.
  */
object EventQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    // Hourly session-concurrency by sweep-line: 30-min-gap sessions
    // (min/max event ts per session), +1/−1 deltas aggregated PER HOUR
    // first (partial-agg), then ONE cumulative window over the
    // metadata-sized hour spine — never a window over raw rows. The
    // how-many-users-are-on-right-now operator.
    entry("events_concurrency", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
      graft.functions.EventOps.concurrencySweep(ev
        .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
        .agg(min("ts_s").as("s"), max("ts_s").as("e"))
        .select(date_trunc("hour", col("s")).as("sh"),
          date_trunc("hour", col("e")).as("eh")))
    },
      concurrencyOracle),

    // Streaming twin #29 — the same concurrency from a live stream:
    // native session_window aggregation seals each 30-min-gap session
    // exactly once in Append mode (watermark past its close), the sink
    // table holds (user, start, end), and the metadata-sized sweep
    // projects from the sealed sessions. SAME oracle as the batch form.
    entry("events_concurrency_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val sess = streamWithSentinel(spark, ev, sentinel, delaySec)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min("ts").as("s"), max("ts").as("e"))
        .select(col("user_id"), col("s"), col("e"))
      graft.streaming.EventStream.runToMemory(
        sess, "events_concurrency_stream_out", OutputMode.Append())
      graft.functions.EventOps.concurrencySweep(
        spark.table("events_concurrency_stream_out")
          .where(col("user_id") >= 0)
          .select(date_trunc("hour", col("s")).as("sh"),
            date_trunc("hour", col("e")).as("eh")))
    },
      // concurrency replay: the session_window islands (gap > 1800 rule),
      // hour-truncated span per session, +1/−1 per-hour deltas, cumsum
      // over the generate_series hour spine
      concurrencyOracle),

    // Bit-portable HyperLogLog distinct-user counts per event type:
    // md5-derived 64-register sketch, ONE partial-aggregated groupBy
    // (duplicates die map-side — the whole point vs count(DISTINCT),
    // which must shuffle every distinct value), exact-integer harmonic
    // sum, one IEEE division. The exact count rides along so the gate
    // hash-checks sketch state AND the accuracy story in one entry.
    entry("events_hll_users", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val regs = graft.functions.Sketches.hllRegisters(
        ev, Seq("event_type"), col("user_id"))
      val est = graft.functions.Sketches.hllEstimate(regs, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
    },
      // HLL register replay: identical 60-bit md5-prefix hash, bucket =
      // h % 64, rho = trailing zeros of h // 64 plus one, register = max;
      // the harmonic sum is exact integers and the estimate the same
      // literal-constant product / one division. The incremental entry
      // shares it VERBATIM: register max is associative, so persisted-
      // shard merge is provably identical to the from-scratch build.
      hllUsersOracle),

    // The precision knob: the SAME sketch at p=10 (1024 registers,
    // ~3.2% standard error in the raw estimator's valid range n ≳ 2.5m
    // vs p=6's 13%) — register table still metadata-sized (groups ×
    // 1024). At the fixture's tiny per-type cardinality this entry
    // deliberately sits in the SMALL-RANGE regime (n ≪ 2.5m): the raw
    // harmonic estimate is biased high exactly as hllEstimate's
    // scaladoc warns, and the emitted zero_buckets state recovers the
    // near-exact linear-counting answer m·ln(m/V) (SketchesSpec pins
    // it within 5%). The oracle builder replays the generalized
    // geometry (bucket mod m, rho cap 61−p, alpha(m), 2^(61−p) scale).
    entry("events_hll_precise", (spark, dir) => {
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
      val regs = S.hllRegisters(ev, Seq("event_type"), col("user_id"),
        p = 10)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(regs, Seq("event_type"), p = 10).join(exact, "event_type")
    },
      // generalized-geometry replay at p=10
      hllUsersOracleP(10)),

    // The incremental path for the HLL sketch: registers built on the
    // first 20 days PERSIST to parquet; the new slice's registers merge
    // in by bucket-max — provably identical to the from-scratch build
    // (max is associative), so this entry shares events_hll_users'
    // oracle VERBATIM. The 100 TB story: yesterday's corpus never
    // re-scans; a day's merge touches groups × 64 register rows.
    entry("events_hll_incremental", (spark, dir) => {
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
      val tmp = graft.tools.Scratch.dir("graft_hll_inc")
      S.hllRegisters(ev.where(col("ts") < cut),
          Seq("event_type"), col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/regs")
      val merged = spark.read.parquet(s"$tmp/regs")
        .unionByName(S.hllRegisters(ev.where(col("ts") >= cut),
          Seq("event_type"), col("user_id")))
        .groupBy("event_type", "bucket")
        .agg(max("register").cast("int").as("register"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(merged, Seq("event_type")).join(exact, "event_type")
    },
      hllUsersOracle),

    // Streaming twin #28 — daily distinct-user HLL registers as a
    // watermarked windowed aggregation (register max IS a streaming
    // aggregate: order-independent, bounded state of 64 rows per
    // (day, type) window), each window sealing exactly once in Append
    // mode; the metadata-sized estimate projects from the sink table.
    entry("events_hll_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("user_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, -1L))
        .toDF("event_type", "ts", "user_id")
      val regs = streamWithSentinel(spark, ev, sentinel, delaySec)
        .withColumn("__h", S.hash60(col("user_id")))
        .groupBy(window(col("ts"), "1 day"), col("event_type"),
          S.hllBucketFromH(col("__h")).as("bucket"))
        .agg(max(S.hllRhoFromH(col("__h"))).cast("int").as("register"))
        .select(col("window.start").as("day_start"), col("event_type"),
          col("bucket"), col("register"))
      graft.streaming.EventStream.runToMemory(
        regs, "events_hll_stream_out", OutputMode.Append())
      S.hllEstimate(
        spark.table("events_hll_stream_out")
          .where(col("event_type") =!= "noop"),
        Seq("event_type", "day_start"))
    },
      // daily-windowed register replay for the streaming twin — same
      // register construction per (day, type); the estimate is the same
      // constant product / one division per sealed window
      """WITH h AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM events),
        |r AS (SELECT event_type, day_start, CAST(h % 64 AS INTEGER) AS bucket,
        |    max(CASE WHEN (h // 64) = 0 THEN 55
        |      ELSE CAST(bit_count(((h // 64) & (-(h // 64))) - 1)
        |        AS INTEGER) + 1 END) AS register
        |  FROM h GROUP BY 1, 2, 3)
        |SELECT event_type, day_start,
        |  CAST(sum(1::BIGINT << (55 - register)) +
        |    (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS sum_scaled,
        |  CAST(64 - count(*) AS BIGINT) AS zero_buckets,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) *
        |    CAST(36028797018963968.0 AS DOUBLE) /
        |    CAST(CAST(sum(1::BIGINT << (55 - register)) +
        |      (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS DOUBLE)
        |    AS hll_est
        |FROM r GROUP BY 1, 2""".stripMargin),

    // Streaming merged-register HLL sink (VERDICT r8 item 6, ROADMAP r8
    // candidate 1): foreachBatch maintenance of the ALL-TIME register
    // table — each micro-batch's registers (groups × 64 rows, computed
    // by the same partial-aggregated hllRegisters) merge into the
    // persisted store by bucket-max, giving live all-time distinct
    // counts with BOUNDED state (the store never exceeds groups × 64
    // rows no matter how much data streamed through). Merge ≡
    // from-scratch because max is associative and commutative, so the
    // entry shares events_hll_users' oracle VERBATIM — the streaming
    // counterpart of events_hll_incremental. Store versions are
    // immutable per-batch parquet dirs (a transactional-table MERGE in
    // production); the final version feeds the estimate.
    entry("events_hll_merge_stream", (spark, dir) => {
      import spark.implicits._
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("user_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, -1L))
        .toDF("event_type", "ts", "user_id")
      val root = graft.tools.Scratch.dir("graft_hll_merge_s")
      var cur: Option[String] = None
      val q = streamWithSentinel(spark, ev, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val regs = S.hllRegisters(
            batch.where(col("event_type") =!= "noop"),
            Seq("event_type"), col("user_id"))
          val merged = cur match {
            case Some(p) => spark.read.parquet(p).unionByName(regs)
              .groupBy("event_type", "bucket")
              .agg(max("register").cast("int").as("register"))
            case None => regs
          }
          val next = s"$root/v$id"
          merged.write.mode("overwrite").parquet(next)
          cur = Some(next)
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(spark.read.parquet(cur.get), Seq("event_type"))
        .join(exact, "event_type")
    },
      // streaming merged-register sink: per-batch registers merge into the
      // all-time store by bucket-max ≡ from-scratch build — same replay
      hllUsersOracle),

    // Robust outliers by median absolute deviation on the cents plane
    // (the homogeneity-resistant alternative to z-scores — one planted
    // +$5000 shift on the %101 events gives every SF true outliers).
    // Both medians run over the per-type VALUE HISTOGRAM (distinct
    // cents), never the raw rows — the q_weighted_median shape — and
    // the 3σ-equivalent cut 10000·dev > 44478·MAD stays in integers.
    entry("events_mad_outliers", (spark, dir) =>
      graft.functions.EventOps.madOutlierSummary(
        Tables.read(spark, dir, "events")
          .select(col("event_type"),
            (floor(col("value") * 100).cast("long") +
              when(col("event_id") % 101 === 0, lit(500000L))
                .otherwise(lit(0L))).as("cents")),
        "event_type", "cents"),
      // MAD replay: same planted +$5000 shift, lower weighted median over
      // the per-type cents histogram (cum·2 >= total), MAD the same over
      // the deviation histogram, integer 3σ-equivalent cut
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) +
        |    CASE WHEN event_id % 101 = 0 THEN 500000 ELSE 0 END AS cents
        |  FROM events),
        |hist AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS w
        |  FROM ev GROUP BY 1, 2),
        |medt AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= total THEN cents END) AS med_cents
        |  FROM (SELECT event_type, cents,
        |      sum(w) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |      sum(w) OVER (PARTITION BY event_type) AS total FROM hist)
        |  GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.cents - m.med_cents) AS dev,
        |    m.med_cents
        |  FROM ev e JOIN medt m USING (event_type)),
        |dhist AS (SELECT event_type, dev, CAST(count(*) AS BIGINT) AS w
        |  FROM dev GROUP BY 1, 2),
        |madt AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= total THEN dev END) AS mad_cents
        |  FROM (SELECT event_type, dev,
        |      sum(w) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |      sum(w) OVER (PARTITION BY event_type) AS total FROM dhist)
        |  GROUP BY 1)
        |SELECT d.event_type,
        |  CAST(min(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(min(t.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev * 10000 > t.mad_cents * 44478
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM dev d JOIN madt t USING (event_type) GROUP BY 1""".stripMargin),

    // Per-type OLS trend of the dense hourly count series: five integer
    // moments in one pass, slope as the exact (num, den) pair + a
    // truncating-div ppm fixed point — "is error volume trending up"
    // answered bit-portably, no floats anywhere.
    entry("events_trend", (spark, dir) => {
      val dense = denseHourlyCounts(spark, dir)
      val lo = dense.agg(min(col("h")).as("lo"))
      val xy = dense.crossJoin(broadcast(lo))
        .select(col("event_type"),
          expr("(unix_timestamp(h) - unix_timestamp(lo)) div 3600")
            .as("x"),
          col("c").as("y"))
      graft.functions.EventOps.olsTrend(xy, "event_type", "x", "y")
    },
      // OLS trend replay: same dense zero-filled spine as events_acf,
      // same integer moments and truncating-div ppm slope
      raw"""WITH $hourlySpineCtes
        |d AS (SELECT g.event_type,
        |    CAST((date_part('epoch', g.h) - date_part('epoch', b.lo))
        |      AS BIGINT) // 3600 AS x,
        |    CAST(coalesce(cnt.c, 0) AS BIGINT) AS y
        |  FROM g LEFT JOIN cnt USING (event_type, h), b),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT event_type, n, sx, sy,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    CASE WHEN n * sxy - sx * sy >= 0
        |      THEN CAST(((n * sxy - sx * sy) * 1000000) //
        |        (n * sxx - sx * sx) AS BIGINT)
        |      ELSE -CAST(((sx * sy - n * sxy) * 1000000) //
        |        (n * sxx - sx * sx) AS BIGINT) END
        |    ELSE NULL END AS slope_ppm
        |FROM m""".stripMargin),

    // Two-proportion A/B test on (user, day) exposure units: portable
    // md5 arm assignment, conversion = any purchase that day, and the
    // pooled z² significance verdict via the DIVISION-FREE rational
    // form — z²·den = (c1·n2 − c2·n1)²·(n1+n2) cross-multiplied against
    // 3.84·n1·n2·c·(n−c) in DECIMAL(38,0), so the p<0.05 verdict is
    // exact with no float z, no sqrt, no division. Exactness bound
    // (ADVICE r8): (c0·n1−c1·n0)²·(n0+n1)·100 fits DECIMAL(38,0) while
    // per-arm units stay below ~1e9 (worst case (1e9·1e9)²·2e9·100 ≈
    // 2e47 overflows; at n≈1e9 the product is ≈2e45 > 1e38, so the real
    // bound is n ≲ 2e7 per arm for adversarial c; conversions ≪ n push
    // it far higher). Beyond that, non-ANSI Spark yields NULL
    // `significant` rather than an error — run with
    // spark.sql.ansi.enabled=true to fail loudly, or pre-aggregate to
    // per-cohort slices. DuckDB's HUGEINT oracle has the same 128-bit
    // ceiling (~1.7e38).
    entry("events_abtest", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val units = ev
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy("user_id", "day")
        .agg(max(col("conv")).as("converted"))
        .withColumn("arm",
          (conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":"), col("day").cast("string")).cast("binary")), 1, 8),
            16, 10).cast("long") % 2).cast("int"))
      val m = units.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0 && col("converted"), 1L).otherwise(0L))
          .as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1 && col("converted"), 1L).otherwise(0L))
          .as("c1"))
      m.select(col("n0"), col("c0"), col("n1"), col("c1"),
        expr("""(CAST(c0 AS DECIMAL(38,0)) * n1 -
            CAST(c1 AS DECIMAL(38,0)) * n0) *
          (CAST(c0 AS DECIMAL(38,0)) * n1 -
            CAST(c1 AS DECIMAL(38,0)) * n0) *
          (CAST(n0 AS DECIMAL(38,0)) + n1) * 100
          > CAST(384 AS DECIMAL(38,0)) * n0 * n1 *
            (c0 + c1) * (n0 + n1 - c0 - c1)""").as("significant"))
    },
      // A/B replay: same md5 arms, same conversion units, the identical
      // cross-multiplied z² verdict in HUGEINT
      """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS converted
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT converted,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':' ||
        |      strftime(day, '%Y-%m-%d')), 1, 8))::BIGINT % 2 AS INTEGER)
        |      AS arm
        |  FROM u),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM a)
        |SELECT n0, c0, n1, c1,
        |  (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0) *
        |  (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0) *
        |  (CAST(n0 AS HUGEINT) + n1) * 100
        |  > CAST(384 AS HUGEINT) * n0 * n1 * (c0 + c1) *
        |    (n0 + n1 - c0 - c1) AS significant
        |FROM m""".stripMargin),

    // Kaplan–Meier signup→purchase survival curve (time-to-conversion
    // with right censoring at the corpus horizon): exact risk sets and
    // event counts over the per-duration histogram, one IEEE division
    // per factor, and the survival product folded in duration order —
    // churn analysis with a hash-checkable float chain.
    entry("events_survival", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val maxTs = ev.agg(max(col("ts")).as("mx"))
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pt"))
      val durations = su
        .join(pu, col("user_id") === col("p_user") &&
          col("pt") >= col("t0"), "left")
        .groupBy(col("user_id"), col("t0"))
        .agg(min(col("pt")).as("pt1"))
        .crossJoin(broadcast(maxTs))
        .select(
          when(col("pt1").isNotNull, datediff(col("pt1"), col("t0")))
            .otherwise(datediff(col("mx"), col("t0")))
            .cast("long").as("duration"),
          col("pt1").isNotNull.as("event"))
      graft.functions.EventOps.kaplanMeier(durations, "duration", "event")
    },
      // Kaplan–Meier replay: same durations (censored at the horizon),
      // reverse-cum risk sets over the duration histogram, the identical
      // duration-ordered factor fold
      """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |mx AS (SELECT max(ts) AS mx FROM events),
        |fp AS (SELECT su.user_id, su.t0, min(e.ts) AS pt1
        |  FROM su LEFT JOIN events e ON e.user_id = su.user_id
        |    AND e.event_type = 'purchase' AND e.ts >= su.t0
        |  GROUP BY 1, 2),
        |dur AS (SELECT CAST(CASE WHEN pt1 IS NOT NULL
        |      THEN date_diff('day', CAST(t0 AS DATE), CAST(pt1 AS DATE))
        |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(mx.mx AS DATE))
        |      END AS BIGINT) AS d,
        |    (pt1 IS NOT NULL) AS ev
        |  FROM fp, mx),
        |hist AS (SELECT d,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_events,
        |    CAST(count(*) AS BIGINT) AS d_total FROM dur GROUP BY 1),
        |risk AS (SELECT d, d_events,
        |    CAST(sum(d_total) OVER (ORDER BY d DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_at_risk
        |  FROM hist),
        |ev2 AS (SELECT d, d_events, n_at_risk FROM risk
        |  WHERE d_events > 0),
        |p AS (SELECT list(struct_pack(d := d, d_events := d_events,
        |    n_at_risk := n_at_risk) ORDER BY d) AS arr FROM ev2),
        |e AS (SELECT arr, unnest(range(1, len(arr) + 1)) AS i FROM p)
        |SELECT arr[CAST(i AS INT)].d AS duration,
        |  arr[CAST(i AS INT)].n_at_risk AS n_at_risk,
        |  arr[CAST(i AS INT)].d_events AS n_events,
        |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list_transform(arr[1:CAST(i AS INT)],
        |      y -> CAST(1.0 AS DOUBLE) -
        |        CAST(y.d_events AS DOUBLE) / CAST(y.n_at_risk AS DOUBLE))),
        |    (a, b) -> a * b) AS survival
        |FROM e""".stripMargin),

    // Last-touch revenue attribution: each purchase's cents credit to
    // the user's most recent click within 7 days (the native as-of
    // operator), rolled up per (user, click hour) — null hour is the
    // unattributed bucket. As-of ∘ rollup, the marketing-attribution
    // composition.
    entry("events_attribution", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("p_ts"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          date_trunc("second", col("ts")).as("c_ts"))
      graft.plans.AsOfJoinPlan.asOf(purchases, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTime = "p_ts", rightTime = "c_ts",
          tolerance = Some(7L * 24 * 3600 * 1000000L)) // native µs units
        .groupBy(col("user_id"),
          date_trunc("hour", col("c_ts")).as("click_hour"))
        .agg(sum("cents").as("attributed_cents"),
          count(lit(1)).as("n_purchases"))
    },
      // last-touch attribution replay: max preceding click within 7 days
      // per purchase (the q_asof_tolerance rule), cents rolled up per
      // (user, click hour); NULL hour = unattributed
      """WITH l AS (SELECT user_id, date_trunc('second', ts) AS p_ts,
        |      CAST(floor(value * 100) AS BIGINT) AS cents
        |    FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS c_ts
        |    FROM events WHERE event_type = 'click'),
        |a AS (SELECT l.user_id, l.cents,
        |    (SELECT max(r.c_ts) FROM r WHERE r.c_user = l.user_id
        |       AND r.c_ts <= l.p_ts
        |       AND r.c_ts >= l.p_ts - INTERVAL 7 DAY) AS c_ts
        |  FROM l)
        |SELECT user_id,
        |  CAST(date_trunc('hour', c_ts) AS TIMESTAMP) AS click_hour,
        |  CAST(sum(cents) AS BIGINT) AS attributed_cents,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1, 2""".stripMargin),

    entry("events_sessionize", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
      val gap = unix_timestamp(col("ts_s")) - unix_timestamp(lag(col("ts_s"), 1).over(w))
      ev.withColumn("is_new",
          when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("user_id", "event_id", "session_id")
    },
      """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)) AS gap
        |  FROM e)
        |SELECT user_id, event_id,
        |CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM g""".stripMargin),

    // Funnel analysis: per user, first signup → first view after it →
    // first purchase after that, plus step-conversion flags. One
    // hash-partitioned aggregation over (user, type-conditional mins) —
    // no self-joins, so the shuffle carries one row per user.
    entry("events_funnel", (spark, dir) =>
      funnelBounded(Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))),
      funnelOracle),

    // The same funnel as a single-shuffle sorted-group fold (one
    // repartition by user, O(1) state) — same oracle as events_funnel.
    entry("events_funnel_fold", (spark, dir) =>
      funnelFold(Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))),
      // identical oracle: the single-shuffle fold must reproduce the
      // aggregation form bit-for-bit
      funnelOracle),

    // The SAME funnel as a real Structured Streaming query: the exact
    // watermark-ordered funnel ([[graft.streaming.EventStream.funnelExact]])
    // run over the fixture events via the file stream source, drained by a
    // far-future sentinel (watermark = sentinel − delay > max real ts, so
    // every buffer seals and the event-time timeout emits final state).
    // The oracle is IDENTICAL to `events_funnel`'s — batch ≡ stream under
    // the DuckDB gate, which puts funnelExact's exactness claim (arrival
    // order never changes the result within the watermark bound) under the
    // hash check. In production the source is Kafka/landing files and no
    // sentinel is needed — live data advances the watermark; the temp-dir
    // copy exists only because the gate's input is a static directory.
    entry("events_funnel_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, "noop", sentinelTs))
        .toDF("user_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.funnelExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.FunnelEvent])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_funnel_stream_out", OutputMode.Update())
      // Update-mode memory sink accumulates one row per (user, batch);
      // each stage timestamp is set-once (null until folded, final after),
      // so max() per user IS the drained final state, and the reached
      // flags are recomputed from it exactly as the batch form does.
      spark.table("events_funnel_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(col("t_signup")).as("t_signup"),
          max(col("t_view")).as("t_view"),
          max(col("t_buy")).as("t_buy"))
        .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
          (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
          (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
    },
      // identical oracle to events_funnel: the streaming entry must produce
      // the batch answer bit-for-bit (funnelExact's exactness contract)
      funnelOracle),

    // Gap sessionization as a streaming query: the watermark-ordered exact
    // sessionizer ([[graft.streaming.EventStream.sessionizeExact]], which
    // merges at exactly the gap like the built-in session_window) over the
    // same fixture, sentinel-drained. Oracle is IDENTICAL to
    // `events_session_window`'s — batch ≡ stream under the hash gate.
    // Append mode: each closed session is emitted exactly once, so the
    // memory table IS the result (no per-user collapse needed).
    entry("events_sessions_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val streamed = graft.streaming.EventStream.sessionizeExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.SessionEvent], gapMinutes = 30)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_sessions_stream_out", OutputMode.Append())
      spark.table("events_sessions_stream_out")
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("n_events"))
    },
      // identical oracle to events_session_window: the streaming sessionizer
      // must reproduce the batch session_window answer bit-for-bit
      sessionOracle),

    // D1/D7 retention as a streaming query: the watermark-ordered exact
    // per-user flags ([[graft.streaming.EventStream.retentionFlagsExact]])
    // plus the stateless cohort rollup on the drained final rows. Oracle
    // is IDENTICAL to `events_retention`'s. Update-mode rows collapse per
    // user with set-once/monotone max() (signup_day never changes once
    // emitted; d1/d7 only flip false→true).
    entry("events_retention_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, "noop", sentinelTs))
        .toDF("user_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.retentionFlagsExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.FunnelEvent])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_retention_stream_out", OutputMode.Update())
      spark.table("events_retention_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(col("signup_day")).as("signup_day"),
          max(col("d1").cast("int")).as("d1i"),
          max(col("d7").cast("int")).as("d7i"))
        .groupBy(col("signup_day").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("d1i")).as("n_d1"), sum(col("d7i")).as("n_d7"))
    },
      // identical oracle to events_retention: streaming flags + stateless
      // rollup must reproduce the batch cohort table bit-for-bit
      retentionOracle),

    // Retention cohorts: users grouped by signup day; D1/D7 retention =
    // any activity exactly 1/7 days later. Same one-row-per-user shuffle
    // shape as the funnel.
    // Full cohort-retention TRIANGLE: for every signup cohort day and
    // day offset 0..14, the active-user count and the retention rate
    // (one IEEE division of exact counts). Unlike events_retention's
    // fixed d1/d7 flags, the matrix form never collects per-user day
    // sets: distinct (user, day) activity joins the signup day and
    // aggregates by (cohort, offset) — scale-safe under any user skew.
    entry("events_cohort_matrix", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val signup = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val cohortSize = signup.groupBy("cohort_day")
        .agg(count(lit(1)).as("n_users"))
      val active = ev.select("user_id", "day").distinct()
        .join(signup, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
        .where(col("day_offset").between(0, 14))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
      active.join(cohortSize, "cohort_day")
        .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
          col("n_active"), col("n_users"),
          (col("n_active").cast("double") / col("n_users").cast("double"))
            .as("retention"))
    },
      // triangle replay: distinct activity days joined to the signup day,
      // one division of exact counts per (cohort, offset) cell
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |s AS (SELECT user_id, min(day) AS cohort_day FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM s GROUP BY cohort_day),
        |a AS (SELECT DISTINCT user_id, day FROM e),
        |act AS (SELECT s.cohort_day,
        |    CAST(a.day - s.cohort_day AS INT) AS day_offset,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM a JOIN s USING (user_id)
        |  WHERE (a.day - s.cohort_day) BETWEEN 0 AND 14
        |  GROUP BY 1, 2)
        |SELECT act.cohort_day, act.day_offset, act.n_active, cs.n_users,
        |  CAST(act.n_active AS DOUBLE) / CAST(cs.n_users AS DOUBLE)
        |    AS retention
        |FROM act JOIN cs USING (cohort_day)""".stripMargin),

    entry("events_retention", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("day"))).as("signup_day"),
          collect_set(col("day")).as("days"))
        .where(col("signup_day").isNotNull)
        .select(col("user_id"), col("signup_day"),
          array_contains(col("days"), date_add(col("signup_day"), 1)).as("d1"),
          array_contains(col("days"), date_add(col("signup_day"), 7)).as("d7"))
        .groupBy(col("signup_day").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("d1").cast("int")).as("n_d1"),
          sum(col("d7").cast("int")).as("n_d7"))
    },
      retentionOracle),

    // Rolling active users: DAU + trailing-7-day WAU per day — the
    // standard engagement rollup. (day,user) distinct once; each pair
    // then votes into its 7 report days (explode ×7, a constant), so
    // WAU needs no range self-join and no per-day window over users.
    entry("events_active_users", (spark, dir) => {
      val du = Tables.read(spark, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = du
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("rday"))
        .distinct()
        .groupBy("rday").agg(count(lit(1)).as("wau"))
      dau.join(wau, dau("day") === wau("rday"))
        .select(col("day"), col("dau"), col("wau"))
    },
      // DAU/WAU replay: trailing-window membership via the range join the
      // engine deliberately avoids (the oracle may be quadratic)
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
        |wau AS (SELECT r.day AS day,
        |    CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
        |  FROM dau r JOIN du ON du.day BETWEEN r.day - 6 AND r.day
        |  GROUP BY r.day)
        |SELECT dau.day, dau.dau, wau.wau FROM dau JOIN wau USING (day)""".stripMargin),

    // The trailing-7-day WAU as a continuous SLIDING-window query (the
    // window family the tumbling events_hourly_stream doesn't cover):
    // ×7 window generate → watermark-bounded per-window user dedup →
    // Append count — two chained stateful operators. Report days run
    // through max(day)+6 (every window an event touched).
    entry("events_wau_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs0) = sentinelBounds(spark, ev)
      // the sentinel must push the REPORT-DAY watermark past the last
      // real window's end (max day + 7): sentinelBounds' margin is
      // sized for event-time operators, so add a month of headroom
      val sentinelTs = new java.sql.Timestamp(
        sentinelTs0.getTime + 30L * 86400 * 1000)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      // the sentinel rides THROUGH the pipeline to advance the derived
      // rts watermark; its own far-future windows never finalize, so it
      // self-filters from the Append output
      val streamed = graft.streaming.EventStream.slidingActiveUsers(
        streamWithSentinel(spark, ev, sentinel, delaySec,
          watermarkOnTs = false), delaySec)
      graft.streaming.EventStream.runToMemory(
        streamed, "events_wau_stream_out", OutputMode.Append())
      spark.table("events_wau_stream_out")
    },
      // sliding-window replay: every report day any event's 7 windows
      // touch, distinct users via the quadratic BETWEEN join
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |rd AS (SELECT DISTINCT day + CAST(i AS INTEGER) AS rday
        |  FROM du, (SELECT unnest(range(0, 7)) AS i) t),
        |wau AS (SELECT rd.rday AS day,
        |    CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
        |  FROM rd JOIN du ON du.day BETWEEN rd.rday - 6 AND rd.rday
        |  GROUP BY rd.rday)
        |SELECT day, wau FROM wau""".stripMargin),

    entry("events_hourly", (spark, dir) =>
      Tables.read(spark, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum")),
      hourlyOracle),

    // Hopping (sliding) windows — the third windowed-aggregation family
    // next to tumbling (events_hourly) and session (events_session_window):
    // 1-hour windows every 30 minutes, each event in exactly 2. Spark's
    // window() explodes the assignment before the partial aggregate, so
    // the shuffle carries (window, type) partial sums — 2× the tumbling
    // volume, never row-level fan-out.
    entry("events_hopping", (spark, dir) =>
      Tables.read(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("vdec"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("vdec").cast("double").as("value_sum")),
      // each event replayed into both of its 30-min-slide hour windows;
      // shared by the batch and Append-mode streaming forms
      hoppingOracle),

    // The same hopping windows through the watermarked streaming path in
    // Append mode — each of an event's two windows emits exactly once
    // when the watermark passes its end; the sentinel pushes it past
    // every real window. Same oracle as the batch form.
    entry("events_hopping_stream", (spark, dir) =>
      windowedCountsStream(spark, dir,
        window(col("ts"), "1 hour", "30 minutes"), "window_start",
        "events_hopping_stream_out"),
      hoppingOracle),

    // The canonical streaming shape — watermarked tumbling-window
    // aggregation in Append mode — at the gate: each hour window emits
    // exactly once when the watermark passes its end (the sentinel pushes
    // it past every real window). Decimal-cast sum keeps the double
    // partition-order-independent, so the oracle is IDENTICAL to
    // `events_hourly`'s — batch ≡ stream for windowed aggregation.
    entry("events_hourly_stream", (spark, dir) =>
      windowedCountsStream(spark, dir, window(col("ts"), "1 hour"),
        "hour_start", "events_hourly_stream_out"),
      // identical oracle to events_hourly: Append-mode windowed aggregation
      // must reproduce the batch hourly rollup bit-for-bit
      hourlyOracle),

    // Native session_window (gap-based session assignment; merge iff
    // inter-event gap <= 30 min — a gap of EXACTLY the window size merges,
    // pinned by StreamingSpec's boundary test and mirrored in the oracle's
    // `gap > 1800` new-session rule). Works identically as a streaming
    // query (StreamingSpec).
    entry("events_session_window", (spark, dir) => {
      Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
        .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
    },
      sessionOracle),

    // SCD2 change compaction (gaps-and-islands): the events change log
    // collapses into per-user validity intervals of event_type runs —
    // the append-only-log → dimension-history operator. Both windows
    // partition by the entity key (state = one lag row / a counter);
    // the interval-closing window runs over the already-compacted run
    // table, one row per run.
    entry("events_scd2", (spark, dir) =>
      graft.functions.EventOps.changeIntervals(
        Tables.read(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts_s")),
        "user_id", "event_type", "ts_s", "event_id")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current")),
      scd2Oracle),

    // The SAME SCD2 compaction as a Structured Streaming query
    // (twin #22): watermark-buffered per-user fold — closed intervals
    // append exactly once (their valid_to is the next run's first sealed
    // event), the open run emits monotone snapshots keyed by its first
    // event id, reconciled with the funnelExact max() contract. Same
    // DuckDB oracle as events_scd2 — batch ≡ stream under the gate.
    entry("events_scd2_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, -1L, "noop", sentinelTs))
        .toDF("user_id", "event_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.scd2Exact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.Scd2Event])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_scd2_stream_out", OutputMode.Append())
      spark.table("events_scd2_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id", "event_type", "valid_from", "from_eid")
        .agg(max(col("n_events")).as("n_events"),
          max(col("valid_to")).as("valid_to"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"),
          col("valid_to").isNull.as("is_current"))
    },
      // identical oracle to events_scd2: the streaming compaction must
      // reproduce the batch interval table bit-for-bit after the drain
      scd2Oracle),

    // Point-in-time (temporal dimension) join — SCD2 composed with the
    // as-of operator: each purchase looks up the profile state
    // (signup/view run) its user was in AT purchase time. Empty
    // [t, t) intervals (several profile changes inside one truncated
    // second) are filtered, which leaves per-user interval starts
    // strictly increasing — the as-of pick is unique and the kept
    // intervals still tile the axis, so validity needs no second check.
    // One shuffle on user_id (the carry-forward window), linear in
    // facts + dim.
    entry("events_pit_join", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val dim = graft.functions.EventOps.changeIntervals(
          ev.where(col("event_type").isin("signup", "view")),
          "user_id", "event_type", "ts_s", "event_id")
        .where(col("valid_to").isNull || col("valid_from") < col("valid_to"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_s"))
      graft.operators.AsOfJoin.asOf(facts, dim, "user_id", "ts_s",
          "valid_from", payload = Seq("state", "valid_from"))
        .select(col("user_id"), col("event_id"), col("ts_s"),
          col("asof_state").as("state"),
          col("asof_valid_from").as("state_since"))
    },
      // the SCD2 replay over profile events + the latest-start-≤-ts pick
      // (unique after empty-interval filtering); LEFT join keeps purchases
      // that precede any profile state, with NULL state
      raw"""WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events
        |  WHERE event_type IN ('signup', 'view')),
        |$stateRunCtes
        |r AS (SELECT user_id, run, min(event_type) AS state,
        |  min(ts_s) AS valid_from FROM i GROUP BY user_id, run),
        |iv AS (SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |    AS valid_to FROM r),
        |dim AS (SELECT user_id, state, valid_from FROM iv
        |  WHERE valid_to IS NULL OR valid_from < valid_to),
        |p AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.user_id, p.event_id, p.ts_s, d.state, d.valid_from,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY d.valid_from DESC) AS rn
        |  FROM p LEFT JOIN dim d
        |    ON p.user_id = d.user_id AND d.valid_from <= p.ts_s)
        |SELECT user_id, event_id, CAST(ts_s AS TIMESTAMP) AS ts_s, state,
        |  CAST(valid_from AS TIMESTAMP) AS state_since
        |FROM j WHERE rn = 1""".stripMargin),

    // Event-type transition matrix (first-order Markov counts): per
    // user, consecutive (ts, event_id)-ordered event pairs, aggregated
    // to (from, to, n, gap_sum_s). Keyed lag window + one partial-agg
    // groupBy; gap seconds accumulate as exact BIGINTs.
    entry("events_transitions", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
      ev.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("ts_s")) - lag(unix_timestamp(col("ts_s")), 1).over(w))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("gap_sum_s"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |    AS from_type,
        |  epoch(ts_s) - lag(epoch(ts_s)) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) AS gap_s
        |  FROM e)
        |SELECT from_type, event_type AS to_type, count(*) AS n,
        |  CAST(sum(gap_s) AS BIGINT) AS gap_sum_s
        |FROM g WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // Hourly volume anomaly flags: per event type, each hour's count
    // against its trailing-24h window — z² > 9 evaluated ENTIRELY in
    // integer arithmetic ((x·n − s)² > 9·(q·n − s²), the z-score
    // inequality cleared of divisions), so the flag is bit-portable with
    // no float in sight. Range-frame window per type; exact for hourly
    // counts up to ~10⁸ (the Long headroom of the squared term).
    entry("events_anomaly", (spark, dir) => {
      val hourly = Tables.read(spark, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type")
        .orderBy(unix_timestamp(col("hour_start")))
        .rangeBetween(-86400L, -3600L)
      hourly
        .withColumn("trail_hours", count(lit(1)).over(w))
        .withColumn("trail_sum", coalesce(sum(col("n_events")).over(w), lit(0L)))
        .withColumn("trail_sumsq",
          coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
        .withColumn("is_anomaly",
          col("trail_hours") >= 3 &&
            pow2(col("n_events") * col("trail_hours") - col("trail_sum")) >
              lit(9L) * (col("trail_sumsq") * col("trail_hours") -
                pow2(col("trail_sum"))))
    },
      // the z² > 9 inequality cleared of divisions — every term an exact
      // integer in both engines (DuckDB's HUGEINT sums collapse to the
      // same values through the BIGINT casts)
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |    count(*) AS n_events FROM events GROUP BY 1, 2),
        |t AS (SELECT hour_start, event_type, n_events,
        |  count(*) OVER w AS trail_hours,
        |  COALESCE(sum(n_events) OVER w, 0) AS trail_sum,
        |  COALESCE(sum(n_events * n_events) OVER w, 0) AS trail_sumsq
        |  FROM h WINDOW w AS (PARTITION BY event_type
        |    ORDER BY epoch(hour_start)
        |    RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
        |SELECT CAST(hour_start AS TIMESTAMP) AS hour_start, event_type,
        |  n_events,
        |  CAST(trail_hours AS BIGINT) AS trail_hours,
        |  CAST(trail_sum AS BIGINT) AS trail_sum,
        |  CAST(trail_sumsq AS BIGINT) AS trail_sumsq,
        |  (trail_hours >= 3 AND
        |   (n_events * trail_hours - trail_sum) *
        |     (n_events * trail_hours - trail_sum) >
        |   9 * (trail_sumsq * trail_hours - trail_sum * trail_sum))
        |    AS is_anomaly
        |FROM t""".stripMargin),

    // Incremental materialized-aggregate maintenance: the hourly rollup
    // split at a deliberately hour-UNaligned cutoff (first-hour + 36h30m)
    // so the straddled hour exists in BOTH state and delta and the merge
    // must recombine it. Sums stay DECIMAL through the merge (exact,
    // order-independent), cast to double only at output — so merged ≡
    // full recompute bit-for-bit, which is exactly what the oracle runs.
    entry("events_hourly_incremental", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      val cutoff = ev.agg(
        (date_trunc("hour", min(col("ts"))).cast("long") + 36L * 3600L
          + 1800L).cast("timestamp").as("__cut"))
      val tagged = ev.crossJoin(broadcast(cutoff))
      def hourly(d: DataFrame) = d
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("value_dec"))
      graft.functions.Warehouse.mergeAggState(
          hourly(tagged.where(col("ts") < col("__cut"))),
          hourly(tagged.where(col("ts") >= col("__cut"))),
          Seq("hour_start", "event_type"), Seq("n_events", "value_dec"))
        .select(col("hour_start"), col("event_type"), col("n_events"),
          col("value_dec").cast("double").as("value_sum"))
    },
      // merged state ≡ full recompute bit-for-bit (decimal sums are exact),
      // so the oracle IS the events_hourly oracle
      hourlyOracle),

    // Seasonal (hour-of-day) traffic profile per event type — counts,
    // exact DECIMAL value sums, and the bucket's integer-exact traffic
    // share in ppm. ≤ 24·|types| output rows from one aggregate.
    entry("events_seasonal", (spark, dir) =>
      graft.functions.EventOps.seasonalProfile(
        Tables.read(spark, dir, "events")),
      // hour-of-day rollup + per-type ppm share (truncating div, exact)
      """WITH h AS (SELECT event_type, date_part('hour', ts) AS hod,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(h.hod AS INT) AS hod, h.n, h.value_sum,
        |  h.n * 1000000 // t.tot AS share_ppm
        |FROM h JOIN t USING (event_type)""".stripMargin),

    // Autocorrelation sufficient stats (lags 1–3) over the DENSE hourly
    // count series per event type — zero-filled spine so lag-k means
    // k HOURS ago, moments in the table_corr_stats exact-integer form.
    // The series is aggregate-sized; the window is per-type.
    entry("events_acf", (spark, dir) =>
      graft.functions.EventOps.acfStats(
        denseHourlyCounts(spark, dir), "event_type", "h", "c",
        maxLag = 3),
      // dense zero-filled spine, per-type lag windows, exact-integer
      // moments (products summed via HUGEINT, cast to DOUBLE at the end)
      raw"""WITH $hourlySpineCtes
        |d AS (SELECT g.event_type, g.h, coalesce(cnt.c, 0) AS x
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |l AS (SELECT event_type, x,
        |    lag(x, 1) OVER pk AS y1,
        |    lag(x, 2) OVER pk AS y2,
        |    lag(x, 3) OVER pk AS y3
        |  FROM d WINDOW pk AS (PARTITION BY event_type ORDER BY h)),
        |p AS (
        |  SELECT event_type, 1 AS lag_k, x, y1 AS y FROM l
        |  UNION ALL SELECT event_type, 2, x, y2 FROM l
        |  UNION ALL SELECT event_type, 3, x, y3 FROM l)
        |SELECT event_type, lag_k, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x * y) AS DOUBLE) AS sum_xy,
        |  CAST(sum(x * x) AS DOUBLE) AS sum_xx,
        |  CAST(sum(y * y) AS DOUBLE) AS sum_yy
        |FROM p WHERE y IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // Holt level+trend smoothing over the dense hourly series — a TRUE
    // sequential recursion (each step consumes the previous step's
    // output), so it rides flatMapGroups: one shuffle on the series key,
    // an in-memory fold per key. Fixed-point ×1000, truncating integer
    // divisions — bit-portable against the oracle's recursive CTE.
    entry("events_holt", (spark, dir) =>
      graft.functions.EventOps.holtSmooth(
        denseHourlyCounts(spark, dir), "event_type", "h", "c")
        .withColumnRenamed("h", "hour_start"),
      // the same dense spine, then the level/trend recursion replayed
      // step-by-step by a recursive CTE with identical truncating integer
      // divisions (both engines truncate toward zero, negatives included)
      """WITH RECURSIVE e AS (SELECT event_type, date_trunc('hour', ts)
        |    AS h FROM events),
        |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |g AS (SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |d AS (SELECT g.event_type, g.h,
        |    CAST(coalesce(cnt.c, 0) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.h)
        |      AS i
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |r AS (
        |  SELECT event_type, h, x, i, x * 1000 AS l, CAST(0 AS BIGINT)
        |    AS bt
        |  FROM d WHERE i = 1
        |  UNION ALL
        |  SELECT d.event_type, d.h, d.x, d.i,
        |    (3 * d.x * 1000 + 7 * (r.l + r.bt)) // 10,
        |    (2 * ((3 * d.x * 1000 + 7 * (r.l + r.bt)) // 10 - r.l)
        |      + 8 * r.bt) // 10
        |  FROM r JOIN d ON d.event_type = r.event_type AND d.i = r.i + 1)
        |SELECT event_type, h AS hour_start, x, l AS level_fp,
        |  bt AS trend_fp, l + bt AS forecast_fp FROM r""".stripMargin),

    // CUSUM change-point flags over the same dense hourly series, with a
    // deterministic +3/hour rate shift planted on the 'error' type's
    // last third (hour 480 of the 720-hour span) so the detector has a
    // true change to find at every SF; threshold λ·√S with λ = 3/2,
    // compared in squared integers — no float in the decision.
    entry("events_cusum", (spark, dir) => {
      val dense = denseHourlyCounts(spark, dir)
      val bounds = dense.agg(min(col("h")).as("lo")).select(
        (col("lo") + expr("INTERVAL 480 HOURS")).as("cut"))
      val planted = dense.crossJoin(broadcast(bounds))
        .select(col("event_type"), col("h"),
          when(col("event_type") === "error" && col("h") >= col("cut"),
            col("c") + 3L).otherwise(col("c")).as("c"))
      graft.functions.EventOps.cusumFlags(planted, "event_type", "h",
          "c", lambdaNum = 3L, lambdaDen = 2L)
        .withColumnRenamed("h", "hour_start")
    },
      // same dense spine + planted +3/hour shift on error's last third;
      // flag comparison in squared integers (λ = 3/2 → 4·dev² > 9·n²·S)
      raw"""WITH $hourlySpineCtes
        |d AS (SELECT g.event_type, g.h, coalesce(cnt.c, 0) AS x
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |pl AS (SELECT d.event_type, d.h AS hour_start,
        |    CASE WHEN d.event_type = 'error'
        |      AND d.h >= b.lo + INTERVAL 480 HOUR
        |      THEN d.x + 3 ELSE d.x END AS x
        |  FROM d, b),
        |w AS (SELECT event_type, hour_start, x,
        |    count(*) OVER pk AS i, sum(x) OVER pk AS p,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS s
        |  FROM pl WINDOW pk AS (PARTITION BY event_type
        |    ORDER BY hour_start ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, hour_start, CAST(x AS BIGINT) AS x,
        |  CAST(n * p - i * s AS BIGINT) AS dev,
        |  (4 * (n*p - i*s) * (n*p - i*s) > 9 * n * n * s) AS flagged
        |FROM w""".stripMargin),

    // RFM customer segmentation — recency/frequency/monetary quintiles,
    // exact-integer end-to-end: the engine computes SQL-ntile semantics
    // ARITHMETICALLY from the two-phase bucketed global rank (range
    // buckets + broadcast prefix offsets — no single-partition window),
    // while the oracle replays with the plain window ntile under the same
    // deterministic (metric, user_id) total orders.
    entry("events_rfm", (spark, dir) =>
      graft.functions.Analytics.rfmSegments(
        Tables.read(spark, dir, "events"), "user_id", "ts", "value"),
      // window-ntile replay of the engine's arithmetic ntile: identical
      // under the same deterministic (metric, user_id) total orders
      """WITH u AS (SELECT user_id, date_trunc('day', max(ts)) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(last_day) AS gday FROM u),
        |r AS (SELECT user_id,
        |    CAST(date_diff('day', last_day, gday) AS INT) AS rec_days,
        |    frequency, monetary_cents FROM u, g),
        |s AS (SELECT user_id, rec_days, frequency, monetary_cents,
        |    CAST(ntile(5) OVER (ORDER BY rec_days, user_id) AS INT)
        |      AS r_bucket,
        |    CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INT)
        |      AS f_bucket,
        |    CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id)
        |      AS INT) AS m_bucket
        |  FROM r)
        |SELECT user_id, rec_days, frequency, monetary_cents,
        |  r_bucket, f_bucket, m_bucket,
        |  CAST(r_bucket * 100 + f_bucket * 10 + m_bucket AS INT) AS rfm
        |FROM s""".stripMargin),

    // Top-20 3-step event paths — sequential pattern mining via two
    // keyed lags + one partial-agg count + TakeOrdered.
    entry("events_paths", (spark, dir) =>
      graft.functions.Analytics.topPaths(
        Tables.read(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts_s")),
        "user_id", "ts_s", "event_type", "event_id"),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_type AS e3,
        |    lag(event_type, 2) OVER w AS e1,
        |    lag(event_type, 1) OVER w AS e2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |c AS (SELECT e1, e2, e3, count(*) AS n FROM g
        |  WHERE e1 IS NOT NULL GROUP BY 1, 2, 3),
        |r AS (SELECT e1, e2, e3, n,
        |    row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rn FROM c)
        |SELECT e1, e2, e3, n FROM r WHERE rn <= 20""".stripMargin),

    // Per-user interval union: each event opens a 30-minute activity
    // interval; overlapping intervals merge (gaps-and-islands on a keyed
    // window — prev-max-end then running island sum), reporting island
    // counts and total covered seconds per user — all epoch-second
    // integers. Tie rows (same start+end) are island-invariant, so both
    // engines agree regardless of within-frame tie order.
    entry("events_interval_union", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("s"))
        .withColumn("e", col("s") + 1800L)
      val ord = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
      val marked = ev
        .withColumn("pmax", max(col("e")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          (col("pmax").isNull || col("s") > col("pmax")).cast("long"))
      marked
        .withColumn("island", sum(col("new_island")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ie") - col("is")).as("covered_s"))
    },
      intervalUnionOracle),

    // Streaming twin of events_interval_union: the watermark-sealed
    // session fold (an island IS a gap-1800s session) emits each merged
    // interval exactly once with epoch-second bounds; the per-user
    // rollup after the drain must hash-match the batch window form
    // under the SAME oracle.
    entry("events_interval_union_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val streamed = graft.streaming.EventStream.intervalUnionExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.SessionEvent], lenSeconds = 1800L)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_interval_union_stream_out",
        OutputMode.Append())
      spark.table("events_interval_union_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_e") - col("island_s")).as("covered_s"))
    },
      // same oracle for batch and streaming: the drained island set must
      // be bit-identical to the window-computed one
      intervalUnionOracle),

    // Per-user fixed-point EWMA over the last 16 events: weight halves
    // per step of recency (w_j = 2^(16−j), j = recency rank), numerator
    // and denominator emitted as exact integers so the result is
    // bit-portable — a double-accumulated EWMA is reduce-order-
    // dependent and could never hash-check. One keyed window (bounded
    // top-16 per user) + one partial-aggregated groupBy; ties on ts
    // broken by event_id so the rank is a total order.
    entry("events_ewma", (spark, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 16)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents") * expr("shiftleft(1L, 16 - rn)"))
            .as("ewma_num"),
          sum(expr("shiftleft(1L, 16 - rn)")).as("ewma_den"))
    },
      """WITH r AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT)
        |    AS ewma_num,
        |  CAST(sum(CAST(1 AS BIGINT) << (16 - rn)) AS BIGINT) AS ewma_den
        |FROM r WHERE rn <= 16 GROUP BY 1""".stripMargin),

    // Audience overlap matrix: for every event-type pair, how many
    // distinct users did both. The scale shape is ONE shuffle of the
    // distinct (user, type) pairs into per-user bitmasks (type vocab is
    // tiny — indexed via a broadcast 6-row dimension), then a ≤2^|types|
    // row mask histogram joined against the type-pair grid — the
    // user-level self-join (what the oracle runs, per-user |types|²
    // blowup) never happens on the big side.
    entry("events_audience_overlap", (spark, dir) => {
      val ut = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val idx = ut.select("event_type").distinct()
        .withColumn("idx",
          row_number().over(Window.orderBy("event_type")) - 1)
      val hist = ut.join(broadcast(idx), "event_type")
        .groupBy("user_id")
        .agg(sum(expr("shiftleft(1L, idx)")).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
      val pairs = idx.select(col("event_type").as("type_a"),
          col("idx").as("ia"))
        .join(idx.select(col("event_type").as("type_b"),
          col("idx").as("ib")), col("type_a") < col("type_b"))
      hist.join(broadcast(pairs),
          expr("((mask >> ia) & 1) = 1 AND ((mask >> ib) & 1) = 1"))
        .groupBy("type_a", "type_b")
        .agg(sum(col("n")).as("n_users"))
    },
      // the naive per-user self-join replay of the bitmask aggregation
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin))

  /** Exact integer square as a Column (x*x — named for readability in
    * the anomaly inequality).
    */
  private def pow2(c: org.apache.spark.sql.Column) = c * c

  /** Dense per-type hourly count series over the global [min, max] hour
    * span (zero-filled spine — shared by events_acf / events_cusum; the
    * q_gap_fill construction without the carry-forward).
    */
  private def denseHourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(spark, dir, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      .join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  /** Single-shuffle funnel: ONE repartition by user + a sorted-group
    * fold with O(1) state (first signup → first later view → first
    * later buy), versus [[funnelBounded]]'s three event-table shuffles
    * plus four aggregate joins. The strict `>` stage comparisons make
    * the fold independent of ordering among equal timestamps, so the
    * result is deterministic and identical to the aggregation form
    * (spec-pinned). This is the batch twin of the streaming
    * `funnelExact` fold — measured 2.6× faster at the 10× scale
    * (10.3 s → 3.9 s cold, same box) because the events table crosses
    * the network once, which is the number that matters at 100 TB.
    */
  private def funnelFold(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val typed = ev.select(col("user_id"), col("event_type"),
        col("ts_s").cast("timestamp").as("ts"))
      .as[graft.streaming.EventStream.FunnelEvent]
    typed.groupByKey(_.user_id)
      .flatMapSortedGroups(col("ts")) { (user: Long,
          evts: Iterator[graft.streaming.EventStream.FunnelEvent]) =>
        var tS: java.sql.Timestamp = null
        var tV: java.sql.Timestamp = null
        var tB: java.sql.Timestamp = null
        evts.foreach { e =>
          if (tS == null) { if (e.event_type == "signup") tS = e.ts }
          else if (tV == null) {
            if (e.event_type == "view" && e.ts.after(tS)) tV = e.ts
          } else if (tB == null) {
            if (e.event_type == "purchase" && e.ts.after(tV)) tB = e.ts
          }
        }
        Iterator.single((user, tS, tV, tB))
      }
      .toDF("user_id", "t_signup", "t_view", "t_buy")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
        (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
        (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
  }

  /** Signup → first-view → first-purchase funnel with BOUNDED per-user
    * aggregation state.
    *
    * Three chained conditional-min aggregations, each keyed on `user_id`:
    * t_signup = min signup ts; t_view = min view ts after t_signup;
    * t_buy = min purchase ts after t_view. Every aggregation buffer is a
    * single timestamp (partial+final min), so a bot user with 10⁷ events
    * costs O(1) state — unlike a `collect_list` of all their timestamps,
    * which materializes the whole event array in one (non-spillable)
    * aggregation buffer and is the classic skew OOM at 100×. All joins
    * and aggs share the `user_id` key, so the per-stage exchanges reuse
    * one hash partitioning.
    *
    * `ev` must have (user_id, event_type, ts_s) columns. Null semantics
    * match the list form exactly: a missing earlier stage nulls the later
    * ones (`ts > NULL` is NULL, dropped by both `min(when(...))` here and
    * `list_filter` in the oracle).
    */
  def funnelBounded(ev: DataFrame): DataFrame = {
    val s = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_s"))).as("t_signup"))
    val v = ev.where(col("event_type") === "view")
      .join(s, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("ts_s") > col("t_signup"), col("ts_s"))).as("t_view"))
    val b = ev.where(col("event_type") === "purchase")
      .join(v, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("ts_s") > col("t_view"), col("ts_s"))).as("t_buy"))
    s.join(v, Seq("user_id"), "left")
      .join(b, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
        (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
        (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
  }

  /** Concurrency sweep replay — shared by the batch entry and the
    * streaming twin #29 (sealed sessions must reproduce the batch
    * session_window answer bit-for-bit).
    */
  private val concurrencyOracle: String =
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts_s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (SELECT
        |    CAST(date_trunc('hour', min(ts_s)) AS TIMESTAMP) AS sh,
        |    CAST(date_trunc('hour', max(ts_s)) AS TIMESTAMP) AS eh
        |  FROM s GROUP BY user_id, session_id),
        |d AS (SELECT h, CAST(sum(dd) AS BIGINT) AS delta FROM (
        |    SELECT sh AS h, 1 AS dd FROM sess
        |    UNION ALL SELECT eh + INTERVAL 1 HOUR, -1 FROM sess)
        |  GROUP BY 1),
        |b AS (SELECT min(sh) AS lo, max(eh) AS hi FROM sess),
        |spine AS (SELECT unnest(generate_series(b.lo, b.hi,
        |    INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT spine.h, CAST(coalesce(d.delta, 0) AS BIGINT) AS delta,
        |  CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY spine.h)
        |    AS BIGINT) AS n_active
        |FROM spine LEFT JOIN d USING (h)""".stripMargin

  /** [[hllUsersOracle]] at an arbitrary precision p: bucket mod 2^p,
    * rho capped at 61 − p, alpha(m) bias constant, 2^(61−p) scale —
    * double literals rendered with Scala's shortest-round-trip repr,
    * which DuckDB's correctly-rounded parser maps to the identical
    * IEEE value.
    */
  private def hllUsersOracleP(p: Int): String = {
    val m = 1L << p
    val maxReg = 61 - p
    val alpha = graft.functions.Sketches.hllAlpha(m).toString
    val m2 = (m.toDouble * m.toDouble).toString
    val tp = (1L << maxReg).toDouble.toString
    s"""WITH h AS (SELECT event_type,
       |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
       |      AS h
       |  FROM events),
       |r AS (SELECT event_type, CAST(h % $m AS INTEGER) AS bucket,
       |    max(CASE WHEN (h // $m) = 0 THEN $maxReg
       |      ELSE CAST(bit_count(((h // $m) & (-(h // $m))) - 1)
       |        AS INTEGER) + 1 END) AS register
       |  FROM h GROUP BY 1, 2),
       |e AS (SELECT event_type,
       |    CAST(sum(1::BIGINT << ($maxReg - register)) +
       |      ($m - count(*)) * (1::BIGINT << $maxReg) AS BIGINT)
       |      AS sum_scaled,
       |    CAST($m - count(*) AS BIGINT) AS zero_buckets
       |  FROM r GROUP BY 1),
       |x AS (SELECT event_type,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, e.sum_scaled, e.zero_buckets,
       |  CAST($alpha AS DOUBLE) * CAST($m2 AS DOUBLE) *
       |    CAST($tp AS DOUBLE) /
       |    CAST(sum_scaled AS DOUBLE) AS hll_est,
       |  x.exact_users
       |FROM e JOIN x USING (event_type)""".stripMargin
  }

  /** HLL replay shared by the from-scratch (`events_hll_users`) and the
    * persisted-shard-merge (`events_hll_incremental`) entries — register
    * max is associative, so the merged sketch is provably identical to
    * the full build and one replay gates both.
    */
  private val hllUsersOracle: String =
    """WITH h AS (SELECT event_type,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS h
      |  FROM events),
      |r AS (SELECT event_type, CAST(h % 64 AS INTEGER) AS bucket,
      |    max(CASE WHEN (h // 64) = 0 THEN 55
      |      ELSE CAST(bit_count(((h // 64) & (-(h // 64))) - 1)
      |        AS INTEGER) + 1 END) AS register
      |  FROM h GROUP BY 1, 2),
      |e AS (SELECT event_type,
      |    CAST(sum(1::BIGINT << (55 - register)) +
      |      (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS sum_scaled,
      |    CAST(64 - count(*) AS BIGINT) AS zero_buckets
      |  FROM r GROUP BY 1),
      |x AS (SELECT event_type,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, e.sum_scaled, e.zero_buckets,
      |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) *
      |    CAST(36028797018963968.0 AS DOUBLE) /
      |    CAST(sum_scaled AS DOUBLE) AS hll_est,
      |  x.exact_users
      |FROM e JOIN x USING (event_type)""".stripMargin

  /** The SCD2 window replay, shared by the batch entry and its streaming
    * twin (batch ≡ stream under the gate).
    */
  private lazy val scd2Oracle: String =
    raw"""WITH e AS (SELECT user_id, event_id, event_type,
      |    date_trunc('second', ts) AS ts_s FROM events),
      |$stateRunCtes
      |r AS (SELECT user_id, run, min(event_type) AS event_type,
      |  min(ts_s) AS valid_from, count(*) AS n_events
      |  FROM i GROUP BY user_id, run)
      |SELECT user_id, event_type,
      |  CAST(valid_from AS TIMESTAMP) AS valid_from,
      |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
      |    AS TIMESTAMP) AS valid_to,
      |  n_events,
      |  (lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL)
      |    AS is_current
      |FROM r""".stripMargin

  // hopping-window replay: an event at t belongs to the hour windows
  // starting at floor30(t) and floor30(t) − 30 min (second-truncation is
  // bucket-safe — boundaries sit on whole minutes)
  private val hoppingOracle: String =
    """WITH e AS (SELECT event_type, value,
      |    to_timestamp((epoch(date_trunc('second', ts))::BIGINT // 1800)
      |      * 1800) AS b
      |  FROM events),
      |w AS (SELECT event_type, value,
      |    unnest([b, b - INTERVAL 30 MINUTE]) AS ws FROM e)
      |SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM w GROUP BY 1, 2""".stripMargin

  // gaps-and-islands replay of the 30-minute activity-interval union;
  // shared by the batch (window) and streaming (watermark-sealed fold)
  // entries — both must reproduce it bit-for-bit
  private val intervalUnionOracle: String =
    """WITH ev AS (SELECT user_id,
      |    epoch(date_trunc('second', ts)) AS s,
      |    epoch(date_trunc('second', ts)) + 1800 AS e FROM events),
      |m AS (SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM ev),
      |k AS (SELECT user_id, s, e,
      |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
      |      AS new_island FROM m),
      |i AS (SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM k),
      |g AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_s
      |FROM g GROUP BY 1""".stripMargin

  /** The oracle shared by events_funnel, events_funnel_fold,
    * events_funnel_stream.
    */
  private lazy val funnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts_s FROM events),
        |a AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts_s END) AS t_signup,
        |  list(ts_s) FILTER (WHERE event_type = 'view') AS views,
        |  list(ts_s) FILTER (WHERE event_type = 'purchase') AS buys
        |  FROM e GROUP BY user_id),
        |b AS (SELECT user_id, t_signup, buys,
        |  list_min(list_filter(views, v -> v > t_signup)) AS t_view FROM a)
        |SELECT user_id, t_signup, t_view,
        |  list_min(list_filter(buys, x -> x > t_view)) AS t_buy,
        |  (t_signup IS NOT NULL AND t_view IS NOT NULL) AS reached_view,
        |  (t_view IS NOT NULL AND list_min(list_filter(buys, x -> x > t_view)) IS NOT NULL) AS reached_buy
        |FROM b""".stripMargin

  /** The oracle shared by events_sessions_stream, events_session_window. */
  private lazy val sessionOracle: String =
    """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts_s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(MIN(ts_s) AS TIMESTAMP) AS session_start,
        |COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin

  /** The oracle shared by events_retention_stream, events_retention. */
  private lazy val retentionOracle: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |p AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN day END) AS signup_day,
        |  list(DISTINCT day) AS days FROM e GROUP BY user_id),
        |r AS (SELECT user_id, signup_day,
        |  list_contains(days, signup_day + 1) AS d1,
        |  list_contains(days, signup_day + 7) AS d7
        |  FROM p WHERE signup_day IS NOT NULL)
        |SELECT signup_day AS cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(CAST(d1 AS INT)) AS BIGINT) AS n_d1,
        |  CAST(SUM(CAST(d7 AS INT)) AS BIGINT) AS n_d7
        |FROM r GROUP BY signup_day""".stripMargin

  /** The oracle shared by events_hourly, events_hourly_stream,
    * events_hourly_incremental.
    */
  private lazy val hourlyOracle: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin

  /** The dense per-type hourly spine (the SQL twin of [[denseHourlyCounts]]):
    * `cnt` the observed counts, `b` the global hour bounds, `g` every
    * (type, hour) in them.
    */
  private lazy val hourlySpineCtes: String =
    """e AS (SELECT event_type, date_trunc('hour', ts) AS h
      |    FROM events),
      |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |g AS (SELECT t.event_type,
      |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
      |  FROM (SELECT DISTINCT event_type FROM e) t, b),""".stripMargin

  /** Per-user state runs over `e(user_id, event_id, event_type, ts_s)`:
    * `i` numbers each maximal run of equal event_type as `run`.
    */
  private lazy val stateRunCtes: String =
    """g AS (SELECT user_id, event_id, event_type, ts_s,
      |  CASE WHEN event_type IS DISTINCT FROM lag(event_type)
      |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
      |    THEN 1 ELSE 0 END AS chg
      |  FROM e),
      |i AS (SELECT user_id, event_type, ts_s,
      |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run
      |  FROM g),""".stripMargin

  /** Per-type event counts and decimal value sums over the `win` windows
    * of the watermarked event stream, drained in Append mode into memory
    * table `sink`: each window emits once the sentinel's watermark passes
    * its end. The window start is named `startCol`.
    */
  private def windowedCountsStream(spark: SparkSession, dir: String,
                                   win: Column, startCol: String,
                                   sink: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val ev = Tables.read(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("value"))
    val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
    val sentinel = Seq(("noop", sentinelTs, 0.0))
      .toDF("event_type", "ts", "value")
    val agg = streamWithSentinel(spark, ev, sentinel, delaySec)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("vdec"))
      .select(col("window.start").as(startCol), col("event_type"),
        col("n_events"), col("vdec").cast("double").as("value_sum"))
    graft.streaming.EventStream.runToMemory(agg, sink, OutputMode.Append())
    spark.table(sink).where(col("event_type") =!= "noop")
  }
}
