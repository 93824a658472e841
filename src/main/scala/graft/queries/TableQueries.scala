package graft.queries

import graft.Tables
import graft.functions.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures.{sentinelBounds, streamWithSentinel}

/** Tabular entries: column profiles, checks, drift, privacy transforms
  * (k-anonymity, l-diversity, masking, DP bounds), CDC merges, layout and
  * skip-index pruning, corpus overlap/diff and basket rules.
  */
object TableQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    // Per-source corpus profile — the summary a pipeline operator reads
    // before choosing mix weights: doc/lang counts, exact char/token
    // totals, and double averages derived from exact integer sums (one
    // IEEE division each — portable).
    entry("corpus_profile", (spark, dir) => {
      val t = col("text")
      Tables.read(spark, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(t).cast("long").as("tk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("tk")).as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("total_chars"), col("total_tokens"), col("min_chars"),
          col("max_chars"),
          (col("total_chars").cast("double") / col("n_docs").cast("double"))
            .as("avg_chars"),
          (col("total_tokens").cast("double") / col("n_docs").cast("double"))
            .as("avg_tokens"))
    },
      """WITH t AS (SELECT source, lang, n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS tk
        |  FROM documents),
        |g AS (SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  SUM(n_chars) AS total_chars, SUM(tk) AS total_tokens,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM t GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  min_chars, max_chars,
        |  CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars,
        |  CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_tokens
        |FROM g""".stripMargin),

    // Bounded-contribution aggregation — the differential-privacy
    // preprocessing primitive: each user's per-type contribution clips
    // at the cap BEFORE the rollup, bounding any one user's influence
    // on the released aggregate. Raw sums ride along to expose the
    // clipped mass. Two partial-aggregated levels, exact integers.
    entry("table_dp_bounded", (spark, dir) =>
      Tables.read(spark, dir, "events")
        .select(col("event_type"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id")
        .agg(sum("cents").as("user_cents"), count(lit(1)).as("user_rows"))
        .groupBy("event_type")
        .agg(sum(least(col("user_cents"), lit(10000L)))
          .as("bounded_cents"),
          sum(col("user_cents")).as("raw_cents"),
          sum(least(col("user_rows"), lit(20L))).as("bounded_rows"),
          sum(col("user_rows")).as("raw_rows"),
          count(lit(1)).as("n_users")),
      // bounded-contribution replay: per-user clip then rollup
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS user_cents,
        |    CAST(count(*) AS BIGINT) AS user_rows
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(sum(least(user_cents, 10000)) AS BIGINT) AS bounded_cents,
        |  CAST(sum(user_cents) AS BIGINT) AS raw_cents,
        |  CAST(sum(least(user_rows, 20)) AS BIGINT) AS bounded_rows,
        |  CAST(sum(user_rows) AS BIGINT) AS raw_rows,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1""".stripMargin),

    // Deterministic masking/pseudonymization (the governance release
    // step): stable md5 surrogate for the name (joinable across tables,
    // irreversible), last-4 retention, account balance
    // generalized to $1000 buckets — every rule a pure projection.
    entry("table_masking", (spark, dir) =>
      Tables.read(spark, dir, "customer")
        .select(col("c_custkey"),
          concat(lit("cust-"),
            substring(md5(col("c_name").cast("binary")), 1, 12))
            .as("name_token"),
          concat(lit("***"),
            expr("substring(c_name, length(c_name) - 3, 4)"))
            .as("name_last4"),
          (floor(col("c_acctbal") / 1000.0).cast("long") * 1000L)
            .as("acctbal_bucket")),
      // masking replay: identical md5 surrogate, last-4 retention,
      // floor-division $1000 generalization
      """SELECT c_custkey,
        |  'cust-' || substring(md5(c_name), 1, 12) AS name_token,
        |  '***' || substring(c_name, length(c_name) - 3, 4)
        |    AS name_last4,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000
        |    AS acctbal_bucket
        |FROM customer""".stripMargin),

    // Rank/quantile transform (scikit QuantileTransformer shape): each
    // distinct cents value maps to its fractional rank in ppm, exact
    // integers, computed over the per-type value histogram — the
    // outlier-immune normalization step of a feature pipeline.
    entry("table_quantile_transform", (spark, dir) =>
      graft.functions.Profiling.quantileTransform(
        Tables.read(spark, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents"),
      // quantile-transform replay: per-type cents histogram, strictly-
      // smaller row count × 1e6 truncating-div (total − 1)
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |hist AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS w
        |  FROM ev GROUP BY 1, 2),
        |c AS (SELECT event_type, cents, w,
        |    sum(w) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |    sum(w) OVER (PARTITION BY event_type) AS total FROM hist)
        |SELECT event_type, cents,
        |  CAST(CASE WHEN total > 1
        |    THEN ((cum - w) * 1000000) // (total - 1) ELSE 0 END
        |    AS BIGINT) AS ppm
        |FROM c""".stripMargin),

    // Bloom data-skipping index + prune eval — the point-predicate
    // complement of the zone-map family: per-bucket 1024-bit Bloom over
    // the customer key (32 bit_or'd words/bucket reach the shuffle, no
    // matter the table size), probed for a fixed key suite; soundness
    // (can_skip ⇒ 0 matches) is cross-checked row by row, and the
    // can_skip=false & n_match=0 rows expose the false-positive rate.
    entry("layout_bloom_prune", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      val idx = graft.functions.Layout.bloomIndex(
        o, expr("okey div 256"), "ckey")
      bloomDecisions(o, idx)
    },
      // Bloom prune replay: same salted md5 bit positions, bit_or'd
      // per-bucket words, any-absent-bit skip rule, actual counts joined
      bloomPruneOracle),

    // Incremental persisted form of the Bloom skipping index: the two
    // okey-parity slices append as independent shards (no merge at
    // write), compaction folds them by bit_or, and the loaded index
    // prunes IDENTICALLY to the from-scratch build over all orders —
    // bit_or is associative+commutative, so this entry shares
    // layout_bloom_prune's oracle (and its can_skip ⇒ 0-matches
    // soundness check) VERBATIM.
    entry("layout_bloom_incremental", (spark, dir) => {
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      val tmp = graft.tools.Scratch.dir("graft_bloom_inc")
      L.appendBloomIndex(L.bloomIndex(
        o.where(col("okey") % 2 === 0), expr("okey div 256"), "ckey"),
        s"$tmp/idx")
      L.appendBloomIndex(L.bloomIndex(
        o.where(col("okey") % 2 === 1), expr("okey div 256"), "ckey"),
        s"$tmp/idx")
      graft.functions.IndexMaintenance.compactBloomIndex(spark, s"$tmp/idx")
      val idx = L.loadBloomIndex(spark, s"$tmp/idx")
      bloomDecisions(o, idx)
    },
      // appended shards fold by bit_or ≡ from-scratch build — same replay
      bloomPruneOracle),

    // Streaming Bloom-index maintenance: each micro-batch's index rows
    // append as shards through the SAME foreachBatch pattern as the HLL
    // merge sink (bit_or-mergeable rows are exactly what makes an index
    // streamable); a compaction after the drain folds them, and the
    // pruned decisions equal the from-scratch build over everything
    // streamed — layout_bloom_prune's oracle VERBATIM, soundness check
    // included. orders stream in keyed by o_orderdate.
    entry("layout_bloom_stream", (spark, dir) => {
      import spark.implicits._
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"),
          col("o_orderdate").cast("timestamp").as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(
        spark, o.select(col("okey"), col("ts")))
      val sentinel = Seq((-1L, -1L, sentinelTs)).toDF("okey", "ckey", "ts")
      val tmp = graft.tools.Scratch.dir("graft_bloom_stream")
      val q = streamWithSentinel(spark, o, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = L.bloomIndex(batch.where(col("okey") >= 0),
            expr("okey div 256"), "ckey")
          if (!rows.isEmpty) L.appendBloomIndex(rows, s"$tmp/idx")
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      graft.functions.IndexMaintenance.compactBloomIndex(spark, s"$tmp/idx")
      val idx = L.loadBloomIndex(spark, s"$tmp/idx")
      bloomDecisions(o, idx)
    },
      // per-micro-batch shards fold identically — streaming twin, same replay
      bloomPruneOracle),

    // Clustering-depth profile: the same okey-div-256 buckets measured
    // for the clustering key itself (disjoint ranges, depth 1 — every
    // range scan hits one bucket) vs the customer key (shuffled within
    // buckets, depth ≈ n_buckets) — the re-cluster decision metric,
    // computed on the zone map, never the data.
    entry("layout_clustering", (spark, dir) => {
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      L.clusteringProfile(o, expr("okey div 256"), "okey", "by_okey")
        .unionByName(
          L.clusteringProfile(o, expr("okey div 256"), "ckey", "by_ckey"))
    },
      // sweep replay: zone-map events ordered (v, open-first, bucket),
      // inclusive running sum sampled at each open
      {
      def one(key: String, label: String): String =
        s"""SELECT '$label' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(max(depth) AS BIGINT) AS max_depth,
           |  CAST(sum(depth) * 1000000 // count(*) AS BIGINT)
           |    AS avg_depth_ppm
           |FROM (SELECT tie, sum(delta) OVER (ORDER BY v, tie, bucket
           |      ROWS UNBOUNDED PRECEDING) AS depth
           |  FROM (SELECT bucket, mn AS v, 0 AS tie, 1 AS delta FROM (
           |      SELECT okey // 256 AS bucket,
           |        min($key) AS mn, max($key) AS mx
           |      FROM (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |            CAST(o_custkey AS BIGINT) AS ckey FROM orders)
           |      GROUP BY 1)
           |    UNION ALL
           |    SELECT bucket, mx, 1, -1 FROM (
           |      SELECT okey // 256 AS bucket,
           |        min($key) AS mn, max($key) AS mx
           |      FROM (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |            CAST(o_custkey AS BIGINT) AS ckey FROM orders)
           |      GROUP BY 1)))
           |WHERE tie = 0""".stripMargin
      one("okey", "by_okey") + "\nUNION ALL\n" + one("ckey", "by_ckey")
    }),

    // Join-size estimation from count-min sketches (the AGMS inner
    // product): provable upper bound per pair, exact size alongside —
    // the optimizer statistic for join planning over tables too big to
    // count twice. Two real joins + one near-empty one.
    entry("profile_join_estimate", (spark, dir) => {
      val S = graft.functions.Sketches
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      S.countMinJoinEstimate(li, col("l_orderkey"), o, col("o_orderkey"),
          "lineitem*orders")
        .unionByName(S.countMinJoinEstimate(o, col("o_custkey"),
          c, col("c_custkey"), "orders*customer"))
        .unionByName(S.countMinJoinEstimate(c, col("c_custkey"),
          li, col("l_partkey"), "customer*part_mismatch"))
    },
      // AGMS replay: same salted-md5 cells per side, per-row inner
      // products, min over rows; exact side via frequency vectors
      joinEstimateOracle(256)),

    // The same depth metric over a Z-ORDER layout: Morton buckets keep
    // BOTH interleaved dimensions' depth far below bucket count (the
    // multi-dimensional locality Z-order buys), while a single-column
    // sort gives depth 1 in its own dimension and ≈ n_buckets in the
    // other — the quantified version of the zorder entry's claim.
    entry("layout_clustering_zorder", (spark, dir) => {
      val L = graft.functions.Layout
      // two SYMMETRIC 8-bit dimensions (the fixture's suppkey range is
      // too narrow to exercise the interleave); 64 buckets both ways:
      // Morton buckets are 32x32 squares -> depth ~ sqrt(B) = 8 in BOTH
      // dimensions, the single-column sort gives (1, B)
      val li = Tables.read(spark, dir, "lineitem")
        .select((col("l_partkey") % 256).cast("long").as("pk"),
          (col("l_orderkey") % 256).cast("long").as("ok"))
        .withColumn("zv", L.zValue(col("pk"), col("ok"), 8))
      L.clusteringProfile(li, expr("zv div 1024"), "pk", "zorder:pk")
        .unionByName(
          L.clusteringProfile(li, expr("zv div 1024"), "ok", "zorder:ok"))
        .unionByName(
          L.clusteringProfile(li, expr("pk div 4"), "pk", "bypart:pk"))
        .unionByName(
          L.clusteringProfile(li, expr("pk div 4"), "ok", "bypart:ok"))
    },
      // z-order depth replay: Morton zval recomputed, same sweep per
      // (bucketing, key) combination
      {
      val base =
        """(SELECT l_partkey % 256 AS pk, l_orderkey % 256 AS ok,
          |  CAST(list_sum(list_transform(range(0, 8), i ->
          |    (((l_partkey % 256) >> i) & 1) * (1::BIGINT << (2*i)) +
          |    (((l_orderkey % 256) >> i) & 1) * (1::BIGINT << (2*i+1))))
          |    AS BIGINT) AS zv
          |  FROM lineitem)""".stripMargin
      def one(bucket: String, key: String, label: String): String =
        s"""SELECT '$label' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(max(depth) AS BIGINT) AS max_depth,
           |  CAST(sum(depth) * 1000000 // count(*) AS BIGINT)
           |    AS avg_depth_ppm
           |FROM (SELECT tie, sum(delta) OVER (ORDER BY v, tie, bucket
           |      ROWS UNBOUNDED PRECEDING) AS depth
           |  FROM (SELECT bucket, mn AS v, 0 AS tie, 1 AS delta FROM (
           |      SELECT $bucket AS bucket, min($key) AS mn,
           |        max($key) AS mx
           |      FROM $base GROUP BY 1)
           |    UNION ALL
           |    SELECT bucket, mx, 1, -1 FROM (
           |      SELECT $bucket AS bucket, min($key) AS mn,
           |        max($key) AS mx
           |      FROM $base GROUP BY 1)))
           |WHERE tie = 0""".stripMargin
      Seq(one("zv // 1024", "pk", "zorder:pk"),
          one("zv // 1024", "ok", "zorder:ok"),
          one("pk // 4", "pk", "bypart:pk"),
          one("pk // 4", "ok", "bypart:ok")).mkString("\nUNION ALL\n")
    }),

    // Incremental zone-map maintenance: each ingest slice's stats shard
    // appends as files; the loaded merge (min/min, max/max, summed
    // counts) equals the from-scratch build — layout_stats_index's
    // oracle VERBATIM. The lineitem slices split WITHIN buckets
    // (linenumber parity), so every bucket's stats really merge.
    entry("layout_stats_incremental", (spark, dir) => {
      val L = graft.functions.Layout
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"))
      val tmp = graft.tools.Scratch.dir("graft_zm_inc")
      def shard(p: org.apache.spark.sql.DataFrame) =
        L.zoneMap(p, expr("l_orderkey div 256"),
          Seq("ship_date", "price_cents"))
      shard(li.where(col("l_linenumber") % 2 === 0))
        .write.mode("append").parquet(s"$tmp/zm")
      shard(li.where(col("l_linenumber") % 2 === 1))
        .write.mode("append").parquet(s"$tmp/zm")
      L.mergeZoneMaps(spark.read.parquet(s"$tmp/zm"),
        Seq("ship_date", "price_cents"))
    },
      // appended shards merge to the identical stats — same replay
      statsIndexOracle),

    // Streaming zone-map maintenance — the third index layout with a
    // foreachBatch twin (HLL registers, Bloom words, now file stats):
    // per-batch shards append, the merged load equals the from-scratch
    // build, layout_stats_index's oracle VERBATIM.
    entry("layout_stats_stream", (spark, dir) => {
      import spark.implicits._
      val L = graft.functions.Layout
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("okey"),
          col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"),
          col("l_shipdate").cast("timestamp").as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(
        spark, li.select(col("okey"), col("ts")))
      val sentinel = Seq((-1L,
          java.sql.Date.valueOf("1990-01-01"), -1L, sentinelTs))
        .toDF("okey", "ship_date", "price_cents", "ts")
      val tmp = graft.tools.Scratch.dir("graft_zm_stream")
      val q = streamWithSentinel(spark, li, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = L.zoneMap(batch.where(col("okey") >= 0),
            expr("okey div 256"), Seq("ship_date", "price_cents"))
          if (!rows.isEmpty)
            rows.write.mode("append").parquet(s"$tmp/zm")
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      L.mergeZoneMaps(spark.read.parquet(s"$tmp/zm"),
        Seq("ship_date", "price_cents"))
    },
      // per-micro-batch shards merge identically — streaming twin
      statsIndexOracle),

    // The calibration story: the SAME estimates at width 4096 (sized
    // ≥ distinct keys of the biggest side) — bounds tighten from ~60×
    // over to near-exact, showing width, not the method, sets the
    // error. Sketch stays ≤ 16384 cells — still metadata.
    entry("profile_join_estimate_wide", (spark, dir) => {
      val S = graft.functions.Sketches
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      S.countMinJoinEstimate(li, col("l_orderkey"), o, col("o_orderkey"),
          "lineitem*orders", width = 4096)
        .unionByName(S.countMinJoinEstimate(o, col("o_custkey"),
          c, col("c_custkey"), "orders*customer", width = 4096))
        .unionByName(S.countMinJoinEstimate(c, col("c_custkey"),
          li, col("l_partkey"), "customer*part_mismatch", width = 4096))
    },
      joinEstimateOracle(4096)),

    // FK discovery across a candidate matrix: distinct-level containment
    // for five (child → parent) pairs — the three real FKs profile at
    // 10⁶ ppm, the reversed/garbage candidates at whatever the data
    // says — the schema-inference pass a warehouse runs over an
    // undocumented landing zone.
    entry("profile_fk", (spark, dir) => {
      val P = graft.functions.Profiling
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      val s = Tables.read(spark, dir, "supplier")
      Seq(
        P.inclusionProfile(li, "l_orderkey", "lineitem.l_orderkey",
          o, "o_orderkey", "orders.o_orderkey"),
        P.inclusionProfile(o, "o_custkey", "orders.o_custkey",
          c, "c_custkey", "customer.c_custkey"),
        P.inclusionProfile(li, "l_suppkey", "lineitem.l_suppkey",
          s, "s_suppkey", "supplier.s_suppkey"),
        P.inclusionProfile(c, "c_custkey", "customer.c_custkey",
          o, "o_custkey", "orders.o_custkey"),
        P.inclusionProfile(c, "c_nationkey", "customer.c_nationkey",
          s, "s_suppkey", "supplier.s_suppkey")
      ).reduce(_ unionByName _)
    },
      // inclusion replay per candidate pair: distinct child keys anti-join
      // distinct parent keys, integer ppm containment
      {
      def one(childTbl: String, childCol: String, parentTbl: String,
              parentCol: String): String =
        s"""SELECT '$childTbl.$childCol' AS child,
           |  '$parentTbl.$parentCol' AS parent,
           |  CAST(n_child AS BIGINT) AS n_child_distinct,
           |  CAST(n_missing AS BIGINT) AS n_missing,
           |  CAST((n_child - n_missing) * 1000000 // n_child AS BIGINT)
           |    AS containment_ppm
           |FROM (SELECT count(*) AS n_child,
           |    sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS n_missing
           |  FROM (SELECT DISTINCT $childCol AS k FROM $childTbl
           |        WHERE $childCol IS NOT NULL) ch
           |  LEFT JOIN (SELECT DISTINCT $parentCol AS k FROM $parentTbl
           |        WHERE $parentCol IS NOT NULL) p USING (k))""".stripMargin
      Seq(
        one("lineitem", "l_orderkey", "orders", "o_orderkey"),
        one("orders", "o_custkey", "customer", "c_custkey"),
        one("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        one("customer", "c_custkey", "orders", "o_custkey"),
        one("customer", "c_nationkey", "supplier", "s_suppkey")
      ).mkString("\nUNION ALL\n")
    }),

    // Functional-dependency discovery — the within-table half of schema
    // profiling next to profile_fk: exact |distinct(det)| vs
    // |distinct(det, dep)| over a candidate matrix (keys hold, composite
    // PK holds, many-to-one relations violate with a counted excess).
    // One partial-aggregated distinct pair per candidate; exchanges
    // carry distinct tuples, never rows.
    entry("profile_fd", (spark, dir) => {
      val P = graft.functions.Profiling
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val n = Tables.read(spark, dir, "nation")
      Seq(
        P.fdProfile(o, Seq("o_orderkey"), "o_orderstatus",
          "orders: o_orderkey -> o_orderstatus"),
        P.fdProfile(o, Seq("o_custkey"), "o_orderstatus",
          "orders: o_custkey -> o_orderstatus"),
        P.fdProfile(li, Seq("l_orderkey", "l_linenumber"), "l_suppkey",
          "lineitem: (l_orderkey, l_linenumber) -> l_suppkey"),
        P.fdProfile(li, Seq("l_orderkey"), "l_suppkey",
          "lineitem: l_orderkey -> l_suppkey"),
        P.fdProfile(n, Seq("n_nationkey"), "n_name",
          "nation: n_nationkey -> n_name")
      ).reduce(_ unionByName _)
    },
      // FD replay per candidate: distinct determinant tuples vs distinct
      // (determinant, dependent) tuples over the null-filtered projection
      {
      def one(tbl: String, det: Seq[String], dep: String,
              label: String): String = {
        val nn = (det :+ dep).map(c => s"$c IS NOT NULL").mkString(" AND ")
        val detRow =
          if (det.size == 1) s"CAST(${det.head} AS VARCHAR)"
          else det.map(c => s"CAST($c AS VARCHAR)").mkString("(", ", ", ")")
        val pairRow = (det :+ dep).map(c => s"CAST($c AS VARCHAR)")
          .mkString("(", ", ", ")")
        s"""SELECT '$label' AS fd,
           |  CAST(count(DISTINCT $detRow) AS BIGINT) AS n_det,
           |  CAST(count(DISTINCT $pairRow) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT $pairRow) - count(DISTINCT $detRow)
           |    AS BIGINT) AS violations,
           |  count(DISTINCT $pairRow) = count(DISTINCT $detRow) AS holds
           |FROM $tbl WHERE $nn""".stripMargin
      }
      Seq(
        one("orders", Seq("o_orderkey"), "o_orderstatus",
          "orders: o_orderkey -> o_orderstatus"),
        one("orders", Seq("o_custkey"), "o_orderstatus",
          "orders: o_custkey -> o_orderstatus"),
        one("lineitem", Seq("l_orderkey", "l_linenumber"), "l_suppkey",
          "lineitem: (l_orderkey, l_linenumber) -> l_suppkey"),
        one("lineitem", Seq("l_orderkey"), "l_suppkey",
          "lineitem: l_orderkey -> l_suppkey"),
        one("nation", Seq("n_nationkey"), "n_name",
          "nation: n_nationkey -> n_name")
      ).mkString("\nUNION ALL\n")
    }),

    // Stats-drift monitor: the one-pass tableProfile on two date slices
    // of orders, joined per column — null-rate delta in exact ppm,
    // distinct-count delta, null-safe range-change flag. The
    // yesterday-vs-today data-contract diff.
    entry("table_drift", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
      val cut = lit("1995-01-01").cast("date")
      graft.functions.Profiling.profileDrift(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    },
      // drift replay: per-column profile recompute on both date slices
      tableDriftOracle),

    // Corpus snapshot diff — dataset versioning: the fixture corpus vs a
    // deterministically evolved copy (%17 removed, %13 edited, %19
    // re-added under new ids); only (id, digest) pairs reach the
    // full-outer join.
    entry("corpus_diff", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val newSnap = docs.where(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.functions.Curation.snapshotDiff(docs, newSnap, "doc_id", "text")
    },
      """WITH old AS (SELECT doc_id, md5(text) AS d FROM documents),
        |new AS (SELECT doc_id,
        |    md5(text || CASE WHEN doc_id % 13 = 0 THEN ' v2' ELSE '' END) AS d
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents
        |  WHERE doc_id % 19 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.d <> n.d THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  o.d AS old_digest, n.d AS new_digest
        |FROM old o FULL JOIN new n ON o.doc_id = n.doc_id""".stripMargin),

    // Z-order clustering key: Morton bit-interleave of (partkey,
    // suppkey) — the multi-dimensional file-pruning layout (Delta/
    // Iceberg OPTIMIZE ZORDER) as a pure integer projection; the
    // range-partition + local sort shape is audited in PlanAuditSpec,
    // the key math hash-checks against the SQL bit replay here.
    entry("layout_zorder", (spark, dir) =>
      graft.functions.Layout.zorder(
        Tables.read(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 10, numPartitions = 32)
        .select("l_orderkey", "l_linenumber", "zval"),
      // bit-exact Morton replay: bit i of a → 2i, bit i of b → 2i+1
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    (((l_partkey % 1024) >> i) & 1) * (1::BIGINT << (2*i)) +
        |    (((l_suppkey % 1024) >> i) & 1) * (1::BIGINT << (2*i+1))))
        |    AS BIGINT) AS zval
        |FROM lineitem""".stripMargin),

    // Zone-map statistics index (data skipping): per ingest-order bucket
    // (l_orderkey div 256 — the file surrogate), min/max/null-count for
    // a date and a measure column + row count. ONE partial-aggregated
    // scan emitting metadata-sized output — the per-file stats table
    // (Delta/Iceberg manifests, parquet row-group footers) that lets a
    // 100 TB scan plan touch only the files a predicate can hit.
    entry("layout_stats_index", (spark, dir) =>
      graft.functions.Layout.zoneMap(
        Tables.read(spark, dir, "lineitem")
          .select(col("l_orderkey"),
            col("l_shipdate").cast("date").as("ship_date"),
            floor(col("l_extendedprice") * 100).cast("long")
              .as("price_cents")),
        expr("l_orderkey div 256"), Seq("ship_date", "price_cents")),
      statsIndexOracle),

    // Prune evaluation: zone map over a CLUSTERED layout (month-of-
    // shipdate buckets) + a two-column range predicate → per-bucket
    // provable skip decision, cross-checked against the actual matching
    // row count (pruning soundness: can_skip ⇒ n_match = 0; the date
    // clustering makes most buckets skippable, the unclustered price
    // column proves the no-prune negative case). The decision is a
    // metadata projection over the stats table; the verification count
    // rides the same single aggregate scan.
    entry("layout_prune_eval", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"))
      val bucket =
        (year(col("ship_date")) * 12 + month(col("ship_date")) - 1)
          .cast("long")
      val dLo = lit("1995-03-15").cast("date")
      val dHi = lit("1995-09-15").cast("date")
      val pLo = lit(100000L)
      val pHi = lit(5000000L)
      val zm = graft.functions.Layout.zoneMap(
        li, bucket, Seq("ship_date", "price_cents"))
      val dec = zm.select(col("bucket"),
        (graft.functions.Layout.pruneDecision("ship_date", dLo, dHi) ||
          graft.functions.Layout.pruneDecision("price_cents", pLo, pHi))
          .as("can_skip"))
      val actual = li.groupBy(bucket.as("bucket"))
        .agg(sum(when(col("ship_date").between(dLo, dHi) &&
          col("price_cents").between(pLo, pHi), 1L).otherwise(0L))
          .as("n_match"))
      dec.join(actual, "bucket")
    },
      """WITH li AS (SELECT CAST(l_shipdate AS DATE) AS d,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
        |  FROM lineitem),
        |b AS (SELECT CAST(year(d) * 12 + month(d) - 1 AS BIGINT)
        |    AS bucket, d, p FROM li),
        |zm AS (SELECT bucket, min(d) AS min_d, max(d) AS max_d,
        |  min(p) AS min_p, max(p) AS max_p,
        |  CAST(sum(CASE WHEN d BETWEEN DATE '1995-03-15'
        |      AND DATE '1995-09-15'
        |    AND p BETWEEN 100000 AND 5000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_match
        |  FROM b GROUP BY bucket)
        |SELECT bucket,
        |  (max_d < DATE '1995-03-15' OR min_d > DATE '1995-09-15'
        |   OR min_d IS NULL
        |   OR max_p < 100000 OR min_p > 5000000 OR min_p IS NULL)
        |    AS can_skip,
        |  n_match FROM zm""".stripMargin),

    // One-pass per-column table profile (nulls, exact distincts,
    // min/max) — data-contract monitoring for warehouse tables.
    entry("table_profile", (spark, dir) =>
      graft.functions.Profiling.tableProfile(
        Tables.read(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus")),
      Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus").map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value,
         |  count(*) AS n_rows
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")),

    // The monitoring-cadence profile: approx_count_distinct drops the
    // multi-distinct Expand from the plan (no k× row expansion — the
    // exact form costs 7.9 s at sf0.1, this is one plain scan).
    // Nulls/min/max/rows stay exact and hash-check; the estimate
    // gate-checks by readback (q_approx_distinct contract).
    entry("table_profile_fast", (spark, dir) =>
      graft.functions.Profiling.tableProfileApprox(
        Tables.read(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus")),
      // approx-profile replay: exact nulls/min/max/rows + exact distinct
      // recomputed per column; the engine-specific HLL++ estimate reads
      // back from the entry's own output (the q_approx_distinct contract)
      ("""WITH o AS (SELECT column_name,
        |    n_distinct_approx
        |  FROM read_parquet('__OUT__/table_profile_fast/*.parquet')),
        |e AS (""".stripMargin +
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus").map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n") + """)
        |SELECT e.column_name, e.n_nulls, o.n_distinct_approx,
        |  e.min_value, e.max_value, e.n_rows
        |FROM e JOIN o USING (column_name)""".stripMargin)),

    // Cross-source duplicate-overlap matrix — multi-source acquisition
    // diagnostic: distinct-normalized-text counts per source pair plus
    // shared counts. Text collapses to (xxhash64, source) before any
    // exchange; the pair matrix crosses the metadata-sized per-source
    // totals.
    entry("corpus_overlap", (spark, dir) =>
      graft.functions.Curation.sourceOverlap(
        Tables.read(spark, dir, "documents"), "text", "source"),
      // distinct-text counts replayed on the raw normalized strings (the
      // engine counts distinct 64-bit hashes of the same normalization)
      """WITH ds AS (SELECT DISTINCT
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t, source
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n FROM ds GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM ds a JOIN ds b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pa.source AS source_a, pb.source AS source_b,
        |  pa.n AS n_a, pb.n AS n_b, COALESCE(sh.n_shared, 0) AS n_shared
        |FROM ps pa JOIN ps pb ON pa.source < pb.source
        |LEFT JOIN sh ON sh.source_a = pa.source AND sh.source_b = pb.source"""
        .stripMargin),

    // CDC MERGE (SCD1 upsert/delete apply): a deterministic change batch
    // (%7=3 updates, %11=5 deletes — keys ≡38 mod 77 get BOTH, proving
    // last-wins election — %13=7 inserts under shifted keys) applied to
    // the orders snapshot. One max(struct) partial agg over the batch +
    // one key join; the snapshot never pays a window.
    entry("table_merge_cdc", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
      graft.functions.Warehouse.mergeCdc(o, cdcChanges(o),
        "o_orderkey", "seq", "op")
    },
      // the engine's max(struct(seq, op, …)) election replayed as a
      // row_number over seq desc — identical because seq totally orders
      // each key's changes
      mergeCdcOracle),

    // Streaming twin #23 — continuous CDC intake: the change feed arrives
    // as TWO microbatches delivered OUT of seq order (all seq-2 deletes
    // first, then the seq-1 updates/inserts), so the per-key election
    // must be arrival-order-independent. It is by construction — the
    // streaming groupBy maintains max(struct(seq, op, …)), a set
    // property; the drained state composes with the static snapshot
    // through the SAME applyElected as batch, under the SAME oracle.
    // State is bounded by touched keys — the CDC cost model.
    entry("table_merge_cdc_stream", (spark, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val o = Tables.read(spark, dir, "orders")
      val ch = cdcChanges(o)
      val payload = o.columns.filterNot(_ == "o_orderkey").toSeq
      val stream = streamWithSentinel(spark,
        ch.where(col("seq") === 2), ch.where(col("seq") === 1),
        delaySec = 0L, watermarkOnTs = false)
      val latest = graft.functions.Warehouse.electLatest(
        stream, "o_orderkey", "seq", "op", payload)
      graft.streaming.EventStream.runToMemory(
        latest, "cdc_latest_out", OutputMode.Update())
      // Update-mode memory sink keeps one row per key per emitting batch;
      // a second max collapses to the final state (monotone in batches)
      val finalLatest = spark.table("cdc_latest_out")
        .groupBy("o_orderkey").agg(max(col("__c")).as("__c"))
      graft.functions.Warehouse.applyElected(o, finalLatest,
        "o_orderkey", "op")
    },
      // identical oracle to table_merge_cdc: the out-of-order streamed
      // election must reproduce the batch merge bit-for-bit
      mergeCdcOracle),

    // Join-key skew profile on events.user_id — the pre-join diagnostic
    // feeding the salted-join decision. TakeOrderedAndProject top-10
    // (count desc, key asc) + broadcast 1-row totals; integer skew factor.
    entry("profile_skew", (spark, dir) =>
      graft.functions.Profiling.keySkew(
        Tables.read(spark, dir, "events"), "user_id", topK = 10),
      """WITH c AS (SELECT user_id, count(*) AS n_rows_key FROM events
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows_key) AS BIGINT) AS n_rows_total,
        |    count(*) AS n_keys_total,
        |    CAST(max(n_rows_key) AS BIGINT) AS max_rows_key FROM c),
        |r AS (SELECT user_id, n_rows_key,
        |    row_number() OVER (ORDER BY n_rows_key DESC, user_id) AS rn
        |  FROM c)
        |SELECT r.user_id, r.n_rows_key, t.n_rows_total, t.n_keys_total,
        |  t.max_rows_key,
        |  max_rows_key * 1000 * n_keys_total // n_rows_total AS skew_x1000
        |FROM r, t WHERE rn <= 10""".stripMargin),

    // Exact equi-width histogram of order totals on the integer cent
    // plane — optimizer/monitoring statistics. Division-free bucket
    // assignment; two scans, shuffle no wider than 20 rows.
    entry("table_histogram", (spark, dir) =>
      graft.functions.Profiling.histogram(
        Tables.read(spark, dir, "orders")
          .select(floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents", nBuckets = 20),
      // the division-free bucket formula on the integer cent plane; all
      // operands non-negative so DuckDB's floor-div ≡ Spark's div
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |b AS (SELECT CAST(min(v) AS BIGINT) AS lo,
        |    CAST(max(v) AS BIGINT) AS hi FROM v),
        |a AS (SELECT v,
        |    CAST(least(19, (v - lo) * 20 // (hi - lo + 1)) AS INT) AS bucket
        |  FROM v, b)
        |SELECT bucket, count(*) AS n, min(v) AS lo_cents,
        |  max(v) AS hi_cents
        |FROM a GROUP BY 1""".stripMargin),

    // k-anonymity audit — every (event_type, day, user-bucket)
    // equivalence class with its size and the < k re-identifiability
    // flag; the release-gate governance check. One partial-aggregated
    // groupBy; shuffle carries class counts, not rows.
    entry("table_kanon", (spark, dir) =>
      graft.functions.Profiling.kAnonymity(
        Tables.read(spark, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            pmod(col("user_id"), lit(97)).as("user_bucket")),
        Seq("event_type", "day", "user_bucket"), k = 5),
      // class sizes replayed directly; % on non-negative ids ≡ pmod
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |user_id % 97 AS user_bucket,
        |COUNT(*) AS class_size, COUNT(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // l-diversity — the homogeneity-attack check k-anonymity misses: per
    // (event_type, day) class, how many DISTINCT users (the sensitive
    // attribute) it contains; classes below l=5 are re-identifiable even
    // when large. Two-level exact aggregate, class-count-sized output.
    entry("table_ldiversity", (spark, dir) =>
      graft.functions.Profiling.lDiversity(
        Tables.read(spark, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            pmod(col("user_id"), lit(97)).as("user_bucket")),
        Seq("event_type", "day"), "user_bucket", l = 5),
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |COUNT(*) AS class_size,
        |COUNT(DISTINCT user_id % 97) AS n_sensitive,
        |COUNT(DISTINCT user_id % 97) < 5 AS at_risk
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Market-basket pair rules over order line items: exact integer
    // support/confidence/lift ×1e6. Within-basket pair explode is bounded
    // by basket size; counts partial-agg; 1-row basket total broadcasts.
    entry("basket_rules", (spark, dir) =>
      graft.functions.Baskets.pairRules(
        Tables.read(spark, dir, "lineitem"), "l_orderkey", "l_partkey",
        minPairCount = 2L),
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
        |  FROM lineitem),
        |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM it),
        |ic AS (SELECT i, count(*) AS cnt FROM it GROUP BY 1),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
        |  FROM it a JOIN it b ON a.o = b.o AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b,
        |  CAST(ia.cnt AS BIGINT) AS n_a, CAST(ib.cnt AS BIGINT) AS n_b,
        |  CAST(p.n_ab AS BIGINT) AS n_ab,
        |  CAST(nb.n_baskets AS BIGINT) AS n_baskets,
        |  p.n_ab * 1000000 // nb.n_baskets AS support_ppm,
        |  p.n_ab * 1000000 // ia.cnt AS conf_ppm,
        |  p.n_ab * nb.n_baskets * 1000000 // (ia.cnt * ib.cnt) AS lift_ppm
        |FROM p
        |JOIN ic ia ON p.item_a = ia.i
        |JOIN ic ib ON p.item_b = ib.i, nb""".stripMargin),

    // Pairwise correlation SUFFICIENT STATISTICS over the numeric
    // measures — n, Σx, Σy, Σxy, Σx², Σy² per measure pair, the exact
    // integer moments a feature-correlation / drift monitor derives r
    // from. A float corr() is reduce-order-dependent and could never
    // hash-check; these moments are exact (per-row products stay in
    // Long, the sums ride DECIMAL(38)). One generate (6 structs/row)
    // into a partial-aggregated 6-group rollup — no self-join of the
    // measure columns.
    entry("table_corr_stats", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem").select(
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("price"),
        floor(col("l_discount") * 100).cast("long").as("disc"),
        floor(col("l_tax") * 100).cast("long").as("tax"))
      val ms = Seq("qty", "price", "disc", "tax")
      val pairs = for {
        i <- ms.indices; j <- (i + 1) until ms.size
      } yield (ms(i), ms(j))
      li.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("ma"), lit(b).as("mb"),
            col(a).as("x"), col(b).as("y"))
        }: _*)).as("p"))
        .groupBy(col("p.ma").as("measure_a"), col("p.mb").as("measure_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("p.x")).as("sum_x"), sum(col("p.y")).as("sum_y"),
          sum((col("p.x") * col("p.y")).cast("decimal(38,0)"))
            .cast("double").as("sum_xy"),
          sum((col("p.x") * col("p.x")).cast("decimal(38,0)"))
            .cast("double").as("sum_xx"),
          sum((col("p.y") * col("p.y")).cast("decimal(38,0)"))
            .cast("double").as("sum_yy"))
    },
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS disc,
        |    CAST(floor(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
        |p AS (
        |  SELECT 'qty' AS measure_a, 'price' AS measure_b,
        |    qty AS x, price AS y FROM li
        |  UNION ALL SELECT 'qty', 'disc', qty, disc FROM li
        |  UNION ALL SELECT 'qty', 'tax', qty, tax FROM li
        |  UNION ALL SELECT 'price', 'disc', price, disc FROM li
        |  UNION ALL SELECT 'price', 'tax', price, tax FROM li
        |  UNION ALL SELECT 'disc', 'tax', disc, tax FROM li)
        |SELECT measure_a, measure_b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sum_xy,
        |  CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sum_xx,
        |  CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS sum_yy
        |FROM p GROUP BY 1, 2""".stripMargin),

    // Winsorized rollup: per returnflag, exact p05/p95 price cuts via
    // the integer cum-weight election (cum·20 ≥ total / ≥ 19·total —
    // same engine-agnostic percentile form as q_weighted_median, no
    // float quantile semantics to disagree on), then outliers clamped
    // to the cuts and re-summed. Value-histogram first (the window
    // orders DISTINCT cents per flag, not rows), cuts re-join as a
    // broadcast per-flag dimension.
    entry("table_winsorize", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val hist = li.groupBy("l_returnflag", "cents")
        .agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy("l_returnflag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cuts = hist
        .withColumn("cum", sum(col("w")).over(wc))
        .withColumn("total", sum(col("w")).over(
          Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") * 20 >= col("total"), col("cents")))
          .as("lo_cents"),
          min(when(col("cum") * 20 >= col("total") * 19, col("cents")))
            .as("hi_cents"))
      hist.join(broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("lo_cents")).as("lo_cents"),
          max(col("hi_cents")).as("hi_cents"),
          sum(col("w") * greatest(col("lo_cents"),
            least(col("hi_cents"), col("cents")))).as("win_sum_cents"),
          sum(when(col("cents") < col("lo_cents"), col("w"))
            .otherwise(lit(0L))).as("n_lo"),
          sum(when(col("cents") > col("hi_cents"), col("w"))
            .otherwise(lit(0L))).as("n_hi"))
    },
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM h),
        |cuts AS (SELECT l_returnflag,
        |    min(CASE WHEN cum * 20 >= total THEN cents END) AS lo_cents,
        |    min(CASE WHEN cum * 20 >= total * 19 THEN cents END)
        |      AS hi_cents
        |  FROM c GROUP BY 1)
        |SELECT h.l_returnflag, max(lo_cents) AS lo_cents,
        |  max(hi_cents) AS hi_cents,
        |  CAST(sum(w * greatest(lo_cents, least(hi_cents, cents)))
        |    AS BIGINT) AS win_sum_cents,
        |  CAST(sum(CASE WHEN cents < lo_cents THEN w ELSE 0 END)
        |    AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN cents > hi_cents THEN w ELSE 0 END)
        |    AS BIGINT) AS n_hi
        |FROM h JOIN cuts USING (l_returnflag) GROUP BY 1""".stripMargin),

    // Declarative data-quality checks (the dbt-test surface) against a
    // deterministically corrupted copy — nulled FKs (%31=3), orphaned
    // FKs (%29=8), invalid status (%37=5), re-appended duplicate keys
    // (%41=6), out-of-range quantities (%43=7) — so every check's
    // violation COUNTING is exercised, not just its zero path. Each
    // check is one partial-agg scan or one anti join.
    entry("table_checks", (spark, dir) => {
      val P = graft.functions.Profiling
      val o = Tables.read(spark, dir, "orders")
      val base = o.unionByName(o.where(col("o_orderkey") % 41 === 6))
      val corrupted = base
        .withColumn("o_custkey",
          when(col("o_orderkey") % 31 === 3, lit(null).cast("long"))
            .when(col("o_orderkey") % 29 === 8,
              col("o_custkey") + 10000000L)
            .otherwise(col("o_custkey")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 37 === 5, lit("X"))
            .otherwise(col("o_orderstatus")))
      val qty = Tables.read(spark, dir, "lineitem")
        .select((col("l_quantity").cast("long") +
          when(col("l_orderkey") % 43 === 7, 100L).otherwise(0L))
          .as("qty"))
      P.checkNotNull(corrupted, "orders", "o_custkey")
        .unionByName(P.checkUnique(corrupted, "orders", "o_orderkey"))
        .unionByName(P.checkAcceptedValues(corrupted, "orders",
          "o_orderstatus", Seq("O", "F", "P")))
        .unionByName(P.checkRefIntegrity(corrupted, "orders", "o_custkey",
          Tables.read(spark, dir, "customer"), "c_custkey"))
        .unionByName(P.checkRange(qty, "lineitem", "qty", 1L, 50L))
    },
      // the same planted corruption replayed; CASE order pins the
      // null-beats-orphan precedence for keys ≡ both moduli
      """WITH b AS (SELECT * FROM orders
        |  UNION ALL SELECT * FROM orders WHERE o_orderkey % 41 = 6),
        |c AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 31 = 3 THEN NULL
        |         WHEN o_orderkey % 29 = 8 THEN o_custkey + 10000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 37 = 5 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM b),
        |q AS (SELECT CAST(l_quantity AS BIGINT) +
        |    CASE WHEN l_orderkey % 43 = 7 THEN 100 ELSE 0 END AS qty
        |  FROM lineitem)
        |SELECT 'not_null:o_custkey' AS check_name, 'orders' AS table_name,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations, count(*) AS n_rows FROM c
        |UNION ALL
        |SELECT 'unique:o_orderkey', 'orders', CAST(sum(n - 1) AS BIGINT),
        |  CAST(sum(n) AS BIGINT)
        |FROM (SELECT count(*) AS n FROM c GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'accepted_values:o_orderstatus', 'orders',
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1
        |    ELSE 0 END) AS BIGINT), count(*) FROM c
        |UNION ALL
        |SELECT 'ref_integrity:o_custkey', 'orders',
        |  (SELECT count(*) FROM c WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |  count(*) FROM c
        |UNION ALL
        |SELECT 'range:qty', 'lineitem',
        |  CAST(sum(CASE WHEN qty < 1 OR qty > 50 THEN 1 ELSE 0 END)
        |    AS BIGINT), count(*) FROM q""".stripMargin))

  /** The CDC fixture for table_merge_cdc: updates (seq 1, repriced +1000
    * and flagged 'R'), deletes (seq 2), and inserts under key+10M (seq 1,
    * status 'N') — all derived deterministically from the snapshot so the
    * oracle can replay them. Keys ≡38 (mod 77) receive an update AND a
    * later delete, exercising the per-key latest-change election.
    */
  private def cdcChanges(o: DataFrame): DataFrame = {
    val upd = o.where(col("o_orderkey") % 7 === 3).select(
      col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
      col("o_custkey"), lit("R").as("o_orderstatus"),
      (col("o_totalprice") + 1000.0).as("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))
    val del = o.where(col("o_orderkey") % 11 === 5).select(
      col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
      lit(null).cast("long").as("o_custkey"),
      lit(null).cast("string").as("o_orderstatus"),
      lit(null).cast("double").as("o_totalprice"),
      lit(null).cast("timestamp").as("o_orderdate"),
      lit(null).cast("string").as("o_orderpriority"))
    val ins = o.where(col("o_orderkey") % 13 === 7).select(
      (col("o_orderkey") + 10000000L).as("o_orderkey"), lit(1L).as("seq"),
      lit("U").as("op"), col("o_custkey"), lit("N").as("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    upd.unionByName(del).unionByName(ins)
  }

  /** table_drift replay: the per-column profile recomputed over both
    * date slices of orders with UNION ALL per column, then the same ppm
    * deltas and null-safe range flag. Fixing the same three int/string
    * columns as the entry keeps min/max-to-string engine-portable.
    */
  private val tableDriftOracle: String = {
    def side(tag: String, pred: String): String =
      Seq("o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS ${tag}_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ${tag}_distinct,
           |  CAST(min($c) AS VARCHAR) AS ${tag}_min,
           |  CAST(max($c) AS VARCHAR) AS ${tag}_max,
           |  CAST(count(*) AS BIGINT) AS ${tag}_rows
           |FROM orders WHERE $pred""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH pa AS (${side("a", "o_orderdate < DATE '1995-01-01'")}),
       |pb AS (${side("b", "o_orderdate >= DATE '1995-01-01'")})
       |SELECT pa.column_name,
       |  a_nulls, a_distinct, a_min, a_max, a_rows,
       |  b_nulls, b_distinct, b_min, b_max, b_rows,
       |  CAST((b_nulls * 1000000) // b_rows
       |    - (a_nulls * 1000000) // a_rows AS BIGINT)
       |    AS null_rate_delta_ppm,
       |  CAST(b_distinct - a_distinct AS BIGINT) AS distinct_delta,
       |  (NOT (a_min IS NOT DISTINCT FROM b_min))
       |    OR (NOT (a_max IS NOT DISTINCT FROM b_max)) AS range_changed
       |FROM pa JOIN pb USING (column_name)""".stripMargin
  }

  /** Zone-map replay shared by the from-scratch and appended/
    * merged (shard min/min, max/max, summed counts) entries.
    */
  private val statsIndexOracle: String =
    """SELECT l_orderkey // 256 AS bucket, count(*) AS n_rows,
        |  min(CAST(l_shipdate AS DATE)) AS min_ship_date,
        |  max(CAST(l_shipdate AS DATE)) AS max_ship_date,
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nulls_ship_date,
        |  min(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS min_price_cents,
        |  max(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS max_price_cents,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nulls_price_cents
        |FROM lineitem GROUP BY 1""".stripMargin

  /** AGMS join-estimate replay at a given sketch width, shared by the
    * demo-width (256) and calibrated (4096) entries: ONE md5 per key,
    * lane-sliced per hash row (`substring(md5(v), 1+8j, 8)` — the r9
    * verdict's 4× constant cut), per-row inner products left-joined
    * against the full row set (zero-overlap rows count as 0), min over
    * rows; exact side via frequency vectors. Both sums accumulate in
    * DECIMAL(38,0) (Long-overflow guard, mirrored in
    * `Sketches.countMinJoinEstimate`).
    */
  private def joinEstimateOracle(width: Int): String = {
    def one(aTbl: String, aCol: String, bTbl: String, bCol: String,
            label: String): String =
      s"""SELECT '$label' AS pair, est.cm_join_est, ex.exact_join
         |FROM (
         |  SELECT CAST(min(coalesce(p.est, 0)) AS BIGINT)
         |    AS cm_join_est
         |  FROM (SELECT unnest([0,1,2,3]) AS j) js
         |  LEFT JOIN (
         |    SELECT sa.j, sum(CAST(sa.cnt AS DECIMAL(19,0)) *
         |      CAST(sb.cnt AS DECIMAL(19,0))) AS est
         |    FROM (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt FROM (
         |        SELECT j, CAST(('0x' || substring(md5(
         |            CAST($aCol AS VARCHAR)), 1 + 8 * j, 8))::BIGINT % $width
         |          AS INTEGER) AS c
         |        FROM $aTbl CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
         |      GROUP BY 1, 2) sa
         |    JOIN (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt FROM (
         |        SELECT j, CAST(('0x' || substring(md5(
         |            CAST($bCol AS VARCHAR)), 1 + 8 * j, 8))::BIGINT % $width
         |          AS INTEGER) AS c
         |        FROM $bTbl CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
         |      GROUP BY 1, 2) sb
         |      ON sa.j = sb.j AND sa.c = sb.c
         |    GROUP BY sa.j) p ON js.j = p.j) est
         |CROSS JOIN (
         |  SELECT CAST(coalesce(sum(CAST(fa AS DECIMAL(19,0)) *
         |      CAST(fb AS DECIMAL(19,0))), 0) AS BIGINT)
         |    AS exact_join
         |  FROM (SELECT $aCol AS k, CAST(count(*) AS BIGINT) AS fa
         |        FROM $aTbl GROUP BY 1) a
         |  JOIN (SELECT $bCol AS k, CAST(count(*) AS BIGINT) AS fb
         |        FROM $bTbl GROUP BY 1) b USING (k)) ex""".stripMargin
    Seq(one("lineitem", "l_orderkey", "orders", "o_orderkey",
          "lineitem*orders"),
        one("orders", "o_custkey", "customer", "c_custkey",
          "orders*customer"),
        one("customer", "c_custkey", "lineitem", "l_partkey",
          "customer*part_mismatch")).mkString("\nUNION ALL\n")
  }

  /** Bloom skip-index replay shared by the from-scratch
    * (`layout_bloom_prune`) and appended/compacted
    * (`layout_bloom_incremental`) entries — identical index rows by the
    * bit_or associativity argument, identical probe, and the can_skip ⇒
    * 0-matches soundness columns.
    */
  private val bloomPruneOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |    CAST(o_custkey AS BIGINT) AS ckey FROM orders),
      |keys AS (SELECT DISTINCT ckey AS key FROM o
      |  WHERE ckey % 211 = 3 AND ckey < 2000),
      |js AS (SELECT unnest([0, 1]) AS j),
      |kb AS (SELECT okey // 256 AS bucket, j,
      |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(ckey AS VARCHAR)), 1, 8))::BIGINT % 1024 AS INTEGER)
      |      AS bit
      |  FROM o CROSS JOIN js),
      |idx AS (SELECT bucket, bit // 32 AS word,
      |    bit_or(1::BIGINT << (bit % 32)) AS bits
      |  FROM kb GROUP BY 1, 2),
      |probe AS (SELECT key, j,
      |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(key AS VARCHAR)), 1, 8))::BIGINT % 1024 AS INTEGER)
      |      AS bit
      |  FROM keys CROSS JOIN js),
      |bkts AS (SELECT DISTINCT bucket FROM idx),
      |dec AS (SELECT p.key, b.bucket,
      |    sum(CASE WHEN i.bits IS NOT NULL AND
      |        (i.bits & (1::BIGINT << (p.bit % 32))) <> 0
      |      THEN 1 ELSE 0 END) < 2 AS can_skip
      |  FROM probe p CROSS JOIN bkts b
      |  LEFT JOIN idx i ON i.bucket = b.bucket AND i.word = p.bit // 32
      |  GROUP BY 1, 2),
      |act AS (SELECT ckey AS key, okey // 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_match
      |  FROM o JOIN keys ON o.ckey = keys.key GROUP BY 1, 2)
      |SELECT d.key, d.bucket, d.can_skip,
      |  CAST(coalesce(a.n_match, 0) AS BIGINT) AS n_match
      |FROM dec d LEFT JOIN act a USING (key, bucket)""".stripMargin

  /** The oracle shared by table_merge_cdc, table_merge_cdc_stream. */
  private lazy val mergeCdcOracle: String =
    """WITH ch AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey,
        |    'R' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL, NULL, NULL, NULL
        |  FROM orders WHERE o_orderkey % 11 = 5
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 1, 'U', o_custkey, 'N',
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 = 7),
        |latest AS (SELECT k, op, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM ch)
        |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
        |  s.o_orderdate, s.o_orderpriority
        |FROM orders s LEFT JOIN (SELECT DISTINCT k FROM ch) t
        |  ON s.o_orderkey = t.k
        |WHERE t.k IS NULL
        |UNION ALL
        |SELECT k, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM latest WHERE rn = 1 AND op = 'U'""".stripMargin

  /** The pruning decisions of Bloom index `idx` over the orders `o(okey,
    * ckey)` for the probe keys (ckey % 211 = 3, below 2000), joined with
    * each (key, bucket)'s actual match count — the soundness check that
    * a skipped bucket holds no match.
    */
  private def bloomDecisions(o: DataFrame, idx: DataFrame): DataFrame = {
    val keys = o.select(col("ckey"))
      .where(col("ckey") % 211 === 3 && col("ckey") < 2000).distinct()
    val dec = graft.functions.Layout.bloomPrune(idx, keys, "ckey")
    val actual = o
      .select(col("ckey").as("key"), expr("okey div 256").as("bucket"))
      .join(broadcast(keys.select(col("ckey").as("key"))), "key")
      .groupBy("key", "bucket").agg(count(lit(1)).as("n_match"))
    dec.join(actual, Seq("key", "bucket"), "left")
      .select(col("key"), col("bucket"), col("can_skip"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
  }
}
