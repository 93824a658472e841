package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Fixtures.{sentinelBounds, streamWithSentinel}

/** The full-SQL surface the reference delegates to PostgreSQL (SURVEY §2.3),
  * expressed through the DataFrame API so Catalyst plans it: aggregations,
  * multi-way joins (broadcast + shuffle), semi/anti joins, windows, sorts/
  * top-k, set ops, rollup, scalar functions, distinct and approximate
  * aggregates.
  *
  * Oracle-parity conventions:
  *  - double SUMs go through DECIMAL(18,x): decimal addition is exact and
  *    associative, so Spark's partial-agg order and DuckDB's order agree;
  *    the final value is cast back to double.
  *  - windows order by (key, tiebreaker-id) so row_number is total.
  *  - event timestamps are second-truncated before arithmetic (the parquet
  *    carries nanoseconds; Spark truncates to µs on read, DuckDB keeps ns).
  */
object SqlQueries extends QueryFamily {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The PG datetime statement `q_date_dialect` runs through the rewrite. */
  private[graft] val dateDialectSql =
    """SELECT event_id,
      |date_trunc('decade', ts) AS decade_start,
      |date_trunc('week', ts) AS week_start,
      |date_trunc('milliseconds', ts) AS ms_trunc,
      |CAST(extract(isodow from ts) AS BIGINT) AS isodow,
      |CAST(extract(dow from ts) AS BIGINT) AS dow,
      |extract(epoch from ts) AS epoch_s,
      |CAST(extract(century from ts) AS BIGINT) AS century,
      |extract(microseconds from ts) AS micros,
      |to_char(ts, 'YYYY-MM-DD"T"HH24:MI:SS') AS fmt_iso,
      |to_char(ts, 'Dy, DD Mon YYYY') AS fmt_rfc
      |FROM events_qdd""".stripMargin

  lazy val entries: Seq[Entry] = Seq(

    // TPC-H Q1-shaped pricing summary: partial+final hash aggregate,
    // filter pushed to the parquet scan.
    entry("q1_pricing_summary", (spark, dir) => {
      Tables.read(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * dec2(lit(1) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Q3-shaped: selective dim filter → two joins → agg → top-10.
    // customer is broadcast (small side); lineitem⋈orders shuffles on the
    // join key; ORDER BY + LIMIT plans as TakeOrderedAndProject.
    entry("q3_top_orders", (spark, dir) => {
      val c = Tables.read(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.read(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15 00:00:00").cast("timestamp"))
      val l = Tables.read(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15 00:00:00").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(dec2(col("l_extendedprice")) * dec2(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // Q5-shaped: 6-table star join. Dims (region/nation/supplier/customer)
    // broadcast; only lineitem⋈orders is a shuffle join.
    entry("q5_region_revenue", (spark, dir) => {
      val r = Tables.read(spark, dir, "region")
      val n = Tables.read(spark, dir, "nation")
      val s = Tables.read(spark, dir, "supplier")
      val c = Tables.read(spark, dir, "customer")
      val o = Tables.read(spark, dir, "orders")
      val l = Tables.read(spark, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec2(col("l_extendedprice")) * dec2(lit(1) - col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    },
      """SELECT r_name, n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // EXISTS → left_semi: no row multiplication, build side is just keys.
    entry("q_semi_join", (spark, dir) => {
      val c = Tables.read(spark, dir, "customer")
      val o = Tables.read(spark, dir, "orders").select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // NOT EXISTS → left_anti (customers with no URGENT order, so the
    // result is non-empty at every scale factor).
    entry("q_anti_join", (spark, dir) => {
      val c = Tables.read(spark, dir, "customer")
      val o = Tables.read(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin),

    // Ranking window: top-3 orders per customer.
    entry("q_window_topn", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.read(spark, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) t WHERE rn <= 3""".stripMargin),

    // Sequence window over events: row_number + lag on second-truncated ts.
    entry("q_window_running", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
      ev.select(col("user_id"), col("event_id"),
          row_number().over(w).as("rn"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          (unix_timestamp(col("ts_s")) - unix_timestamp(lag(col("ts_s"), 1).over(w)))
            .as("secs_since_prev"))
    },
      """WITH e AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts_s FROM events)
        |SELECT user_id, event_id,
        |CAST(row_number() OVER w AS INTEGER) AS rn,
        |lag(event_type, 1) OVER w AS prev_type,
        |CAST(epoch(ts_s) - epoch(lag(ts_s, 1) OVER w) AS BIGINT) AS secs_since_prev
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)""".stripMargin),

    // UNION / INTERSECT / EXCEPT in one result, tagged.
    entry("q_setops", (spark, dir) => {
      val a = Tables.read(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val b = Tables.read(spark, dir, "orders")
        .filter(col("o_totalprice") > 150000.0).select(col("o_custkey").as("k"))
      a.union(b).distinct().withColumn("src", lit("union"))
        .unionAll(a.intersect(b).withColumn("src", lit("intersect")))
        .unionAll(a.except(b).withColumn("src", lit("except")))
    },
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000.0)
        |SELECT k, 'union' AS src FROM (SELECT k FROM a UNION SELECT k FROM b) u
        |UNION ALL SELECT k, 'intersect' AS src FROM (SELECT k FROM a INTERSECT SELECT k FROM b) i
        |UNION ALL SELECT k, 'except' AS src FROM (SELECT k FROM a EXCEPT SELECT k FROM b) e""".stripMargin),

    // ROLLUP with exact decimal totals, through the native SQL path
    // (Catalyst plans the same Expand + partial/final aggregate as the
    // DataFrame `.rollup` API; SQL form used here because Dataset column
    // resolution after rollup+coalesce trips the ambiguous-self-join
    // check in Spark 4.1).
    entry("q_rollup", (spark, dir) => {
      graft.Tables.register(spark, dir)
      spark.sql(
        """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
          |COUNT(*) AS n_customers,
          |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_total
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
    },
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |COUNT(*) AS n_customers,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin),

    // Scalar string/math/conditional functions.
    entry("q_scalar_funcs", (spark, dir) => {
      Tables.read(spark, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_type"), 1, 6).as("type_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_size").cast("string")).as("brand_size"),
        round(col("p_retailprice") * 1.1, 4).as("adj_price"),
        (col("p_size") % 5).as("size_mod"),
        when(col("p_size") > 25, "L").when(col("p_size") > 10, "M")
          .otherwise("S").as("size_class"))
    },
      """SELECT p_partkey, upper(p_name) AS name_upper,
        |substring(p_type, 1, 6) AS type_prefix,
        |CAST(length(p_name) AS BIGINT) AS name_len,
        |concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
        |round(p_retailprice * 1.1, 4) AS adj_price,
        |p_size % 5 AS size_mod,
        |CASE WHEN p_size > 25 THEN 'L' WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class
        |FROM part""".stripMargin),

    // Date/time functions.
    entry("q_date_funcs", (spark, dir) => {
      Tables.read(spark, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        quarter(col("o_orderdate")).as("o_quarter"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_end"))
    },
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |CAST(dayofmonth(o_orderdate) AS INTEGER) AS o_day,
        |CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_end
        |FROM orders""".stripMargin),

    // PG datetime dialect end-to-end: date_trunc fields Spark lacks
    // (decade, the plural sub-second spellings) and EXTRACT fields that
    // rewrite (isodow/epoch/century/microseconds) or pass through (dow),
    // run as PG TEXT through SqlDialect.rewrite — the exact path a
    // stream config's SQL takes. Scan-shaped projection (no shuffle);
    // semantics pinned against PG rules by PropertySpec's generated
    // date_trunc/EXTRACT corpus, and against DuckDB here.
    entry("q_date_dialect", (spark, dir) => {
      Tables.read(spark, dir, "events").createOrReplaceTempView("events_qdd")
      spark.sql(graft.sources.SqlDialect.rewrite(dateDialectSql))
    },
      """SELECT event_id,
        |CAST(date_trunc('decade', ts) AS TIMESTAMP) AS decade_start,
        |CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
        |CAST(date_trunc('milliseconds', ts) AS TIMESTAMP) AS ms_trunc,
        |CAST(extract(isodow from ts) AS BIGINT) AS isodow,
        |CAST(extract(dow from ts) AS BIGINT) AS dow,
        |CAST(extract(epoch from ts) AS DOUBLE) AS epoch_s,
        |CAST(extract(century from ts) AS BIGINT) AS century,
        |CAST(extract(microseconds from ts) AS BIGINT) AS micros,
        |strftime(ts, '%Y-%m-%dT%H:%M:%S') AS fmt_iso,
        |strftime(ts, '%a, %d %b %Y') AS fmt_rfc
        |FROM events""".stripMargin),

    // ORDER BY + LIMIT → TakeOrderedAndProject (no global sort).
    entry("q_topk", (spark, dir) => {
      Tables.read(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // count / exact distinct / min / max per group.
    entry("q_distinct_agg", (spark, dir) => {
      Tables.read(spark, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |COUNT(DISTINCT o_custkey) AS n_customers,
        |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // HLL approximate distinct — values are engine-specific, so this entry
    // has no oracle (rows-only check); correctness is bounded-error by
    // construction and asserted in ScalaTest against the exact count.
    // HLL estimates are sketch-specific (they ride through the oracle
    // from the output file); the EXACT distinct counts alongside are
    // recomputed and hash-checked — and the sketch's bounded error is
    // checkable against them by inspection (spec-asserted too).
    entry("q_approx_distinct", (spark, dir) => {
      Tables.read(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
    },
      // HLL estimates pass through from the output; exact distincts verified
      """WITH o AS (SELECT l_returnflag, approx_parts, approx_orders
        |  FROM read_parquet('__OUT__/q_approx_distinct/*.parquet'))
        |SELECT o.l_returnflag, o.approx_parts, o.approx_orders,
        |  e.exact_parts, e.exact_orders
        |FROM o JOIN (
        |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |    COUNT(DISTINCT l_orderkey) AS exact_orders
        |  FROM lineitem GROUP BY l_returnflag) e USING (l_returnflag)""".stripMargin),

    // CUBE: all grouping-set combinations of (priority, status).
    entry("q_cube", (spark, dir) => {
      Tables.read(spark, dir, "orders")
        .select("o_orderpriority", "o_orderstatus", "o_totalprice")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("price_total"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"), col("price_total"))
    },
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |COALESCE(o_orderstatus, 'ALL') AS status,
        |COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_total
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin),

    // Theta join (non-equi): nation pairs within the same region —
    // BroadcastNestedLoopJoin territory; fine because both sides are dims.
    entry("q_theta_join", (spark, dir) => {
      val n1 = Tables.read(spark, dir, "nation")
        .select(col("n_nationkey").as("k1"), col("n_name").as("nation_a"),
          col("n_regionkey").as("r1"))
      val n2 = Tables.read(spark, dir, "nation")
        .select(col("n_nationkey").as("k2"), col("n_name").as("nation_b"),
          col("n_regionkey").as("r2"))
      n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
        .select("nation_a", "nation_b")
    },
      """SELECT a.n_name AS nation_a, b.n_name AS nation_b
        |FROM nation a JOIN nation b
        |ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin),

    // Correlated scalar subquery (decorrelated to a window by Catalyst):
    // orders above their customer's average order value.
    entry("q_corr_subquery", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
      Tables.read(spark, dir, "orders")
        .withColumn("cust_avg",
          sum(dec2(col("o_totalprice"))).over(w).cast("double") /
            count(lit(1)).over(w))
        .where(col("o_totalprice") > col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin),

    // String function battery.
    entry("q_string_funcs", (spark, dir) => {
      Tables.read(spark, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
        reverse(col("p_brand")).as("brand_rev"),
        ltrim(rtrim(col("p_name"))).as("name_trim"),
        repeat(lit("*"), col("p_size") % 5).as("stars"))
    },
      """SELECT p_partkey,
        |regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |replace(p_type, ' ', '_') AS type_snake,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |reverse(p_brand) AS brand_rev,
        |ltrim(rtrim(p_name)) AS name_trim,
        |repeat('*', p_size % 5) AS stars
        |FROM part""".stripMargin),

    // Conditional/null functions: nullif/coalesce/least/greatest/CASE.
    entry("q_conditional", (spark, dir) => {
      Tables.read(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_flag"),
        least(col("l_quantity"), col("l_discount") * 100).as("least_v"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        when(col("l_returnflag") === "R", col("l_extendedprice") * -1)
          .otherwise(col("l_extendedprice")).as("signed_price"))
    },
      """SELECT l_orderkey, l_linenumber,
        |COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_flag,
        |LEAST(l_quantity, l_discount * 100) AS least_v,
        |GREATEST(l_tax, l_discount) AS max_rate,
        |CASE WHEN l_returnflag = 'R' THEN l_extendedprice * -1
        |     ELSE l_extendedprice END AS signed_price
        |FROM lineitem""".stripMargin),

    // Conditional aggregation (FILTER-style, expressed portably as
    // sum/count over CASE so Spark and the oracle agree on empty groups).
    entry("q_agg_filter", (spark, dir) => {
      Tables.read(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_high_disc"),
          sum(when(col("l_linestatus") === "F",
            dec2(col("l_quantity"))).otherwise(lit(null))).cast("double").as("qty_f"),
          count(lit(1)).as("n_total"))
    },
      """SELECT l_returnflag,
        |CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
        |CAST(SUM(CASE WHEN l_linestatus = 'F'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE NULL END) AS DOUBLE) AS qty_f,
        |COUNT(*) AS n_total
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Word count over exploded tokens — generator (explode) + agg.
    entry("q_wordcount", (spark, dir) => {
      Tables.read(spark, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
    },
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents) t GROUP BY word""".stripMargin),

    // Bigram collocations: adjacent token pairs via a bound token array
    // (single-element-array trick — a raw reference inside the position
    // lambda would re-split the text per position), exploded and counted.
    entry("q_bigrams", (spark, dir) => {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val bigrams = element_at(transform(array(toks), ts =>
        when(size(ts) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), greatest(size(ts) - 1, lit(1))),
            i => concat_ws(" ", slice(ts, i, lit(2)))))), 1)
      Tables.read(spark, dir, "documents")
        .select(explode(bigrams).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(50)
    },
      """WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |  i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin),

    // As-of join (point-in-time lookup): each purchase gets the ts of the
    // user's latest click at-or-before it. Routed through the CUSTOM
    // physical operator (battle-tested across two oracle entries + the
    // variants below); the window-composition form stays available as
    // operators/AsOfJoin with equality asserted in AsOfJoinSpec.
    entry("q_asof_join", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          date_trunc("second", col("ts")).as("click_s"))
      graft.plans.AsOfJoinPlan.asOf(purchases, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTime = "ts", rightTime = "c_ts")
        .select(col("user_id"), col("event_id"), col("click_s").as("asof_click_s"))
    },
      asofJoinOracle),

    // Direction variant: FIRST click at-or-after each purchase
    // (nearest-after lookup); same custom operator, direction=forward.
    entry("q_asof_forward", (spark, dir) =>
      clickAsOf(spark, dir, direction = "forward")
        .select(col("user_id"), col("event_id"),
          col("click_s").as("next_click_s")),
      // forward as-of: DuckDB's ASOF is backward-only, so the oracle takes
      // min(click ts ≥ purchase ts) per row — the forward match IS its ts
      """WITH l AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |      FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id,
        |  CAST((SELECT min(r.click_s) FROM r
        |        WHERE r.c_user = l.user_id AND r.click_s >= l.ts_s) AS TIMESTAMP)
        |    AS next_click_s
        |FROM l""".stripMargin),

    // Nearest variant: the click closest in time on either side (ties →
    // backward), per purchase.
    entry("q_asof_nearest", (spark, dir) =>
      clickAsOf(spark, dir, direction = "nearest")
        .select(col("user_id"), col("event_id"),
          col("click_s").as("near_click_s")),
      """WITH l AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |      FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click'),
        |m AS (SELECT l.user_id, l.event_id, l.ts_s,
        |  (SELECT max(r.click_s) FROM r
        |   WHERE r.c_user = l.user_id AND r.click_s <= l.ts_s) AS b,
        |  (SELECT min(r.click_s) FROM r
        |   WHERE r.c_user = l.user_id AND r.click_s >= l.ts_s) AS f
        |  FROM l)
        |SELECT user_id, event_id,
        |  CAST(CASE WHEN b IS NULL THEN f WHEN f IS NULL THEN b
        |    WHEN (epoch(ts_s) - epoch(b)) <= (epoch(f) - epoch(ts_s)) THEN b
        |    ELSE f END AS TIMESTAMP) AS near_click_s
        |FROM m""".stripMargin),

    // Tolerance variant: latest click at-or-before each purchase but no
    // older than 1 hour (tolerance in native ts units — micros).
    entry("q_asof_tolerance", (spark, dir) =>
      clickAsOf(spark, dir, tolerance = Some(3600L * 1000000L))
        .select(col("user_id"), col("event_id"),
          col("click_s").as("asof_click_s")),
      """WITH l AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |      FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id,
        |  CAST((SELECT max(r.click_s) FROM r
        |        WHERE r.c_user = l.user_id AND r.click_s <= l.ts_s
        |          AND r.click_s >= l.ts_s - INTERVAL 1 HOUR) AS TIMESTAMP)
        |    AS asof_click_s
        |FROM l""".stripMargin),

    // Same semantics via the CUSTOM physical operator (AsOfJoinExec:
    // LogicalPlan + Strategy + co-partitioned sorted merge) — checked
    // against DuckDB's native ASOF JOIN like the window form above.
    // Second-truncated timestamps on BOTH sides: ties then resolve to
    // the same (equal) carried value in every implementation.
    entry("q_asof_join_native", (spark, dir) =>
      clickAsOf(spark, dir)
        .select(col("user_id"), col("event_id"), col("click_s").as("asof_click_s")),
      """WITH l AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |      FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, CAST(r.click_s AS TIMESTAMP) AS asof_click_s
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.c_user AND r.click_s <= l.ts_s""".stripMargin),

    // Pivot: order counts per priority × status (fixed value list keeps
    // the output schema deterministic; nulls → 0 on both sides).
    entry("q_pivot", (spark, dir) => {
      val p = Tables.read(spark, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
      p.select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_filled"),
        coalesce(col("P"), lit(0L)).as("n_pending"))
    },
      """SELECT o_orderpriority,
        |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // Semi-structured JSON column: extract a field from the props blob.
    entry("q_json_props", (spark, dir) => {
      Tables.read(spark, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"),
          // schema-declared parse (from_json) alongside path extraction
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_struct"))
    },
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
        |FROM events""".stripMargin),

    // Struct construction + field access as first-class values.
    entry("q_struct_funcs", (spark, dir) =>
      Tables.read(spark, dir, "nation").select(
        col("n_nationkey"),
        struct(col("n_name").as("name"), col("n_regionkey").as("region"))
          .as("info"))
        .select(col("n_nationkey"),
          col("info.name").as("nm"),
          (col("info.region") + 100).as("region_off")),
      """SELECT n_nationkey, n_name AS nm,
        |CAST(n_regionkey + 100 AS BIGINT) AS region_off FROM nation""".stripMargin),

    // Date-series generator: one row per day of each order's first week —
    // sequence() + explode over date arithmetic.
    entry("q_date_series", (spark, dir) =>
      Tables.read(spark, dir, "orders").where(col("o_orderkey") <= 100)
        .select(col("o_orderkey"), explode(sequence(
          to_date(col("o_orderdate")),
          date_add(to_date(col("o_orderdate")), 6))).as("d"))
        .select(col("o_orderkey"), col("d").cast("timestamp").as("day")),
      """SELECT o_orderkey,
        |CAST(unnest(generate_series(CAST(o_orderdate AS DATE),
        |  CAST(o_orderdate AS DATE) + 6, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        |FROM orders WHERE o_orderkey <= 100""".stripMargin),

    // Generator with ordinality: every word with its 1-based position.
    entry("q_posexplode", (spark, dir) =>
      Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("word")),
      """SELECT doc_id,
        |CAST(generate_subscripts(string_split_regex(lower(trim(text)), '\s+'), 1) AS INTEGER) AS pos,
        |unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |FROM documents""".stripMargin),

    // Exact percentiles (sort-based, linear interpolation).
    entry("q_percentile", (spark, dir) => {
      Tables.read(spark, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          count(lit(1)).as("n"))
    },
      """SELECT o_orderpriority,
        |quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.9) AS p90,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // Exact weighted median per group on the integer cent plane: the
    // smallest price whose cumulative quantity weight reaches half the
    // group total (lower weighted median). Keyed cumulative window +
    // one conditional-min aggregate — no floats, no percentile
    // interpolation ambiguity.
    entry("q_weighted_median", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"))
      val byPrice = li.groupBy("l_returnflag", "cents")
        .agg(sum(col("w")).as("w"))
      val wcum = Window.partitionBy("l_returnflag").orderBy("cents")
      byPrice
        .withColumn("cum", sum(col("w")).over(wcum))
        .withColumn("total", sum(col("w")).over(
          Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") * 2 >= col("total"), col("cents")))
          .as("wmedian_cents"),
          max(col("total")).as("total_w"))
    },
      """WITH li AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |bp AS (SELECT l_returnflag, cents, CAST(sum(w) AS BIGINT) AS w
        |  FROM li GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents)
        |      AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
        |  FROM bp)
        |SELECT l_returnflag,
        |  min(CASE WHEN cum * 2 >= total THEN cents END) AS wmedian_cents,
        |  max(total) AS total_w
        |FROM c GROUP BY 1""".stripMargin),

    // Time-series gap filling: the hour spine (sequence per type from a
    // broadcast 1-row bounds aggregate), observed counts left-joined in,
    // missing hours forward-filled with last-observation-carried-forward
    // (keyed window, IGNORE NULLS) and 0 before the first observation.
    // The date-spine + LOCF idiom every reporting warehouse runs.
    entry("q_gap_fill", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = hourly.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("observed", col("n").isNotNull)
        .withColumn("filled_n",
          coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)))
        .select(col("event_type"), col("h").as("hour_start"),
          col("observed"), col("filled_n"))
    },
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |    date_trunc('hour', max(ts)) AS hi FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |s AS (SELECT ty.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM ty, b),
        |j AS (SELECT s.event_type, s.h, hourly.n FROM s
        |  LEFT JOIN hourly ON s.event_type = hourly.event_type
        |    AND s.h = hourly.h)
        |SELECT event_type, CAST(h AS TIMESTAMP) AS hour_start,
        |  n IS NOT NULL AS observed,
        |  CAST(COALESCE(last_value(n IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS filled_n
        |FROM j""".stripMargin),

    // Wide-to-long UNPIVOT (the inverse of q_pivot): per-flag measure
    // sums melted to (flag, measure, value) rows via the native melt —
    // a projection + generate over the 3-row aggregate, no shuffle
    // beyond the rollup itself. Measures integer-ized first (qty units,
    // price/discount cents) so the long column is one exact LONG.
    entry("q_unpivot", (spark, dir) => {
      val agg = Tables.read(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100)).cast("long")
            .as("sum_price_cents"),
          sum(floor(col("l_discount") * 100)).cast("long")
            .as("sum_disc_cents"))
      agg.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price_cents"), col("sum_disc_cents")),
        "measure", "value")
    },
      """WITH a AS (SELECT l_returnflag,
        |    CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |    CAST(sum(floor(l_extendedprice * 100)) AS BIGINT)
        |      AS sum_price_cents,
        |    CAST(sum(floor(l_discount * 100)) AS BIGINT) AS sum_disc_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc_cents', sum_disc_cents FROM a""".stripMargin),

    // 2D skyline (Pareto frontier): suppliers not strictly dominated on
    // (total quantity, revenue) by any other supplier. Two-stage prune —
    // a bucket-partitioned running-max window first (each bucket's local
    // skyline is a superset of its global-frontier members, so the
    // global pass runs over survivors only: the distributive-skyline
    // shape that avoids a corpus-wide single-partition sort at 100 TB),
    // then the same RANGE window globally. The RANGE frame
    // (UNBOUNDED PRECEDING .. 1 PRECEDING over qty DESC) sees exactly
    // the strictly-greater-qty rows, so `pmax <= rev` IS un-dominance;
    // the oracle replays with the naive NOT EXISTS quadratic form.
    entry("q_skyline", (spark, dir) => {
      val s = Tables.read(spark, dir, "lineitem")
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"),
          sum(floor(col("l_extendedprice") * 100)).cast("long")
            .as("rev_cents"))
      def prune(df: org.apache.spark.sql.DataFrame,
                w: org.apache.spark.sql.expressions.WindowSpec) = {
        val pm = max(col("rev_cents")).over(
          w.orderBy(col("qty").desc)
            .rangeBetween(Window.unboundedPreceding, -1))
        df.withColumn("pmax", pm)
          .where(col("pmax").isNull || col("pmax") <= col("rev_cents"))
          .drop("pmax")
      }
      val local = prune(s.withColumn("b", pmod(col("suppkey"), lit(32))),
        Window.partitionBy("b")).drop("b")
      prune(local, Window.partitionBy())
    },
      """WITH s AS (SELECT l_suppkey AS suppkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty,
        |    CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT suppkey, qty, rev_cents FROM s a
        |WHERE NOT EXISTS (SELECT 1 FROM s b
        |  WHERE b.qty > a.qty AND b.rev_cents > a.rev_cents)""".stripMargin),

    // Deterministic per-group mode: most frequent l_quantity per
    // (returnflag, linestatus), ties to the LARGER value — elected with
    // one max(struct(cnt, value)) aggregate, no window.
    entry("q_mode_exact", (spark, dir) =>
      Tables.read(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(max(struct(col("cnt"), col("q"))).as("__m"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("__m.q").as("mode_qty"), col("__m.cnt").as("mode_count")),
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS BIGINT) AS q, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3),
        |r AS (SELECT l_returnflag, l_linestatus, q, cnt,
        |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY cnt DESC, q DESC) AS rn
        |  FROM c)
        |SELECT l_returnflag, l_linestatus, q AS mode_qty,
        |  cnt AS mode_count
        |FROM r WHERE rn = 1""".stripMargin),

    // Window navigation: first/last/nth value over an explicit frame.
    entry("q_window_nav", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(spark, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
    },
      """SELECT o_custkey, o_orderkey,
        |first_value(o_orderkey) OVER w AS first_order,
        |last_value(o_orderkey) OVER w AS last_order,
        |nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // Multiset set ops: EXCEPT ALL / INTERSECT ALL keep duplicates.
    entry("q_setops_all", (spark, dir) => {
      val a = Tables.read(spark, dir, "lineitem").select(col("l_suppkey").as("k"))
      val b = Tables.read(spark, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
      a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except"))
        .join(a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_intersect")),
          Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_except"), lit(0L)).as("n_except"),
          coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
    },
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
        |e AS (SELECT k, COUNT(*) AS n_except FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t GROUP BY k),
        |i AS (SELECT k, COUNT(*) AS n_intersect FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t GROUP BY k)
        |SELECT COALESCE(e.k, i.k) AS k,
        |COALESCE(n_except, 0) AS n_except,
        |COALESCE(n_intersect, 0) AS n_intersect
        |FROM e FULL OUTER JOIN i ON e.k = i.k""".stripMargin),

    // LIKE-family filters.
    entry("q_like_filter", (spark, dir) => {
      Tables.read(spark, dir, "part")
        .where(col("p_type").like("%BRASS%") ||
          col("p_name").like("a%") ||
          col("p_name").ilike("SA%") || // case-insensitive LIKE (PG ILIKE)
          col("p_brand").rlike("[13]$"))
        .select("p_partkey", "p_name", "p_type", "p_brand")
    },
      """SELECT p_partkey, p_name, p_type, p_brand FROM part
        |WHERE p_type LIKE '%BRASS%' OR p_name LIKE 'a%'
        |OR p_name ILIKE 'SA%'
        |OR regexp_matches(p_brand, '[13]$')""".stripMargin),

    // RANGE window frame: 30-day trailing order count/value per customer,
    // keyed on epoch seconds (decimal sum keeps the frame total exact
    // regardless of the engine's frame-aggregation tree).
    entry("q_window_range", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-30L * 86400, 0)
      Tables.read(spark, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_trailing_30d"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double").as("spend_30d"))
    },
      """SELECT o_custkey, o_orderkey,
        |COUNT(*) OVER w AS n_trailing_30d,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // Array functions over the embedding column (no arithmetic — raw
    // element/extremum extraction, so floats compare exactly). Outputs are
    // scalars only: the driver's compare can't sort array-typed cells.
    entry("q_array_funcs", (spark, dir) => {
      Tables.read(spark, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        array_min(col("embedding")).as("emb_min"),
        array_max(col("embedding")).as("emb_max"),
        element_at(col("embedding"), 1).as("first_val"),
        element_at(col("embedding"), -1).as("last_val"),
        array_min(slice(col("embedding"), 1, 4)).as("head4_min"),
        array_position(col("embedding"), array_max(col("embedding")))
          .as("argmax_pos"))
    },
      """SELECT vec_id,
        |CAST(len(embedding) AS INTEGER) AS dim,
        |list_min(embedding) AS emb_min,
        |list_max(embedding) AS emb_max,
        |embedding[1] AS first_val,
        |embedding[-1] AS last_val,
        |list_min(embedding[1:4]) AS head4_min,
        |CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos
        |FROM embeddings""".stripMargin),

    // Statistical aggregates, ordered-set/window distribution functions,
    // string aggregation, regexp extraction, map functions, union-by-name,
    // EXISTS subqueries (SQL text path), GROUPING SETS, and null-handling
    // semantics — the wider scalar/aggregate surface of SURVEY §2.3.

    // Variance/stddev/correlation via EXACT decimal sums, final arithmetic
    // in double with the same expression structure as the oracle: decimal
    // addition is order-independent, so the result is identical at any
    // parallelism — the pattern for order-safe float stats at scale.
    // Columns are chosen so every decimal sum's mantissa fits in 53 bits
    // (quantity ≤ 50, discount ≤ 0.10): the decimal→double conversion is
    // then EXACT in any engine. (Large decimals hit a 1-ulp cross-engine
    // gap: Spark converts correctly-rounded via BigDecimal, DuckDB rounds
    // int128→double then divides by 10^scale — two roundings.)
    entry("q_stats_agg", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem").select(
        col("l_returnflag").as("rf"),
        dec2(col("l_quantity")).as("q"),
        dec2(col("l_discount")).as("dc"))
      val d = (c: Column) => c.cast("double")
      li.groupBy("rf").agg(
          count(lit(1)).as("n"),
          d(sum(col("q"))).as("sq"),
          d(sum(col("q") * col("q"))).as("sq2"),
          d(sum(col("dc"))).as("sd"),
          d(sum(col("dc") * col("dc"))).as("sd2"),
          d(sum(col("q") * col("dc"))).as("sqd"))
        .select(col("rf"), col("n"),
          ((col("sq2") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("var_qty"),
          sqrt((col("sq2") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("stddev_qty"),
          ((col("n") * col("sqd") - col("sq") * col("sd")) /
            (sqrt(col("n") * col("sq2") - col("sq") * col("sq")) *
              sqrt(col("n") * col("sd2") - col("sd") * col("sd"))))
            .as("corr_qty_disc"))
    },
      """WITH s AS (SELECT l_returnflag AS rf, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq2,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd2,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, n,
        |  (sq2 - sq * sq / n) / (n - 1) AS var_qty,
        |  sqrt((sq2 - sq * sq / n) / (n - 1)) AS stddev_qty,
        |  (n * sqd - sq * sd) /
        |    (sqrt(n * sq2 - sq * sq) * sqrt(n * sd2 - sd * sd)) AS corr_qty_disc
        |FROM s""".stripMargin),

    // Ordered string aggregation: deterministic order via sort, so the
    // concatenation is reproducible at any parallelism.
    entry("q_string_agg", (spark, dir) => {
      val n = Tables.read(spark, dir, "nation")
      val r = Tables.read(spark, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"),
          count(lit(1)).as("n_nations"))
    },
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // Distribution window functions: ntile/percent_rank/cume_dist over a
    // total order (price + key tiebreak).
    entry("q_window_dist", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.read(spark, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        dense_rank().over(w).as("drank"))
    },
      """SELECT o_custkey, o_orderkey,
        |CAST(ntile(4) OVER w AS INT) AS quartile,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cume,
        |CAST(dense_rank() OVER w AS INT) AS drank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin),

    // Frame-bounded navigation: first/last/nth over the full partition.
    entry("q_first_last", (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(spark, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("cheapest_order"),
        last(col("o_orderkey")).over(w).as("priciest_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_cheapest"))
    },
      """SELECT o_custkey, o_orderkey,
        |first_value(o_orderkey) OVER w AS cheapest_order,
        |last_value(o_orderkey) OVER w AS priciest_order,
        |nth_value(o_orderkey, 2) OVER w AS second_cheapest
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // Regexp extraction/counting: group capture and replacement (patterns
    // restricted to the RE subset Java and RE2 agree on).
    entry("q_regexp", (spark, dir) =>
      Tables.read(spark, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+) ([a-z]+)", 2).as("second_word"),
        regexp_replace(col("p_brand"), "[0-9]+", "#").as("brand_masked"),
        size(split(col("p_name"), " ")).as("n_words")),
      """SELECT p_partkey,
        |COALESCE(regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2), '') AS second_word,
        |regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked,
        |CAST(len(string_split(p_name, ' ')) AS INT) AS n_words
        |FROM part""".stripMargin),

    // Map functions: construction, lookup, keys/size — emitted as scalars.
    entry("q_map_funcs", (spark, dir) =>
      Tables.read(spark, dir, "nation").select(
        col("n_nationkey"),
        element_at(
          map_from_arrays(array(lit("name"), lit("key")),
            array(col("n_name"), col("n_nationkey").cast("string"))),
          "name").as("m_name"),
        size(map_from_arrays(array(lit("a"), lit("b")),
          array(lit(1), lit(2)))).as("m_size")),
      """SELECT n_nationkey, n_name AS m_name, 2 AS m_size FROM nation""".stripMargin),

    // Union by name with missing-column fill — schema-evolution append,
    // the thing a long-lived ingest pipeline does every schema change.
    entry("q_union_by_name", (spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
      val a = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b = o.where(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey"), col("o_orderkey")) // reordered, missing col
      a.unionByName(b, allowMissingColumns = true)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_custkey, NULL AS o_totalprice FROM orders
        |WHERE o_orderpriority = '5-LOW'""".stripMargin),

    // Correlated EXISTS / NOT EXISTS through the SQL-text path (the
    // reference's native surface is raw SQL — this exercises Spark's
    // parser + decorrelation on the same text DuckDB runs).
    entry("q_exists_sql", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 250000)
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderpriority = '1-URGENT')""".stripMargin)
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 250000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderpriority = '1-URGENT')""".stripMargin),

    // Explicit NULLS FIRST/LAST ordering: PG and Spark have OPPOSITE
    // defaults (PG: nulls last ASC / first DESC; Spark: first ASC / last
    // DESC), so portable ORDER BY over nullable keys must spell the
    // placement out — the LIMIT crosses the null/non-null boundary, so
    // the hash check fails if either engine places nulls differently.
    entry("q_nulls_order", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """SELECT o_orderkey, p FROM (
          |  SELECT o_orderkey,
          |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
          |         ELSE CAST(o_totalprice AS DOUBLE) END AS p
          |  FROM orders)
          |ORDER BY p ASC NULLS FIRST, o_orderkey NULLS FIRST
          |LIMIT 2200""".stripMargin)
    },
      """SELECT o_orderkey, p FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(o_totalprice AS DOUBLE) END AS p
        |  FROM orders)
        |ORDER BY p ASC NULLS FIRST, o_orderkey NULLS FIRST
        |LIMIT 2200""".stripMargin),

    // LIMIT/OFFSET pagination (PG's canonical keyset-less paging) through
    // the SQL-text path: deterministic total order, second page of 10.
    entry("q_offset", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
          |FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 10 OFFSET 10""".stripMargin)
    },
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 10""".stripMargin),

    // LATERAL correlated subquery (PG's LATERAL, a per-row dependent
    // join): each urgent high-value order pulls its top-2 lineitems by
    // price. Spark plans this as a LateralJoin with the correlated
    // order/limit pushed into the inner side.
    entry("q_lateral", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """SELECT o.o_orderkey, l.l_linenumber,
          |CAST(l.l_extendedprice AS DOUBLE) AS price
          |FROM orders o,
          |LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
          |         WHERE l_orderkey = o.o_orderkey
          |         ORDER BY l_extendedprice DESC, l_linenumber
          |         LIMIT 2) l
          |WHERE o.o_orderpriority = '1-URGENT'
          |  AND o.o_totalprice > 400000""".stripMargin)
    },
      """SELECT o.o_orderkey, l.l_linenumber,
        |CAST(l.l_extendedprice AS DOUBLE) AS price
        |FROM orders o,
        |LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber
        |         LIMIT 2) l
        |WHERE o.o_orderpriority = '1-URGENT'
        |  AND o.o_totalprice > 400000""".stripMargin),

    // Recursive CTE (PG WITH RECURSIVE; Spark 4 UnionLoop): a generated
    // month spine LEFT-joined to order counts — the recursion produces
    // rows no base table contains.
    entry("q_recursive_cte", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """WITH RECURSIVE months(mstart) AS (
          |  SELECT DATE '1992-01-01'
          |  UNION ALL
          |  SELECT mstart + INTERVAL '1' MONTH FROM months
          |  WHERE mstart < DATE '1992-12-01')
          |SELECT mstart, COUNT(o_orderkey) AS n_orders
          |FROM months LEFT JOIN orders
          |  ON o_orderdate >= mstart
          | AND o_orderdate < mstart + INTERVAL '1' MONTH
          |GROUP BY mstart""".stripMargin)
    },
      """WITH RECURSIVE months(mstart) AS (
        |  SELECT DATE '1992-01-01'
        |  UNION ALL
        |  SELECT mstart + INTERVAL 1 MONTH FROM months
        |  WHERE mstart < DATE '1992-12-01')
        |SELECT mstart, COUNT(o_orderkey) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON o_orderdate >= mstart
        | AND o_orderdate < mstart + INTERVAL 1 MONTH
        |GROUP BY mstart""".stripMargin),

    // Explicit GROUPING SETS with grouping() flags via SQL text.
    entry("q_grouping_sets", (spark, dir) => {
      Tables.register(spark, dir)
      spark.sql(
        """SELECT o_orderpriority, o_orderstatus,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          |                        (o_orderpriority), ())""".stripMargin)
    },
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), ())""".stripMargin),

    // Null semantics: nullif-created nulls through count(*) vs count(col),
    // distinct counts, coalesce, and a nullable group key (nulls group
    // together in both engines).
    entry("q_null_handling", (spark, dir) =>
      Tables.read(spark, dir, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("rf"),
          col("l_quantity"), col("l_linenumber"))
        .groupBy("rf")
        .agg(count(lit(1)).as("n_rows"),
          count(col("rf")).as("n_nonnull"),
          countDistinct(col("l_linenumber")).as("n_lines"),
          sum(when(col("rf").isNull, dec2(col("l_quantity")))
            .otherwise(dec2(lit(0)))).cast("double").as("null_qty")),
      """SELECT nullif(l_returnflag, 'N') AS rf,
        |COUNT(*) AS n_rows,
        |COUNT(nullif(l_returnflag, 'N')) AS n_nonnull,
        |COUNT(DISTINCT l_linenumber) AS n_lines,
        |CAST(SUM(CASE WHEN nullif(l_returnflag, 'N') IS NULL
        |  THEN CAST(l_quantity AS DECIMAL(18,2))
        |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS null_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    // STREAM-STREAM interval join — Spark's built-in two-stream join with
    // watermark-bounded state: each purchase inner-joins the same user's
    // clicks in the preceding hour; both sides are filters of ONE file
    // stream (a stream self-join), each watermarked, so the join state
    // evicts rows once the watermark passes the interval bound. Two
    // sentinels (one per side, reserved users) drain both watermarks.
    // The drained pairs aggregate per purchase; the oracle is the plain
    // batch theta join — batch ≡ stream for the join family too.
    entry("q_stream_stream_join", (spark, dir) =>
      purchaseClicks(spark, dir, "inner", "q_stream_stream_join_out")
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("c_value").cast("decimal(18,6)")).cast("double")
            .as("click_value")),
      // the plain batch theta join defines what the watermarked
      // stream-stream join must emit
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  date_trunc('second', ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, date_trunc('second', ts) AS c_ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(*) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts < p.p_ts
        |GROUP BY p.purchase_id""".stripMargin),

    // LEFT OUTER stream-stream join: same interval self-join, but
    // purchases with NO preceding click must still emit (with nulls) —
    // Spark emits the null-padded row only once the watermark proves no
    // match can arrive, the subtle outer-join-on-streams semantics. The
    // oracle is the batch LEFT JOIN; n_clicks counts matches only.
    entry("q_stream_stream_left", (spark, dir) =>
      purchaseClicks(spark, dir, "left_outer", "q_stream_stream_left_out")
        .agg(count(col("c_ts")).as("n_clicks"),
          sum(col("c_value").cast("decimal(18,6)")).cast("double")
            .as("click_value")),
      // batch LEFT JOIN: unmatched purchases appear with 0 clicks/null sum
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  date_trunc('second', ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, date_trunc('second', ts) AS c_ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(c.c_ts) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts < p.p_ts
        |GROUP BY p.purchase_id""".stripMargin),

    // Point-in-time (as-of) join as a streaming query: purchases and
    // clicks tagged into ONE keyed stream, the watermark-ordered exact
    // streaming as-of ([[graft.streaming.EventStream.streamingAsOfExact]])
    // values each purchase at the last click at-or-before it, at full
    // microsecond precision. Oracle is IDENTICAL to `q_asof_join`'s
    // (DuckDB native ASOF LEFT JOIN) — batch ≡ stream under the hash
    // gate for the custom operator family. Append mode: each left row
    // exactly once.
    entry("q_asof_join_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      // the sentinel must SURVIVE the event-type filter below (the filter
      // pushes beneath the watermark node, and a filtered-out sentinel
      // would never advance the watermark): it rides as a far-future
      // 'click' on the reserved key −1, which has no left rows and so
      // can never produce output
      val sentinel = Seq((-1L, "click", sentinelTs, -1L))
        .toDF("user_id", "event_type", "ts", "event_id")
      val tagged = streamWithSentinel(spark, ev, sentinel, delaySec)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("user_id").as("key"), col("ts"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
          col("event_id").as("tag"),
          when(col("event_type") === "click", date_trunc("second", col("ts")))
            .otherwise(lit(null).cast("timestamp")).as("payload"))
        .as[graft.streaming.EventStream.AsOfEvt]
      graft.streaming.EventStream.runToMemory(
        graft.streaming.EventStream.streamingAsOfExact(tagged).toDF(),
        "q_asof_join_stream_out", OutputMode.Append())
      spark.table("q_asof_join_stream_out")
        .where(col("key") >= 0)
        .select(col("key").as("user_id"), col("tag").as("event_id"),
          col("asof_payload").as("asof_click_s"))
    },
      // identical oracle to q_asof_join: the streaming as-of must reproduce
      // DuckDB's native ASOF LEFT JOIN bit-for-bit
      asofJoinOracle),

    // Pure range join (NO equi-key): clicks landing inside sampled
    // one-hour post-purchase windows, via the bucketized point-in-interval
    // operator — Spark would otherwise plan the bare range predicate as a
    // nested-loop cartesian (PlanAuditSpec asserts the minted bucket key
    // hash-joins instead). Second-granularity timestamps on both sides
    // keep the oracle comparison engine-exact.
    entry("q_range_join", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val windows = ev
        .where(col("event_type") === "purchase" && col("event_id") % 20 === 0)
        .select(col("event_id").as("window_id"),
          date_trunc("second", col("ts")).as("lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 1 HOUR")).as("hi"))
      val clicks = ev.where(col("event_type") === "click")
        .select(date_trunc("second", col("ts")).as("click_s"), col("value"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, "click_s", windows, "lo", "hi", bucketWidth = 3600L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
    },
      // the naive theta-join form IS the oracle: the bucketized operator
      // must produce exactly the rows the bare range predicate defines
      """WITH w AS (SELECT event_id AS window_id,
        |  date_trunc('second', ts) AS lo,
        |  date_trunc('second', ts) + INTERVAL 1 HOUR AS hi
        |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
        |c AS (SELECT date_trunc('second', ts) AS click_s, value
        |  FROM events WHERE event_type = 'click')
        |SELECT w.window_id, COUNT(*) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM w JOIN c ON c.click_s >= w.lo AND c.click_s < w.hi
        |GROUP BY w.window_id""".stripMargin),

    // Interval-OVERLAP range join (both sides are intervals, no equi-key):
    // one-hour post-purchase windows against 30-minute post-view windows,
    // exactly-once via the canonical-bucket rule (the first bucket both
    // intervals cover) — no distinct over the output. Aggregated per left
    // window so the result stays linear in the window count even when
    // pair density grows quadratically with event rate.
    entry("q_range_overlap", (spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val a = ev.where(col("event_type") === "purchase" && col("event_id") % 20 === 0)
        .select(col("event_id").as("a_id"),
          date_trunc("second", col("ts")).as("a_lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 1 HOUR")).as("a_hi"))
      val b = ev.where(col("event_type") === "view" && col("event_id") % 7 === 0)
        .select(col("event_id").as("b_id"),
          date_trunc("second", col("ts")).as("b_lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 30 MINUTE")).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucketWidth = 3600L)
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_overlaps"), min(col("b_lo")).as("first_b_lo"))
    },
      // same contract for the overlap form: the naive interval-intersection
      // theta join defines the rows the canonical-bucket operator must emit
      """WITH a AS (SELECT event_id AS a_id,
        |  date_trunc('second', ts) AS a_lo,
        |  date_trunc('second', ts) + INTERVAL 1 HOUR AS a_hi
        |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
        |b AS (SELECT event_id AS b_id,
        |  date_trunc('second', ts) AS b_lo,
        |  date_trunc('second', ts) + INTERVAL 30 MINUTE AS b_hi
        |  FROM events WHERE event_type = 'view' AND event_id % 7 = 0)
        |SELECT a.a_id, COUNT(*) AS n_overlaps,
        |  CAST(MIN(b.b_lo) AS TIMESTAMP) AS first_b_lo
        |FROM a JOIN b ON a.a_lo < b.b_hi AND b.b_lo < a.a_hi
        |GROUP BY a.a_id""".stripMargin),

    // Salted two-phase aggregation — identical results to the direct
    // groupBy (the oracle IS the direct form), with the hot-key shuffle
    // split across 8 sub-keys.
    entry("q_salted_agg", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      graft.functions.Skew.saltedAgg(li,
          Seq("l_returnflag", "l_linestatus"), buckets = 8,
          aggs = Seq("qty" -> "sum", "qty" -> "count"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("count_qty").as("count_qty"))
    },
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS count_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Salted JOIN — the skew mitigation for a fact⋈dim equi-join whose
    // key is pathological (here: 3 distinct values over all of
    // lineitem, the worst case for sort-merge). The dim replicates 8×,
    // each fact row picks one deterministic salt, the join runs on
    // (key, salt) — bit-identical result to the plain join (the
    // oracle IS the plain join), hot key spread across 8 reducers.
    entry("q_salted_join", (spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .withColumn("k", pmod(col("l_orderkey"), lit(3)))
      val dim = Tables.read(spark, dir, "region")
        .where(col("r_regionkey") < 3)
        .select(col("r_regionkey").cast("long").as("k"), col("r_name"))
      graft.functions.Skew.saltedJoin(li, dim, Seq("k"), buckets = 8,
          salt = col("l_partkey") * 7 + col("l_linenumber"))
        .groupBy("r_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    },
      // the salted join's oracle IS the plain join — salting must be
      // result-invisible
      """SELECT r_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_rows
        |FROM lineitem JOIN region ON r_regionkey = l_orderkey % 3
        |WHERE r_regionkey < 3
        |GROUP BY r_name""".stripMargin),

    // One-pass mergeable quantile sketch (t-digest style custom
    // TypedImperativeAggregate). Digest estimates are sketch-specific
    // (pass-through in the oracle; rank-accuracy bounds live in
    // QuantileDigestSpec); the group's count/min/max ride in the same
    // cheap hash aggregate and ARE recomputed + hash-checked — exact
    // quantiles would need a sort-based aggregate that costs more than
    // the digest itself (q_percentile covers exact quantiles).
    entry("q_tdigest", (spark, dir) => {
      val digest = graft.plans.QuantileDigest.tdigest(
        col("l_extendedprice"), Seq(0.25, 0.5, 0.99), delta = 100)
      Tables.read(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(digest.as("qs"), count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .select(col("l_returnflag"),
          round(element_at(col("qs"), 1), 2).as("p25"),
          round(element_at(col("qs"), 2), 2).as("p50"),
          round(element_at(col("qs"), 3), 2).as("p99"),
          col("n"), col("lo"), col("hi"))
    },
      // digest estimates pass through from the output; group count/min/max
      // recomputed and verified
      """WITH o AS (SELECT l_returnflag, p25, p50, p99
        |  FROM read_parquet('__OUT__/q_tdigest/*.parquet'))
        |SELECT o.l_returnflag, o.p25, o.p50, o.p99, e.n, e.lo, e.hi
        |FROM o JOIN (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem GROUP BY l_returnflag) e USING (l_returnflag)""".stripMargin))

  /** The oracle shared by q_asof_join, q_asof_join_stream. */
  private lazy val asofJoinOracle: String =
    """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, CAST(r.click_s AS TIMESTAMP) AS asof_click_s
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin

  /** The stream-stream interval self-join of the second-truncated events:
    * each purchase against the same user's clicks in the preceding hour,
    * both sides watermarked, two sentinels (one per side, reserved users)
    * draining both watermarks. Returns the drained pairs of the real
    * purchases, grouped by purchase.
    */
  private def purchaseClicks(spark: SparkSession, dir: String,
                             joinType: String,
                             sink: String): RelationalGroupedDataset = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val ev = Tables.read(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("value"))
    val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
    val sentinel = Seq(
      (-1L, "purchase", -1L, sentinelTs, 0.0),
      (-2L, "click", -2L, sentinelTs, 0.0))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    val src = streamWithSentinel(spark, ev, sentinel, delaySec)
    val p = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val c = src.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"),
      joinType)
    graft.streaming.EventStream.runToMemory(joined, sink, OutputMode.Append())
    spark.table(sink).where(col("p_user") >= 0).groupBy("purchase_id")
  }

  /** The custom as-of operator over the second-truncated events: each
    * purchase `(user_id, event_id, ts_s)` against the same user's clicks
    * `(c_user, click_s)`.
    */
  private def clickAsOf(spark: SparkSession, dir: String,
                        direction: String = "backward",
                        tolerance: Option[Long] = None): DataFrame = {
    val ev = Tables.read(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        date_trunc("second", col("ts")).as("click_s"))
    graft.plans.AsOfJoinPlan.asOf(purchases, clicks,
      leftKey = "user_id", rightKey = "c_user",
      leftTime = "ts_s", rightTime = "click_s",
      direction = direction, tolerance = tolerance)
  }
}
