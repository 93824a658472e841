package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table layout: pre-partitioning fact tables by join key makes
  * the fact⋈fact join shuffle-free — the table-layout half of the 100 TB
  * story (the other half is broadcast dims). Asserted by plan shape: the
  * bucketed join plans with NO shuffle exchange on either side.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Register `df` as the managed bucketed table `name`. Idempotent: an
    * existing table is left untouched, so repeated pipeline runs reuse the
    * layout. Sorted buckets additionally satisfy sorted-merge operators'
    * ordering requirements (sort-merge join, AsOfJoinExec) without a
    * per-query sort.
    */
  private def ensureBucketed(df: org.apache.spark.sql.DataFrame, name: String,
                             nBuckets: Int, bucketCols: Seq[String],
                             sortCols: Seq[String] = Nil): Unit =
    if (!spark.catalog.tableExists(name)) {
      val w = df.write.bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      val sorted =
        if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
      sorted.saveAsTable(name)
    }

  // ensureBucketed: pay the layout shuffle once at registration,
  // then EVERY downstream query keyed on the bucket columns — the custom
  // as-of operator AND a plain aggregation — reads bucket-aligned with no
  // exchange. Registration is idempotent across pipeline runs.
  test("catalog-registered bucketed tables serve repeated queries shuffle-free") {
    val ev = Tables.read(spark, SparkTestSession.Sf, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    try {
      ensureBucketed(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts"),
        "cat_purchases", 4, Seq("user_id"), Seq("user_id", "ts"))
      ensureBucketed(
        ev.filter(col("event_type") === "click")
          .selectExpr("user_id AS c_user", "ts AS c_ts"),
        "cat_clicks", 4, Seq("c_user"), Seq("c_user", "c_ts"))
      val before = spark.table("cat_purchases").count()
      // idempotent: re-registering (even with different data) is a no-op
      ensureBucketed(ev.limit(0).select("user_id", "event_id", "ts"),
        "cat_purchases", 4, Seq("user_id"))
      assert(spark.table("cat_purchases").count() === before)

      val asof = graft.plans.AsOfJoinPlan.asOf(
        spark.table("cat_purchases"), spark.table("cat_clicks"),
        "user_id", "c_user", "ts", "c_ts")
      asof.write.format("noop").mode("overwrite").save()
      assert(!asof.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed as-of must not shuffle")

      val agg = spark.table("cat_purchases").groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(user_id"),
        "bucketed aggregation must not re-shuffle its input")
      assert(agg.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_purchases")
      spark.sql("DROP TABLE IF EXISTS cat_clicks")
    }
  }

  // The substr index registered as a bucketed table (bucketBy(h) through
  // ensureBucketed, plus a bucketed append): identical probed spans, and
  // the index side of both h-keyed probe joins reads bucket-aligned — the
  // probe plan drops the index-side exchanges the flat layout pays.
  test("bucketed substr index probes exchange-free on the index side") {
    import graft.functions.Dedup
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val plant = "by the riverbank the quiet fox waited for the morning"
    val a = docs.where(col("doc_id") % 3 === 0).limit(40)
      .withColumn("text", concat(col("text"), lit(" " + plant)))
    val b = docs.where(col("doc_id") % 3 === 1)
    val c = docs.where(col("doc_id") % 3 === 2).limit(40)
      .withColumn("text", concat(lit(plant + " "), col("text")))
    try {
      val idx = Dedup.buildSubstrIndex(a, "text", "doc_id", minLen = 8)
      ensureBucketed(idx, "substr_idx_bkt", 8, Seq("h"))
      Dedup.buildSubstrIndex(b, "text", "doc_id", minLen = 8)
        .write.mode("append").bucketBy(8, "h").saveAsTable("substr_idx_bkt")
      val flat = idx.unionByName(
        Dedup.buildSubstrIndex(b, "text", "doc_id", minLen = 8))
      def spans(ix: org.apache.spark.sql.DataFrame) =
        Dedup.probeSubstrIndex(c, ix, "text", "doc_id", minLen = 8)
      val wantRows = spans(flat).collect().map(_.toString).toSet
      assert(wantRows.nonEmpty, "planted span must be probed")
      val bucketed = spans(spark.table("substr_idx_bkt"))
      assert(bucketed.collect().map(_.toString).toSet === wantRows)
      val plan = bucketed.queryExecution.executedPlan.toString
      val flatPlan = spans(flat).queryExecution.executedPlan.toString
      def hExchanges(p: String) =
        "Exchange hashpartitioning\\(h#".r.findAllIn(p).length
      assert(plan.contains("Bucketed: true"),
        s"index scan must be bucketed:\n$plan")
      assert(hExchanges(plan) < hExchanges(flatPlan),
        s"bucketed probe must drop index-side h exchanges: " +
          s"${hExchanges(plan)} vs ${hExchanges(flatPlan)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS substr_idx_bkt")
    }
  }

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // default warehouse dir (static conf); managed tables dropped below
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val li = Tables.read(spark, SparkTestSession.Sf, "lineitem")
      val o = Tables.read(spark, SparkTestSession.Sf, "orders")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_bucketed")

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString

      // join inputs read bucket-aligned: no Exchange below the join
      val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin")
      assert(joinPart.length >= 2, s"expected a shuffle-family join:\n$plan")
      val belowJoin = joinPart.last
      assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey") &&
        !belowJoin.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not re-shuffle its inputs:\n$plan")

      // and the result matches the unbucketed join
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      assert(got.keySet === expected.keySet)
      expected.foreach { case (k, v) => assert(got(k).compareTo(v) === 0, k) }
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }
}
