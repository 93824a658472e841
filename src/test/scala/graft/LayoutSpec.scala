package graft

import graft.functions.{Layout, Profiling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver reference interleave. */
  private def zRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.sum

  test("zValue matches the reference interleave and is bijective on the grid") {
    val rows = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.zValue(col("a"), col("b"), bits = 5).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z === zRef(a, b, 5), s"($a,$b)") }
    // bijective: 1024 distinct z values covering exactly [0, 1024)
    val zs = got.map(_._3).toSet
    assert(zs.size === 1024 && zs.min === 0L && zs.max === 1023L)
  }

  test("zorder plans a range exchange on zval with a partition-local sort") {
    val df = Layout.zorder(
      Tables.read(spark, SparkTestSession.Sf, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"),
      "l_partkey", "l_suppkey", bits = 8, numPartitions = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(zval"),
      s"zorder must range-partition on the curve key:\n$plan")
    // SortExec prints "Sort [keys], false, 0" — false = not global
    assert(plan.split("\n").exists(l =>
      l.contains("Sort [zval") && l.contains("], false, 0")),
      s"zorder must sort within partitions, not globally:\n$plan")
  }

  test("zorder tightens BOTH dimensions' per-partition bounds vs a 1-col sort") {
    // locality metric: Σ over partitions of (spread_a + spread_b); the
    // Z-curve must beat clustering by l_partkey alone on the b dimension
    // without giving the a dimension away entirely
    // orderkey × partkey: both span the full 256-bucket range at every
    // fixture scale (suppkey's ~10 distinct values would make any layout
    // look clustered in b)
    val base = Tables.read(spark, SparkTestSession.Sf, "lineitem")
      .select(pmod(col("l_orderkey"), lit(256L)).as("a"),
        pmod(col("l_partkey"), lit(256L)).as("b"))
    def spreads(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val parts = df.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .agg(avg("sa"), avg("sb")).as[(Double, Double)].head()
      parts
    }
    val byA = spreads(base.repartitionByRange(16, col("a")))
    val byZ = spreads(Layout.zorder(base, "a", "b", bits = 8,
      numPartitions = 16))
    // single-column clustering leaves b unclustered (spread ≈ full range)
    assert(byA._2 > 150.0, s"sanity: 1-col layout should not cluster b: $byA")
    // the curve clusters b far better while keeping a's spread bounded
    assert(byZ._2 < byA._2 / 2, s"z-order must tighten b: $byZ vs $byA")
    assert(byZ._1 < 256.0, s"z-order must not abandon a: $byZ")
  }

  test("zoneMap: per-bucket min/max/nulls/rows, one partial-agg pass") {
    val df = Seq(
      (0L, Some(10L)), (0L, Some(3L)), (0L, None),
      (1L, None), (1L, None),
      (2L, Some(-5L))
    ).toDF("b", "v")
    val got = Layout.zoneMap(df, col("b"), Seq("v"))
      .select("bucket", "n_rows", "min_v", "max_v", "nulls_v")
      .as[(Long, Long, Option[Long], Option[Long], Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 3L, Some(3L), Some(10L), 1L)))
    assert(got(1L) === ((1L, 2L, None, None, 2L)))
    assert(got(2L) === ((2L, 1L, Some(-5L), Some(-5L), 0L)))
    // plan shape: a single aggregate over the scan, no join/window
    val plan = Layout.zoneMap(df, col("b"), Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("pruneDecision is sound (skip ⇒ no match) and fires on disjoint/all-null") {
    val df = Seq(
      (0L, Some(10L)), (0L, Some(20L)),   // overlaps [15,30] → keep
      (1L, Some(40L)), (1L, Some(55L)),   // min > 30 → skip
      (2L, None), (2L, None),             // all-null → skip
      (3L, Some(1L)), (3L, Some(5L))      // max < 15 → skip
    ).toDF("b", "v")
    val zm = Layout.zoneMap(df, col("b"), Seq("v"))
    val dec = zm.select(col("bucket"),
        Layout.pruneDecision("v", lit(15L), lit(30L)).as("skip"))
      .as[(Long, Boolean)].collect().toMap
    assert(dec === Map(0L -> false, 1L -> true, 2L -> true, 3L -> true))
    // soundness: every skipped bucket has zero rows matching the range
    val matches = df.where(col("v").between(15L, 30L))
      .groupBy("b").count().as[(Long, Long)].collect().toMap
    dec.filter(_._2).keys.foreach(b => assert(!matches.contains(b), s"bucket $b"))
  }

  test("tableProfile: nulls, exact distincts, min/max per column in one pass") {
    val df = Seq(
      (Some(1L), Some("x")), (Some(1L), None),
      (Some(2L), Some("y")), (None, Some("y"))
    ).toDF("k", "s")
    val got = Profiling.tableProfile(df, Seq("k", "s"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") === (("k", 4L, 1L, 2L, Some("1"), Some("2"))))
    assert(got("s") === (("s", 4L, 1L, 2L, Some("x"), Some("y"))))
  }

  test("bloom index: no false negatives, mergeable, skips the absent") {
    import graft.functions.Layout
    val df = Seq((0L, "a"), (1L, "b"), (256L, "c"), (257L, "d"))
      .toDF("okey", "k")
    val idx = Layout.bloomIndex(df, expr("okey div 256"), "k")
    val keys = Seq("a", "c", "zz").toDF("k")
    val dec = Layout.bloomPrune(idx, keys, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2))
      .toMap
    // present keys are NEVER skipped in their own bucket
    assert(dec(("a", 0L)) === false)
    assert(dec(("c", 1L)) === false)
    // a key in no bucket is skippable everywhere (2 hashes, 1024 bits,
    // 4 keys total -- a double collision would be a broken hash)
    assert(dec(("zz", 0L)) === true && dec(("zz", 1L)) === true)
    // filtering the index first bounds BOTH the broadcast bucket list and
    // the emitted decision matrix (the 100 TB contract): only bucket 1 is
    // probed
    val bounded = Layout.bloomPrune(idx.where(col("bucket") === 1L), keys, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2))
      .toMap
    assert(bounded.keySet.forall(_._2 === 1L))
    assert(bounded(("c", 1L)) === false && bounded(("zz", 1L)) === true)
    // shard merge: bit_or of per-shard filters == whole-table filter
    val merged = Layout.bloomIndex(df.where(col("okey") % 2 === 0),
        expr("okey div 256"), "k")
      .unionByName(Layout.bloomIndex(df.where(col("okey") % 2 === 1),
        expr("okey div 256"), "k"))
      .groupBy("bucket", "word").agg(expr("bit_or(bits)").as("bits"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = idx.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged === full)
  }

  test("mergeZoneMaps: shard merge ≡ from-scratch, all-null shard handled") {
    import graft.functions.Layout
    val df = Seq(
      (0L, Some(5L), 0), (1L, None, 0), (256L, Some(9L), 0),
      (2L, Some(1L), 1), (257L, None, 1), (258L, Some(2L), 1)
    ).toDF("okey", "v", "shard")
    def zm(d: org.apache.spark.sql.DataFrame) =
      Layout.zoneMap(d, expr("okey div 256"), Seq("v"))
    def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toMap
    val full = snap(zm(df))
    val merged = snap(Layout.mergeZoneMaps(
      zm(df.where(col("shard") === 0))
        .unionByName(zm(df.where(col("shard") === 1))), Seq("v")))
    assert(merged === full)
    // bucket 0 shard 1 contributes a real min (1); bucket 1 shard 1 is
    // all-null for v — its NULL min must not poison the merged min
    assert(full(0L)._2 === Some(1L))
    assert(full(1L)._2 === Some(2L) && full(1L)._1 === 3L &&
      full(1L)._4 === 1L)
  }

  test("bloom index persistence: append-load ≡ compact-load ≡ from-scratch") {
    import graft.functions.{IndexMaintenance, Layout}
    val df = Seq((0L, "a"), (1L, "b"), (256L, "c"), (257L, "d"),
      (512L, "a"), (513L, "e")).toDF("okey", "k")
    val path = graft.tools.Scratch.dir("graft_bloom_spec") + "/idx"
    Layout.appendBloomIndex(Layout.bloomIndex(
      df.where(col("okey") % 2 === 0), expr("okey div 256"), "k"), path)
    Layout.appendBloomIndex(Layout.bloomIndex(
      df.where(col("okey") % 2 === 1), expr("okey div 256"), "k"), path)
    def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = snap(Layout.bloomIndex(df, expr("okey div 256"), "k"))
    val appended = snap(Layout.loadBloomIndex(spark, path))
    assert(appended === full)
    // compaction folds shard rows by bit_or and shrinks the file count;
    // the loaded index (and so every prune decision) is unchanged
    val (before, after) = IndexMaintenance.compactBloomIndex(spark, path)
    assert(before > after && after === 1L)
    assert(snap(Layout.loadBloomIndex(spark, path)) === full)
    assert(snap(spark.read.parquet(path)
      .groupBy("bucket", "word")
      .agg(expr("bit_or(bits)").as("bits"))) === full)
    // post-compaction the raw rows are already merged (one per key)
    assert(spark.read.parquet(path).count() ===
      spark.read.parquet(path).select("bucket", "word").distinct().count())
  }
}
