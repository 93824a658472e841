package graft

import graft.functions.{Sampling, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hash sample is deterministic, partitioning-independent, composable") {
    val df = spark.range(0, 10000).toDF("id")
    val s20a = Sampling.hashSample(df, "id", 0.2).select("id").as[Long].collect().toSet
    val s20b = Sampling.hashSample(df.repartition(13), "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(s20a === s20b) // survives repartitioning
    val s05 = Sampling.hashSample(df, "id", 0.05).select("id").as[Long].collect().toSet
    assert(s05.subsetOf(s20a)) // nested fractions
    assert(math.abs(s20a.size / 10000.0 - 0.2) < 0.02)
    assert(math.abs(s05.size / 10000.0 - 0.05) < 0.01)
  }

  test("portable md5 sample: deterministic, composable, correct hex cuts") {
    val df = spark.range(0, 10000).toDF("id")
    val s20a = Sampling.portableHashSample(df, "id", 0.2).select("id").as[Long].collect().toSet
    val s20b = Sampling.portableHashSample(df.repartition(7), "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(s20a === s20b)
    val s05 = Sampling.portableHashSample(df, "id", 0.05).select("id").as[Long].collect().toSet
    assert(s05.subsetOf(s20a))
    assert(math.abs(s20a.size / 10000.0 - 0.2) < 0.02)
    assert(Sampling.hexCut(0.2) === "33333333")
    assert(Sampling.hexCut(0.5) === "80000000")
    assert(Sampling.hexCut(1.0) === "ffffffff")
    // fraction 1.0 keeps everything (no 9-digit-hex comparison trap)
    assert(Sampling.portableHashSample(df, "id", 1.0).count() === 10000)
  }

  test("mix rebalancing hits target proportions, binding group kept whole") {
    // 4000 a / 1000 b / 500 c; target 50/25/25 → b binds (1000/.25=4000):
    // keep all of b, 2000 of a (f=.5), 1000 of c (f=1 → c can't reach
    // 1000 from 500... cap=min(4000/.5, 1000/.25, 500/.25)=2000 → a:1000,
    // b:500, c:500 — c is the binding group, kept whole
    val df = spark.range(0, 5500).toDF("id")
      .withColumn("grp", when(col("id") < 4000, "a")
        .when(col("id") < 5000, "b").otherwise("c"))
    val got = Sampling.rebalanceMix(df, "id", "grp",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val byGrp = got.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    // binding group exactly whole; others within hash-sampling tolerance
    assert(byGrp("c") === 500L)
    assert(math.abs(byGrp("a") - 1000L) < 120, byGrp.toString)
    assert(math.abs(byGrp("b") - 500L) < 90, byGrp.toString)
    // unlisted groups drop
    val dropped = Sampling.rebalanceMix(
      df.withColumn("grp", when(col("id") < 5000, col("grp")).otherwise("x")),
      "id", "grp", Map("a" -> 0.5, "b" -> 0.5))
    assert(dropped.where(col("grp") === "x").count() === 0L)
    // deterministic: membership is a pure function of the key
    val again = Sampling.rebalanceMix(df.repartition(13), "id", "grp",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    assert(again.select("id").as[Long].collect().sorted.toSeq ===
      got.select("id").as[Long].collect().sorted.toSeq)
  }

  // Priority sampling: top-k by w/u with the portable md5-derived u.
  // Layout-independent (content-keyed), biased toward heavy rows, and
  // the DLT threshold estimator Σ max(w, τ) recovers the total weight.
  test("priority sample: deterministic, weight-biased, estimator tracks total") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select("doc_id", "n_chars")
    val k = 100
    val s1 = Sampling.prioritySample(docs, "doc_id", "n_chars", k)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.prioritySample(docs.repartition(7), "doc_id", "n_chars", k)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === s2, "membership depends on partition layout")
    assert(s1.size === k)
    // weight bias: the sampled mean weight must exceed the corpus mean
    val meanAll = docs.agg(avg("n_chars")).as[Double].head()
    val meanSampled = docs.where(col("doc_id").isin(s1.toSeq: _*))
      .agg(avg("n_chars")).as[Double].head()
    assert(meanSampled > meanAll,
      s"sampled mean $meanSampled not above corpus mean $meanAll")
    // threshold estimator: τ = (k+1)-th priority; Σ_{top-k} max(w, τ) is
    // unbiased for Σw — assert within 25% on the fixture
    val ke = 200
    val topK1 = Sampling.prioritySample(docs, "doc_id", "n_chars", ke + 1)
      .select(col("n_chars").cast("double"), col("priority"))
      .as[(Double, Double)].collect()
    val tau = topK1.map(_._2).min
    val est = topK1.sortBy(-_._2).take(ke).map { case (w, _) => math.max(w, tau) }.sum
    val total = docs.agg(sum(col("n_chars").cast("double"))).as[Double].head()
    assert(math.abs(est - total) / total < 0.25,
      s"estimator $est vs true total $total")
    // zero-weight rows are only taken after every positive-weight row
    val tiny = Seq((1L, 0L), (2L, 0L), (3L, 5L)).toDF("doc_id", "n_chars")
    val one = Sampling.prioritySample(tiny, "doc_id", "n_chars", 1)
      .select("doc_id").as[Long].collect().toSeq
    assert(one === Seq(3L))
  }

  test("stratified priority sample is per-group top-k, layout-independent") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val k = 10
    val got = Sampling.stratifiedPrioritySample(docs, "doc_id", "n_chars",
      "lang", k)
    val perGroup = got.groupBy("lang").count().as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (l, n) =>
      assert(perGroup.getOrElse(l, 0L) === math.min(n, k.toLong), l)
    }
    // within one stratum the selection equals the unstratified sampler
    // run on that stratum alone — same priorities, same rule
    val lang = sizes.keys.min
    val direct = Sampling.prioritySample(
        docs.where(col("lang") === lang), "doc_id", "n_chars", k)
      .select("doc_id").as[Long].collect().toSet
    val strat = got.where(col("lang") === lang)
      .select("doc_id").as[Long].collect().toSet
    assert(strat === direct)
    val again = Sampling.stratifiedPrioritySample(docs.repartition(7),
        "doc_id", "n_chars", "lang", k)
      .select("doc_id").as[Long].collect().toSet
    assert(again === got.select("doc_id").as[Long].collect().toSet)
  }

  test("portable split: near-target fractions, exhaustive, layout-independent") {
    val df = spark.range(0, 10000).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.portableSplit(df, "id", splits)
    val counts = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 10000L)
    assert(math.abs(counts("train") / 10000.0 - 0.8) < 0.02)
    assert(math.abs(counts("val") / 10000.0 - 0.1) < 0.01)
    assert(math.abs(counts("test") / 10000.0 - 0.1) < 0.01)
    val again = Sampling.portableSplit(df.repartition(13), "id", splits)
      .as[(Long, String)].collect().toMap
    val first = got.as[(Long, String)].collect().toMap
    assert(again === first)
    // the train split nests the 0.8 hash sample (same md5 cut)
    val hs = Sampling.portableHashSample(df, "id", 0.8)
      .as[Long].collect().toSet
    assert(first.filter(_._2 == "train").keySet === hs)
  }

  test("leak-safe split: duplicate groups never straddle splits") {
    val df = Seq(
      (1L, "the same document text"),
      (2L, "THE  same   document TEXT"), // dup of 1 mod normalization
      (3L, "the same document text"),    // dup of 1
      (4L, "a different document"),
      (5L, "yet another one")
    ).toDF("doc_id", "text")
    val splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    val out = Sampling.leakSafeSplit(df, "text", "doc_id", splits)
      .as[(Long, Long, String)].collect()
    assert(out.length === 5)
    val byDoc = out.map(r => r._1 -> ((r._2, r._3))).toMap
    // all three copies share group 1 AND its verdict
    assert(byDoc(1L) === byDoc(2L) && byDoc(2L) === byDoc(3L))
    assert(byDoc(1L)._1 === 1L)
    // the verdict is the group key's portableSplit verdict
    val expected = Sampling.portableSplit(
        Seq(1L, 4L, 5L).toDF("group_id"), "group_id", splits)
      .as[(Long, String)].collect().toMap
    assert(byDoc(1L)._2 === expected(1L))
    assert(byDoc(4L)._2 === expected(4L))
    assert(byDoc(5L)._2 === expected(5L))
    // near-dup grouping plugs in unchanged: same straddle-freedom
    val comp = Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("doc_id", "cid")
    val byGroup = Sampling.leakSafeSplitBy(comp, "cid", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(byGroup(10L) === byGroup(11L))
  }

  test("component split: no verified near-dup pair straddles splits (fixture)") {
    val docs = graft.Tables.read(spark, SparkTestSession.Sf, "documents")
    val pairs = graft.functions.Dedup.minhashDupPairs(docs, "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    val split = graft.SparkEntry.queries("sample_split_component")(
        spark, SparkTestSession.Sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val ps = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(split(a) === split(b), s"pair ($a,$b) straddles splits")
    }
  }

  test("salted aggregation equals direct aggregation") {
    val df = Tables.read(spark, SparkTestSession.Sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("decimal(18,2)").as("qty"))
    val direct = df.groupBy("l_returnflag")
      .agg(sum(col("qty")).as("s"), count(col("qty")).as("c"),
        min(col("qty")).as("mn"), max(col("qty")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getDecimal(1), r.getLong(2),
        r.getDecimal(3), r.getDecimal(4))).toMap
    val salted = Skew.saltedAgg(df, Seq("l_returnflag"), buckets = 8,
        aggs = Seq("qty" -> "sum", "qty" -> "count", "qty" -> "min", "qty" -> "max"))
      .collect().map(r => r.getString(0) -> (r.getDecimal(1), r.getLong(2),
        r.getDecimal(3), r.getDecimal(4))).toMap
    assert(salted.keySet === direct.keySet)
    direct.foreach { case (k, (s, c, mn, mx)) =>
      val (s2, c2, mn2, mx2) = salted(k)
      assert(s2.compareTo(s) === 0 && c2 === c &&
        mn2.compareTo(mn) === 0 && mx2.compareTo(mx) === 0, k)
    }
  }

  test("importanceWeights: target-like docs up-weight, featureless get 1.0") {
    import org.apache.spark.sql.functions.col
    val target = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val pool = Seq(
      (1L, "alpha beta gamma delta"),  // every bigram in target
      (2L, "zeta eta theta iota"),     // no target bigrams
      (3L, "x")                        // no bigrams at all
    ).toDF("doc_id", "text")
    val w = graft.functions.Sampling
      .importanceWeights(pool, target, "text", "doc_id", nBuckets = 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === Set(1L, 2L, 3L))
    assert(w(1L) > w(2L),
      s"target-matching doc must outweigh non-matching: $w")
    assert(w(3L) === 1.0)
    // exact value for doc 2 (no collisions assumed at 4096 buckets):
    // 3 bigrams, each c_f=1, t_f=0; s_f=1 unless it collides with doc 1
    // — just pin the structural bound instead: weight < 1 (denominator
    // counts pool evidence, numerator only the +1 smoothing)
    assert(w(2L) < 1.0)
  }

  test("importanceWeights are bit-identical across partitionings") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 120L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13} tok${i % 5}"))
      .toDF("doc_id", "text")
    def run(parts: Int) = graft.functions.Sampling.importanceWeights(
        docs.where(col("doc_id") % 9 =!= 0).repartition(parts),
        docs.where(col("doc_id") % 9 === 0),
        "text", "doc_id", nBuckets = 64)
      .collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      .sortBy(_._1).toSeq
    assert(run(1) === run(13))
  }
}
