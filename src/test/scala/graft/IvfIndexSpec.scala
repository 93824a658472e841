package graft

import graft.functions.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("native nearest-centroid is bit-equal to the HOF form") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val sample = graft.functions.LocalKMeans.sampleVectors(
      emb, "embedding", cap = 1024, seed = 7L)
    val centers = graft.functions.LocalKMeans.fit(sample, 16, iters = 5, seed = 7L)
    val native = emb.select(col("vec_id"),
        graft.plans.PqExpressions.nearestCentroid(col("embedding"), centers).as("l"))
      .as[(Long, Int)].collect().toMap
    val hof = emb.select(col("vec_id"),
        ReferenceForms.nearestCentroidHof(col("embedding"), centers).as("l"))
      .as[(Long, Int)].collect().toMap
    assert(native === hof)
  }

  test("IVF search beats its scan fraction on recall and is exact at full probe") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val index = IvfIndex.build(emb, "embedding", nLists = 8)
    assert(index.centroids.length === 8)

    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // full probe (all lists) must reproduce the exact result
    val full = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 10, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === exact)

    // probing half the lists: uniform-random embeddings are the LSH/IVF
    // adversarial case, but recall should comfortably beat the ~4/8 scan
    // fraction baseline
    val half = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 10, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect half).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("filtered search: always-true pred equals search; filter is exact at full probe") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val index = IvfIndex.build(emb, "embedding", nLists = 8)

    // degenerate predicate ⇒ bit-identical to the unfiltered probe
    val unfiltered = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 10, nProbe = 4)
      .select("query_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val noop = IvfIndex.searchFiltered(index, queries, "vec_id", "embedding",
        "label", (_, _) => lit(true), k = 10, nProbe = 4)
      .select("query_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(noop === unfiltered)

    // label-inequality predicate at FULL probe ⇒ exactly the brute-force
    // top-k over the label-excluded corpus
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val got = IvfIndex.searchFiltered(index, queries, "vec_id", "embedding",
        "label", (c, q) => c =!= q, k = 10, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // every emission honors the predicate
    got.foreach { case (q, n) => assert(labels(q) !== labels(n)) }
    val gotSet = got.toSet
    val want = queries.select(col("vec_id").as("query_id"), col("label").as("ql"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("label").as("nl")))
      .where(col("neighbor_id") =!= col("query_id") && col("ql") =!= col("nl"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .where(col("rank") <= 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(gotSet === want)
  }

  // The residual bound is an upper bound on every member cosine, so a
  // pruned wave-2 list can never hold a true top-k member: the two-wave
  // refined search must equal the full nProbe2 search (modulo exact
  // double ties, absent in the random fixture).
  test("two-wave refined search equals the full-probe search it prunes") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val index = IvfIndex.build(emb, "embedding", nLists = 8)

    val full = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 10, nProbe = 8)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().toSet
    val refined = IvfIndex.searchRefined(index, queries, "vec_id", "embedding",
        k = 10, nProbe1 = 2, nProbe2 = 8)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(refined === full)

    // degenerate two-wave (nProbe1 = nProbe2) reduces to plain search
    val plain = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 10, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val same = IvfIndex.searchRefined(index, queries, "vec_id", "embedding",
        k = 10, nProbe1 = 3, nProbe2 = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(same === plain)
  }

  // A query whose wave-1 probes yield ZERO candidates (its nearest list
  // holds only itself, excluded) has no per-query kth row; the wave-2
  // pruning join must be a LEFT join so such a query still probes every
  // wave-2 list rather than silently returning nothing.
  test("refined search with zero wave-1 candidates still probes wave 2") {
    val corpus = Seq(
      (0L, Seq(10f, 0f), 0),
      (1L, Seq(0f, 1f), 1), (2L, Seq(0.1f, 1f), 1), (3L, Seq(0.2f, 1f), 1),
      (4L, Seq(0.3f, 1f), 1), (5L, Seq(0.4f, 1f), 1))
      .toDF("vec_id", "embedding", "list_id")
    val centroids = Array(0 -> Array(10.0, 0.0), 1 -> Array(0.0, 1.0))
    val index = IvfIndex.Index(centroids, corpus)
    val queries = corpus.where(col("vec_id") === 0L)
      .select("vec_id", "embedding")
    // wave 1 = list 0 = {query itself} → zero candidates once self is excluded
    val got = IvfIndex.searchRefined(index, queries, "vec_id", "embedding",
        k = 3, nProbe1 = 1, nProbe2 = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.length === 3)
    assert(got.forall { case (q, n) => q == 0L && n >= 1L })
  }

  test("IVF index persists: save/load round-trip, list-partitioned layout") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 4)
    val index = IvfIndex.build(emb, "embedding", nLists = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.save(index, dir)

    // layout: one partition directory per inverted list
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("list_id=")).map(_.getName).sorted
    assert(listDirs.length === 6, listDirs.mkString(","))

    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(index.centroids).forall {
      case ((_, a), (_, b)) => a.toSeq == b.toSeq })

    // per-list residual metadata persists beside the centroids and equals
    // the build-time values
    assert(loaded.listStats.isDefined)
    val fresh0 = index.listStats.get
      .as[(Int, Double, Double)].collect().toSet
    val persisted = loaded.listStats.get
      .as[(Int, Double, Double)].collect().toSet
    assert(persisted === fresh0)
    assert(persisted.size === 6)

    // refined search over the loaded index (persisted stats) equals the
    // refined search over the in-memory one
    val rFresh = IvfIndex.searchRefined(index, queries, "vec_id", "embedding",
        k = 5, nProbe1 = 2, nProbe2 = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rLoaded = IvfIndex.searchRefined(loaded, queries, "vec_id", "embedding",
        k = 5, nProbe1 = 2, nProbe2 = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rLoaded === rFresh)

    val fresh = IvfIndex.search(index, queries, "vec_id", "embedding",
        k = 5, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val reloaded = IvfIndex.search(loaded, queries, "vec_id", "embedding",
        k = 5, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(reloaded === fresh)

    // probe pruning reaches the file source: the scan over the loaded
    // lists carries a list_id partition filter
    val probedPlan = IvfIndex.search(loaded, queries, "vec_id", "embedding",
      k = 5, nProbe = 2).queryExecution.executedPlan.toString
    assert(probedPlan.contains("PartitionFilters") ||
      probedPlan.contains("dynamicpruning") || probedPlan.contains("list_id"),
      s"expected list_id pruning evidence:\n$probedPlan")
  }

  test("native nearestLists is bit-equal to the HOF sort form at any nProbe") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val sample = graft.functions.LocalKMeans.sampleVectors(
      emb, "embedding", cap = 1024, seed = 7L)
    val centers = graft.functions.LocalKMeans.fit(sample, 16, iters = 5, seed = 7L)
    for (np <- Seq(1, 2, 5, 16)) {
      val native = emb.select(col("vec_id"),
          graft.plans.PqExpressions.nearestLists(col("embedding"), centers, np).as("l"))
        .as[(Long, Seq[Int])].collect().toMap
      val hof = emb.select(col("vec_id"),
          ReferenceForms.nearestListsHof(col("embedding"), centers, np).as("l"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(native === hof, s"nProbe=$np")
    }
    // head of the probe list IS the single-assignment kernel
    val head1 = emb.select(col("vec_id"),
        element_at(graft.plans.PqExpressions.nearestLists(
          col("embedding"), centers, 1), 1).as("l"))
      .as[(Long, Int)].collect().toMap
    val single = emb.select(col("vec_id"),
        graft.plans.PqExpressions.nearestCentroid(col("embedding"), centers).as("l"))
      .as[(Long, Int)].collect().toMap
    assert(head1 === single)
  }

  test("knnGraph: full probe equals brute force; probe 1 is the assigned list") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val index = IvfIndex.build(emb, "embedding", nLists = 8)

    // probing every list must reproduce the exact self-KNN graph
    val full = IvfIndex.knnGraph(index, "vec_id", "embedding", k = 5,
        nProbe = 8)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full === exact)

    // the HOF probe ranking's first list must BE the assignment column
    // (same (dist, list_id) tie rule as nearestCentroid / probeRange)
    val g1 = IvfIndex.knnGraph(index, "vec_id", "embedding", k = 5,
      nProbe = 1)
    val assignedOf = index.assigned.select(col("vec_id"), col("list_id"))
      .as[(Long, Int)].collect().toMap
    val neighborLists = g1.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    // with nProbe=1, every reported neighbor shares the query's list
    neighborLists.foreach { case (q, n) =>
      assert(assignedOf(n) === assignedOf(q),
        s"nProbe=1 neighbor $n of $q crossed lists")
    }

    // partial probe: sims are exact, no self edges, ranks contiguous,
    // recall beats the 2/8 scan fraction
    val g2 = IvfIndex.knnGraph(index, "vec_id", "embedding", k = 5,
      nProbe = 2)
    val rows = g2.select("query_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq === (1 to rs.length).toSeq)
    }
    val exactSims = Similarity.bruteForceTopK(emb, emb, "vec_id",
        "embedding", k = 500)
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (q, n, s, _) =>
      assert(math.abs(exactSims((q, n)) - s) < 1e-12,
        s"sim of ($q,$n) not exact")
    }
    val recall = (exact.map(r => (r._1, r._2)) intersect
      rows.map(r => (r._1, r._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.25, s"knn-graph recall $recall")
  }
}
