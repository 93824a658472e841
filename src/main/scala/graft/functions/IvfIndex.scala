package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** IVF (inverted-file) approximate nearest neighbor: the coarse-quantizer
  * scale path for similarity search, complementing the sign-projection LSH
  * in [[Similarity]].
  *
  *  - **build**: seeded k-means ([[LocalKMeans]], driver-local over a
  *    capped sample) learns `nLists` centroids; every corpus vector is
  *    assigned to its nearest centroid.
  *    At 100 TB the assignment is one broadcast (centroids are tiny) +
  *    one projection, and the corpus is written partitioned/bucketed by
  *    `list_id` so a probe reads only its lists' files.
  *  - **search**: each query probes its `nProbe` nearest centroids and
  *    exact-scores only those lists: scan fraction ≈ nProbe/nLists, with
  *    recall controlled by nProbe (unlike LSH, clustered data HELPS).
  */
object IvfIndex {

  /** `listStats` = per-list residual-bound metadata (`list_id`, `r_max` =
    * max member residual norm, `n_min` = min member norm): two scalars per
    * list, computed once at build time, powering [[searchRefined]]'s
    * wave-2 pruning without a per-search corpus pass.
    */
  final case class Index(centroids: Array[(Int, Array[Double])],
                         assigned: DataFrame,
                         listStats: Option[DataFrame] = None)

  /** The residual-bound aggregate: one narrow pass over the assigned
    * corpus (vector + list_id in, two scalars per list out).
    */
  private def computeListStats(centroids: Array[(Int, Array[Double])],
                               assigned: DataFrame, vecCol: String): DataFrame = {
    val centroidRows = centroids.map { case (i, c) =>
      struct(lit(i).as("list_id"), array(ArraySeq.unsafeWrapArray(c.map(lit(_))): _*).as("centroid"))
    }
    assigned
      .withColumn("__c", element_at(
        map_from_entries(array(ArraySeq.unsafeWrapArray(centroidRows.map(s =>
          struct(s.getField("list_id"), s.getField("centroid")))): _*)),
        col("list_id")))
      .select(col("list_id"),
        sqrt(sqDist(col(vecCol), col("__c"))).as("__resid"),
        Similarity.norm(col(vecCol)).as("__nrm"))
      .groupBy("list_id")
      .agg(max(col("__resid")).as("r_max"), min(col("__nrm")).as("n_min"))
  }

  /** Learn centroids and assign the corpus. `assigned` = corpus columns +
    * `list_id`; the per-list residual stats are computed here (build-time
    * metadata, like the centroids themselves).
    *
    * The coarse quantizer trains DRIVER-LOCALLY on a capped content-hash
    * sample ([[LocalKMeans]] — the FAISS training shape); only the
    * ASSIGNMENT touches the full corpus, and it is one codegen'd
    * nearest-centroid projection, no MLlib job per Lloyd round.
    */
  def build(corpus: DataFrame, vecCol: String,
            nLists: Int, seed: Long = 42L): Index =
    buildReturningSample(corpus, vecCol, nLists, seed)._1

  /** [[build]] + the collected fit sample, so composed builds (IVF-PQ)
    * can derive their own quantizer fits from the SAME single collect
    * instead of re-scanning the corpus per quantizer.
    */
  private[functions] def buildReturningSample(
      corpus: DataFrame, vecCol: String,
      nLists: Int, seed: Long = 42L): (Index, Array[Array[Double]]) = {
    val sample = LocalKMeans.sampleVectors(corpus, vecCol,
      cap = fitSampleCap, seed = seed)
    val centers = LocalKMeans.fit(sample, nLists, iters = 12, seed = seed)
    val centroids = centers.zipWithIndex.map { case (c, i) => (i, c) }
    val assigned = corpus.withColumn("list_id",
      nearestCentroid(col(vecCol), centers))
    (Index(centroids, assigned,
      Some(computeListStats(centroids, assigned, vecCol))), sample)
  }

  /** Quantizer fit-sample cap (vectors collected to the driver). */
  private[functions] val fitSampleCap = 16384

  /** Nearest-centroid id as a codegen'd projection (first index on exact
    * ties — deterministic). Native fused loop
    * ([[graft.plans.PqExpressions.nearestCentroid]]); the specs pin it
    * bit-equal to the HOF form (`ReferenceForms.nearestCentroidHof`).
    */
  private[functions] def nearestCentroid(v: Column, centers: Array[Array[Double]]): Column =
    graft.plans.PqExpressions.nearestCentroid(v, centers)

  /** Squared euclidean distance between a float-array column and a
    * double-array column.
    */
  def sqDist(vecCol: Column, centroidCol: Column): Column =
    aggregate(zip_with(vecCol, centroidCol, (x, y) => {
      val d = x.cast("double") - y
      d * d
    }), lit(0.0), (s, x) => s + x)

  /** Persist the index: centroids as one small parquet, the assigned
    * corpus PARTITIONED BY list_id — so a later probe of `nProbe` lists
    * reads only those lists' files (partition pruning does the IVF "read
    * only the inverted lists" trick at the storage layer).
    */
  def save(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
      // nLists rows — the coalesce(1) writes one tiny footer, not a
      // parallelism concern
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // repartition ON the partition key first: otherwise every task
    // writes a sliver of every list — nLists × shuffle-partitions small
    // files (see Similarity.saveSemanticIndex). One exchange, one file
    // per list.
    index.assigned.repartition(org.apache.spark.sql.functions.col("list_id"))
      .write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/lists")
    // per-list residual metadata rides beside the centroids (nLists rows)
    index.listStats.foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$path/list_stats"))
  }

  /** Reload a saved index. Searches over a loaded index prune to the
    * probed list partitions at the parquet scan; list stats load lazily
    * when present (older layouts without them still work —
    * [[searchRefined]] recomputes on demand).
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/list_stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = if (fs.exists(statsPath))
      Some(spark.read.parquet(s"$path/list_stats")) else None
    Index(centroids, spark.read.parquet(s"$path/lists"), stats)
  }

  /** Per-query (query, qv, list_id, centroid rank) for centroid ranks in
    * `(loRank, hiRank]` — the probe set. Tiny: |queries| × nLists before
    * the rank filter, all driver-free.
    */
  private[graft] def probeRange(index: Index, queries: DataFrame, idCol: String,
                         vecCol: String, loRank: Int, hiRank: Int): DataFrame = {
    val centroidRows = index.centroids.map { case (i, c) =>
      struct(lit(i).as("list_id"), array(ArraySeq.unsafeWrapArray(c.map(lit(_))): _*).as("centroid"))
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__c", explode(array(ArraySeq.unsafeWrapArray(centroidRows): _*)))
      .select(col("query_id"), col("qv"), col("__c.list_id").as("list_id"),
        sqDist(col("qv"), col("__c.centroid")).as("dist"),
        aggregate(zip_with(col("qv"), col("__c.centroid"),
          (x, y) => x.cast("double") * y), lit(0.0), (s, x) => s + x)
          .as("qdotc"))
    val probeW = Window.partitionBy("query_id").orderBy(col("dist"), col("list_id"))
    q.withColumn("pr", row_number().over(probeW))
      .where(col("pr") > loRank && col("pr") <= hiRank)
      .select("query_id", "qv", "list_id", "qdotc")
  }

  /** The distinct probed lists as a STATIC filter set — bounded by
    * nLists values by construction, so the collect is per-index
    * metadata-sized no matter how many queries probe. Joins alone do
    * NOT prune a `partitionBy(list_id)` layout (Spark's dynamic
    * partition pruning degenerates to `true` under these broadcast
    * joins — measured in PlanAuditSpec); pushing the set as an `isin`
    * filter turns the probe into a real partition-pruned scan: nProbe
    * lists read, the rest never opened. That IS the IVF contract at
    * 100 TB — without it a loaded-index search scans every code file.
    */
  private[functions] def listSet(probed: DataFrame): Array[Int] =
    probed.select("list_id").distinct().collect().map(_.getInt(0))

  /** Exact-cosine scores of the corpus members of the probed lists.
    * `allowedLists` must be a superset of `probed`'s lists (the join
    * still decides membership; the static filter only prunes the scan).
    */
  private def scoreLists(index: Index, probed: DataFrame, idCol: String,
                         vecCol: String,
                         allowedLists: Array[Int]): DataFrame = {
    val c = index.assigned.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col("list_id"))
      .where(col("list_id").isin(ArraySeq.unsafeWrapArray(allowedLists.map(Int.box)): _*))
    c.join(broadcast(probed.select("query_id", "qv", "list_id")), "list_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
  }

  /** Exact top-k within the probed lists. Queries are broadcast; the
    * corpus side is filtered to probed lists *before* scoring.
    */
  def search(index: Index, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nProbe: Int): DataFrame = {
    val probed = probeRange(index, queries, idCol, vecCol, 0, nProbe)
    val candidates = scoreLists(index, probed, idCol, vecCol,
      listSet(probed))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** ATTRIBUTE-FILTERED probe — the vector-DB "filtered search" shape
    * (and, with a not-equal predicate on a label column, hard-negative
    * mining for contrastive training): exact top-k within the probed
    * lists among ONLY the corpus rows whose `attrCol` satisfies
    * `pred(corpusAttr, queryAttr)`.
    *
    * The predicate applies BEFORE the cosine is computed, so filtered-out
    * members never cost a dot product; the probe itself is unchanged (the
    * filter prunes candidates, not lists — post-filtering over a slightly
    * deeper probe is the standard recall remedy, and `nProbe` is that
    * knob here). Emitted sims are exact cosines — the ANN pair-value
    * oracle applies, with the predicate re-checked in the oracle's join.
    *
    * 100 TB shape: identical to [[search]] (static list pruning + one
    * broadcast of the tiny probe set); the only addition is one attr
    * column riding the corpus scan.
    */
  def searchFiltered(index: Index, queries: DataFrame, idCol: String,
                     vecCol: String, attrCol: String,
                     pred: (Column, Column) => Column,
                     k: Int, nProbe: Int): DataFrame = {
    val probed = probeRange(index, queries, idCol, vecCol, 0, nProbe)
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(attrCol).as("__qattr"))), "query_id")
    val c = index.assigned.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col("list_id"), col(attrCol).as("__cattr"))
      .where(col("list_id").isin(ArraySeq.unsafeWrapArray(listSet(probed).map(Int.box)): _*))
    val cands = c
      .join(broadcast(probed.select(col("query_id"), col("qv"),
        col("list_id"), col("__qattr"))), "list_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .where(pred(col("__cattr"), col("__qattr")))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Self-KNN graph over the whole indexed corpus — every vector's
    * exact-cosine top-k among the members of its `nProbe` nearest
    * lists. The building block of graph-based curation (near-dup
    * neighborhoods, SemDeDup-style cluster pruning, kNN-classifier
    * label propagation).
    *
    * This is NOT `search` with the corpus as the query set — that shape
    * broadcasts the query side (fine for a benchmark-sized probe set,
    * corpus-sized here) and explodes queries × nLists centroid rows to
    * rank probes. Instead:
    *
    *  - each vector's `nProbe` nearest lists come from ONE fused
    *    codegen'd projection ([[graft.plans.NearestListsF]]: O(nProbe)
    *    insertion buffer over the literal centroid matrix, bit-equal to
    *    the HOF `array_sort(struct(dist, list_id))` twin in the specs) —
    *    corpus × nProbe rows out, no corpus × nLists intermediate, and
    *    the same (dist, list_id) tie rule as [[probeRange]], so probe 1
    *    IS the assigned list (spec-pinned);
    *  - probes join members with a plain shuffle join on `list_id` —
    *    both sides are corpus-sized, so nothing broadcasts; AQE splits
    *    a skewed (over-popular) list at runtime;
    *  - per-vector top-k is a bounded window: a vector's candidate set
    *    is its nProbe lists' members, ≈ nProbe/nLists of the corpus.
    *
    * Scan fraction per vector ≈ nProbe/nLists, like [[search]]; as in
    * every search here, a vector never reports itself. Output (query_id, neighbor_id, sim, rank) — emitted sims
    * are exact cosines, so the ANN pair-value oracle applies unchanged.
    */
  def knnGraph(index: Index, idCol: String, vecCol: String, k: Int,
               nProbe: Int): DataFrame = {
    val nLists = index.centroids.length
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in [1, $nLists], got $nProbe")
    val centers = index.centroids.sortBy(_._1).map(_._2)
    val probes = index.assigned
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.plans.PqExpressions.nearestLists(col("qv"),
          centers, nProbe)).as("list_id"))
    val members = index.assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col("list_id"))
    val cands = probes.join(members, Seq("list_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** TWO-WAVE probe with residual-bound pruning — the recall/cost
    * refinement of [[search]] (IVF with triangle-inequality early exit).
    *
    * Wave 1 exact-scores the `nProbe1` nearest lists (= [[search]]).
    * Wave 2 considers lists ranked `(nProbe1, nProbe2]`, but scores ONLY
    * those whose residual bound says they could beat the query's current
    * k-th similarity:
    *
    *   cos(q,x) = q·x/(‖q‖‖x‖),  q·x ≤ q·c + ‖q‖·‖x−c‖
    *   ⇒ cos(q,x) ≤ max(q·c/‖q‖ + R_l, 0) / max(m_l, ε)   for x ∈ list l
    *
    * with R_l = max residual norm and m_l = min member norm of the list
    * (one narrow per-list aggregate; at scale these two scalars are
    * computed once at BUILD time and stored beside the centroids — they
    * are per-list metadata, not per-vector). The max(·,0) keeps the bound
    * valid when the numerator goes negative (then every member cosine is
    * negative, and 0 still upper-bounds it).
    *
    * Guarantee: a pruned list contains NO vector with cosine above the
    * wave-1 k-th similarity, so the result equals `search(nProbe2)`
    * except under exact double ties — same recall, scan cost between
    * nProbe1 and nProbe2 lists, adapting per query to how decisive its
    * wave-1 neighborhood was. Queries with fewer than k wave-1 results
    * probe every wave-2 list (their k-th similarity is −∞).
    */
  def searchRefined(index: Index, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nProbe1: Int, nProbe2: Int): DataFrame = {
    require(nProbe2 >= nProbe1, s"nProbe2 ($nProbe2) must be >= nProbe1 ($nProbe1)")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))

    val probed1 = probeRange(index, queries, idCol, vecCol, 0, nProbe1)
    val wave1 = scoreLists(index, probed1, idCol, vecCol,
        listSet(probed1))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)

    // per-query pruning threshold: the k-th wave-1 similarity (−∞ until
    // the query actually has k neighbors)
    val kth = wave1.groupBy("query_id")
      .agg(min(col("sim")).as("kth_sim"), count(lit(1)).as("__n"))
      .select(col("query_id"),
        when(col("__n") >= k, col("kth_sim")).otherwise(lit(-1e18)).as("kth_sim"))

    // per-list residual bound inputs: build-time metadata ([[build]]
    // computes and [[save]] persists them); recomputed only for indexes
    // from layouts predating list_stats
    val listStats = index.listStats.getOrElse(
      computeListStats(index.centroids, index.assigned, vecCol))

    val probed2 = probeRange(index, queries, idCol, vecCol, nProbe1, nProbe2)
      .join(broadcast(listStats), "list_id")
      // LEFT join: a query with ZERO wave-1 candidates (all nProbe1 lists
      // empty or self-excluded) has no kth row at all — it must still
      // probe every wave-2 list, not lose its probe rows to an inner join
      .join(broadcast(kth), Seq("query_id"), "left")
      .withColumn("kth_sim", coalesce(col("kth_sim"), lit(-1e18)))
      .withColumn("__ub",
        greatest(col("qdotc") / greatest(Similarity.norm(col("qv")), lit(1e-12))
          + col("r_max"), lit(0.0)) / greatest(col("n_min"), lit(1e-9)))
      .where(col("__ub") > col("kth_sim"))
    // static prune by the rank-window SUPERSET (no dependence on the
    // wave-1 threshold, so computing the set does not re-execute wave 1);
    // the per-query residual bound still decides membership in the join
    val wave2Superset = probeRange(index, queries, idCol, vecCol,
      nProbe1, nProbe2)
    val wave2 = scoreLists(index, probed2, idCol, vecCol,
      listSet(wave2Superset))

    wave1.select("query_id", "neighbor_id", "sim").unionByName(wave2)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
