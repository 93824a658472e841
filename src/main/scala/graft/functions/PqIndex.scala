package graft.functions



import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Product quantization (PQ) for approximate nearest neighbor — the
  * memory-compression scale path that completes the ANN family
  * (brute-force → sign-LSH → IVF → PQ): each vector is split into `m`
  * subspaces, each subvector replaced by the id of its nearest
  * sub-centroid, so a d-dim float vector stores as `m` small codes
  * (64 floats → 8 codes here, a 32× memory cut). Search scores
  * candidates with ADC (asymmetric distance computation): the query
  * precomputes a tiny `m × ksub` table of exact subspace dot products
  * and every corpus code is scored with `m` table lookups — no float
  * vectors touched until the final exact re-score of a small shortlist.
  *
  * Scale shape: codebooks are `m · ksub · dsub` doubles (KBs) learned on
  * a sample and broadcast as literals inside codegen'd expressions;
  * encoding is a projection; the ADC scan reads only (id, codes) — at
  * 100 TB that is the difference between scanning 100 TB of floats and
  * ~3 TB of codes. The shortlist re-score joins back to the full
  * vectors for exact cosine, so emitted similarities are exact (the
  * pair-value oracle contract); PQ approximation affects recall only.
  */
object PqIndex {

  /** `codebooks(i)(c)` = centroid `c` of subspace `i` (dsub doubles).
    * `codes` = one row per corpus vector: id + `codes` array<int>.
    */
  final case class Index(m: Int, dsub: Int,
                         codebooks: Array[Array[Array[Double]]],
                         codes: DataFrame)

  /** Dot product of subspace `i` of `v` with a literal sub-centroid. */
  private def subDot(v: Column, i: Int, dsub: Int,
                     cent: Array[Double]): Column =
    aggregate(zip_with(slice(v, i * dsub + 1, dsub),
      array(ArraySeq.unsafeWrapArray(cent.map(lit(_))): _*),
      (x, y) => x.cast("double") * y),
      lit(0.0), (s, x) => s + x)

  /** PQ codes of a vector column: per subspace, the index of the nearest
    * sub-centroid (first index on exact ties — deterministic). Native
    * one-loop codegen ([[graft.plans.PqExpressions.pqEncode]]); the specs
    * pin it bit-equal to the HOF form (`ReferenceForms.encodeExprHof`).
    */
  def encodeExpr(v: Column, codebooks: Array[Array[Array[Double]]],
                 dsub: Int): Column =
    graft.plans.PqExpressions.pqEncode(v, codebooks, dsub)

  /** The query-side ADC table: `m × ksub` exact subspace dot products. */
  private def adcTable(qv: Column, codebooks: Array[Array[Array[Double]]],
                       dsub: Int): Column =
    array(ArraySeq.unsafeWrapArray(codebooks.zipWithIndex.map { case (cb, i) =>
      array(ArraySeq.unsafeWrapArray(cb.map(c => subDot(qv, i, dsub, c))): _*)
    }): _*)

  /** Learn per-subspace codebooks (seeded local k-means over a capped
    * content-hash sample) and encode the corpus once.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, ksub: Int = 16, seed: Long = 42L): Index = {
    val (dsub, codebooks) = fitCodebooks(corpus, vecCol, m, ksub, seed)
    val codes = corpus.select(col(idCol),
      encodeExpr(col(vecCol), codebooks, dsub).as("codes"))
    Index(m, dsub, codebooks, codes)
  }

  /** Codebook fit alone (no corpus encode) — shared by [[build]] and the
    * PQ-pruned semantic-dedup verify
    * ([[Similarity.semanticDupPairsPq]]). Returns (dsub, codebooks).
    * The corpus must be non-empty (callers guard).
    */
  def fitCodebooks(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
                   seed: Long): (Int, Array[Array[Array[Double]]]) = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val dsub = dim / m
    (dsub, fitSubspaceCodebooks(
      LocalKMeans.sampleVectors(
        corpus.select(col(vecCol).cast("array<double>").as("__fv")),
        "__fv", cap = IvfIndex.fitSampleCap, seed = seed),
      m, dsub, ksub, seed))
  }

  /** All `m` subspace codebooks off ONE collected fit sample
    * ([[LocalKMeans]]): the corpus is scanned once for the capped
    * content-hash sample, sliced into subvectors locally, and the m
    * seeded fits run as plain driver loops — the previous per-fit MLlib
    * path scheduled (m × Lloyd rounds) near-empty Spark jobs whose
    * arithmetic at fit size is sub-millisecond.
    */
  private def fitSubspaceCodebooks(sample: Array[Array[Double]], m: Int,
                                   dsub: Int, ksub: Int,
                                   seed: Long): Array[Array[Array[Double]]] =
    (0 until m).map { i =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub))
      LocalKMeans.fit(sub, ksub, iters = 12, seed = seed + i)
    }.toArray

  /** Persist the index: codebooks as one tiny parquet (m·ksub rows),
    * codes as a normal table — at scale the codes table is the only
    * data-sized artifact and it is 30×+ smaller than the vectors.
    */
  def save(index: Index, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val rows = for {
      (cb, i) <- index.codebooks.zipWithIndex.toSeq
      (c, j) <- cb.zipWithIndex
    } yield (i, j, c.toSeq)
    rows.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload a saved index (codebook shape is recovered from the rows). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val cb = spark.read.parquet(s"$path/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    val m = cb.length
    Index(m, cb.head.head.length, cb, spark.read.parquet(s"$path/codes"))
  }

  /** IVF-PQ composition (the FAISS IVFADC shape): coarse IVF lists for
    * pruning + PQ codes of the RESIDUAL (v − centroid) for in-list
    * scoring. `q·x ≈ q·c_list + Σᵢ qtab[i][codeᵢ]` — the first term comes
    * free from the probe step, the table is list-independent because the
    * residual codebooks are shared across lists (standard IVFADC).
    *
    * At 100 TB: probes prune to nProbe/nLists of the data AND the pruned
    * scan reads codes, not vectors — the two scale levers compose.
    * Residuals concentrate near zero, so shared codebooks quantize them
    * better than raw vectors (the reason IVFPQ encodes residuals).
    */
  final case class IvfPq(ivf: IvfIndex.Index, m: Int, dsub: Int,
                         codebooks: Array[Array[Array[Double]]],
                         codes: DataFrame)

  /** Build: IVF assignment first, then shared residual codebooks + codes.
    * `codes` = (id, list_id, codes) — the only data-sized artifact.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 nLists: Int = 16, m: Int = 8, ksub: Int = 16,
                 seed: Long = 42L): IvfPq = {
    val (ivf, sample) =
      IvfIndex.buildReturningSample(corpus, vecCol, nLists, seed)
    val resid = ivf.assigned.select(col(idCol), col("list_id"),
      residualExpr(ivf.centroids, col(vecCol)).as("__r"))
    val dim = ivf.centroids.head._2.length
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val dsub = dim / m
    // PQ trains on residuals of the SAME fit sample the coarse quantizer
    // collected — residual is a pure per-vector function of the centroids,
    // so it is computed here in a driver loop (same first-index-on-ties
    // rule as the distributed nearestCentroid projection) instead of
    // re-scanning the corpus through the residual projection just to
    // re-sample 16k vectors
    val centers = ivf.centroids.map(_._2)
    val residSample = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue; var i = 0
      while (i < centers.length) {
        var d = 0.0; var j = 0
        while (j < v.length) { val x = v(j) - centers(i)(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      val c = centers(best); val r = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { r(j) = v(j) - c(j); j += 1 }
      r
    }
    val codebooks = fitSubspaceCodebooks(residSample, m, dsub, ksub, seed + 31)
    val codes = resid.select(col(idCol), col("list_id"),
      encodeExpr(col("__r"), codebooks, dsub).as("codes"))
    IvfPq(ivf, m, dsub, codebooks, codes)
  }

  /** Residual (v − centroid_of_list) against literal centroids. */
  private def residualExpr(centroids: Array[(Int, Array[Double])],
                           v: Column): Column = {
    val centroidMap = element_at(
      map_from_entries(array(ArraySeq.unsafeWrapArray(centroids.map { case (i, c) =>
        struct(lit(i), array(ArraySeq.unsafeWrapArray(c.map(lit(_))): _*))
      }): _*)), col("list_id"))
    zip_with(v, centroidMap, (x, y) => x.cast("double") - y)
  }

  /** Stateless (id, list_id, codes) encoding of vectors against a FIXED
    * index — the train-once / ingest-forever projection: nearest coarse
    * centroid, residual, PQ codes, all codegen'd expressions with the
    * quantizers inlined as literals. Applies unchanged to STREAMING
    * input (no state, no shuffle — encode happens where the data
    * arrives).
    */
  def encodeIvfPq(index: IvfPq, df: DataFrame, idCol: String,
                  vecCol: String): DataFrame = {
    val centers = index.ivf.centroids.map(_._2)
    df.select(col(idCol),
        IvfIndex.nearestCentroid(col(vecCol), centers).as("list_id"),
        col(vecCol))
      .select(col(idCol), col("list_id"),
        encodeExpr(residualExpr(index.ivf.centroids, col(vecCol)),
          index.codebooks, index.dsub).as("codes"))
  }

  /** Encode-on-arrival ingest: stream vectors through [[encodeIvfPq]]
    * into the saved index's list-partitioned codes layout (append).
    * New arrivals land as new files under their `list_id=` partition, so
    * probe-pruned loads keep working as the index grows; the coarse/PQ
    * quantizers stay fixed (retrain = rebuild, the standard IVF contract).
    */
  def ingestStream(index: IvfPq, vectors: DataFrame, idCol: String,
                   vecCol: String, path: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    encodeIvfPq(index, vectors, idCol, vecCol)
      .writeStream.format("parquet").partitionBy("list_id")
      .option("checkpointLocation", checkpoint)
      .option("path", s"$path/codes")
      .outputMode("append").start()

  /** BATCH append-without-rebuild into a saved IVF-PQ layout — the
    * third index append path (semantic: `Similarity.appendSemanticIndex`,
    * substr: `Dedup.appendSubstrIndex`). Arrivals encode against the
    * TRAINED quantizers ([[encodeIvfPq]] — stateless projections) and
    * land as new files under only the `list_id=` partitions they touch
    * (repartition first: one file per touched list, not nLists ×
    * shuffle-partition slivers). Coarse centroids and codebooks are
    * never rewritten — retrain = rebuild, the standard IVF contract —
    * so probe-pruned loads keep working as the index grows.
    */
  def appendIvfPq(index: IvfPq, batch: DataFrame, idCol: String,
                  vecCol: String, path: String): Unit =
    encodeIvfPq(index, batch, idCol, vecCol)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/codes")

  /** IVF-PQ search: probe nProbe lists, ADC-score ONLY those lists'
    * codes (approx dot = q·c_list + residual table lookups), exact-cosine
    * re-score of the per-query shortlist. Emitted `sim` is exact.
    */
  def searchIvfPq(index: IvfPq, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int,
                  shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val probed = IvfIndex.probeRange(index.ivf, queries, idCol, vecCol,
        0, nProbe)
      .withColumn("qtab", adcTable(col("qv"), index.codebooks, index.dsub))
    // static partition prune to the probed lists (bounded by nLists by
    // construction — see IvfIndex.listSet): a loaded index's
    // list_id-partitioned code files outside the probe set are never
    // opened; the join alone would scan them all (DPP degenerates here)
    val approx = index.codes
      .where(col("list_id").isin(ArraySeq.unsafeWrapArray(IvfIndex.listSet(probed).map(Int.box)): _*))
      .join(broadcast(probed.select("query_id", "list_id", "qdotc", "qtab")),
        "list_id")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (col("qdotc") + graft.plans.PqExpressions.adcSum(col("codes"),
          col("qtab"))).as("approx_dot"))
    val sw = Window.partitionBy("query_id")
      .orderBy(col("approx_dot").desc, col("neighbor_id"))
    val short = approx.withColumn("__sr", row_number().over(sw))
      .where(col("__sr") <= shortlist)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Similarity.norm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Similarity.norm(col(vecCol)).as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(cv, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("sim"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persist an IVF-PQ index: coarse centroids + residual codebooks as
    * tiny parquets, codes PARTITIONED BY list_id — a probe of nProbe
    * lists reads only those lists' code files (partition pruning), and
    * each file holds codes, not vectors: the two scale levers survive
    * the round-trip.
    */
  def saveIvfPq(index: IvfPq, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.ivf.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val rows = for {
      (cb, i) <- index.codebooks.zipWithIndex.toSeq
      (c, j) <- cb.zipWithIndex
    } yield (i, j, c.toSeq)
    rows.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // one file per list, not nLists × shuffle-partitions slivers
    // (see Similarity.saveSemanticIndex)
    index.codes.repartition(org.apache.spark.sql.functions.col("list_id"))
      .write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/codes")
  }

  /** Reload a saved IVF-PQ index. The reloaded `ivf.assigned` carries
    * only (id, list_id) — searches over a loaded index re-score from the
    * caller's corpus DataFrame, which is how [[searchIvfPq]] already
    * works (the exact re-score never came from the index).
    */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPq = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cb = spark.read.parquet(s"$path/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    val codes = spark.read.parquet(s"$path/codes")
    IvfPq(IvfIndex.Index(centroids, codes.select(codes.columns.head, "list_id")),
      cb.length, cb.head.head.length, cb, codes)
  }

  /** ADC shortlist + exact re-score. The code scan never shuffles and
    * never reads the float vectors; only `shortlist` candidates per query
    * join back to the corpus for exact cosine. Emitted `sim` is exact.
    */
  def search(index: Index, corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qtab", adcTable(col("qv"), index.codebooks, index.dsub))
      .withColumn("qn", Similarity.norm(col("qv")))
    // approx dot: m table lookups per (query, code-row)
    val approx = index.codes
      .crossJoin(broadcast(q.select("query_id", "qtab")))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        graft.plans.PqExpressions.adcSum(col("codes"), col("qtab"))
          .as("approx_dot"))
    val sw = Window.partitionBy("query_id")
      .orderBy(col("approx_dot").desc, col("neighbor_id"))
    val short = approx.withColumn("__sr", row_number().over(sw))
      .where(col("__sr") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact re-score of the shortlist only
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Similarity.norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(cv, "neighbor_id")
      .join(broadcast(q.select("query_id", "qv", "qn")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("sim"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
