package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - **brute-force top-k**: broadcast the (small) query set, compute exact
  *    cosine against every corpus row, keep top-k per query with a
  *    per-query window. Exact; cost = |corpus| × |queries| dot products,
  *    fully parallel, zero shuffle until the final (tiny) top-k.
  *  - **LSH-bucketed ANN**: sign-random-projection signatures
  *    (Charikar, STOC'02) bucket the corpus; a query only scans its bucket
  *    (plus multi-probe neighbors). This is the 100 TB path: the corpus is
  *    hash-partitioned by bucket once, and each query touches
  *    |corpus| / 2^bits rows instead of all of them.
  *
  * All dot products fold left-to-right in double precision
  * (`aggregate(zip_with(...)))`), which keeps results deterministic and
  * oracle-comparable.
  */
object Similarity {

  /** Dot product of two numeric-array columns, computed in double.
    * Native tight-loop expression ([[graft.plans.DotF]]) with the same
    * left-to-right IEEE fold as the builtin-HOF form
    * `aggregate(zip_with(a, b, (x,y) => xd*yd), 0.0, _+_)` — identical
    * values (SimilaritySpec), ~10× cheaper per pair.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.SignatureExpressions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe for zero vectors (returns 0). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Embedding hygiene — the ingest step every similarity/ANN stage
    * assumes has already happened: L2-normalize each vector (so cosine
    * becomes a dot product and quantizers see unit scale) and flag
    * degenerate zero vectors instead of dividing by them (a zero
    * embedding passes through as zeros with `is_zero = true` — the
    * caller decides whether to drop or repair). Pure projection: norm
    * is computed once per row and reused across the components, no
    * shuffle, scales at scan speed.
    */
  def normalizeEmbeddings(df: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("l2_norm", norm(col("__v")))
      .select(col(idCol),
        col("l2_norm"),
        (col("l2_norm") === 0.0).as("is_zero"),
        when(col("l2_norm") === 0.0,
          transform(col("__v"), _ => lit(0.0)))
          .otherwise(transform(col("__v"),
            x => x.cast("double") / col("l2_norm"))).as("unit"))

  /** Exact top-k neighbors per query vector via broadcast + window.
    * Ties break on neighbor id for determinism.
    *
    * @param corpus  (idCol, vecCol) rows — the big side, never shuffled
    *                until the per-query top-k (which carries only
    *                (queryId, id, sim)).
    * @param queries (idCol, vecCol) rows — must be broadcast-small.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are precomputed once per side, not per pair: sqrt(dot(v,v)) is
    // the same IEEE value wherever it is computed, so cosine results are
    // unchanged while the per-pair cost drops to one dot + one multiply
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val joined = c.crossJoin(broadcast(q))
    val scored = joined
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn") * col("cn")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** KNN label vote — label-error detection (the confident-learning /
    * "cleanlab" signal): for every query, the majority label among its
    * nearest neighbors, vs its own. A row whose neighborhood votes a
    * different label is a mislabeling candidate for human / model
    * review.
    *
    * `knn` is any (query_id, neighbor_id) neighbor set — the exact
    * window top-k at oracle scale, [[IvfIndex.knnGraph]] at corpus scale
    * (the vote is a pure function of the neighbor set, so the two
    * compose without changing this operator). Vote ties break to the
    * LOWER label via one `max(struct(count, −label))` per query — no
    * window over the vote table.
    *
    * Output: (vec_id, own_label, voted_label, n_votes, n_neighbors,
    * mismatch).
    */
  def labelVote(knn: DataFrame, labels: DataFrame, idCol: String,
                labelCol: String): DataFrame = {
    val nl = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val ql = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("own_label"))
    knn.select("query_id", "neighbor_id")
      .join(nl, "neighbor_id")
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
      .groupBy("query_id")
      .agg(max(struct(col("__c").as("c"), (-col("__nl")).as("negl"))).as("__b"),
        sum(col("__c")).as("n_neighbors"))
      .join(ql, "query_id")
      .select(col("query_id").as("vec_id"), col("own_label"),
        (-col("__b.negl")).as("voted_label"),
        col("__b.c").as("n_votes"), col("n_neighbors"),
        ((-col("__b.negl")) =!= col("own_label")).as("mismatch"))
  }

  /** [[labelVote]] exploded to one row per (query, neighbor) with the
    * final vote columns attached — the emit shape that lets an ANN-fed
    * vote be verified from its own output (the sim_ann_lsh contract:
    * the neighbor SET is probe-order-specific, but every emitted row's
    * labels, majority vote, and mismatch flag are exactly recomputable
    * from the base tables plus the emitted pairs).
    */
  def labelVoteDetail(knn: DataFrame, labels: DataFrame, idCol: String,
                      labelCol: String): DataFrame = {
    val nl = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val ql = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("own_label"))
    val voted = labelVote(knn, labels, idCol, labelCol)
      .select(col("vec_id").as("query_id"), col("voted_label"),
        col("mismatch"))
    knn.select("query_id", "neighbor_id")
      .join(nl, "neighbor_id").join(ql, "query_id").join(voted, "query_id")
      .select(col("query_id").as("vec_id"), col("neighbor_id"),
        col("own_label"), col("neighbor_label"), col("voted_label"),
        col("mismatch"))
  }

  /** Cosine with a precomputed denominator (`norm(a)*norm(b)`). */
  def cosinePrenormed(a: Column, b: Column, denom: Column): Column =
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)

  /** Deterministic random hyperplanes for sign-projection LSH. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(r.nextGaussian()))
  }

  /** LSH bucket id: one sign bit per hyperplane, packed into a Long.
    * Pure projection — the corpus signature is computed once and can be
    * persisted/partitioned by bucket.
    */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (hp, i) =>
      val hpLit = array(hp.map(lit(_)): _*)
      when(dot(vecCol, hpLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe neighbor buckets: the bucket itself plus every bucket at
    * Hamming distance 1 (flip each bit). Probing 1+nBits buckets bounds
    * the recall loss of a single-bucket scan.
    */
  def probeBuckets(bucket: Column, nBits: Int): Column =
    array((bucket +: (0 until nBits).map(i => bucket.bitwiseXOR(lit(1L << i)))): _*)

  /** Approximate top-k: bucket the corpus by LSH signature, explode each
    * query into its probe buckets, join on bucket (the corpus side is
    * hash-partitioned by bucket — at scale this is a co-located join
    * against a bucketed table), then exact-cosine + top-k within the
    * candidate set.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nBits: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"),
      explode(probeBuckets(lshBucket(col(vecCol), planes), nBits)).as("bucket"))
    val candidates = c.join(broadcast(q), "bucket")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("qv"), col("cv"), col("qn") * col("cn")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Sign-LSH (bands, bitsPerBand) for a cosine `threshold` over
    * `totalBits` hyperplanes. Per-plane sign-agreement probability for
    * cosine t is p = 1 − acos(t)/π (Charikar, STOC'02); mirror of
    * [[Dedup.lshParams]]: pick the divisor split whose banded S-curve
    * midpoint (1/b)^(1/r) sits closest to p, so callers state the
    * similarity cutoff and the collision curve is tuned for them.
    */
  def signLshParams(totalBits: Int, threshold: Double): (Int, Int) = {
    require(totalBits >= 2, s"totalBits must be >= 2, got $totalBits")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val candidates =
      (2 to totalBits).filter(totalBits % _ == 0).map(b => (b, totalBits / b))
    candidates.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - p)
    }
  }

  /** CORPUS-ADAPTIVE banded sign-LSH parameters: bits per band derived
    * from the corpus size so buckets hold ~`targetBucket` vectors, bands
    * derived from the desired recall at the threshold.
    *
    * Why: [[signLshParams]] fixes the bit budget up front, so at corpus
    * sizes where `n >> 2^bits · maxBucket` the per-band key space
    * saturates — every bucket hits the bottom-k cap and recall collapses
    * to the capped prefix. Deriving `bits = ceil(log2(n / targetBucket))`
    * keeps the EXPECTED bucket at the target size no matter the corpus
    * (the SCALING.md round-4 measurement showed exactly this saturation
    * regime at 10×). Recall is then re-compensated with the band count:
    * a pair at cosine `threshold` agrees on one `r`-bit band with
    * p^r (p = 1 − acos(t)/π), so `b = ln(1−recall)/ln(1−p^r)` bands give
    * the requested recall at the threshold (standard S-curve inversion).
    *
    * Degenerate regime, documented deliberately: at LOW thresholds p^r
    * shrinks geometrically in r, so large corpora + low thresholds drive
    * `b` exponentially — sign-LSH stops being the right tool (the cap at
    * 64 bands makes the failure visible as reduced recall rather than an
    * unbounded plan). Near-duplicate detection (t ≥ 0.8) stays cheap at
    * any corpus size.
    */
  def signLshParamsAdaptive(n: Long, threshold: Double,
                            targetBucket: Int = 1000,
                            recall: Double = 0.95): (Int, Int) = {
    require(n > 0 && targetBucket > 0)
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val bits = math.max(1, math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
    val pr = math.pow(p, bits)
    val bands =
      if (pr >= 1.0) 1
      else math.min(64, math.max(1,
        math.ceil(math.log(1.0 - recall) / math.log(1.0 - pr)).toInt))
    (bands, bits)
  }

  /** Band keys for banded sign-projection LSH: `bands` independent
    * `bitsPerBand`-bit signatures (disjoint hyperplane sets via seed+band),
    * each offset by its band index so keys never collide across bands.
    * A pair agreeing on ANY band becomes a candidate (pigeonhole — the
    * same shape as [[Dedup.lshBandKeys]] for MinHash).
    */
  def signBandKeys(vecCol: Column, bands: Int, bitsPerBand: Int,
                   dim: Int, seed: Long): Column =
    array((0 until bands).map { b =>
      lit(b.toLong * (1L << bitsPerBand)) +
        lshBucket(vecCol, hyperplanes(bitsPerBand, dim, seed + b))
    }: _*)

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed — the scale path
    * and the gate entry's form.
    *
    * Plan shape (the part that matters at 100 TB):
    *   1. per-vector band keys: projection only (bands × bitsPerBand
    *      native dot products);
    *   2. explode band keys → `groupBy(band)` — shuffles (band, id) pairs
    *      only (~bands × 8 bytes per vector, NOT the embeddings);
    *   3. buckets → candidate id pairs (a<b), `distinct` across bands;
    *      hot buckets capped at `maxBucket` ids by the O(k)
    *      [[graft.plans.BottomKLongs]] aggregate (window cap for
    *      non-bigint ids) — the standard skew guardrail;
    *   4. verify: join candidates back to (vector, norm) — two hash joins
    *      on id — and keep exact cosine ≥ threshold.
    *
    * Precision is exact (step 4 recomputes true cosine); recall is the
    * banded S-curve: P(candidate) = 1 − (1 − p^r)^b with
    * p = 1 − acos(cos)/π, ≈ 1 for true near-duplicates (cos ≥ 0.9) at the
    * defaults. The quadratic [[cosineDupPairs]] remains the
    * exhaustive-recall reference (spec-only).
    */
  def cosineDupPairsBucketed(emb: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, totalBits: Int = 32,
                             bands: Int = 0, dim: Int = 64, seed: Long = 42L,
                             maxBucket: Int = 1000,
                             adaptiveTarget: Int = 0): DataFrame = {
    // adaptiveTarget > 0: derive (bands, bits) from the corpus size so the
    // expected bucket holds ~adaptiveTarget vectors — see
    // [[signLshParamsAdaptive]]. The count is parquet-metadata cheap and
    // the only corpus-sized aggregate on this path.
    val (nBands, bitsPerBand) =
      if (adaptiveTarget > 0)
        signLshParamsAdaptive(emb.count(), threshold, adaptiveTarget)
      else if (bands > 0) (bands, totalBits / bands)
      else signLshParams(totalBits, threshold)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"))
    val banded = base.select(col("id"),
      explode(signBandKeys(col("v"), nBands, bitsPerBand, dim, seed)).as("band"))
    val idIsLong =
      emb.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    bucketVerifiedPairs(banded.select(col("id"), col("band").as("bucket")),
      base, threshold, maxBucket, idIsLong)
  }

  /** Shared tail of every bucketed cosine-dedup path: cap each bucket's
    * membership deterministically, then verify all within-bucket pairs
    * at exact cosine ≥ threshold. `keyed` carries (bucket, id) only —
    * the vectors travel once, inside the bucket gather. Used by both
    * the LSH-banded form ([[cosineDupPairsBucketed]], multiple buckets
    * per id) and the clustered form ([[semanticDupPairs]], one bucket
    * per id).
    */
  private def bucketVerifiedPairs(keyed: DataFrame, base: DataFrame,
                                  threshold: Double, maxBucket: Int,
                                  idIsLong: Boolean): DataFrame = {
    val buckets = (if (idIsLong)
      keyed.groupBy("bucket")
        .agg(graft.plans.BottomKLongs.bottomK(col("id"), maxBucket).as("ids"))
    else {
      val bandW = Window.partitionBy("bucket").orderBy("id")
      keyed.withColumn("__rn", row_number().over(bandW))
        .where(col("__rn") <= maxBucket)
        .groupBy("bucket")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
    }).where(size(col("ids")) > 1)
    if (idIsLong) {
      // Bucket-LOCAL verification: each capped bucket's (id, vector, norm)
      // members are gathered once and all m²/2 member pairs are verified
      // in a tight per-bucket loop that emits ONLY pairs passing the
      // threshold. The candidate-pair stream never materializes — the
      // measured alternative (explode pairs → joins back to vectors)
      // moves O(bands·maxBucket²) rows each carrying two full vectors
      // (62 GB of row bandwidth at the 10× bench for 134k surviving
      // pairs: 33 s even with both joins broadcast; this path: see
      // SCALING.md). Shuffle volume here is the bucket contents
      // themselves — N·bands·(4·dim+16) bytes — and per-bucket work is
      // bounded by maxBucket²·dim, the same skew guardrail as before.
      // Buffer note: collect_list here is BOUNDED by maxBucket (the
      // bottom-k cap ran first), so the aggregation buffer is ≤
      // maxBucket·(8·dim+16) bytes — not the unbounded-collect_list
      // anti-pattern.
      val spark = keyed.sparkSession
      import spark.implicits._
      val members = buckets
        .select(col("bucket"), explode(col("ids")).as("id"))
        .join(base.select(col("id"),
          col("v").cast("array<double>").as("vd"), col("n")), "id")
        .groupBy("bucket")
        .agg(collect_list(struct(col("id"), col("vd"), col("n"))).as("ms"))
        .select("ms").as[Seq[(Long, Seq[Double], Double)]]
      val thr = threshold
      members.flatMap { ms =>
        val arr = ms.toArray
        val vecs = arr.map(_._2.toArray)
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val (ia, va, na) = (arr(i)._1, vecs(i), arr(i)._3)
            val (ib, vb, nb) = (arr(j)._1, vecs(j), arr(j)._3)
            val denom = na * nb
            // identical IEEE sequence to round(cosinePrenormed(...), 6):
            // left-to-right double fold, then HALF_UP at 6 decimals —
            // bit-equality with the join form pinned in SimilaritySpec
            var s = 0.0
            var d = 0
            val n = math.min(va.length, vb.length)
            while (d < n) { s += va(d) * vb(d); d += 1 }
            val cos = if (denom == 0.0) 0.0 else s / denom
            val rounded = java.math.BigDecimal.valueOf(cos)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (rounded >= thr) {
              if (ia < ib) out += ((ia, ib, rounded))
              else if (ib < ia) out += ((ib, ia, rounded))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }.toDF("id_a", "id_b", "cos_sim").distinct()
    } else {
      // generic-id fallback: explode candidate pairs and verify via joins
      val candidates = buckets
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .where(col("id_a") < col("id_b"))
        .distinct()
      val ea = base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
      val eb = base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
      candidates.join(ea, "id_a").join(eb, "id_b")
        .select(col("id_a"), col("id_b"),
          round(cosinePrenormed(col("va"), col("vb"), col("na") * col("nb")), 6)
            .as("cos_sim"))
        .where(col("cos_sim") >= threshold)
    }
  }

  /** Embedding-cosine near-duplicate pairs: all (a,b) with cosine ≥
    * threshold. Exact quadratic form — exhaustive-recall reference for
    * specs and oracle-checkable scales only; the gate entry and the
    * 100 TB path are [[cosineDupPairsBucketed]].
    */
  def cosineDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosinePrenormed(col("va"), col("vb"), col("na") * col("nb")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al., 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then verify
    * exact pairwise cosine WITHIN each cluster only. The clustered
    * sibling of the LSH-banded [[cosineDupPairsBucketed]] — same capped
    * bucket-local verification tail, but candidacy comes from a learned
    * partition of the space instead of random hyperplanes, which is the
    * published recipe for semantic (not just lexical-rewrite) dedup.
    *
    * Scale shape: the quantizer fit is the capped driver-local
    * [[LocalKMeans]] (same class of tiny collect as IVF's build — the
    * sample is bounded regardless of corpus size); cluster assignment is
    * a codegen'd nearest-centroid projection; the only corpus shuffle
    * carries (cluster, id) pairs; per-cluster pairwise work is bounded
    * by `maxCluster`² via the deterministic bottom-k cap. At 100 TB,
    * `nClusters` should scale ∝ corpus size (SemDeDup uses n/⟨cluster⟩ ≈
    * 10⁴–10⁵ clusters for billions of docs) so cluster populations — and
    * with them the quadratic verify — stay constant-sized.
    *
    * Recall note: pairs whose members land in different clusters are
    * missed by design (boundary effect); precision is exact (every
    * emitted pair carries its true cosine). The exhaustive reference is
    * [[cosineDupPairs]] (spec-only).
    */
  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage cut for vector search (codes in [−127, 127] + one
    * per-vector scale; approximate dot products run on the codes, exact
    * re-score on demand — the scalar sibling of PQ). Every step is
    * cross-engine bit-portable: max|x| is exact, `127/max` is one IEEE
    * division, `x·scale` one multiply, and rounding is the explicit
    * `floor(y + 0.5)` (half-toward-+∞) rather than `round()`, whose
    * half-way rule differs between engines. Zero vectors quantize to
    * all-zero codes with scale 0. Pure projection — no shuffle.
    */
  /** Greedy k-center (farthest-point) coreset selection — the standard
    * diverse-subset picker for embedding spaces (2-approximation of the
    * optimal k-center cover): seed with the smallest id, then repeatedly
    * take the point FARTHEST (cosine distance) from everything selected
    * so far. Emits (rank, id, dist) where dist is the coverage radius at
    * selection time — the decreasing radius sequence is the stopping
    * diagnostic.
    *
    * Scale shape: k passes over the corpus, each a broadcast-centers
    * projection + one single-row max(struct) aggregation — the selected
    * set (k × dim floats) is the ONLY driver-side data, exactly like
    * the IVF centroid table. No corpus shuffle at any point. Iteration
    * `r` scores against all `r−1` centers from the persisted base (no
    * lineage growth, no intermediate caching): O(n·k²) dot products
    * total, the classic distributed-greedy trade for tiny k.
    *
    * Ties (equal min-distance) break to the smallest id via
    * max(struct(dist, −id)) — the oracle replays the identical rule.
    */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .persist()
    try {
      val seed = base.orderBy("vec_id").limit(1).head()
      var sel = List((seed.getLong(0), seed.getSeq[Float](1), seed.getDouble(2)))
      val out = scala.collection.mutable.ArrayBuffer((1, seed.getLong(0), 0.0))
      def distTo(cv: Seq[Float], cn: Double): Column = {
        val denom = col("nrm") * lit(cn)
        when(denom === 0.0, lit(1.0))
          .otherwise(lit(1.0) - dot(col("v"), typedLit(cv)) / denom)
      }
      var r = 2
      var exhausted = false
      while (r <= k && !exhausted) {
        val selIds = sel.map(_._1)
        val mind = sel.map { case (_, cv, cn) => distTo(cv, cn) }
          .reduce((a, b) => least(a, b))
        // max(struct) over zero rows yields a null struct (k > corpus)
        val pickRow = base.where(!col("vec_id").isin(selIds: _*))
          .select(max(struct(mind.as("d"), (-col("vec_id")).as("nid"),
            col("v"), col("nrm"))).as("m"))
          .head()
        if (pickRow.isNullAt(0)) exhausted = true
        else {
          val pick = pickRow.getStruct(0)
          val id = -pick.getLong(1)
          sel = (id, pick.getSeq[Float](2), pick.getDouble(3)) :: sel
          out += ((r, id, pick.getDouble(0)))
          r += 1
        }
      }
      spark.createDataFrame(out.toSeq).toDF("rank", "vec_id", "dist")
        .select(col("rank"), col("vec_id"), round(col("dist"), 6).as("dist"))
    } finally base.unpersist()
  }

  /** Scale-safe k-center (VERDICT r6 item 2): [[kCenterGreedy]]'s k
    * sequential corpus passes degrade linearly in k at 100 TB; this
    * variant needs exactly TWO corpus passes regardless of k:
    *
    *  1. bounded content-hash sample — the `sampleCap` smallest
    *     `(md5(id), id)` keys, one TakeOrderedAndProject (tree-aggregated
    *     top-cap, no shuffle of the corpus), collected as cap×dim floats
    *     of driver metadata (the [[LocalKMeans]] contract);
    *  2. LOCAL greedy k-center on the sample — bit-identical selection
    *     rule to [[kCenterGreedy]] (seed = smallest id, farthest-point,
    *     ties to smallest id, zero-norm distance 1.0), so at
    *     `sampleCap >= corpus` the selected set IS the exact greedy
    *     result (KCenterSpec pins this);
    *  3. ONE distributed assign/max pass — every corpus row scores its k
    *     center distances in a single codegen'd projection (array_min
    *     over (dist, rank) structs: nearest center, ties to the
    *     earlier-selected), then a k-row aggregate of count + coverage
    *     radius per center.
    *
    * The price of scale-safety: centers are greedy-optimal for the
    * SAMPLE; the full-corpus coverage radius is reported per center (the
    * `cover` column) rather than driving selection — the standard
    * sample-then-assign coreset trade.
    *
    * Output: (rank, vec_id, sel_dist, n_assigned, cover) per center,
    * distances rounded 6dp (the cross-engine float convention).
    */
  def kCenterSampled(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, sampleCap: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(sampleCap >= k, s"sampleCap ($sampleCap) must be >= k ($k)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val sample = base
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    if (sample.isEmpty)
      return Seq.empty[(Int, Long, Double, Long, Double)]
        .toDF("rank", "vec_id", "sel_dist", "n_assigned", "cover")

    // local greedy over the sample — the exact kCenterGreedy rule
    def ldist(v: Array[Float], n1: Double, c: Array[Float], cn: Double): Double = {
      val denom = n1 * cn
      if (denom == 0.0) 1.0
      else {
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i).toDouble * c(i).toDouble; i += 1 }
        1.0 - s / denom
      }
    }
    val seed = sample.minBy(_._1)
    val sel = scala.collection.mutable.ArrayBuffer((1, seed._1, 0.0, seed._2, seed._3))
    val selIds = scala.collection.mutable.Set(seed._1)
    // incremental farthest-point: carry each point's min distance to the
    // selected set and refresh it against only the NEWEST center per
    // round — O(sample·k) dot products instead of O(sample·k²) (min is
    // associative, so the running minimum is bit-identical to the full
    // rescan; at k=200/cap=800 this is the difference between instant
    // and ~30 s of driver time)
    val mind = Array.fill(sample.length)(Double.PositiveInfinity)
    var r = 2
    while (r <= k && sel.length < sample.length) {
      val (_, _, _, newVec, newN) = sel.last
      var bestD = Double.NegativeInfinity
      var bestId = Long.MinValue
      var bestVec: Array[Float] = null
      var bestN = 0.0
      var i = 0
      while (i < sample.length) {
        val (id, v, n1) = sample(i)
        if (!selIds(id)) {
          val d = ldist(v, n1, newVec, newN)
          if (d < mind(i)) mind(i) = d
          // max (d, -id): larger distance wins, ties to the smaller id
          if (mind(i) > bestD || (mind(i) == bestD && -id > -bestId)) {
            bestD = mind(i); bestId = id; bestVec = v; bestN = n1
          }
        }
        i += 1
      }
      sel += ((r, bestId, bestD, bestVec, bestN))
      selIds += bestId
      r += 1
    }

    // one distributed assign/max pass: nearest center per corpus row.
    // Fused native kernel (ONE loop over the center matrix) instead of k
    // literal struct(dist, rank) expressions + array_min — bit-identical
    // (KCenterSpec pins it against the struct form) but codegen-stable
    // at any k; the struct form exceeds method-size limits past a few
    // hundred centers.
    val best = graft.plans.PqExpressions.nearestCenterCos(col("v"),
      sel.map(_._4).toArray, sel.map(_._5).toArray, sel.map(_._1).toArray)
    val assigned = base
      .select(best.getField("d").as("d"), best.getField("rnk").as("rank"))
      .groupBy("rank")
      .agg(count(lit(1)).as("n_assigned"), max(col("d")).as("cover"))
    val selected = sel.map { case (rank, id, d, _, _) => (rank, id, d) }
      .toSeq.toDF("rank", "vec_id", "sel_dist")
    selected.join(assigned, Seq("rank"), "left")
      .select(col("rank"), col("vec_id"),
        round(col("sel_dist"), 6).as("sel_dist"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        round(coalesce(col("cover"), lit(0.0)), 6).as("cover"))
  }

  /** Johnson–Lindenstrauss random projection with a DETERMINISTIC
    * hash-sign matrix (Achlioptas 2003 ±1 form): out_j = Σ_i s(i,j)·q_i
    * where q is the ×2^scaleBits floor quantization (the repo's
    * fixed-point plane) and the sign s(i,j) = parity of the first md5
    * hex digit of "i:j" — no sampled matrix to ship or keep consistent
    * across a 100 TB corpus, any engine replays the projection exactly,
    * and integer sums make the result bit-portable. The standard
    * dimensionality-reduction hop before ANN indexing (JL: pairwise
    * distances are preserved within ε for outDims = O(log n / ε²)).
    *
    * Emitted exploded to (vec_id, out_idx, value_fp) scalar rows so
    * every coordinate is value-checked. Pure projection + generate —
    * no shuffle, stays in codegen; the quantized array materializes in
    * its own projection so the per-output-dim lambda never re-runs the
    * quantization (the lmScore lesson).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDims: Int, scaleBits: Int = 20): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    val scale = math.pow(2.0, scaleBits)
    val sign = (i: Column, j: Column) =>
      when(conv(substring(md5(concat(i.cast("string"), lit(":"),
        j.cast("string")).cast("binary")), 1, 1), 16, 10)
        .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    df.select(col(idCol).as("vec_id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * scale).cast("long")).as("__q"))
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(outDims - 1)),
          j => struct(j.cast("int").as("out_idx"),
            aggregate(sequence(lit(1), size(col("__q"))), lit(0L),
              (acc, i) => acc + sign(i, j) * element_at(col("__q"), i))
              .as("value_fp")))).as("o"))
      .select(col("vec_id"), col("o.out_idx"), col("o.value_fp"))
  }

  def int8Quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    val mx = array_max(transform(xd, x => abs(x)))
    val scale = when(mx === 0.0, lit(0.0)).otherwise(lit(127.0) / mx)
    df.select(col(idCol),
      transform(xd, x => floor(x * scale + lit(0.5)).cast("int")).as("codes"),
      scale.as("scale"))
  }

  /** Sign-bit binary quantization: dim floats → ceil(dim/32) Long words,
    * bit i of word w set iff `vec[32w+i] >= 0`. 1 bit per dimension —
    * a 256× compression of float32 embeddings whose Hamming distance
    * tracks angular distance (the SimHash/LSH hyperplane bound with
    * axis-aligned planes). Words stay in [0, 2³²) so every value is
    * integer-exact and engine-portable (no sign-bit packing games).
    * Output: `idCol` + `sig0..sig{w-1}` — a pure codegen'd projection.
    */
  def signPack(df: DataFrame, idCol: String, vecCol: String,
               dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map { w =>
      (0 until math.min(32, dim - 32 * w)).map { i =>
        when(element_at(col(vecCol), 32 * w + i + 1) >= 0f,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"sig$w")
    }
    df.select(col(idCol) +: words: _*)
  }

  /** Hamming-signature top-k with exact cosine re-score: sign-pack both
    * sides, rank the corpus per query by popcount distance on the packed
    * words (ties → lower id), keep k, THEN join only the winners back to
    * their float vectors for the exact similarity.
    *
    * 100 TB shape: the distance pass streams the corpus's ~16-byte
    * signatures against a BROADCAST packed query table — the float
    * vectors never enter the scan, the shuffle carries (query, id,
    * distance) triples only, and the per-query k-cut is a partial
    * TakeOrdered, not a global sort. The expensive join back to
    * embeddings is |queries|·k rows — output-sized. This is the memory
    * hierarchy of a binary-quantized vector store (sig scan in RAM,
    * float re-score from storage) as one declarative plan.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, dim: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nWords = (dim + 31) / 32
    val cp = signPack(corpus, idCol, vecCol, dim)
      .withColumnRenamed(idCol, "neighbor_id")
    val qp = signPack(queries, idCol, vecCol, dim)
      .withColumnRenamed(idCol, "query_id")
    (0 until nWords).foldLeft(qp) { (df, w) =>
      df.withColumnRenamed(s"sig$w", s"qsig$w")
    } match { case qpr =>
      val ham = (0 until nWords).map { w =>
        expr(s"bit_count(sig$w ^ qsig$w)")
      }.reduce(_ + _)
      val win = Window.partitionBy("query_id")
        .orderBy(col("hamming"), col("neighbor_id"))
      val cand = cp.crossJoin(broadcast(qpr))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          ham.cast("int").as("hamming"))
        .withColumn("rank", row_number().over(win))
        .where(col("rank") <= k)
      val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
      val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
      cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
        .select(col("query_id"), col("neighbor_id"), col("hamming"),
          round(cosinePrenormed(col("__qv"), col("__cv"),
            col("__qn") * col("__cn")), 6).as("sim"),
          col("rank"))
    }
  }

  /** ANN quality evaluation as a relational operator: per-query
    * recall@k (overlap with the exact top-k) and reciprocal rank of the
    * TRUE nearest neighbor in the approximate list — the two numbers an
    * index tuning loop (nBits/nProbe/shortlist sweeps) actually reads.
    *
    * Inputs are two (query_id, neighbor_id, rank) lists — any of the
    * ANN searches vs [[bruteForceTopK]]. Queries the approximate index
    * returned nothing for still appear (recall 0, rr 0). Both metrics
    * are single IEEE divisions of exact integers — cross-engine
    * bit-portable. Scale shape: two hash joins on (query, neighbor) +
    * one per-query aggregate; both lists are |queries|·k rows, never
    * corpus-sized.
    */
  def evaluateAnn(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val qs = exact.select(col("query_id")).distinct()
    val hits = approx.as("a")
      .join(exact.as("e"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val rr = exact.where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        col("rank").as("__ar")), Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("__ar").cast("double"), lit(0.0)).as("rr"))
    qs.join(hits, Seq("query_id"), "left")
      .join(rr, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"),
        coalesce(col("rr"), lit(0.0)).as("rr"))
  }

  /** Cluster count sized for ~`targetCluster` members per cluster — the
    * SemDeDup scaling rule (k ∝ n): cluster populations, and with them
    * the quadratic within-cluster verify, stay CONSTANT as the corpus
    * grows. One parquet-metadata-cheap count derives it.
    */
  def semanticClusterCount(n: Long, targetCluster: Int = 256): Int =
    math.max(2, math.ceil(n.toDouble / targetCluster)).toInt

  /** The fixed k-means centers [[semanticDupPairs]] clusters with —
    * exposed so the STREAMING form can assign arrivals against the same
    * partition of the space (train-once, the IVF contract).
    */
  def semanticCenters(emb: DataFrame, vecCol: String, nClusters: Int,
                      seed: Long = 42L): Array[Array[Double]] = {
    val sample = LocalKMeans.sampleVectors(emb, vecCol,
      cap = IvfIndex.fitSampleCap, seed = seed)
    // empty corpus (a normal state mid-pipeline, e.g. after a filter):
    // one dummy center — the assignment projection never evaluates and
    // the dedup result is correctly empty
    if (sample.isEmpty) Array(Array(0.0))
    else LocalKMeans.fit(sample, nClusters, iters = 12, seed = seed)
  }

  def semanticDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nClusters: Int = 64,
                       maxCluster: Int = 4096, seed: Long = 42L): DataFrame = {
    val centers = semanticCenters(emb, vecCol, nClusters, seed)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"))
    val keyed = emb.select(
      IvfIndex.nearestCentroid(col(vecCol), centers).cast("long").as("bucket"),
      col(idCol).as("id"))
    val idIsLong =
      emb.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    bucketVerifiedPairs(keyed, base, threshold, maxCluster, idIsLong)
  }

  /** Persistable semantic-dedup index (VERDICT r6 item 5): the trained
    * k-means centers plus the bucket-keyed corpus members — the build
    * half of an incremental SemDeDup deployment. New batches probe the
    * index ([[probeSemanticIndex]]) without refitting centers or
    * rescanning the corpus.
    */
  final case class SemanticIndex(centers: Array[Array[Double]],
                                 members: DataFrame)

  /** Fit centers on the corpus and key every member by its cluster.
    * `maxBucket` bounds each bucket's population with the same O(k)
    * bottom-k id rule as the batch dedup (smallest ids survive —
    * deterministic), so a probe's per-bucket candidate join is bounded
    * regardless of corpus skew.
    */
  def buildSemanticIndex(emb: DataFrame, idCol: String, vecCol: String,
                         nClusters: Int, maxBucket: Int = 4096,
                         seed: Long = 42L): SemanticIndex = {
    val centers = semanticCenters(emb, vecCol, nClusters, seed)
    val all = emb.select(
      IvfIndex.nearestCentroid(col(vecCol), centers).cast("long").as("bucket"),
      col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    val keep = all.groupBy("bucket")
      .agg(graft.plans.BottomKLongs.bottomK(col("id"), maxBucket).as("ids"))
      .select(col("bucket"), explode(col("ids")).as("id"))
    SemanticIndex(centers, all.join(keep, Seq("bucket", "id"), "left_semi"))
  }

  /** Persist: centers are k rows of metadata (one footer); members are
    * bucket-partitioned parquet so a probe's bucket join prunes to the
    * touched partitions at the scan — append-only when a batch is later
    * accepted into the corpus.
    */
  def saveSemanticIndex(index: SemanticIndex, path: String): Unit = {
    val spark = index.members.sparkSession
    import spark.implicits._
    index.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("center_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
    // repartition ON the partition column first: without it every task
    // writes a sliver of every bucket — nClusters × shuffle-partitions
    // small files (the classic partitionBy small-file explosion; at
    // nClusters ∝ corpus/256 that's the difference between k files and
    // k·200 at production scale). One exchange, one file per bucket.
    index.members.repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$path/members")
  }

  /** Append an ACCEPTED batch to a persisted index without rebuild — the
    * ingest-loop write half (probe → admit → append): arrivals are
    * assigned with the TRAINED centers (no refit) and written as new
    * files into exactly the bucket partitions they belong to; the
    * existing corpus files are untouched and later probes see the union.
    * The build-time bottom-k bucket cap is a BUILD bound — appended
    * members grow buckets, so a long-running deployment re-compacts
    * (rebuild) on a slow cadence while appends stay cheap per batch.
    */
  def appendSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, batch: DataFrame,
                          idCol: String, vecCol: String): Unit = {
    val centers = loadCenters(spark, path)
    batch.select(
        IvfIndex.nearestCentroid(col(vecCol), centers).cast("long").as("bucket"),
        col(idCol).cast("long").as("id"),
        col(vecCol).as("v"), norm(col(vecCol)).as("n"))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/members")
  }

  private def loadCenters(spark: org.apache.spark.sql.SparkSession,
                          path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centers")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  def loadSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): SemanticIndex =
    SemanticIndex(loadCenters(spark, path),
      spark.read.parquet(s"$path/members"))

  /** Probe: assign each batch vector to its nearest TRAINED center (a
    * stateless codegen'd projection — also the streaming form), join the
    * corpus members of that bucket only, and keep exact-cosine pairs at
    * or above `threshold`. Candidate volume per bucket is
    * |batch∩bucket| × min(|corpus∩bucket|, maxBucket) — the indexed
    * corpus is never rescanned, matching [[graft.functions.Dedup.probeSubstrIndex]]'s
    * contract for spans. Output: (id_a = corpus id, id_b = batch id,
    * cos_sim rounded 6dp).
    */
  def probeSemanticIndex(index: SemanticIndex, batch: DataFrame,
                         idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val b = batch.select(
      IvfIndex.nearestCentroid(col(vecCol), index.centers)
        .cast("long").as("bucket"),
      col(idCol).cast("long").as("id_b"),
      col(vecCol).as("vb"), norm(col(vecCol)).as("nb"))
    // static prune of the (bucket-partitioned) members to the buckets
    // the batch actually touches — bounded by nClusters values by
    // construction, so the collect is metadata-sized; the equi-join
    // alone never prunes the partitioned scan (same measured DPP
    // degeneration as the IVF code scan, see IvfIndex.listSet). A
    // STREAMING batch cannot be collected — the probe stays a full-
    // members join there (each microbatch is small; state, not scan,
    // is the streaming cost model).
    val allMembers = index.members.select(col("bucket"), col("id").as("id_a"),
      col("v").as("va"), col("n").as("na"))
    val a = if (batch.isStreaming) allMembers else {
      val touched = b.select("bucket").distinct().collect().map(_.getLong(0))
      allMembers.where(col("bucket").isin(ArraySeq.unsafeWrapArray(touched.map(Long.box)): _*))
    }
    val denom = col("na") * col("nb")
    val cos = when(denom === 0.0, lit(0.0))
      .otherwise(dot(col("va"), col("vb")) / denom)
    b.join(a, "bucket")
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** MULTI-ASSIGN probe — the recall knob on [[probeSemanticIndex]]:
    * each batch vector probes its `nProbe` nearest trained centers
    * instead of one, catching boundary pairs whose two members fall on
    * opposite sides of a Voronoi edge (the single-bucket probe's only
    * miss mode). Soundness is unchanged — every emitted pair is an
    * exact cosine at or above `threshold` (same oracle); completeness
    * strictly grows with `nProbe` (SimilaritySpec pins single ⊆ multi
    * and measures the recall gain vs the exhaustive pairs on the
    * fixture). `nProbe = 1` is BIT-identical to [[probeSemanticIndex]]
    * (same distance fold, same tie rule — spec-pinned).
    *
    * Cost shape: the probe side grows nProbe-fold (still |batch| ×
    * nProbe rows of ids+vectors); each member still lives in exactly
    * ONE bucket, so no pair can surface twice and no distinct is
    * needed. Batch probes keep the static touched-bucket scan prune.
    */
  def probeSemanticIndexMulti(index: SemanticIndex, batch: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double, nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val ivfLike = IvfIndex.Index(
      index.centers.zipWithIndex.map { case (c, i) => (i, c) }, null)
    val b = IvfIndex.probeRange(ivfLike, batch, idCol, vecCol, 0, nProbe)
      .select(col("list_id").cast("long").as("bucket"),
        col("query_id").cast("long").as("id_b"), col("qv").as("vb"))
      .withColumn("nb", norm(col("vb")))
    val allMembers = index.members.select(col("bucket"), col("id").as("id_a"),
      col("v").as("va"), col("n").as("na"))
    val a = if (batch.isStreaming) allMembers else {
      val touched = b.select("bucket").distinct().collect().map(_.getLong(0))
      allMembers.where(col("bucket").isin(ArraySeq.unsafeWrapArray(touched.map(Long.box)): _*))
    }
    val denom = col("na") * col("nb")
    val cos = when(denom === 0.0, lit(0.0))
      .otherwise(dot(col("va"), col("vb")) / denom)
    b.join(a, "bucket")
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** [[semanticDupPairs]] with PQ-pruned bucket verification — output
    * IDENTICAL by a sound bound, not approximate recall: inside each
    * cluster, every pair is first scored symmetrically from its PQ codes
    * (m table lookups against driver-precomputed ksub×ksub per-subspace
    * centroid dot tables — O(m) instead of O(dim) per pair), and the
    * exact O(dim) cosine runs only when the Cauchy–Schwarz reconstruction
    * bound
    *   v_a·v_b ≤ v̂_a·v̂_b + r_a·‖v̂_b‖ + ‖v̂_a‖·r_b + r_a·r_b,
    *   r_x = ‖v_x − v̂_x‖,
    * says the pair could still reach the threshold (the same
    * provably-lossless pruning style as IVF's two-wave residual bound).
    * Per-member reconstruction stats cost O(m·dim) once per bucket —
    * amortized over the m²/2 pair scores they prune.
    *
    * Pruning power degrades gracefully: r ≈ 0 (good codebooks) prunes
    * almost everything below threshold; terrible codebooks only lose the
    * speedup, never a pair. Long ids only (the gate path); other id
    * types delegate to the exact form.
    *
    * MEASURED (the deleted profiler `git show
    * 4a60afe:src/main/scala/graft/tools/ProfSemantic.scala`; 10× fixture,
    * verify-bound nClusters=16, warm): dim 64 — exact 2.5 s vs PQ 3.4 s; dim 512
    * (sign-tiled, identical pair structure) — exact 5.2 s vs best PQ
    * 6.6 s (m ∈ {8,64} × ksub ∈ {16,64} swept). The prune loses at BOTH
    * dims on this fixture because its power is distribution-bound: the
    * synthetic embeddings have no cluster structure, so quantization
    * residuals r stay large and the Cauchy-Schwarz bound almost never
    * clears the threshold — every pair pays lookups + bound AND the
    * exact kernel. The honest verdict: NOT the default; a bit-identical
    * cost knob (gate + spec pin the output) that pays off only when
    * codebooks fit the data tightly (real, clustered embedding
    * distributions) or raw vectors miss cache (codes are 32× smaller).
    */
  def semanticDupPairsPq(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nClusters: Int = 64,
                         maxCluster: Int = 4096, m: Int = 8, ksub: Int = 16,
                         seed: Long = 42L): DataFrame = {
    val idIsLong =
      emb.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    if (!idIsLong)
      return semanticDupPairs(emb, idCol, vecCol, threshold, nClusters,
        maxCluster, seed)
    val spark = emb.sparkSession
    import spark.implicits._
    val firstRow = emb.select(col(idCol), size(col(vecCol)).as("d")).head(1)
    if (firstRow.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cos_sim")
    // PQ needs dim divisible by m (PqIndex.fitCodebooks requires it); an
    // indivisible dim falls back to the exact form — same output either
    // way, the PQ path is only a cost knob.
    if (firstRow.head.getInt(1) % m != 0)
      return semanticDupPairs(emb, idCol, vecCol, threshold, nClusters,
        maxCluster, seed)

    val centers = semanticCenters(emb, vecCol, nClusters, seed)
    val (dsub, codebooks) = PqIndex.fitCodebooks(emb, vecCol, m, ksub, seed)
    // symmetric-distance tables: sdc(i)(c1)(c2) = cb_i[c1] · cb_i[c2]
    val sdc = codebooks.map { cb =>
      Array.tabulate(cb.length, cb.length) { (c1, c2) =>
        var s = 0.0
        var d = 0
        while (d < dsub) { s += cb(c1)(d) * cb(c2)(d); d += 1 }
        s
      }
    }

    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vd"),
      norm(col(vecCol)).as("n"),
      PqIndex.encodeExpr(col(vecCol), codebooks, dsub).as("codes"))
    val keyed = emb.select(
      IvfIndex.nearestCentroid(col(vecCol), centers).cast("long").as("bucket"),
      col(idCol).as("id"))

    val buckets = keyed.groupBy("bucket")
      .agg(graft.plans.BottomKLongs.bottomK(col("id"), maxCluster).as("ids"))
      .where(size(col("ids")) > 1)
    // same bounded bucket gather as bucketVerifiedPairs, plus codes
    val members = buckets
      .select(col("bucket"), explode(col("ids")).as("id"))
      .join(base, "id")
      .groupBy("bucket")
      .agg(collect_list(
        struct(col("id"), col("vd"), col("n"), col("codes"))).as("ms"))
      .select("ms").as[Seq[(Long, Seq[Double], Double, Seq[Int])]]

    val thr = threshold
    val nSub = m
    members.flatMap { ms =>
      val arr = ms.toArray
      val k = arr.length
      val vecs = arr.map(_._2.toArray)
      val codes = arr.map(_._4.toArray)
      // per-member reconstruction stats: ‖v̂‖ and r = ‖v − v̂‖
      val nhat = new Array[Double](k)
      val res = new Array[Double](k)
      var i = 0
      while (i < k) {
        val v = vecs(i)
        val c = codes(i)
        var vhat2 = 0.0 // ‖v̂‖²
        var vdot = 0.0  // v·v̂
        var v2 = 0.0    // ‖v‖²
        var si = 0
        while (si < nSub) {
          val ci = c(si)
          vhat2 += sdc(si)(ci)(ci)
          val cb = codebooks(si)(ci)
          var d = 0
          val off = si * dsub
          while (d < dsub) {
            vdot += v(off + d) * cb(d)
            d += 1
          }
          si += 1
        }
        var d = 0
        while (d < v.length) { v2 += v(d) * v(d); d += 1 }
        nhat(i) = math.sqrt(math.max(vhat2, 0.0))
        res(i) = math.sqrt(math.max(v2 - 2.0 * vdot + vhat2, 0.0))
        i += 1
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      i = 0
      while (i < k) {
        var j = i + 1
        while (j < k) {
          val (ia, na) = (arr(i)._1, arr(i)._3)
          val (ib, nb) = (arr(j)._1, arr(j)._3)
          val denom = na * nb
          var pruned = false
          if (denom != 0.0) {
            // SDC approx dot from codes: m lookups
            var sdcDot = 0.0
            var si = 0
            val ca = codes(i)
            val cb = codes(j)
            while (si < nSub) { sdcDot += sdc(si)(ca(si))(cb(si)); si += 1 }
            val ub = (sdcDot + res(i) * nhat(j) + nhat(i) * res(j)
              + res(i) * res(j)) / denom
            // rounded-exact can exceed exact by < 5e-7 — keep margin
            pruned = ub < thr - 1e-6
          }
          if (!pruned) {
            // identical IEEE sequence to bucketVerifiedPairs' exact tail
            val va = vecs(i)
            val vb = vecs(j)
            var s = 0.0
            var d = 0
            val n = math.min(va.length, vb.length)
            while (d < n) { s += va(d) * vb(d); d += 1 }
            val cos = if (denom == 0.0) 0.0 else s / denom
            val rounded = java.math.BigDecimal.valueOf(cos)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (rounded >= thr) {
              if (ia < ib) out += ((ia, ib, rounded))
              else if (ib < ia) out += ((ib, ia, rounded))
            }
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("id_a", "id_b", "cos_sim").distinct()
  }

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998):
    * per query, greedily select `k` of the top-`m` cosine shortlist,
    * each step maximizing `0.5·rel − 0.5·maxSim(cand, selected)` — the
    * diversity-aware top-k every RAG retrieval stack applies after ANN.
    * Ties break to the lower doc id; `rel` and the candidate-candidate
    * cosines use the same left-to-right double fold as [[dot]], so the
    * greedy recursion is bit-portable and a SQL engine replays it.
    *
    * 100 TB shape: the corpus-sized work is the shortlist (brute here;
    * swap in any ANN operator upstream — the rerank only needs
    * (query_id, doc_id, rel, vec) rows). The greedy itself runs per
    * query over ≤ m rows via `flatMapGroups` — queries parallelize
    * across executors, memory per group is m vectors, and NOTHING is
    * collected to the driver.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, m: Int, k: Int): DataFrame = {
    require(m >= k && k >= 1, s"need m >= k >= 1, got m=$m k=$k")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).cast("long").as("doc_id"),
      col(vecCol).cast("array<double>").as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("cv"),
        cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("rel"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val shortlist = scored.withColumn("srank", row_number().over(w))
      .where(col("srank") <= m)
      .select("query_id", "doc_id", "rel", "cv")
    mmrGreedy(shortlist, k)
  }

  /** MMR rerank of an EXTERNALLY-scored candidate list — the composed-
    * pipeline form: upstream retrieval (BM25, hybrid RRF, ANN) supplies
    * (`query_id`, `doc_id`, `rel`) and only the DIVERSITY term comes
    * from the embedding table. The candidate list is per-query bounded
    * by the upstream top-k contract, so the vector join ships the tiny
    * candidate side against the corpus-partitioned embeddings (AQE
    * broadcasts it) and the greedy runs per query over ≤ |candidates|
    * rows via `flatMapGroups` — same recursion, tie-breaks, and IEEE
    * fold as [[mmrTopK]], so a SQL engine replays it.
    */
  def mmrRerank(cands: DataFrame, emb: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = emb.select(col(idCol).cast("long").as("doc_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val shortlist = cands
      .select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rel").cast("double").as("rel"))
      .join(c, Seq("doc_id"))
      .select("query_id", "doc_id", "rel", "cv")
    mmrGreedy(shortlist, k)
  }

  /** Shared greedy of [[mmrTopK]]/[[mmrRerank]] over a per-query-bounded
    * shortlist (query_id, doc_id, rel, cv): k steps of
    * argmax(0.5·rel − 0.5·maxSim-to-selected), ties to the lower id.
    */
  private def mmrGreedy(shortlist: DataFrame, k: Int): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._

    def lnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    def lcos(a: Array[Double], b: Array[Double], denom: Double): Double = {
      if (denom == 0.0) 0.0
      else {
        var s = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { s += a(i) * b(i); i += 1 }
        s / denom
      }
    }
    shortlist.as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(_._2)
        val vecs = cands.map(_._4.toArray)
        val nrms = vecs.map(lnorm)
        val n = cands.length
        val chosen = Array.fill(n)(false)
        // running max-similarity-to-selected; max is associative so the
        // incremental update is bit-identical to a full rescan. A true
        // max (it CAN be negative) — step 1's empty set uses 0.0
        // explicitly, mirroring the replay's base case.
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Array.newBuilder[(Long, Long, Int, Double, Double)]
        var step = 1
        val steps = math.min(k, n)
        while (step <= steps) {
          var bi = -1; var bs = 0.0
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              val ms = if (step == 1) 0.0 else maxSim(i)
              val s = 0.5 * cands(i)._3 - 0.5 * ms
              if (bi < 0 || s > bs ||
                  (s == bs && cands(i)._2 < cands(bi)._2)) { bi = i; bs = s }
            }
            i += 1
          }
          chosen(bi) = true
          out += ((qid, cands(bi)._2, step, cands(bi)._3, bs))
          var j = 0
          while (j < n) {
            if (!chosen(j)) {
              val s = lcos(vecs(j), vecs(bi), nrms(j) * nrms(bi))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "doc_id", "mmr_rank", "rel", "mmr_score")
      .select(col("query_id"), col("doc_id"), col("mmr_rank"),
        round(col("rel"), 6).as("rel"),
        round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** Mean-pool chunk embeddings into one vector per parent (the RAG
    * ingest step: chunk vectors → document vector), on a ×2^scaleBits
    * integer plane so the pooled values are bit-portable: per-element
    * quantize (floor), exact integer sums, one truncating div by the
    * chunk count. Emitted as (group, idx, n_chunks, sum_fp, mean_fp)
    * scalar rows — one partial-aggregated groupBy on (group, idx), no
    * windows, order-independent by construction (integer + is
    * associative — the float mean would depend on partitioning).
    */
  def meanPoolFixedPoint(df: DataFrame, groupCol: Column, vecCol: Column,
                         scaleBits: Int = 20): DataFrame = {
    val scale = math.pow(2.0, scaleBits)
    df.select(groupCol.as("group_id"),
        posexplode(vecCol).as(Seq("idx", "__v")))
      .select(col("group_id"), col("idx"),
        floor(col("__v").cast("double") * scale).cast("long").as("__q"))
      .groupBy("group_id", "idx")
      .agg(sum(col("__q")).as("sum_fp"), count(lit(1)).as("n_chunks"))
      .withColumn("mean_fp", expr("sum_fp div n_chunks"))
  }
}
