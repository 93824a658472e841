package graft.queries

import graft.Tables
import graft.functions.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures.streamWithSentinel
import SqlFragments.{mmrFirstPick, qeCosine, rrfScore}

/** Similarity-search and retrieval entries: brute-force and ANN top-k
  * (LSH, IVF, PQ), kNN graphs, BM25 / BM25F / phrase / hybrid retrieval
  * and embedding plumbing. ANN oracles use pair-value verification (see
  * [[DedupQueries]]).
  */
object SearchQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    entry("sim_topk_brute", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        Similarity.norm(col("embedding")).as("cn"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosinePrenormed(col("qv"), col("cv"),
            col("qn") * col("cn")), 6).as("sim"))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s) t WHERE rank <= 10""".stripMargin),

    // Chunk→document mean pooling (RAG ingest): every 4 consecutive
    // chunk vectors pool into one document vector on the ×2^20 integer
    // plane — exact integer sums, one truncating div, so the pooled
    // vector is identical under any partitioning (a float mean is not).
    entry("embed_pool", (spark, dir) =>
      Similarity.meanPoolFixedPoint(
        Tables.read(spark, dir, "embeddings"),
        expr("vec_id div 4"), col("embedding")),
      // mean-pool replay: same floor quantization and integer sums; the
      // mean div is trunc-vs-floor-safe via the sign split
      """WITH u AS (SELECT vec_id // 4 AS group_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS xd
        |  FROM embeddings),
        |e AS (SELECT group_id, xd, unnest(range(1, len(xd) + 1)) AS i
        |  FROM u),
        |q AS (SELECT group_id, CAST(i - 1 AS INTEGER) AS idx,
        |    CAST(floor(xd[i] * 1048576.0) AS BIGINT) AS q FROM e),
        |a AS (SELECT group_id, idx, CAST(sum(q) AS BIGINT) AS sum_fp,
        |    CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM q GROUP BY 1, 2)
        |SELECT group_id, idx, sum_fp, n_chunks,
        |  CASE WHEN sum_fp >= 0 THEN CAST(sum_fp // n_chunks AS BIGINT)
        |    ELSE -CAST((-sum_fp) // n_chunks AS BIGINT) END AS mean_fp
        |FROM a""".stripMargin),

    // Diversity-aware rerank: MMR greedy over the cosine top-30
    // shortlist, 5 selections maximizing 0.5·rel − 0.5·maxSim-to-
    // selected (ties → lower id). The greedy runs per query over the
    // BOUNDED shortlist via flatMapGroups — queries parallelize, no
    // driver collect; the oracle replays the full recursion.
    entry("sim_mmr", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", m = 30, k = 5)
    },
      // MMR greedy replay: cosine shortlist (rel desc, id), then the
      // full per-query recursion — argmax of 0.5·rel − 0.5·maxSim via
      // struct max with the (score desc, lower id) tie-break; step 1's
      // empty selected set contributes an explicit 0.0
      raw"""WITH RECURSIVE base AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |  FROM base WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, b.vec_id AS doc_id, b.v AS cv,
        |    b.nrm AS cn,
        |    CASE WHEN q.qn * b.nrm = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE list_sum(list_transform(range(1, len(q.qv)+1),
        |        i -> q.qv[i] * b.v[i])) / (q.qn * b.nrm) END AS rel
        |  FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id),
        |sl AS (SELECT query_id, doc_id, cv, cn, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS srank FROM sc)
        |  WHERE srank <= 30),
        |r AS (
        |$mmrFirstPick
        |  SELECT g.query_id, g.step + 1,
        |    -struct_extract(g.m, 'nid'),
        |    struct_extract(g.m, 'rel'),
        |    struct_extract(g.m, 's'),
        |    list_append(g.sids, -struct_extract(g.m, 'nid')),
        |    list_append(g.svecs, struct_extract(g.m, 'v')),
        |    list_append(g.snrms, struct_extract(g.m, 'nrm'))
        |  FROM (
        |    SELECT r.query_id, r.step, r.sids, r.svecs, r.snrms,
        |      max(struct_pack(
        |        s := CAST(0.5 AS DOUBLE) * sl.rel -
        |          CAST(0.5 AS DOUBLE) * lat.ms,
        |        nid := -sl.doc_id, rel := sl.rel, v := sl.cv,
        |        nrm := sl.cn)) AS m
        |    FROM r JOIN sl ON r.query_id = sl.query_id
        |      AND NOT list_contains(r.sids, sl.doc_id),
        |    LATERAL (SELECT list_max(list_transform(
        |        range(1, len(r.svecs)+1),
        |        i -> CASE WHEN sl.cn * r.snrms[i] = 0
        |          THEN CAST(0.0 AS DOUBLE)
        |          ELSE list_sum(list_transform(range(1, len(sl.cv)+1),
        |            j -> sl.cv[j] * r.svecs[i][j])) /
        |            (sl.cn * r.snrms[i]) END)) AS ms) lat
        |    WHERE r.step < 5
        |    GROUP BY r.query_id, r.step, r.sids, r.svecs, r.snrms
        |  ) g
        |)
        |SELECT query_id, doc_id, CAST(step AS INT) AS mmr_rank,
        |  round(rel, 6) AS rel, round(score, 6) AS mmr_score
        |FROM r""".stripMargin),

    // Binary-quantized ANN: 64-dim float32 → two 32-bit sign words
    // (256× smaller scan), per-query Hamming top-10 (ties → lower id),
    // exact cosine re-score joined back for ONLY the winners — the
    // sig-scan-then-float-rescore memory hierarchy of a binary vector
    // store. Integer Hamming + the recomputed cosine both hash-check.
    entry("sim_hamming", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, k = 10)
    },
      // sign-pack replay (bit i of word w ⇔ embedding[32w+i] >= 0),
      // popcount Hamming rank with the (hamming, id) tie-break, exact
      // cosine recomputed for the winners only
      raw"""WITH p AS (SELECT vec_id, embedding,
        |  CAST(list_sum(list_transform(range(1, 33), i ->
        |    CASE WHEN embedding[i] >= 0 THEN 1::BIGINT << (i - 1)
        |         ELSE 0 END)) AS BIGINT) AS s0,
        |  CAST(list_sum(list_transform(range(33, 65), i ->
        |    CASE WHEN embedding[i] >= 0 THEN 1::BIGINT << (i - 33)
        |         ELSE 0 END)) AS BIGINT) AS s1
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, s0 AS q0,
        |    s1 AS q1 FROM p WHERE vec_id < 8),
        |h AS (SELECT q.query_id, p.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(p.s0, q.q0)) + bit_count(xor(p.s1, q.q1))
        |      AS INTEGER) AS hamming
        |  FROM p CROSS JOIN q WHERE p.vec_id <> q.query_id),
        |t AS (SELECT query_id, neighbor_id, hamming,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS INTEGER) AS rank
        |  FROM h WHERE true),
        |w AS (SELECT * FROM t WHERE rank <= 10)
        |SELECT w.query_id, w.neighbor_id, w.hamming,
        |$qCosine
        |    AS sim,
        |  w.rank
        |FROM w JOIN q ON w.query_id = q.query_id
        |JOIN embeddings e ON w.neighbor_id = e.vec_id""".stripMargin),

    // ANN candidate sets are probe-order-specific, but the emitted cosine
    // is EXACT: the oracle recomputes it per returned (query, neighbor)
    // pair from the embeddings table and hash-checks the value column.
    entry("sim_ann_lsh", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nBits = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ann_lsh")),

    // Symmetric int8 embedding quantization (codes + per-vector scale):
    // portable floor-based rounding, oracle mirrors every IEEE step.
    // Emitted exploded to (vec_id, idx, code, scale) scalar rows so every
    // individual code is value-checked (array columns also defeat the
    // harness's sort-based canonicalization).
    entry("embed_quantize", (spark, dir) =>
      Similarity.int8Quantize(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("idx", "code")),
          col("scale")),
      """WITH b AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS xd FROM embeddings),
        |m AS (SELECT vec_id, xd,
        |  list_max(list_transform(xd, x -> abs(x))) AS mx FROM b),
        |s AS (SELECT vec_id, xd,
        |  CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m),
        |e AS (SELECT vec_id, xd, scale,
        |  unnest(range(1, len(xd) + 1)) AS i FROM s)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
        |  CAST(floor(xd[i] * scale + 0.5) AS INTEGER) AS code, scale
        |FROM e""".stripMargin),

    // JL random projection 64 → 16 dims with the deterministic hash-
    // sign matrix — the dimensionality-reduction hop before ANN; every
    // projected coordinate is an exact integer the oracle recomputes.
    entry("embed_project", (spark, dir) =>
      Similarity.randomProject(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding",
        outDims = 16),
      // JL replay: same floor quantization, same md5-parity sign matrix,
      // exact integer sums per output coordinate
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(x::DOUBLE * 1048576.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |o AS (SELECT vec_id, unnest(range(0, 16)) AS j, qv FROM q)
        |SELECT vec_id, CAST(j AS INT) AS out_idx,
        |  CAST(list_sum(list_transform(range(1, len(qv) + 1),
        |    i -> (CASE WHEN ('0x' || substring(md5(
        |          CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
        |          1, 1))::INT % 2 = 0
        |      THEN 1 ELSE -1 END) * qv[i])) AS BIGINT) AS value_fp
        |FROM o""".stripMargin),

    // Same operator in its production shape (VERDICT r6 item 3): the
    // pure projection, one row per vector, codes value-checked through a
    // per-row md5 digest instead of the scalar-row explode — this is the
    // entry the bench headline times, so the number reflects operator
    // cost, not verification shape.
    entry("embed_quantize_digest", (spark, dir) =>
      Similarity.int8Quantize(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          md5(concat_ws(",",
            transform(col("codes"), c => c.cast("string")))).as("codes_md5"),
          col("scale")),
      """WITH b AS (SELECT vec_id,
        |  list_transform(embedding, x -> x::DOUBLE) AS xd FROM embeddings),
        |m AS (SELECT vec_id, xd,
        |  list_max(list_transform(xd, x -> abs(x))) AS mx FROM b),
        |s AS (SELECT vec_id, xd,
        |  CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(range(1, len(xd) + 1),
        |    i -> CAST(floor(xd[i] * scale + 0.5) AS INTEGER)), ',')) AS codes_md5,
        |  scale
        |FROM s""".stripMargin),

    // Distributed covariance/PCA prep: EXACT Gram moments (n, Σqᵢ, Σqⱼ,
    // Σqᵢqⱼ over the upper triangle) of the ×2²⁰-quantized embeddings
    // via the native GramMoments aggregate — ONE ~16 KB buffer per
    // partition crosses the exchange instead of dim²/2 exploded rows
    // per vector (the relational form the oracle replays). Lossless
    // power-of-two quantization keeps every moment integer-exact.
    entry("embed_covariance", (spark, dir) =>
      Tables.read(spark, dir, "embeddings")
        .select(transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0).cast("long")).as("qv"))
        .agg(graft.plans.GramMoments.gramMoments(col("qv"), 64).as("m"))
        .select(explode(col("m")).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"),
          col("e.sum_i").as("sum_i"), col("e.sum_j").as("sum_j"),
          col("e.sum_ij").as("sum_ij"), col("e.n").as("n")),
      // unnest-and-self-join replay of the moment table: the oracle pays
      // the dim²/2-rows-per-vector blowup the native aggregate avoids
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(x::DOUBLE * 1048576) AS BIGINT)) AS qv
        |  FROM embeddings),
        |u AS (SELECT vec_id, qv, unnest(range(1, 65)) AS i FROM q),
        |x AS (SELECT vec_id, CAST(i - 1 AS INT) AS i,
        |    qv[CAST(i AS INT)] AS v FROM u)
        |SELECT a.i, b.i AS j,
        |  CAST(sum(a.v) AS BIGINT) AS sum_i,
        |  CAST(sum(b.v) AS BIGINT) AS sum_j,
        |  CAST(sum(a.v * b.v) AS BIGINT) AS sum_ij,
        |  count(*) AS n
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin),

    // Embedding hygiene: L2-normalize + zero-vector flag (vectors at
    // vec_id % 101 == 0 are zeroed deterministically to exercise the
    // guard). Exploded to (vec_id, idx, val) rows, values rounded 6dp
    // on both sides (the sim-oracle float-parity convention).
    entry("embed_normalize", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
        .withColumn("embedding", when(col("vec_id") % 101 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")))
      Similarity.normalizeEmbeddings(emb, "vec_id", "embedding")
        .select(col("vec_id"), round(col("l2_norm"), 6).as("l2_norm"),
          col("is_zero"), posexplode(col("unit")).as(Seq("idx", "val")))
        .select(col("vec_id"), col("idx"), round(col("val"), 6).as("val"),
          col("l2_norm"), col("is_zero"))
    },
      // hygiene replay: same zeroing, same norm, same per-component
      // division, 6dp on both sides
      """WITH z AS (SELECT vec_id,
        |  CASE WHEN vec_id % 101 = 0
        |       THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |       ELSE embedding END AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))) AS nn
        |  FROM z),
        |x AS (SELECT vec_id, e, nn,
        |  unnest(range(1, len(e) + 1)) AS i FROM n)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
        |  round(CASE WHEN nn = 0 THEN 0.0 ELSE e[i]::DOUBLE / nn END, 6) AS val,
        |  round(nn, 6) AS l2_norm, nn = 0 AS is_zero
        |FROM x""".stripMargin),

    // ANN quality evaluation: recall@10 + reciprocal rank of the LSH
    // index against the exact top-10 — the tuning-loop metrics as a
    // relational op. The oracle reads the sim_ann_lsh dump (identical
    // by determinism to the annTopK recomputed here) and rebuilds the
    // exact side with the sim_topk_brute construction.
    entry("sim_eval", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 10)
      val approx = Similarity.annTopK(emb, queries, "vec_id", "embedding",
        k = 10, nBits = 8)
      Similarity.evaluateAnn(approx, exact, k = 10)
    },
      """WITH a AS (SELECT query_id, neighbor_id, rank
        |  FROM read_parquet('__OUT__/sim_ann_lsh/*.parquet')),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |ex AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s) t WHERE rank <= 10),
        |hits AS (SELECT a.query_id, count(*) AS n_hits
        |  FROM a JOIN ex USING (query_id, neighbor_id) GROUP BY 1),
        |first AS (SELECT query_id, neighbor_id FROM ex WHERE rank = 1),
        |rr AS (SELECT f.query_id, coalesce(max(1.0 / a.rank), 0.0) AS rr
        |  FROM first f LEFT JOIN a
        |    ON f.query_id = a.query_id AND f.neighbor_id = a.neighbor_id
        |  GROUP BY f.query_id),
        |qs AS (SELECT DISTINCT query_id FROM ex)
        |SELECT qs.query_id, coalesce(n_hits, 0) AS n_hits,
        |  CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_k,
        |  coalesce(rr.rr, 0.0) AS rr
        |FROM qs LEFT JOIN hits USING (query_id)
        |LEFT JOIN rr USING (query_id)""".stripMargin),

    // nProbe/recall tuning sweep at the √n IVF geometry (ROADMAP r8
    // candidate 4): one index build, searches at nProbe ∈ {1, 2, 4}
    // over a bounded query slice, every returned pair flagged against
    // the EXACT top-5 on that slice, and the per-nProbe recall emitted
    // as exact integers (n_hit, n_exact, recall_ppm) on each row. The
    // oracle reads the found pairs back from the entry's own dump
    // (candidate sets are kmeans-dependent), recomputes the exact side
    // and every cosine, and re-derives hit/recall — so the sweep's
    // recall CLAIM, not just its pair values, is hash-checked. This is
    // the measurement loop that justifies an nProbe setting before
    // trusting it at scale (dedup_lsh_eval's convention for vectors).
    entry("sim_knn_sweep", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val nLists = math.max(16,
        math.ceil(math.sqrt(emb.count().toDouble / 4.0)).toInt)
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = nLists)
      val queries = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val found = Seq(1, 2, 4).map { np =>
        graft.functions.IvfIndex.search(index, queries, "vec_id",
            "embedding", k = 5, nProbe = np)
          .select(lit(np).as("n_probe"), col("query_id"),
            col("neighbor_id"), round(col("sim"), 6).as("sim"))
      }.reduce(_ unionByName _)
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val wp = Window.partitionBy("n_probe")
      found.join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("n_probe"), col("query_id"), col("neighbor_id"),
          col("sim"), coalesce(col("hit"), lit(0L)).as("hit"))
        .withColumn("n_hit", sum(col("hit")).over(wp))
        .crossJoin(broadcast(nExact))
        .withColumn("recall_ppm",
          expr("n_hit * 1000000 div n_exact"))
    },
      // sweep replay: found pairs read back from the dump (kmeans-
      // dependent candidate sets), exact slice top-5 + every cosine +
      // hit/recall re-derived independently and hash-checked
      raw"""WITH a AS (SELECT n_probe, query_id, neighbor_id
        |  FROM read_parquet('__OUT__/sim_knn_sweep/*.parquet')),
        |q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 32),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |$qCosine
        |    AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s) t WHERE rank <= 5),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        |j AS (SELECT a.n_probe, a.query_id, a.neighbor_id, s.sim,
        |    CASE WHEN ex.neighbor_id IS NOT NULL
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS hit
        |  FROM a JOIN s USING (query_id, neighbor_id)
        |  LEFT JOIN ex USING (query_id, neighbor_id)),
        |h AS (SELECT n_probe, CAST(sum(hit) AS BIGINT) AS n_hit
        |  FROM j GROUP BY 1)
        |SELECT j.n_probe, j.query_id, j.neighbor_id, j.sim, j.hit,
        |  h.n_hit, ne.n_exact,
        |  CAST((h.n_hit * 1000000) // ne.n_exact AS BIGINT) AS recall_ppm
        |FROM j JOIN h USING (n_probe) CROSS JOIN ne""".stripMargin),

    // IVF coarse-quantizer ANN: KMeans lists + nProbe search (the
    // clustered-data scale path; LSH above is the data-independent one).
    // Same pair-value verification contract as sim_ann_lsh.
    entry("sim_ivf", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.search(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ivf")),

    // Self-KNN graph: every corpus vector's exact-cosine top-5 among
    // its 2 nearest lists' members — the corpus-sized self-join form
    // (shuffle join on list_id, no query broadcast), not search() with
    // corpus-as-queries. Same pair-value oracle as the ANN searches.
    entry("sim_knn_graph", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      // √n geometry (same rationale as sim_label_vote_ann): bucket
      // size tracks √n as the corpus grows, so the within-bucket
      // self-join totals n^1.5 instead of n²/nLists under a frozen
      // list count; candidate sets may shift but the pair-value
      // oracle verifies the emitted cosines whatever they are
      val nLists = math.max(16,
        math.ceil(math.sqrt(emb.count().toDouble / 4.0)).toInt)
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = nLists)
      graft.functions.IvfIndex.knnGraph(index, "vec_id", "embedding",
        k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      // self-KNN graph: emitted neighbor sims recomputed exactly
      annPairOracle("sim_knn_graph")),

    // Product-quantization ANN: 64-dim floats → 8 codes (32× memory cut),
    // ADC table-lookup scan over the codes, exact cosine re-score of the
    // shortlist. Same pair-value verification contract as the other ANN
    // entries (emitted sims are exact — PQ affects recall only).
    entry("sim_pq", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.PqIndex.build(emb, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.functions.PqIndex.search(index, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_pq")),

    // IVF-PQ (FAISS IVFADC shape): coarse lists prune to nProbe/nLists of
    // the corpus AND the pruned scan reads residual codes, not vectors —
    // both scale levers composed. Exact re-score; same oracle contract.
    entry("sim_ivfpq", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.PqIndex.buildIvfPq(emb, "vec_id",
        "embedding", nLists = 16, m = 8, ksub = 16)
      graft.functions.PqIndex.searchIvfPq(index, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ivfpq")),

    // BATCH append-without-rebuild IVF-PQ ingest: quantizers train on
    // the base corpus only; the held-out batch is encoded with the
    // LOADED quantizers (round-trip on the hot path) and appended into
    // the touched list partitions; the re-loaded index searches the
    // union. Same pair-value oracle family as sim_ivfpq — every emitted
    // (query, neighbor) pair's exact sim and rank are DuckDB-replayed.
    entry("sim_ivfpq_ingest", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val arrivals = emb.where(col("vec_id") % 5 === 0)
      val index = graft.functions.PqIndex.buildIvfPq(base, "vec_id",
        "embedding", nLists = 16, m = 8, ksub = 16)
      val root = graft.tools.Scratch.dir("graft-ivfpq-append")
      graft.functions.PqIndex.saveIvfPq(index, root)
      val reloaded = graft.functions.PqIndex.loadIvfPq(spark, root)
      graft.functions.PqIndex.appendIvfPq(reloaded, arrivals,
        "vec_id", "embedding", root)
      val grown = graft.functions.PqIndex.loadIvfPq(spark, root)
      graft.functions.PqIndex.searchIvfPq(grown, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ivfpq_ingest")),

    // STREAMING encode-on-arrival IVF-PQ ingest: quantizers train once
    // (batch build), the codes dir is wiped, and every vector re-enters
    // through the file-stream encode (stateless projections → arrival
    // order irrelevant) appending to the list-partitioned layout; the
    // re-loaded index answers the same search. Same pair-value oracle as
    // sim_ivfpq — the streamed index must produce identical exact sims.
    entry("sim_ivfpq_stream", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.PqIndex.buildIvfPq(emb, "vec_id",
        "embedding", nLists = 16, m = 8, ksub = 16)
      val root = graft.tools.Scratch.dir("graft-ivfpq-ingest")
      graft.functions.PqIndex.saveIvfPq(index, root)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/codes"))
      val src = s"$root/arrivals"
      emb.select("vec_id", "embedding").write.parquet(src)
      val stream = spark.readStream
        .schema(emb.select("vec_id", "embedding").schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = graft.functions.PqIndex.ingestStream(index, stream,
        "vec_id", "embedding", root,
        graft.tools.Scratch.dir("graft-ivfpq-ckpt"))
      q.processAllAvailable(); q.stop()
      val loaded = graft.functions.PqIndex.loadIvfPq(spark, root)
      graft.functions.PqIndex.searchIvfPq(loaded, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ivfpq_stream")),

    // Two-wave IVF with residual-bound pruning: wave 1 probes 2 lists,
    // wave 2 considers 4 but exact-scores only lists whose residual bound
    // could beat the query's current k-th similarity (IvfIndexSpec proves
    // equality with the full 4-probe search). Same pair-value oracle.
    entry("sim_ivf_refined", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.searchRefined(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe1 = 2, nProbe2 = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      annPairOracle("sim_ivf_refined")),

    // Sparse lexical retrieval, index side: per-term df/cf over the
    // corpus slice — one explode + two partial-aggregated groupBys
    // (shuffle carries (term, doc) pairs, then terms). df >= 2 bounds
    // the emitted vocabulary to repeated terms.
    entry("search_index", (spark, dir) =>
      graft.functions.Retrieval.termStats(
          graft.functions.Retrieval.buildPostings(
            Tables.read(spark, dir, "documents")
              .where(col("doc_id") % 97 =!= 0), "text", "doc_id"))
        .where(col("df") >= 2),
      // inverted-index stats replay: tf per (term, doc), then df/cf
      """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id % 97 <> 0 AND length(trim(text)) > 0),
        |p AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |g AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM p GROUP BY term, doc_id)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf
        |FROM g GROUP BY term HAVING count(*) >= 2""".stripMargin),

    // BM25 top-10 per query — the contamination-search shape: queries
    // are the %97 benchmark slice's first five distinct tokens, corpus
    // is everything else. Scoring is bit-portable by construction
    // (sqrt-odds idf + DECIMAL contribution sum — see Retrieval's
    // scaladoc), so the oracle hash-compares exact score values.
    entry("search_bm25", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val qt = benchQueryTerms(docs, 5000)
      // maxDfPermille stays at the no-op 1000 here: the fixture's tiny
      // synthetic vocabulary puts EVERY term in >half the docs, so any
      // real stop-term cut empties the result; the guard's semantics
      // are spec-verified (RetrievalSpec) instead
      graft.functions.Retrieval.bm25TopK(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id",
        qt, k = 10)
    },
      // BM25 replay with the identical IEEE association: sqrt-odds idf ×
      // tf saturation, term-ordered contribution fold, rank by
      // (score desc, doc_id)
      bm25Oracle),

    // Append-without-rebuild retrieval index: third 0 builds, the rest
    // appends (new files only), then BM25 runs against the loaded
    // postings. df/N/avgdl are search-time aggregates of the postings —
    // never frozen into the index — so the appended index is
    // score-identical to a from-scratch build over the union, and this
    // entry shares search_bm25's oracle verbatim.
    entry("search_ingest", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tmp = graft.tools.Scratch.dir("graft_post_ing")
      graft.functions.Retrieval.buildPostings(
          docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 97 =!= 0),
          "text", "doc_id")
        .write.mode("overwrite").parquet(s"$tmp/idx")
      graft.functions.Retrieval.appendPostings(
        docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 97 =!= 0),
        "text", "doc_id", s"$tmp/idx")
      val qt = benchQueryTerms(docs, 5000)
      graft.functions.Retrieval.bm25TopKFromPostings(
        spark.read.parquet(s"$tmp/idx"), qt, k = 10)
    },
      // the ingest entry's two appended batches union to the identical
      // corpus, and search-time stats make append ≡ rebuild — same replay
      bm25Oracle),

    // CONTINUOUS query intake for BM25: the corpus index is scored once
    // (per-posting contributions, df via one term-keyed window), then
    // each arriving query probes it with ONE stateless stream-static
    // join; contributions fold to ranked scores after the drain. Same
    // oracle as search_bm25 — pruning by query terms does not change
    // df, so the streamed probe scores bit-identically. Twin #21.
    entry("search_bm25_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val docs = Tables.read(spark, dir, "documents")
      val R = graft.functions.Retrieval
      // persist the scored index ONCE — a streaming query re-evaluates
      // its static side every micro-batch, so the static side must be a
      // file scan, not the scoring plan itself (this is also the
      // production shape: the index is a maintained artifact)
      val tmp = graft.tools.Scratch.dir("graft_bm25s")
      R.bm25IndexScored(R.buildPostings(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id"))
        .write.mode("overwrite").parquet(s"$tmp/scored")
      val static = spark.read.parquet(s"$tmp/scored")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      // tighter suite bound than the batch entries: every contribution
      // row of every in-flight query transits the memory sink (driver
      // RAM) in this harness, so the arrival set stays benchmark-sized
      val feed = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 1000 &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val contribs = streamWithSentinel(spark, feed, sentinel,
          delaySec = 3600L)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
        .join(static, "term")
      graft.streaming.EventStream.runToMemory(
        contribs, "bm25_stream_out", OutputMode.Append())
      // query-term table re-derived from the batch source (re-selecting
      // from the drained table would self-join conflicting attributes)
      val qtBatch = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 1000 &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
      R.bm25RankContributions(
        spark.table("bm25_stream_out").where(col("query_id") =!= -1L),
        qtBatch, k = 10)
    },
      // streamed probes of the pre-scored index fold to identical scores
      bm25OracleBound(1000)),

    // Passage retrieval with per-document collapse (the RAG search
    // shape): the corpus chunks into 16-token windows (stride 8), BM25
    // ranks CHUNKS, then each (query, parent doc) keeps its best chunk
    // via one max(struct) — no window over chunk hits — and the final
    // doc-level top-10 reranks the collapsed scores. Multiple chunks of
    // one doc can no longer crowd out other documents.
    entry("search_passages", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      // materialized once: BM25 consumes the chunk corpus from three
      // branches (postings, stats, df) — in production the chunk index
      // persists anyway (the search_ingest pattern), so the checkpoint
      // stands in for the real persisted index
      // ckey packs (doc_id, chunk_id) into one BIGINT so BM25 ranks a
      // single key column. Multiplier 1e6 = a million chunks per doc
      // (~8M tokens at window 16 / stride 8); the raise_error branch
      // makes an overflow a LOUD plan failure instead of silently
      // mis-attributing chunks to a neighboring document's key range —
      // the oracle packs identically, so a collision would otherwise
      // pass the gate while being wrong (ADVICE r8).
      val chunks = graft.functions.Curation.chunkByTokens(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id",
          window = 16, stride = 8)
        .select((col("doc_id") * lit(1000000L) +
            when(col("chunk_id") < lit(1000000L), col("chunk_id"))
              .otherwise(raise_error(concat(
                lit("search_passages: chunk_id >= 1000000 breaks ckey packing: "),
                col("chunk_id").cast("string"))))).as("ckey"),
          col("chunk_text"))
        .localCheckpoint(true)
      val qt = benchQueryTerms(docs, 1000)
      val hits = graft.functions.Retrieval.bm25TopK(
        chunks, "chunk_text", "ckey", qt, k = 50)
      val best = hits
        .groupBy(col("query_id"), expr("doc_id div 1000000").as("parent"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("nck"))).as("m"))
        .select(col("query_id"), col("parent").as("doc_id"),
          col("m.score").as("score"), (-col("m.nck")).as("best_chunk"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))
      best.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
    },
      // passage replay: the chunk construction (text_chunk's spanning),
      // BM25 over chunks with the identical IEEE fold, per-parent best
      // chunk via the same struct max, doc-level rerank
      raw"""WITH t0 AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS rtoks
        |  FROM documents
        |  WHERE length(trim(text)) > 0 AND doc_id % 97 <> 0),
        |nn AS (SELECT doc_id, rtoks, len(rtoks) AS n FROM t0),
        |ch AS (SELECT doc_id, rtoks, n, unnest(range(0,
        |    1 + CAST(floor((greatest(n - 16, 0) + 7) / 8.0) AS BIGINT)))
        |    AS cid
        |  FROM nn),
        |chunks AS (SELECT doc_id * 1000000 + cid AS ckey,
        |    array_to_string(rtoks[(cid*8+1):least(cid*8+16, n)], ' ')
        |      AS ctext
        |  FROM ch),
        |tc AS (SELECT ckey, string_split(regexp_replace(lower(trim(ctext)),
        |    '\s+', ' ', 'g'), ' ') AS toks
        |  FROM chunks WHERE length(trim(ctext)) > 0),
        |p AS (SELECT ckey, len(toks) AS dl, unnest(toks) AS term FROM tc),
        |g AS (SELECT term, ckey, CAST(count(*) AS BIGINT) AS tf,
        |    min(dl) AS dl FROM p GROUP BY 1, 2),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM (SELECT ckey, min(dl) AS dl FROM g GROUP BY ckey)),
        |q AS (SELECT doc_id AS query_id,
        |    unnest(list_distinct(string_split(regexp_replace(
        |      lower(trim(text)), '\s+', ' ', 'g'), ' ')[1:5])) AS term
        |  FROM documents WHERE length(trim(text)) > 0
        |    AND doc_id % 97 = 0 AND doc_id < 1000),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
        |c AS (SELECT q.query_id, g.ckey, q.term,
        |$bm25Contrib
        |agg AS (SELECT query_id, ckey,
        |    list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
        |      AS score
        |  FROM c GROUP BY query_id, ckey),
        |r AS (SELECT query_id, ckey, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, ckey) AS rnk
        |  FROM agg),
        |hits AS (SELECT query_id, ckey, score FROM r WHERE rnk <= 50),
        |best AS (SELECT query_id, ckey // 1000000 AS doc_id,
        |    max(struct_pack(s := score, nck := -ckey)) AS m
        |  FROM hits GROUP BY 1, 2),
        |f AS (SELECT query_id, doc_id,
        |    struct_extract(m, 's') AS score,
        |    -struct_extract(m, 'nck') AS best_chunk
        |  FROM best)
        |SELECT query_id, doc_id, score, best_chunk,
        |  CAST(rank AS INT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank FROM f)
        |WHERE rank <= 10""".stripMargin),

    // Hybrid retrieval: BM25 lexical top-10 and exact-cosine vector
    // top-10 over the SAME query suite, fused by reciprocal rank
    // (integer RRF, k=60) — the dense+sparse combiner behind modern
    // RAG stacks. Both lists are per-query top-k by contract, so the
    // fusion join is metadata-sized; fused scores are integer-exact.
    entry("search_hybrid_rrf", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val emb = Tables.read(spark, dir, "embeddings")
      val qdocs = docs.where(col("doc_id") % 97 === 0 &&
        col("doc_id") < 1000 && length(trim(col("text"))) > 0)
      val qt = qdocs.select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(
          split(Dedup.normalizeText(col("text")), " "), 1, 5))).as("term"))
      val lex = graft.functions.Retrieval.bm25TopK(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", qt, k = 10)
      val qv = emb
        .join(broadcast(qdocs.select(col("doc_id").as("query_id"))),
          col("vec_id") === col("query_id"))
        .select(col("query_id"), col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
      val cand = emb.where(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"),
          Similarity.norm(col("embedding")).as("cn"))
      val scored = cand.crossJoin(broadcast(qv))
        .select(col("query_id"), col("doc_id"),
          round(Similarity.cosinePrenormed(col("qv"), col("cv"),
            col("qn") * col("cn")), 6).as("sim"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("doc_id"))
      val vec = scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
      graft.functions.Retrieval.rrfFuse(lex, vec, k = 10)
    },
      // hybrid fusion replay: the full BM25 replay (bound 1000) and the
      // brute cosine top-10 as derived tables, fused with the identical
      // truncating-div RRF and (rrf desc, doc_id) tie-break
      hybridRrfOracle),

    // BM25F fielded ranking: title = first 8 tokens, body = the rest;
    // per-field length normalization, weighted combine (title ×2),
    // ONE saturation — same query suite as search_bm25, so the two
    // rankers are directly comparable.
    entry("search_bm25f", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val qt = benchQueryTerms(docs, 5000)
      graft.functions.Retrieval.bm25fTopK(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", qt, k = 10)
    },
      // fielded replay: per-field tf normalization, ×2 title combine, one
      // saturation, any-field df, the same term-ordered IEEE fold
      bm25fOracle),

    // Ranker agreement eval: BM25 vs BM25F on the shared query suite —
    // per query, top-10 overlap plus where each ranker's #1 lands in
    // the other's list (0 = absent). The tuning-loop measurement that
    // decides whether fielding changes anything before shipping it.
    entry("search_ranker_eval", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val qt = benchQueryTerms(docs, 5000)
      val a = graft.functions.Retrieval.bm25TopK(
          corpus, "text", "doc_id", qt, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_a"))
        // queries×10 rows, four consumers below (base/overlap/top1 both
        // ways): materialize the tiny list once so the full BM25 pass
        // behind it runs once per ranker, not per consumer
        .localCheckpoint(true)
      val b = graft.functions.Retrieval.bm25fTopK(
          corpus, "text", "doc_id", qt, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_b"))
        .localCheckpoint(true) // same four-consumer rationale as `a`
      val base = a.select("query_id").unionByName(b.select("query_id"))
        .distinct()
      val ov = a.join(b, Seq("query_id", "doc_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      val a1 = a.where(col("rank_a") === 1)
        .join(b, Seq("query_id", "doc_id"), "left")
        .select(col("query_id"),
          coalesce(col("rank_b"), lit(0)).as("bm25_top1_rank_in_f"))
      val b1 = b.where(col("rank_b") === 1)
        .join(a, Seq("query_id", "doc_id"), "left")
        .select(col("query_id"),
          coalesce(col("rank_a"), lit(0)).as("f_top1_rank_in_bm25"))
      base.join(ov, Seq("query_id"), "left")
        .join(a1, Seq("query_id"), "left")
        .join(b1, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          coalesce(col("bm25_top1_rank_in_f"), lit(0))
            .as("bm25_top1_rank_in_f"),
          coalesce(col("f_top1_rank_in_bm25"), lit(0))
            .as("f_top1_rank_in_bm25"))
    },
      // agreement replay: both full ranker replays nested MATERIALIZED
      // (each referenced 3x), overlap + cross-rank lookups with 0-absent
      rankerEvalOracle),

    // Proximity search ("x NEAR/4 y"): each benchmark doc's tokens 1
    // and 3 (when distinct) form its pair; qualifying position pairs
    // counted per (query, doc) with the minimum distance.
    entry("search_proximity", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tk = split(Dedup.normalizeText(col("text")), " ")
      val pairs = docs.where(col("doc_id") % 97 === 0 && col("doc_id") < 5000 &&
          size(tk) >= 3)
        .select(col("doc_id").as("query_id"),
          element_at(tk, 1).as("x"), element_at(tk, 3).as("y"))
        .where(col("x") =!= col("y"))
      graft.functions.Retrieval.proximityMatches(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id",
        pairs, w = 4)
    },
      // proximity replay: matched position lists joined per (query, doc),
      // |px − py| ≤ 4 pairs counted, minimum distance kept
      """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |pp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
        |  FROM t WHERE doc_id % 97 <> 0),
        |post AS (SELECT doc_id, pos, toks[CAST(pos AS INT)] AS term FROM pp),
        |q AS (SELECT doc_id AS query_id, toks[1] AS x, toks[3] AS y
        |  FROM t WHERE doc_id % 97 = 0 AND doc_id < 5000
        |    AND len(toks) >= 3 AND toks[1] <> toks[3]),
        |px AS (SELECT q.query_id, p.doc_id, p.pos AS px
        |  FROM post p JOIN q ON p.term = q.x),
        |py AS (SELECT q.query_id, p.doc_id, p.pos AS py
        |  FROM post p JOIN q ON p.term = q.y)
        |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(abs(px - py)) AS INT) AS min_dist
        |FROM px JOIN py USING (query_id, doc_id)
        |WHERE abs(px - py) <= 4
        |GROUP BY query_id, doc_id""".stripMargin),

    // Exact phrase search over positional postings: each benchmark doc's
    // tokens 3-4 are its phrase; anchors (pos − qpos) with a full vote
    // count are matches. Integer arithmetic end to end.
    entry("search_phrase", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tk = split(Dedup.normalizeText(col("text")), " ")
      val phrases = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 5000 &&
          size(tk) >= 5)
        .select(col("doc_id").as("query_id"),
          posexplode(slice(tk, 3, 2)).as(Seq("qpos", "term")))
      graft.functions.Retrieval.phraseMatches(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", phrases)
    },
      // phrase replay: positional postings vs the benchmark bigrams,
      // anchor votes counted per (query, doc, start)
      """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |pp AS (SELECT doc_id, unnest(range(1, n + 1)) AS pos, toks
        |  FROM n WHERE doc_id % 97 <> 0),
        |post AS (SELECT doc_id, pos, toks[CAST(pos AS INT)] AS term FROM pp),
        |ph AS (SELECT doc_id AS query_id, unnest(range(0, 2)) AS qpos, toks
        |  FROM n WHERE doc_id % 97 = 0 AND doc_id < 5000 AND n >= 5),
        |ph2 AS (SELECT query_id, qpos,
        |    toks[CAST(3 + qpos AS INT)] AS term FROM ph),
        |j AS (SELECT ph2.query_id, p.doc_id, p.pos - ph2.qpos AS match_pos
        |  FROM post p JOIN ph2 USING (term)),
        |g AS (SELECT query_id, doc_id, match_pos, count(*) AS hits
        |  FROM j GROUP BY 1, 2, 3)
        |SELECT query_id, doc_id, CAST(match_pos AS INT) AS match_pos
        |FROM g WHERE hits = 2""".stripMargin),

    // Attribute-filtered ANN — hard-negative mining: each query's top-10
    // most-similar vectors with a DIFFERENT label, via the IVF probe with
    // the label predicate applied BEFORE any cosine is computed. Emitted
    // sims are exact; the oracle recomputes them per pair AND re-checks
    // the label inequality in its join (a same-label emission drops the
    // row → row-count mismatch).
    entry("sim_filtered", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.searchFiltered(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
        (c, q) => c =!= q, k = 10, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    },
      // annPairOracle + the filter contract: the neighbor join carries
      // `n.label <> q.label`, so a same-label emission loses its row
      """
        |WITH p AS (SELECT query_id, neighbor_id, rank
        |  FROM read_parquet('__OUT__/sim_filtered/*.parquet'))
        |SELECT p.query_id, p.neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(n.embedding)+1), i -> n.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)))), 6) AS sim,
        |  CAST(p.rank AS INTEGER) AS rank
        |FROM p JOIN embeddings q ON p.query_id = q.vec_id
        |JOIN embeddings n ON p.neighbor_id = n.vec_id AND n.label <> q.label""".stripMargin),

    // KNN label vote — label-error detection: each vector's majority
    // neighbor label vs its own. The gate runs the exact window top-5
    // neighbor set (SQL-replayable end-to-end); at corpus scale the SAME
    // vote composes over IvfIndex.knnGraph (SimilaritySpec pins the two
    // equal at full probe).
    entry("sim_label_vote", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val knn = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      Similarity.labelVote(knn, emb, "vec_id", "label")
    },
      // full replay: exact window top-5 neighbors → per-query vote with
      // the (count desc, label asc) tie rule via the same struct max
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |  FROM embeddings),
        |s AS (SELECT q.query_id, q.ql, e.vec_id AS nid, e.label AS nl,
        |  list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |  (sqrt(list_sum(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |   sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, ql, nid, nl, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, nid) AS rnk FROM s),
        |k AS (SELECT query_id, ql, nl FROM r WHERE rnk <= 5),
        |v AS (SELECT query_id, ql, nl, count(*) AS c FROM k GROUP BY 1, 2, 3),
        |best AS (SELECT query_id, ql,
        |    max(struct_pack(c := c, negl := -nl)) AS b,
        |    sum(c) AS n_neighbors
        |  FROM v GROUP BY 1, 2)
        |SELECT query_id AS vec_id, ql AS own_label,
        |  CAST(-struct_extract(b, 'negl') AS INTEGER) AS voted_label,
        |  CAST(struct_extract(b, 'c') AS BIGINT) AS n_votes,
        |  CAST(n_neighbors AS BIGINT) AS n_neighbors,
        |  (-struct_extract(b, 'negl')) <> ql AS mismatch
        |FROM best""".stripMargin),

    // Nearest-centroid classification (Rocchio / few-shot eval): per-
    // label centroids from the %3 train slice on the ×2^20 fixed-point
    // plane (partitioning-invariant), eval rows assigned by the fused
    // nearest-center kernel (ONE codegen'd loop over the label-sorted
    // centroid matrix, ties → lower label), confusion matrix out. The
    // centroid collect is labels × dim rows — model-sized metadata.
    entry("sim_centroid_classify", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val train = emb.where(col("vec_id") % 3 === 0)
      val cents = Similarity.meanPoolFixedPoint(
          train, col("label").cast("long"), col("embedding"))
        .select(col("group_id"), col("idx"), col("mean_fp"))
        .collect()
      val byLabel = cents.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      val centers = byLabel.map { case (_, rows) =>
        val arr = new Array[Float](rows.map(_.getInt(1)).max + 1)
        rows.foreach(r =>
          arr(r.getInt(1)) = (r.getLong(2).toDouble / 1048576.0).toFloat)
        arr
      }.toArray
      val cnorms = centers.map { a =>
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      val ranks = byLabel.map(_._1.toInt).toArray
      val best = graft.plans.PqExpressions.nearestCenterCos(
        col("embedding"), centers, cnorms, ranks)
      emb.where(col("vec_id") % 3 =!= 0)
        .select(col("label").as("own_label"),
          best.getField("rnk").as("pred_label"))
        .groupBy("own_label", "pred_label")
        .agg(count(lit(1)).as("n"))
    },
      // centroid-classifier replay: fixed-point centroids (trunc-div
      // mean, FLOAT-cast elements), the identical cosine-distance argmin
      // with (distance, lower label) tie-break, confusion counts
      """WITH tr AS (SELECT label,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |e AS (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM tr),
        |q AS (SELECT CAST(label AS BIGINT) AS l, CAST(i - 1 AS INT) AS idx,
        |    CAST(sum(CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS BIGINT)
        |      AS sum_fp,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |m AS (SELECT l, idx,
        |    CASE WHEN sum_fp >= 0 THEN sum_fp // n
        |      ELSE -((-sum_fp) // n) END AS mean_fp FROM q),
        |cent AS (SELECT l,
        |    list(CAST(CAST(mean_fp AS DOUBLE) / 1048576.0 AS FLOAT)
        |      ORDER BY idx) AS cv
        |  FROM m GROUP BY l),
        |cn AS (SELECT l, cv,
        |    sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |      j -> cv[j]::DOUBLE * cv[j]::DOUBLE))) AS cnrm FROM cent),
        |ev AS (SELECT vec_id, label AS own_label,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings WHERE vec_id % 3 <> 0),
        |d AS (SELECT ev.vec_id, ev.own_label, cn.l,
        |    CASE WHEN ev.nrm * cn.cnrm = 0 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(1.0 AS DOUBLE) -
        |        list_sum(list_transform(range(1, len(ev.v) + 1),
        |          j -> ev.v[j] * cn.cv[j]::DOUBLE)) / (ev.nrm * cn.cnrm)
        |      END AS dist
        |  FROM ev CROSS JOIN cn),
        |best AS (SELECT vec_id, own_label,
        |    min(struct_pack(d := dist, l := l)) AS b
        |  FROM d GROUP BY 1, 2)
        |SELECT own_label,
        |  CAST(struct_extract(b, 'l') AS INTEGER) AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM best GROUP BY 1, 2""".stripMargin),

    // The SCALE path for the label-error vote: the KNN graph comes from
    // the IVF multi-probe index (bucket-pruned — never the quadratic
    // brute self-join), and the vote emits one row per (query,
    // neighbor) so the oracle verifies labels + majority + mismatch
    // exactly FROM THE EMITTED PAIRS (the sim_ann_lsh contract; the
    // neighbor set itself is recall-dependent). The exact-KNN entry
    // above stays as the verification shape; THIS is the bench shape.
    entry("sim_label_vote_ann", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      // √n index geometry: bucket size stays ~√n as the corpus grows,
      // so the within-bucket self-join is n^1.5 total — not n²/nLists
      // with a frozen list count. Safe to adapt per-corpus because the
      // oracle verifies the vote from the EMITTED pairs, whatever the
      // candidate sets were.
      val nLists = math.max(16,
        math.ceil(math.sqrt(emb.count().toDouble / 4.0)).toInt)
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = nLists)
      val knn = graft.functions.IvfIndex.knnGraph(index, "vec_id",
        "embedding", k = 5, nProbe = 2)
      Similarity.labelVoteDetail(knn, emb, "vec_id", "label")
    },
      // readback vote verification: labels, the (count desc, lower label)
      // majority, and the mismatch flag recomputed from the emitted pairs
      """WITH o AS (SELECT vec_id, neighbor_id
        |  FROM read_parquet('__OUT__/sim_label_vote_ann/*.parquet')),
        |v AS (SELECT o.vec_id, o.neighbor_id,
        |    ql.label AS own_label, nl.label AS neighbor_label
        |  FROM o
        |  JOIN embeddings ql ON o.vec_id = ql.vec_id
        |  JOIN embeddings nl ON o.neighbor_id = nl.vec_id),
        |cnt AS (SELECT vec_id, neighbor_label AS l,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT vec_id, max(struct_pack(c := c, negl := -l)) AS b
        |  FROM cnt GROUP BY 1),
        |vote AS (SELECT vec_id,
        |    CAST(-struct_extract(b, 'negl') AS INTEGER) AS voted_label
        |  FROM w)
        |SELECT v.vec_id, v.neighbor_id, v.own_label, v.neighbor_label,
        |  vote.voted_label,
        |  (vote.voted_label <> v.own_label) AS mismatch
        |FROM v JOIN vote USING (vec_id)""".stripMargin))

  private def annPairOracle(name: String): String = s"""
        |WITH p AS (SELECT query_id, neighbor_id, rank
        |  FROM read_parquet('__OUT__/$name/*.parquet'))
        |SELECT p.query_id, p.neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(n.embedding)+1), i -> n.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)))), 6) AS sim,
        |  CAST(p.rank AS INTEGER) AS rank
        |FROM p JOIN embeddings q ON p.query_id = q.vec_id
        |JOIN embeddings n ON p.neighbor_id = n.vec_id""".stripMargin

  /** BM25 replay shared by the from-scratch (`search_bm25`) and the
    * append-without-rebuild (`search_ingest`) entries — both see the
    * identical corpus (every %97≠0 doc) because search-time statistics
    * make the appended index score-identical to a rebuild. The query
    * suite is the %97 slice BELOW `bound` (a fixed benchmark does not
    * grow with the corpus); the streamed-probe twin uses a tighter
    * bound because its contributions transit the memory sink.
    */
  private def bm25OracleBound(bound: Int): String = bm25OracleTpl
    .replace("QBOUND", bound.toString)

  private lazy val bm25Oracle: String = bm25OracleBound(5000)

  private val bm25OracleTpl: String =
    raw"""WITH t AS (SELECT doc_id, string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
      |  FROM t WHERE doc_id % 97 <> 0),
      |g AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
      |    min(dl) AS dl
      |  FROM p GROUP BY term, doc_id),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl
      |  FROM (SELECT doc_id, min(dl) AS dl FROM g GROUP BY doc_id)),
      |q AS (SELECT doc_id AS query_id,
      |    unnest(list_distinct(toks[1:5])) AS term
      |  FROM t WHERE doc_id % 97 = 0 AND doc_id < QBOUND),
      |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g
      |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
      |c AS (SELECT q.query_id, g.doc_id, q.term,
      |$bm25Contrib
      |agg AS (SELECT query_id, doc_id,
      |    list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
      |      AS score
      |  FROM c GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM agg)
      |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
      |FROM r WHERE rank <= 10""".stripMargin

  /** Hybrid-retrieval replay: the full BM25 replay (query bound 1000)
    * and the brute-cosine top-10 (same query suite, corpus = %97≠0
    * vectors) as derived tables, fused by the identical integer RRF
    * (1e9 truncating-div, k = 60, absent list contributes 0).
    */
  private lazy val bm25fOracle: String =
    """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |fl AS (SELECT doc_id, least(len(toks), 8) AS dl_t,
        |    greatest(len(toks) - 8, 0) AS dl_b, toks
        |  FROM t WHERE doc_id % 97 <> 0),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl_t) AS BIGINT) AS sum_t,
        |    CAST(sum(dl_b) AS BIGINT) AS sum_b FROM fl),
        |p AS (SELECT doc_id, dl_t, dl_b,
        |    unnest(range(1, len(toks) + 1)) AS pos, toks FROM fl),
        |pf AS (SELECT doc_id, dl_t, dl_b, toks[pos] AS term,
        |    CASE WHEN pos <= 8 THEN 't' ELSE 'b' END AS field FROM p),
        |g AS (SELECT term, doc_id, field, CAST(count(*) AS BIGINT) AS tf,
        |    min(dl_t) AS dl_t, min(dl_b) AS dl_b
        |  FROM pf GROUP BY 1, 2, 3),
        |q AS (SELECT doc_id AS query_id,
        |    unnest(list_distinct(toks[1:5])) AS term
        |  FROM t WHERE doc_id % 97 = 0 AND doc_id < 5000),
        |mg AS (SELECT * FROM g
        |  WHERE term IN (SELECT DISTINCT term FROM q)),
        |tn AS (SELECT term, doc_id, field, st.n,
        |    CASE WHEN field = 't'
        |      THEN CAST(tf AS DOUBLE) / (1.0 + 0.75 *
        |        (CAST(dl_t AS DOUBLE) /
        |         (CAST(st.sum_t AS DOUBLE) / CAST(st.n AS DOUBLE)) - 1.0))
        |      ELSE CAST(tf AS DOUBLE) / (1.0 + 0.75 *
        |        (CAST(dl_b AS DOUBLE) /
        |         (CAST(st.sum_b AS DOUBLE) / CAST(st.n AS DOUBLE)) - 1.0))
        |      END AS tfn
        |  FROM mg CROSS JOIN st),
        |cb AS (SELECT term, doc_id, min(n) AS n,
        |    coalesce(sum(CASE WHEN field = 't' THEN tfn END), 0.0) AS ct,
        |    coalesce(sum(CASE WHEN field = 'b' THEN tfn END), 0.0) AS cbv
        |  FROM tn GROUP BY 1, 2),
        |cc AS (SELECT term, doc_id, n,
        |    CAST(2.0 AS DOUBLE) * ct + CAST(1.0 AS DOUBLE) * cbv AS c0
        |  FROM cb),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM cc GROUP BY 1),
        |co AS (SELECT q.query_id, cc.doc_id, q.term,
        |    sqrt((CAST(cc.n - dfq.df AS DOUBLE) + 0.5) /
        |         (CAST(dfq.df AS DOUBLE) + 0.5)) *
        |      (cc.c0 / (CAST(1.2 AS DOUBLE) + cc.c0)) AS contrib
        |  FROM cc JOIN dfq USING (term) JOIN q USING (term)),
        |agg AS (SELECT query_id, doc_id,
        |    list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
        |      AS score
        |  FROM co GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM agg)
        |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
        |FROM r WHERE rank <= 10""".stripMargin

  private lazy val rankerEvalOracle: String =
    s"""WITH a AS MATERIALIZED (SELECT query_id, doc_id, rank
      |  FROM ($bm25Oracle)),
      |b AS MATERIALIZED (SELECT query_id, doc_id, rank
      |  FROM ($bm25fOracle)),
      |base AS (SELECT DISTINCT query_id FROM (
      |  SELECT query_id FROM a UNION ALL SELECT query_id FROM b)),
      |ov AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM a JOIN b USING (query_id, doc_id) GROUP BY 1),
      |a1 AS (SELECT a.query_id,
      |    CAST(coalesce(b.rank, 0) AS INT) AS bm25_top1_rank_in_f
      |  FROM a LEFT JOIN b USING (query_id, doc_id) WHERE a.rank = 1),
      |b1 AS (SELECT b.query_id,
      |    CAST(coalesce(a.rank, 0) AS INT) AS f_top1_rank_in_bm25
      |  FROM b LEFT JOIN a USING (query_id, doc_id) WHERE b.rank = 1)
      |SELECT base.query_id,
      |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  CAST(coalesce(a1.bm25_top1_rank_in_f, 0) AS INT)
      |    AS bm25_top1_rank_in_f,
      |  CAST(coalesce(b1.f_top1_rank_in_bm25, 0) AS INT)
      |    AS f_top1_rank_in_bm25
      |FROM base LEFT JOIN ov USING (query_id)
      |LEFT JOIN a1 USING (query_id)
      |LEFT JOIN b1 USING (query_id)""".stripMargin

  private lazy val hybridRrfOracle: String =
    s"""WITH lex AS (SELECT query_id, doc_id, rank
      |  FROM (${bm25OracleBound(1000)})),
      |qe AS (SELECT d.doc_id AS query_id, e.embedding AS qv
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |  WHERE d.doc_id % 97 = 0 AND d.doc_id < 1000
      |    AND length(trim(d.text)) > 0),
      |s AS (SELECT qe.query_id, e.vec_id AS doc_id,
      |$qeCosine
      |    AS sim
      |  FROM embeddings e CROSS JOIN qe WHERE e.vec_id % 97 <> 0),
      |vec AS (SELECT query_id, doc_id, rank FROM (
      |    SELECT query_id, doc_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, doc_id) AS rank
      |    FROM s) WHERE rank <= 10),
      |u AS (SELECT query_id, doc_id FROM lex
      |  UNION SELECT query_id, doc_id FROM vec),
      |f AS (SELECT u.query_id, u.doc_id,
      |    CAST(coalesce(l.rank, 0) AS INTEGER) AS lex_rank,
      |    CAST(coalesce(v.rank, 0) AS INTEGER) AS vec_rank,
      |$rrfScore
      |SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
      |  CAST(rank AS INTEGER) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id) AS rank FROM f)
      |WHERE rank <= 10""".stripMargin

  /** The exact cosine of query vector `q.qv` and `e.embedding` in DOUBLE,
    * rounded to 6 places, as a select item.
    */
  private lazy val qCosine: String =
    """  round(
      |   list_sum(list_transform(range(1, len(q.qv)+1),
      |     i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
      |   (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
      |     i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
      |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)""".stripMargin

  /** One term's BM25 contribution (k1 = 1.2, b = 0.75) from the postings
    * `g(tf, dl)`, the df `d` and the corpus stats `s(n, sum_dl)`, as a
    * select item `contrib`.
    */
  private lazy val bm25Contrib: String =
    """    sqrt((CAST(s.n - d.df AS DOUBLE) + 0.5) /
      |         (CAST(d.df AS DOUBLE) + 0.5)) *
      |      ((CAST(g.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
      |       (CAST(g.tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) *
      |         ((1.0 - CAST(0.75 AS DOUBLE)) + (CAST(0.75 AS DOUBLE) *
      |           (CAST(g.dl AS DOUBLE) /
      |            (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))))))
      |      AS contrib
      |  FROM g JOIN d USING (term) JOIN q USING (term) CROSS JOIN s),""".stripMargin

  /** The benchmark query set: the first five distinct normalized terms
    * `(query_id, term)` of each non-blank %97 doc below id `bound`.
    */
  private def benchQueryTerms(docs: DataFrame, bound: Int): DataFrame =
    docs
      .where(col("doc_id") % 97 === 0 && col("doc_id") < bound &&
        length(trim(col("text"))) > 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(
          split(Dedup.normalizeText(col("text")), " "), 1, 5)))
          .as("term"))
}
