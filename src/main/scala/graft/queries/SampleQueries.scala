package graft.queries

import graft.Tables
import graft.functions.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import SqlFragments.{minhashComponentCtes, qualityCtes, wsTokenCols}
import Fixtures.{sentinelBounds, streamWithSentinel}

/** Sampling and mixing entries: hash, stratified, weighted, reservoir,
  * k-center, token-budget and leak-proof splits, plus the source-mix
  * admission entries and their streaming forms.
  */
object SampleQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    // NEAR-dup-aware leakage-safe split: the group is the minhash
    // connected component (not just exact copies), so paraphrase-level
    // duplicates can't straddle train/test either. Oracle closes the
    // SAME verified pair output (__OUT__/dedup_minhash) and applies the
    // identical md5 cut to the component label.
    entry("sample_split_component", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      val comp = graft.functions.Components
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
      val labeled = docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("group_id"))
      graft.functions.Sampling.leakSafeSplitBy(labeled, "group_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },
      // same closure over the same verified pairs, then the portable md5
      // cut on the component label (the leakSafeSplit rule)
      raw"""WITH RECURSIVE $minhashComponentCtes,
        |lab AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, group_id,
        |  CASE WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lab""".stripMargin),

    // Greedy k-center coreset over the embedding corpus: 12 maximally
    // diverse vectors (decreasing coverage-radius sequence). The oracle
    // replays the full greedy recursion — seed, argmax-of-min-distance,
    // and the (dist desc → id asc) tie-break — via a recursive CTE.
    entry("sample_kcenter", (spark, dir) =>
      Similarity.kCenterGreedy(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding", k = 12),
      // full greedy replay: each recursion step carries the selected
      // (vectors, norms, ids) and re-derives the next farthest point with
      // the identical IEEE arithmetic and tie-break
      raw"""WITH RECURSIVE n AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |$kCenterGreedySteps
        |)
        |SELECT rank, vec_id, round(dist, 6) AS dist FROM r""".stripMargin),

    // Scale-safe k-center (VERDICT r6 item 2): hash-bounded 64-vector
    // sample → local greedy selection → ONE distributed assign/max pass
    // (two corpus passes total, flat in k — vs kCenterGreedy's k passes).
    // The oracle replays the sample cut, the greedy recursion over the
    // sample, and the per-center assignment count + coverage radius.
    entry("sample_kcenter_scalable", (spark, dir) =>
      Similarity.kCenterSampled(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 12, sampleCap = 64),
      // sampled variant: the same greedy recursion, but over the 64-row
      // content-hash sample, then assignment count + coverage radius per
      // center over the FULL corpus (nearest center, ties to lower rank)
      raw"""WITH RECURSIVE n0 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0
        |  ORDER BY substring(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id
        |  LIMIT 64),
        |$kCenterGreedySteps
        |),
        |a AS (
        |  SELECT e.vec_id AS pid, c.rank,
        |    CASE WHEN e.nrm * cn.nrm = 0 THEN 1.0
        |         ELSE 1.0 - list_sum(list_transform(range(1, len(e.v)+1),
        |           j -> e.v[j] * cn.v[j])) / (e.nrm * cn.nrm) END AS d
        |  FROM n0 e CROSS JOIN r c JOIN n0 cn ON cn.vec_id = c.vec_id),
        |best AS (SELECT pid, rank, d,
        |  row_number() OVER (PARTITION BY pid ORDER BY d, rank) AS rn FROM a),
        |agg AS (SELECT rank, CAST(count(*) AS BIGINT) AS n_assigned,
        |  max(d) AS cover FROM best WHERE rn = 1 GROUP BY rank)
        |SELECT r.rank, r.vec_id, round(r.dist, 6) AS sel_dist,
        |  CAST(coalesce(agg.n_assigned, 0) AS BIGINT) AS n_assigned,
        |  round(coalesce(agg.cover, 0.0), 6) AS cover
        |FROM r LEFT JOIN agg ON agg.rank = r.rank""".stripMargin),

    // Deterministic weighted source interleave (stride scheduling /
    // WFQ): every prefix of the emitted order holds sources in
    // proportion to their weights to within one example. Weights are a
    // deterministic function of the source name (1 + len%3) so the
    // oracle can replay the whole schedule — vtime AND the global
    // position are both value-checked. Both ranking phases are
    // two-phase prefix sums (no corpus-wide window).
    entry("mix_interleave", (spark, dir) =>
      graft.functions.Curation.interleaveBySource(
        Tables.read(spark, dir, "documents"), "doc_id", "source",
        s => lit(1.0) + (length(s) % 3).cast("double")),
      // full schedule replay: per-source md5-shuffled rank → virtual
      // time (one exact subtraction + one IEEE division) → global
      // (vtime, source, id) order; any drift in hashing, weights, or
      // tie-breaks moves positions and breaks the hash
      """WITH r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents),
        |v AS (SELECT doc_id, source,
        |  (CAST(r AS DOUBLE) - 0.5) /
        |  (1.0 + CAST(length(source) % 3 AS DOUBLE)) AS vtime
        |  FROM r)
        |SELECT doc_id, source, vtime,
        |  CAST(row_number() OVER (ORDER BY vtime, source, doc_id) AS BIGINT)
        |    AS pos
        |FROM v""".stripMargin),

    // Per-source cap: at most 10 docs per source, best (quality desc,
    // id) first, with final ranks — the anti-monopoly rule applied
    // before mixing. Salted two-phase top-N (nSalts=4 so phase-1 salt
    // groups are multi-row at this scale); oracle is the flat window.
    entry("sample_source_cap", (spark, dir) =>
      graft.functions.Curation.sourceCap(
        Tables.read(spark, dir, "documents"), "text", "doc_id", "source",
        cap = 10, nSalts = 4),
      // cap replay: mirrored quality, one flat per-source window (the
      // oracle may monopartition; the engine's salted two-phase form
      // must produce the identical ranked survivor set)
      s"""
        |WITH t AS (SELECT doc_id, source, text,
        |$wsTokenCols
        |  FROM documents),
        |${qualityCtes("source, ", " source,")},
        |r AS (SELECT doc_id, source, quality,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
        |  FROM q)
        |SELECT doc_id, source, quality, rank FROM r WHERE rank <= 10""".stripMargin),

    // Repeat-factor upsampling: source weight 0.5/1.2/1.9 (from the
    // name, deterministic) ⇒ whole epochs + md5-uniform fractional
    // membership. Pure projection+generate; replica set is a function
    // of the id alone.
    entry("mix_epochs", (spark, dir) =>
      graft.functions.Curation.epochRepeat(
        Tables.read(spark, dir, "documents"), "doc_id", "source",
        s => lit(0.5) + (length(s) % 3).cast("double") * lit(0.7)),
      // epoch replay: same weight function, same md5 uniform, same
      // floor/fraction split — DuckDB regenerates every replica row
      mixEpochsOracle),

    // The SAME epoch expansion as a streaming query: epochRepeat is a
    // stateless projection+generate, so it maps over microbatches with
    // no state at all (the Append-mode identity case) — each arriving
    // doc emits its replicas immediately. Oracle IDENTICAL to
    // mix_epochs: batch ≡ stream for the stateless operator class.
    entry("mix_epochs_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("source"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "source", "ts")
      val out = graft.functions.Curation.epochRepeat(
        streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
          .drop("ts"),
        "doc_id", "source",
        s => lit(0.5) + (length(s) % 3).cast("double") * lit(0.7))
      graft.streaming.EventStream.runToMemory(
        out, "mix_epochs_stream_out", OutputMode.Append())
      spark.table("mix_epochs_stream_out").where(col("doc_id") >= 0)
    },
      // batch ≡ stream for the stateless operator: identical oracle
      mixEpochsOracle),

    // Temperature-scaled mixture weights at tau = 1/2 (the UniMax /
    // multilingual-sampling flattening): weight = sqrt(n) per source —
    // sqrt because it is the one temperature that stays IEEE-portable
    // (pow is libm-dependent) — with the share denominator folded over
    // the source-sorted list so the single float sum has a fixed
    // association order.
    entry("mix_temperature", (spark, dir) =>
      graft.functions.Curation.temperatureShares(
        Tables.read(spark, dir, "documents"), "source"),
      // temperature-share replay: sqrt weights, source-sorted list fold
      // for the one float denominator, same division
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |p AS (SELECT list(struct_pack(source := source, n := n)
        |    ORDER BY source, n) AS arr FROM c),
        |d AS (SELECT arr, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(arr, x -> sqrt(CAST(x.n AS DOUBLE)))),
        |    (a, b) -> a + b) AS denom FROM p),
        |e AS (SELECT unnest(arr) AS x, denom FROM d)
        |SELECT x.source AS source, x.n AS n,
        |  sqrt(CAST(x.n AS DOUBLE)) AS w,
        |  sqrt(CAST(x.n AS DOUBLE)) / denom AS share FROM e""".stripMargin),

    // The COMPOSED mixture schedule — epoch expansion feeding the
    // stride interleave, one Catalyst plan: every replica gets a
    // synthetic id (doc_id·4 + epoch−1, epochs < 4 here) so each epoch
    // copy lands at its own md5-shuffled slot in the global WFQ order.
    // This is the artifact a mixture pipeline actually ships: the
    // final deterministic training order over upsampled sources.
    entry("mix_schedule", (spark, dir) => {
      val reps = graft.functions.Curation.epochRepeat(
          Tables.read(spark, dir, "documents"), "doc_id", "source",
          s => lit(0.5) + (length(s) % 3).cast("double") * lit(0.7))
        .select((col("doc_id") * 4 + col("epoch") - 1).as("rep_id"),
          col("doc_id"), col("epoch"), col("source"))
      graft.functions.Curation.interleaveBySource(
          reps, "rep_id", "source",
          s => lit(1.0) + (length(s) % 3).cast("double"))
        .join(reps, Seq("rep_id", "source"))
        .select(col("doc_id"), col("epoch"), col("source"),
          col("vtime"), col("pos"))
    },
      // composed replay: epoch regeneration → synthetic replica ids →
      // the full WFQ schedule over the expanded set
      """WITH b AS (SELECT doc_id, source,
        |  0.5 + CAST(length(source) % 3 AS DOUBLE) * 0.7 AS w,
        |  (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    ::DOUBLE + 0.5) / 4294967296.0 AS u
        |  FROM documents),
        |n AS (SELECT doc_id, source,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS nrep FROM b),
        |e AS (SELECT doc_id, source,
        |  CAST(unnest(range(1, nrep + 1)) AS INT) AS epoch
        |  FROM n WHERE nrep >= 1),
        |reps AS (SELECT doc_id * 4 + epoch - 1 AS rep_id, doc_id, epoch,
        |  source FROM e),
        |r AS (SELECT rep_id, doc_id, epoch, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(rep_id AS VARCHAR)), rep_id) AS r
        |  FROM reps),
        |v AS (SELECT rep_id, doc_id, epoch, source,
        |  (CAST(r AS DOUBLE) - 0.5) /
        |  (1.0 + CAST(length(source) % 3 AS DOUBLE)) AS vtime
        |  FROM r)
        |SELECT doc_id, epoch, source, vtime,
        |  CAST(row_number() OVER (ORDER BY vtime, source, rep_id) AS BIGINT)
        |    AS pos
        |FROM v""".stripMargin),

    // Quality-prioritized token-budget fill: the best docs until 16k
    // running tokens. Both the admission set and every running total
    // are value-checked; the global cumsum is the bucketed two-phase
    // form (quality-value buckets are contiguous in the sort order).
    entry("sample_token_budget", (spark, dir) =>
      graft.functions.Curation.tokenBudgetFill(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        budget = 16000L),
      s"""
        |WITH t AS (SELECT doc_id, text,
        |$wsTokenCols
        |  FROM documents),
        |${qualityCtes("", " n_tokens,")},
        |o AS (SELECT doc_id, quality, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |  FROM q)
        |SELECT doc_id, quality, n_tokens, cum_tokens
        |FROM o WHERE cum_tokens <= 16000""".stripMargin),

    // Streaming token-budget admission: docs arrive as a stream (ts =
    // t0 + doc_id seconds — event order IS id order) and admit in
    // event-time order while the inclusive running total stays ≤ 16k.
    // Only the metadata stream enters the stateful operator; token
    // counting runs data-parallel upstream. Watermark-buffered exact ⇒
    // arrival order is invisible; oracle is the flat id-ordered cumsum.
    entry("sample_budget_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val meta = Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          timestamp_millis(lit(t0) + col("doc_id") * 1000L).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, meta)
      val sentinel = Seq((-1L, 0L, sentinelTs))
        .toDF("doc_id", "n_tokens", "ts")
      val streamed = graft.streaming.EventStream.tokenBudgetAdmitExact(
        streamWithSentinel(spark, meta, sentinel, delaySec)
          .as[graft.streaming.EventStream.BudgetDoc],
        budget = 16000L)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "sample_budget_stream_out", OutputMode.Append())
      spark.table("sample_budget_stream_out").where(col("doc_id") >= 0)
    },
      // streaming admission replay: event order is id order by
      // construction, so the oracle is the flat id-ordered prefix sum
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |o AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(sum(ntok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens
        |FROM o WHERE cum_tokens <= 16000""".stripMargin),

    // Per-source quota admission on the stream: every source admits its
    // first 12 docs in event-time order — the KEYED form of the budget
    // gate (state shards by source, admission runs data-parallel).
    // Oracle: per-source row_number over id order ≤ 12.
    entry("sample_quota_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val meta = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          timestamp_millis(lit(t0) + col("doc_id") * 1000L).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, meta)
      val sentinel = Seq((-1L, "sentinel", sentinelTs))
        .toDF("doc_id", "source", "ts")
      val streamed = graft.streaming.EventStream.sourceQuotaAdmitExact(
        streamWithSentinel(spark, meta, sentinel, delaySec)
          .as[graft.streaming.EventStream.QuotaDoc],
        quota = 12L)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "sample_quota_stream_out", OutputMode.Append())
      spark.table("sample_quota_stream_out").where(col("doc_id") >= 0)
    },
      // keyed quota replay: per-source first-12 in id order
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |    AS BIGINT) AS rank
        |  FROM documents)
        |SELECT doc_id, source, rank FROM r WHERE rank <= 12""".stripMargin),

    // Deterministic content-keyed sampling, portable form: membership is
    // an md5-hex-prefix compare any engine reproduces bit-for-bit, so the
    // DuckDB oracle verifies the exact sample. The cheaper xxhash64 form
    // ([[Sampling.hashSample]]) keeps its determinism/composability
    // contract asserted in SamplingSpec.
    entry("sample_hash", (spark, dir) =>
      graft.functions.Sampling.portableHashSample(
        Tables.read(spark, dir, "documents"), "doc_id", fraction = 0.2)
        .select("doc_id", "lang", "source"),
      s"""
        |SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |  < '${graft.functions.Sampling.hexCut(0.2)}'""".stripMargin),

    entry("sample_stratified", (spark, dir) =>
      graft.functions.Sampling.portableStratifiedSample(
        Tables.read(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "fr" -> 0.1, "de" -> 0.1, "es" -> 0.1, "zh" -> 0.1))
        .select("doc_id", "lang"),
      s"""
        |SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN '${graft.functions.Sampling.hexCut(0.5)}'
        |  ELSE '${graft.functions.Sampling.hexCut(0.1)}' END
        |AND lang IN ('en','fr','de','es','zh')""".stripMargin),

    // Domain-mix rebalancing: downsample each language to the target mix
    // (en .3 / de .2 / fr .2 / es .15 / zh .15) — per-group keep
    // fractions derived IN-PLAN from corpus counts and the binding group,
    // membership by the portable md5 keep. The oracle recomputes the
    // identical fractions from its own counts.
    entry("sample_rebalance", (spark, dir) =>
      graft.functions.Sampling.rebalanceMix(
        Tables.read(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang", "source"),
      """WITH w(grp, wt) AS (VALUES ('en', 0.3), ('de', 0.2), ('fr', 0.2),
        |  ('es', 0.15), ('zh', 0.15)),
        |c AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |j AS (SELECT c.grp, c.n, w.wt FROM c JOIN w USING (grp) WHERE wt > 0),
        |t AS (SELECT min(n / wt) AS cap FROM j),
        |f AS (SELECT grp, printf('%08x', CAST(least(
        |    floor(least(1.0, wt * cap / n) * 4294967296.0),
        |    4294967295.0) AS BIGINT)) AS cut
        |  FROM j, t)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN f ON d.lang = f.grp
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < f.cut""".stripMargin),

    // Per-group deterministic reservoir (custom TypedImperativeAggregate,
    // bottom-k sketch): k example sources per language. The portable
    // variant keys on md5, so DuckDB reproduces the exact sample as the
    // k distinct values with smallest substring(md5(v),1,16) per group.
    entry("sample_reservoir", (spark, dir) =>
      Tables.read(spark, dir, "documents")
        .groupBy("lang")
        .agg(array_join(
          array_sort(
            graft.plans.ReservoirSample.portableReservoir(col("source"), 5)),
          "|").as("source_sample")),
      """WITH d AS (SELECT DISTINCT lang, source FROM documents),
        |r AS (SELECT lang, source, row_number() OVER (
        |  PARTITION BY lang ORDER BY substring(md5(source), 1, 16), source) AS rn
        |  FROM d)
        |SELECT lang, array_to_string(list_sort(list(source)), '|') AS source_sample
        |FROM r WHERE rn <= 5 GROUP BY lang""".stripMargin),

    // Weighted sampling w/o replacement (priority sampling): sample ∝
    // document length — every priority is one portable IEEE division, so
    // the oracle recomputes identical bits and replays the same top-k.
    entry("sample_weighted", (spark, dir) =>
      graft.functions.Sampling.prioritySample(
        Tables.read(spark, dir, "documents")
          .select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 200),
      """WITH h AS (SELECT doc_id, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) / ((hv + 0.5) / 4294967296.0) AS priority
        |FROM h ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin),

    // Per-language weighted sampling: top-30 priorities WITHIN each
    // lang — the mix-respecting form (rank window per stratum).
    entry("sample_weighted_strat", (spark, dir) =>
      graft.functions.Sampling.stratifiedPrioritySample(
        Tables.read(spark, dir, "documents")
          .select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", "lang", k = 30),
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
        |  FROM documents),
        |p AS (SELECT doc_id, lang, n_chars,
        |  CAST(n_chars AS DOUBLE) / ((hv + 0.5) / 4294967296.0) AS priority
        |  FROM h),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk FROM p)
        |SELECT doc_id, lang, n_chars, priority FROM r WHERE rk <= 30""".stripMargin),

    // DSIR-shaped importance resampling: hashed-bigram evidence weights
    // against the %97 target slice (log-free inner-product form — exact
    // integer sums, one division), resampled by the same portable
    // priority sampler. The full target-aware data-selection loop.
    entry("sample_importance", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val w = graft.functions.Sampling.importanceWeights(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", nBuckets = 256)
      graft.functions.Sampling.prioritySample(w, "doc_id", "weight",
        k = 100)
    },
      // importance replay: same md5-bucketed bigram features, the same
      // add-one evidence sums and single-division weight, the same
      // portable priority top-k
      """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |f AS (SELECT doc_id,
        |    ('0x' || substring(md5(toks[CAST(i AS INT)] || ' ' ||
        |      toks[CAST(i + 1 AS INT)]), 1, 8))::BIGINT % 256 AS feat
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |df_ AS (SELECT doc_id, feat, CAST(count(*) AS BIGINT) AS c_f
        |  FROM f WHERE doc_id % 97 <> 0 GROUP BY doc_id, feat),
        |tf_ AS (SELECT feat, CAST(count(*) AS BIGINT) AS t_f
        |  FROM f WHERE doc_id % 97 = 0 GROUP BY feat),
        |sf_ AS (SELECT feat, CAST(sum(c_f) AS BIGINT) AS s_f
        |  FROM df_ GROUP BY feat),
        |sums AS (SELECT d.doc_id,
        |    CAST(sum(d.c_f * (coalesce(t.t_f, 0) + 1)) AS BIGINT) AS tsum,
        |    CAST(sum(d.c_f * (coalesce(s.s_f, 0) + 1)) AS BIGINT) AS ssum
        |  FROM df_ d LEFT JOIN tf_ t USING (feat)
        |    LEFT JOIN sf_ s USING (feat)
        |  GROUP BY d.doc_id),
        |w AS (SELECT p.doc_id,
        |    CAST(coalesce(s.tsum, 0) + 1 AS DOUBLE) /
        |    CAST(coalesce(s.ssum, 0) + 1 AS DOUBLE) AS weight
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) p
        |  LEFT JOIN sums s USING (doc_id)),
        |pr AS (SELECT doc_id, weight, weight /
        |    ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      + 0.5) / 4294967296.0) AS priority
        |  FROM w)
        |SELECT doc_id, weight, priority FROM pr
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin),

    // Deterministic 80/10/10 train/val/test split: membership is a pure
    // function of the key (portable md5 ranges), reproducible anywhere.
    entry("sample_split", (spark, dir) =>
      graft.functions.Sampling.portableSplit(
        Tables.read(spark, dir, "documents").select("doc_id"),
        "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin),

    // Leakage-safe split: the verdict is per exact-duplicate GROUP (min
    // id of the normalized text), so no copy of a document can straddle
    // train and test — the split stays a pure content function.
    entry("sample_split_leakproof", (spark, dir) =>
      graft.functions.Sampling.leakSafeSplit(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      // group label replay (min id per normalized text) + the same
      // portable md5 cut applied to the GROUP key
      """WITH g AS (SELECT doc_id,
        |    coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '') AS norm
        |  FROM documents),
        |k AS (SELECT norm, min(doc_id) AS group_id FROM g GROUP BY norm),
        |j AS (SELECT g.doc_id, k.group_id FROM g JOIN k USING (norm))
        |SELECT doc_id, group_id,
        |  CASE WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM j""".stripMargin),

    // Balanced-mix admission: every source downsampled (by portable
    // hash) toward the smallest source's token mass — per-source rates
    // exact-integer, admission md5-replayable.
    entry("mix_to_target", (spark, dir) =>
      graft.functions.Curation.mixToTarget(
        Tables.read(spark, dir, "documents"), "doc_id", "text", "source"),
      // portable-hash admission: ('0x'||substring(md5(id),1,8))::UBIGINT
      // replays Spark's conv(substring(md5(...),1,8),16,10)
      mixToTargetOracle),

    // Streaming twin #24 — continuous balanced-mix intake: the rate
    // table lives OUTSIDE the stream (search_ingest pattern — computed
    // from the corpus, refreshed by re-running mixRates, never frozen
    // into per-arrival state), each arrival gets a STATELESS verdict via
    // the stream-static broadcast join. Same oracle as the batch entry.
    entry("mix_to_target_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val docs = Tables.read(spark, dir, "documents")
      val rates = graft.functions.Curation.mixRates(docs, "text", "source")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val sentinel = Seq((-1L, "", "__sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "source", "ts")
      val feed = docs.select(col("doc_id"), col("text"), col("source"),
        lit(t0).as("ts"))
      val verdicts = graft.functions.Curation.applyMixRates(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L)
          .select(col("doc_id"), col("source"),
            size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
              .cast("long").as("n_tokens")),
        "doc_id", rates)
      graft.streaming.EventStream.runToMemory(
        verdicts, "mix_target_stream_out", OutputMode.Append())
      spark.table("mix_target_stream_out").where(col("doc_id") >= 0)
    },
      // identical oracle to mix_to_target: stateless per-arrival verdicts
      // must reproduce the batch admission bit-for-bit
      mixToTargetOracle))

  /** The oracle shared by mix_epochs, mix_epochs_stream. */
  private lazy val mixEpochsOracle: String =
    """WITH b AS (SELECT doc_id, source,
        |  0.5 + CAST(length(source) % 3 AS DOUBLE) * 0.7 AS w,
        |  (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    ::DOUBLE + 0.5) / 4294967296.0 AS u
        |  FROM documents),
        |n AS (SELECT doc_id, source,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS nrep FROM b)
        |SELECT doc_id, source, CAST(unnest(range(1, nrep + 1)) AS INT)
        |  AS epoch
        |FROM n WHERE nrep >= 1""".stripMargin

  /** The oracle shared by mix_to_target, mix_to_target_stream. */
  private lazy val mixToTargetOracle: String =
    """WITH d AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |a AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
        |  FROM d GROUP BY 1),
        |m AS (SELECT min(avail_tokens) AS min_avail FROM a)
        |SELECT d.doc_id, d.source, d.n_tokens, a.avail_tokens,
        |  least(1000000, m.min_avail * 1000000 // a.avail_tokens)
        |    AS rate_ppm,
        |  (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |    % 1000000)::BIGINT <
        |    least(1000000, m.min_avail * 1000000 // a.avail_tokens)
        |    AS admitted
        |FROM d JOIN a USING (source), m""".stripMargin

  /** The greedy k-center recursion over `n(vec_id, v, nrm)`: each step
    * carries the selected (vectors, norms, ids) and re-derives the next
    * farthest point with the (dist desc → id asc) tie-break; 12 centers.
    */
  private lazy val kCenterGreedySteps: String =
    """s0 AS (SELECT min(vec_id) AS id FROM n),
      |r AS (
      |  SELECT 1 AS rank, n.vec_id, CAST(0.0 AS DOUBLE) AS dist,
      |    [n.v] AS sels, [n.nrm] AS snrms, [n.vec_id] AS sids
      |  FROM n, s0 WHERE n.vec_id = s0.id
      |  UNION ALL
      |  SELECT g.rank + 1,
      |    -struct_extract(g.m, 'nid'), struct_extract(g.m, 'd'),
      |    list_append(g.sels, struct_extract(g.m, 'v')),
      |    list_append(g.snrms, struct_extract(g.m, 'nrm')),
      |    list_append(g.sids, -struct_extract(g.m, 'nid'))
      |  FROM (
      |    SELECT r.rank, r.sels, r.snrms, r.sids,
      |      max(struct_pack(d := c_mind, nid := -n.vec_id,
      |                      v := n.v, nrm := n.nrm)) AS m
      |    FROM r JOIN n ON NOT list_contains(r.sids, n.vec_id),
      |    LATERAL (SELECT list_min(list_transform(range(1, len(r.sels)+1),
      |      i -> CASE WHEN n.nrm * r.snrms[i] = 0 THEN 1.0
      |           ELSE 1.0 - list_sum(list_transform(range(1, len(n.v)+1),
      |             j -> n.v[j] * r.sels[i][j])) / (n.nrm * r.snrms[i])
      |           END)) AS c_mind) lat
      |    WHERE r.rank < 12
      |    GROUP BY r.rank, r.sels, r.snrms, r.sids
      |  ) g""".stripMargin
}
