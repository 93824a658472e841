package graft.queries

import graft.Tables
import graft.functions.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import SqlFragments.{boilerTokenCtes, crossSpanOracle, minhashComponentCtes,
  plantedTokenCtes, qualityCtes, shingleCtes,
  spanIslandCtes, spanRows, tokenWindowCtes, wsTokenCols}
import Fixtures.{boilerDocs, plantedDocs, riverbank, streamWithSentinel}

/** Deduplication entries: exact, n-gram Jaccard / containment, MinHash-LSH,
  * SimHash, winnowing, embedding-cosine, exact-substring spans, component
  * closure and their incremental and streaming forms.
  *
  * Hash-based operators have engine-specific candidate sets (xxhash64
  * signatures), so their oracles use pair-value verification: the returned
  * id pairs are read back from the entry's own output (`__OUT__`, resolved
  * by [[graft.Verify]]) and the value columns are recomputed from the base
  * tables and hash-checked.
  */
object DedupQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    entry("dedup_exact", (spark, dir) =>
      Dedup.exactGroups(Tables.read(spark, dir, "documents"), "text", "doc_id"),
      dedupExactOracle),

    entry("dedup_exact_keep", (spark, dir) =>
      Dedup.dropExactDuplicates(Tables.read(spark, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source"),
      """SELECT doc_id, lang, source FROM documents WHERE doc_id IN (
        |SELECT MIN(doc_id) FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin),

    entry("dedup_ngram_jaccard", (spark, dir) =>
      Dedup.ngramJaccardPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.5),
      // mirrors ngramJaccardPairs' default corpus-derived stop-shingle cap
      // (clamp(ceil(fraction·nDocs), floor, ceiling); pruned from both
      // intersection and union)
      s"""
        |WITH $prunedShingleCtes
        |SELECT id_a, id_b,
        |  CAST(n AS DOUBLE) / CAST(a.sz + b.sz - n AS DOUBLE) AS jaccard
        |FROM co JOIN sz a ON co.id_a = a.doc_id JOIN sz b ON co.id_b = b.doc_id
        |WHERE CAST(n AS DOUBLE) / CAST(a.sz + b.sz - n AS DOUBLE) >= 0.5""".stripMargin),

    // Winnowing (MOSS) fingerprint overlap: positional 4-gram md5
    // hashes, rightmost-min selection per 4-gram window, pairs sharing
    // ≥2 fingerprints with fingerprint-set Jaccard. POSITIONAL overlap
    // detection (any shared ≥7-token run guarantees a shared
    // fingerprint) — the plagiarism-detector guarantee bag-of-shingles
    // schemes don't give.
    entry("dedup_winnow", (spark, dir) =>
      Dedup.winnowPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 4, w = 4, minShared = 2, maxDf = 50),
      // Winnowing replay: positional 4-gram md5-prefix hashes, the
      // rightmost-min selection as min(struct(h, −p)) over the identical
      // doc-local window frame, df-capped postings, shared-count Jaccard
      raw"""WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT doc_id, i AS p,
        |    substring(md5(array_to_string(toks[i:i+3], ' ')), 1, 16) AS h
        |  FROM (SELECT doc_id, toks,
        |      unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i
        |    FROM t) z),
        |sel AS (SELECT doc_id, p,
        |    min(struct_pack(h := h, negp := -p)) OVER (PARTITION BY doc_id
        |      ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS rm,
        |    count(*) OVER (PARTITION BY doc_id) AS gcnt
        |  FROM g),
        |fp0 AS (SELECT DISTINCT doc_id, struct_extract(rm, 'h') AS h
        |  FROM sel WHERE p <= greatest(gcnt - 3, 1)),
        |hot AS (SELECT h FROM (SELECT h, count(*) AS df FROM fp0 GROUP BY h) x
        |  WHERE df > 50),
        |fp AS (SELECT doc_id, h FROM fp0 WHERE h NOT IN (SELECT h FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM fp GROUP BY doc_id),
        |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fp x JOIN fp y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        |  CAST(n_shared AS DOUBLE) /
        |    CAST(a.sz + b.sz - n_shared AS DOUBLE) AS jaccard
        |FROM co JOIN sz a ON co.id_a = a.doc_id
        |  JOIN sz b ON co.id_b = b.doc_id
        |WHERE n_shared >= 2""".stripMargin),

    // Directed containment |sub∩sup|/|sub| ≥ 0.8 — the asymmetric
    // overlap Jaccard misses (a quote inside a long article). Same
    // pruned postings + one self-join; both directions from the single
    // undirected intersection count.
    entry("dedup_containment", (spark, dir) =>
      Dedup.ngramContainmentPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.8),
      // containment replay: same shingles, same cap, both directions from
      // the undirected intersection count
      s"""
        |WITH $prunedShingleCtes,
        |j AS (SELECT id_a, id_b, n, a.sz AS sz_a, b.sz AS sz_b
        |  FROM co JOIN sz a ON co.id_a = a.doc_id JOIN sz b ON co.id_b = b.doc_id),
        |d AS (SELECT id_a AS id_sub, id_b AS id_sup,
        |    CAST(n AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment FROM j
        |  UNION ALL
        |  SELECT id_b AS id_sub, id_a AS id_sup,
        |    CAST(n AS DOUBLE) / CAST(sz_b AS DOUBLE) AS containment FROM j)
        |SELECT id_sub, id_sup, containment FROM d WHERE containment >= 0.8""".stripMargin),

    entry("dedup_minhash", (spark, dir) =>
      Dedup.minhashDupPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5),
      s"""
        |WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin),

    // LSH tuning-loop evaluation: pairwise agreement of the two
    // production near-dup paths — MinHash-LSH (bucketed candidates,
    // full-set verify) against the pruned-postings exact jaccard — as
    // one summary row (pair counts, recall, precision). This is the
    // measurement you run before trusting a (bands, maxBucket) setting
    // at scale; both sides are the gate entries' own constructions, so
    // the oracle recomputes the exact side and replays the found side
    // from the dedup_minhash dump (the sim_eval convention).
    entry("dedup_lsh_eval", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val found = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        k = 3, threshold = 0.5).select("id_a", "id_b")
      val hit = exact.join(found, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_found"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall"),
          (col("n_hit").cast("double") / col("n_found").cast("double"))
            .as("precision"))
    },
      // LSH eval replay: exact side recomputed with the pruned-postings
      // construction above; found side read from the (deterministic)
      // dedup_minhash dump — counts are exact integers, the two ratios
      // are single IEEE divisions
      s"""
        |WITH f AS (SELECT DISTINCT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |$prunedShingleCtes,
        |ep AS (SELECT id_a, id_b
        |  FROM co JOIN sz a ON co.id_a = a.doc_id JOIN sz b ON co.id_b = b.doc_id
        |  WHERE CAST(n AS DOUBLE) / CAST(a.sz + b.sz - n AS DOUBLE) >= 0.5),
        |h AS (SELECT id_a, id_b FROM ep INNER JOIN f USING (id_a, id_b))
        |SELECT CAST((SELECT count(*) FROM ep) AS BIGINT) AS n_exact,
        |  CAST((SELECT count(*) FROM f) AS BIGINT) AS n_found,
        |  CAST((SELECT count(*) FROM h) AS BIGINT) AS n_hit,
        |  CAST((SELECT count(*) FROM h) AS DOUBLE) /
        |    CAST((SELECT count(*) FROM ep) AS DOUBLE) AS recall,
        |  CAST((SELECT count(*) FROM h) AS DOUBLE) /
        |    CAST((SELECT count(*) FROM f) AS DOUBLE) AS "precision"""".stripMargin),

    // Streaming EXACT-dedup groups: the same normalized-text aggregation
    // as `dedup_exact`, run as an Update-mode streaming aggregation and
    // collapsed after the drain (keep_id only ever decreases, n_copies
    // only ever grows — column-wise min/max of the update stream IS the
    // final state). Same oracle as the batch entry. Unbounded-key state
    // is inherent to exact dedup; the eviction-bounded form is
    // dropDuplicatesWithinWatermark (spec'd in StreamingSpec).
    entry("dedup_exact_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val marker = "\u0000sentinel" // cannot occur in real text; normalizes to itself
      val sentinel = Seq((-1L, marker,
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val agg = streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
        .groupBy(Dedup.normalizeText(col("text")).as("norm_text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      graft.streaming.EventStream.runToMemory(
        agg, "dedup_exact_stream_out", OutputMode.Update())
      spark.table("dedup_exact_stream_out")
        .where(col("norm_text") =!= marker)
        .groupBy("norm_text")
        .agg(min(col("keep_id")).as("keep_id"),
          max(col("n_copies")).as("n_copies"))
    },
      // identical oracle to dedup_exact: the drained streaming aggregation
      // must reproduce the batch dedup groups bit-for-bit
      dedupExactOracle),

    // STREAMING first-occurrence span dedup: the surviving span per
    // distinct text with its occurrence count — min(doc_id, span_idx)
    // struct and count are SET properties, so the streamed result equals
    // batch whatever the microbatch split; state per span key is O(1)
    // (one struct + one counter), the spanning itself is stateless.
    entry("dedup_spans_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val marker = "\u0000sentinel" // cannot occur in real text
      val sentinel = Seq((-1L, marker,
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val spans = graft.functions.Curation.spanRows(
        streamWithSentinel(spark, docs, sentinel, delaySec = 3600L),
        "text", "doc_id", span = 16)
      val agg = spans.groupBy("span_text")
        .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"),
          count(lit(1)).as("n_occurrences"))
      graft.streaming.EventStream.runToMemory(
        agg, "dedup_spans_stream_out", OutputMode.Update())
      spark.table("dedup_spans_stream_out")
        .where(col("span_text") =!= marker)
        .groupBy("span_text")
        .agg(min(col("first")).as("first"),
          max(col("n_occurrences")).as("n_occurrences"))
        .select(col("first.doc_id").as("doc_id"),
          col("first.span_idx").as("span_idx"), col("n_occurrences"))
    },
      // the batch first-occurrence aggregate over the same spanning — the
      // streamed Update-mode result must collapse to exactly this
      raw"""$alignedSpanCtes
        |f AS (SELECT span_text,
        |  min(struct_pack(d := doc_id, i := span_idx)) AS first,
        |  count(*) AS n FROM sp GROUP BY span_text)
        |SELECT first.d AS doc_id, first.i AS span_idx,
        |  CAST(n AS BIGINT) AS n_occurrences FROM f""".stripMargin),

    // Near-dup CLUSTERING: verified minhash pairs (same params as
    // dedup_minhash, so the identical deterministic pair set) → connected
    // components via alternating large-star/small-star → one row per doc
    // with its canonical representative (component min id; unpaired docs
    // represent themselves). The oracle recomputes the components from
    // the dedup_minhash entry's own (already pair-value-verified) output
    // with a recursive transitive-closure CTE — label parity end-to-end.
    entry("dedup_components", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      val comp = graft.functions.Components
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep_id"))
    },
      // transitive closure over the (verified) minhash pair graph: min
      // reachable id per node = the component label the operator must emit
      componentsClosureOracle),

    // INCREMENTAL near-dup clustering: labels from the old corpus's
    // pairs, then the batch's pairs (anything touching a new doc) merge
    // via quotient-graph contraction — the iterative loop runs over
    // contracted edges only (∝ batch), never the old edge set. Labels
    // are component minima, so the result is IDENTICAL to from-scratch
    // clustering of the full pair set — the oracle IS dedup_components'
    // closure over the same dumped pairs.
    entry("dedup_components_incremental", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      // one LSH+verify pass feeds both the old/new split — persist
      // (shuffling stage, two consumers: the recorded persist rule)
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
          k = 3, nPerm = 64, bands = 16, threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isNew = col("id_a") % 3 === 2 || col("id_b") % 3 === 2
      val labels = graft.functions.Components
        .connectedComponents(pairs.where(!isNew), "id_a", "id_b")
      val comp = graft.functions.Components
        .mergeComponents(labels, pairs.where(isNew), "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep_id"))
    },
      // the incremental merge is provably identical to from-scratch
      // clustering of the same pair set — same closure oracle
      componentsClosureOracle),

    // Quality-aware near-dup dedup (the FineWeb/RefinedWeb keep rule):
    // same components as dedup_components, but each cluster keeps its
    // HIGHEST-quality member (ties → smallest id) instead of min-id.
    // The argmax is one max(struct(quality, -id)) aggregation — O(1)
    // buffer per component under any cluster-size skew, and the join
    // back is keyed on the component label, so nothing quadratic ever
    // materializes. Quality is the oracle-mirrored composite score, so
    // the whole keep decision is hash-checked end-to-end.
    entry("dedup_keep_best", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      val comp = graft.functions.Components
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
      val labeled = docs
        .select(col("doc_id"),
          TextAnalysis.qualityScoreFromStats(
            TextAnalysis.stats(col("text"))).as("quality"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep_id"),
          col("quality"))
      val best = labeled.groupBy("rep_id")
        .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("b"))
        .select(col("rep_id"), (-col("b.neg_id")).as("keep_id"))
      labeled.join(best, "rep_id")
        .select(col("doc_id"), col("rep_id"), col("keep_id"),
          (col("doc_id") === col("keep_id")).as("kept"), col("quality"))
    },
      // closure over the same verified pair graph + the mirrored quality
      // formula: DuckDB independently recomputes component labels AND the
      // per-cluster argmax (quality desc, id asc) keep rule
      s"""
        |WITH RECURSIVE $minhashComponentCtes,
        |t AS (SELECT doc_id, text,
        |$wsTokenCols
        |  FROM documents),
        |${qualityCtes("", "")},
        |lab AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep_id, q.quality
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |  JOIN q USING (doc_id)),
        |b AS (SELECT rep_id, doc_id AS keep_id FROM (
        |  SELECT rep_id, doc_id, row_number() OVER (
        |    PARTITION BY rep_id ORDER BY quality DESC, doc_id) AS rn
        |  FROM lab) WHERE rn = 1)
        |SELECT lab.doc_id, lab.rep_id, b.keep_id,
        |  lab.doc_id = b.keep_id AS kept, lab.quality
        |FROM lab JOIN b USING (rep_id)""".stripMargin),

    // The SAME MinHash near-dup as a real Structured Streaming query:
    // signatures/band keys are the identical stateless expressions, the
    // bucket verify runs in flatMapGroupsWithState with bottom-k-capped
    // state, and a bucket emits exactly once when the watermark seals its
    // membership (docs get a constant synthetic event time; the sentinel
    // advances the watermark past it — the bounded-ingest-window shape).
    // Oracle is IDENTICAL to `dedup_minhash`'s pair-value verification —
    // batch ≡ stream under the DuckDB gate for near-dup detection. The
    // post-drain distinct mirrors the batch form's cross-band distinct.
    entry("dedup_minhash_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val nPerm = 64; val bands = 16
      val banded = streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
        .select(col("doc_id"), col("ts"),
          Dedup.shingleHashes(col("text"), 3).as("sh"))
        .select(col("doc_id"), col("ts"), col("sh"),
          explode(Dedup.lshBandKeys(
            Dedup.minhashSignature(col("sh"), nPerm), nPerm, bands))
            .as("band"))
        .as[graft.streaming.EventStream.BandedDoc]
      val streamed = graft.streaming.EventStream.minhashPairsStream(
        banded, threshold = 0.5)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "dedup_minhash_stream_out", OutputMode.Append())
      spark.table("dedup_minhash_stream_out")
        .where(col("id_a") >= 0)
        .distinct()
    },
      // identical pair-value contract to dedup_minhash: the streamed pairs
      // must carry the exact Jaccard DuckDB recomputes from the base table
      s"""
        |WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash_stream/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin),

    // INCREMENTAL dedup — the daily-crawl shape: even doc_ids play the
    // existing corpus (indexed once via minhashBandIndex), odd doc_ids
    // the new batch; only cross pairs are emitted. Oracle recomputes the
    // exact Jaccard per returned pair AND re-derives the contract from
    // the pair itself: corpus side even, incoming side odd, similarity at
    // threshold, one row per pair (DISTINCT) — a wrong-side, duplicate,
    // or below-threshold emission breaks the row match.
    entry("dedup_incremental", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val index = Dedup.minhashBandIndex(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      Dedup.crossCorpusDupPairs(index,
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    },
      incrementalPairOracle("dedup_incremental")),

    // The same incremental matcher with the new batch arriving as a FILE
    // STREAM against the static corpus index: crossCorpusDupPairs is a
    // stateless stream-static join (exactly-once comes from the
    // min-shared-band filter, not from dedup state), so microbatch
    // boundaries cannot change the output. Identical oracle contract to
    // dedup_incremental.
    entry("dedup_incremental_stream", (spark, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val docs = Tables.read(spark, dir, "documents")
      // cache = the "persisted index" of the real deployment: without it
      // every microbatch would re-run the index build subplan
      val index = Dedup.minhashBandIndex(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
        .cache()
      val src = graft.tools.Scratch.dir("graft-incr-stream") + "/arrivals"
      val arriving = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select("doc_id", "text")
      arriving.repartition(4).write.parquet(src)
      val stream = spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val pairs = Dedup.crossCorpusDupPairs(index, stream,
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      graft.streaming.EventStream.runToMemory(
        pairs, "dedup_incremental_stream_out", OutputMode.Append())
      index.unpersist() // the memory sink holds the results; drop the index
      spark.table("dedup_incremental_stream_out")
    },
      incrementalPairOracle("dedup_incremental_stream")),

    // TF-weighted shingle cosine (sparse bag-of-shingles similarity): all
    // arithmetic is exact-integer until the final fixed-order double
    // comparison/division, so the oracle reproduces dot AND sim
    // bit-for-bit. Same postings shape + corpus-derived stop-shingle cap
    // as dedup_ngram_jaccard.
    entry("dedup_tf_cosine", (spark, dir) =>
      Dedup.shingleTfCosinePairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.5),
      // mirrors shingleTfCosinePairs exactly: non-distinct shingles with
      // multiplicity, the same auto df-cap (pruned BEFORE Σtf²), integer
      // dot/sq, the same fixed-order double threshold test and division
      s"""
        |WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |shc AS (SELECT doc_id, list_transform(
        |  range(1, greatest(len(t) - 2, 1) + 1),
        |  i -> array_to_string(t[i:i+2], ' ')) AS s FROM toks),
        |p0 AS (SELECT doc_id, g, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(s) AS g FROM shc) GROUP BY 1, 2),
        |hot AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM p0 GROUP BY g) h
        |  WHERE df > least(${graft.functions.Dedup.MaxDocFreqCeiling},
        |    greatest(${graft.functions.Dedup.MinDocFreqFloor},
        |      ceil(${graft.functions.Dedup.HotShingleFraction} *
        |        (SELECT COUNT(*) FROM documents))))),
        |p AS (SELECT doc_id, g, tf FROM p0 WHERE g NOT IN (SELECT g FROM hot)),
        |sq AS (SELECT doc_id, SUM(tf * tf) AS sq FROM p GROUP BY doc_id),
        |d AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, SUM(x.tf * y.tf) AS dot
        |  FROM p x JOIN p y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
        |  round(CAST(dot AS DOUBLE) /
        |    sqrt(CAST(a.sq AS DOUBLE) * CAST(b.sq AS DOUBLE)), 6) AS sim
        |FROM d JOIN sq a ON d.id_a = a.doc_id JOIN sq b ON d.id_b = b.doc_id
        |WHERE CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) >=
        |  0.25 * (CAST(a.sq AS DOUBLE) * CAST(b.sq AS DOUBLE))""".stripMargin),

    // SimHash candidates (Hamming ≤ maxDist — signature-specific), each
    // pair annotated with its EXACT 3-gram Jaccard so the oracle can
    // recompute and hash-check the similarity column per returned pair;
    // `dist` rides through from the output (engine-specific signature).
    // Bucket-LOCAL verification (simhashDupPairsVerified): the Jaccard is
    // computed inside each capped bucket instead of joining every
    // candidate pair back to its shingle array twice — bit-equal to the
    // join form (DedupSpec), no candidate-pair re-shuffle of KB arrays.
    entry("dedup_simhash", (spark, dir) =>
      Dedup.simhashDupPairsVerified(Tables.read(spark, dir, "documents"),
        "text", "doc_id", bands = 4, maxDist = 3),
      s"""
        |WITH p AS (SELECT id_a, id_b, dist
        |  FROM read_parquet('__OUT__/dedup_simhash/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b, p.dist,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin),

    // LSH-bucketed near-dup pairs over the FULL embeddings table (the old
    // quadratic crossJoin form needed a 1/10 pre-filter even at gate scale
    // and is now spec-only). Candidate set is engine-specific (banded
    // sign-LSH), so the oracle re-derives the cosine VALUE for each
    // returned pair from the embeddings table AND re-checks the threshold
    // — exact precision verified, recall by the banded S-curve (spec'd
    // against the quadratic reference in SimilaritySpec).
    entry("dedup_embedding", (spark, dir) =>
      Similarity.cosineDupPairsBucketed(
        Tables.read(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4),
      // Pair-value oracle (same contract as sim_ann_lsh): rows come from the
      // entry's own output (candidate generation is engine-specific LSH), the
      // cosine for each returned pair is recomputed exactly from the
      // embeddings table and hash-checked, and the threshold is re-applied —
      // any below-threshold pair the engine emitted would drop here and fail
      // the row-count match.
      cosPairOracle("dedup_embedding", 0.4)),

    // SemDeDup (clustered semantic dedup): candidacy from a learned
    // k-means partition instead of random hyperplanes; same pair-value
    // oracle contract as dedup_embedding (precision exact by
    // construction, cluster-boundary recall measured in SimilaritySpec).
    entry("dedup_semantic", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      // k scales with the corpus (SemDeDup rule) so cluster populations
      // — and the quadratic within-cluster verify — stay constant-sized
      Similarity.semanticDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4,
        nClusters = Similarity.semanticClusterCount(emb.count()))
    },
      cosPairOracle("dedup_semantic", 0.4)),

    // PQ-accelerated semantic dedup: same clusters, but each in-cluster
    // pair is first scored from PQ codes (m table lookups) and the exact
    // O(dim) cosine runs only when the Cauchy-Schwarz reconstruction
    // bound allows the pair to reach the threshold — output PROVABLY
    // identical to dedup_semantic (bit-equality spec'd), so the same
    // pair-value oracle applies.
    entry("dedup_semantic_pq", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.semanticDupPairsPq(emb, "vec_id", "embedding",
        threshold = 0.4,
        nClusters = Similarity.semanticClusterCount(emb.count()))
    },
      cosPairOracle("dedup_semantic_pq", 0.4)),

    // STREAMING semantic dedup: the k-means partition is fixed at build
    // (train-once), so cluster assignment is a stateless native
    // projection on arrival; watermark-sealed cluster state emits the
    // SAME verified pairs as the batch form (bit-equality spec'd), so
    // the same pair-value oracle checks both.
    // Incremental semantic dedup (VERDICT r6 item 5): centers fit + the
    // bucket-partitioned member table PERSIST on the even-id corpus; the
    // odd-id batch probes the RELOADED index — assignment is a stateless
    // trained-centers projection, candidates join only the probed
    // buckets' partitions, the corpus is never rescanned or refit. Same
    // pair-value oracle contract as dedup_semantic.
    entry("dedup_semantic_incremental", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
        nClusters = Similarity.semanticClusterCount(corpus.count()))
      val tmp = graft.tools.Scratch.dir("graft_sem_idx")
      Similarity.saveSemanticIndex(idx, s"$tmp/idx")
      val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/idx")
      Similarity.probeSemanticIndex(loaded, batch, "vec_id", "embedding",
        threshold = 0.4)
    },
      cosPairOracle("dedup_semantic_incremental", 0.4)),

    // Multi-assign probe: each batch vector probes its TWO nearest
    // trained centers — boundary pairs the single-bucket probe misses
    // surface, soundness unchanged (every emitted pair's exact cosine
    // is oracle-replayed; completeness/recall is pinned in
    // SimilaritySpec against the exhaustive pairs).
    entry("dedup_semantic_multiprobe", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
        nClusters = Similarity.semanticClusterCount(corpus.count()))
      Similarity.probeSemanticIndexMulti(idx, batch, "vec_id", "embedding",
        threshold = 0.4, nProbe = 2)
    },
      cosPairOracle("dedup_semantic_multiprobe", 0.4)),

    // The ingest LOOP: build on a third of the corpus, probe batch1 and
    // APPEND it (assigned with the trained centers, new files into the
    // touched bucket partitions only — no rebuild, no rescan), then
    // probe batch2 against the UNION. Emitted pairs are batch2 vs
    // corpus∪batch1 — the oracle recomputes every pair's cosine.
    entry("dedup_semantic_ingest", (spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(3)) === 0)
      val batch1 = emb.where(pmod(col("vec_id"), lit(3)) === 1)
      val batch2 = emb.where(pmod(col("vec_id"), lit(3)) === 2)
      val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
        nClusters = Similarity.semanticClusterCount(corpus.count()))
      val tmp = graft.tools.Scratch.dir("graft_sem_ing")
      Similarity.saveSemanticIndex(idx, s"$tmp/idx")
      Similarity.appendSemanticIndex(spark, s"$tmp/idx", batch1,
        "vec_id", "embedding")
      val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/idx")
      Similarity.probeSemanticIndex(loaded, batch2, "vec_id", "embedding",
        threshold = 0.4)
    },
      cosPairOracle("dedup_semantic_ingest", 0.4)),

    // The same probe with the batch arriving as a FILE STREAM: the index
    // is static, assignment is stateless, and the bucket join is
    // stream-static — microbatch boundaries cannot change the output
    // (the dedup_incremental_stream argument), so the batch entry's
    // oracle applies verbatim.
    entry("dedup_semantic_incremental_stream", (spark, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val emb = Tables.read(spark, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
        nClusters = Similarity.semanticClusterCount(corpus.count()))
      val tmp = graft.tools.Scratch.dir("graft_sem_idx_s")
      Similarity.saveSemanticIndex(idx, s"$tmp/idx")
      val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/idx")
      loaded.members.cache()
      val arriving = emb.where(pmod(col("vec_id"), lit(2)) === 1)
        .select("vec_id", "embedding")
      val src = s"$tmp/arrivals"
      arriving.repartition(4).write.parquet(src)
      val stream = spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val pairs = Similarity.probeSemanticIndex(loaded, stream,
        "vec_id", "embedding", threshold = 0.4)
      graft.streaming.EventStream.runToMemory(
        pairs, "dedup_semantic_incremental_stream_out", OutputMode.Append())
      loaded.members.unpersist()
      spark.table("dedup_semantic_incremental_stream_out")
    },
      cosPairOracle("dedup_semantic_incremental_stream", 0.4)),

    entry("dedup_semantic_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val emb = Tables.read(spark, dir, "embeddings")
      val centers = Similarity.semanticCenters(emb, "embedding",
        nClusters = Similarity.semanticClusterCount(emb.count()))
      val vecs = emb.select(col("vec_id"), col("embedding"),
        lit(t0).as("ts"))
      val sentinel = Seq((-1L, Seq.fill(64)(0f),
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("vec_id", "embedding", "ts")
      val clustered = streamWithSentinel(spark, vecs, sentinel,
          delaySec = 3600L)
        // the sentinel only advances the watermark — routed to its own
        // empty bucket so its late ts cannot re-arm a real cluster's
        // seal timeout past the final watermark
        .select(
          when(col("vec_id") < 0, lit(-1L))
            .otherwise(graft.plans.PqExpressions
              .nearestCentroid(col("embedding"), centers).cast("long"))
            .as("bucket"),
          col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("v"), col("ts"))
        .as[graft.streaming.EventStream.ClusteredVec]
      val streamed = graft.streaming.EventStream.cosinePairsStream(
        clustered, threshold = 0.4)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "dedup_semantic_stream_out", OutputMode.Append())
      spark.table("dedup_semantic_stream_out")
        .where(col("id_a") >= 0)
        .distinct()
    },
      cosPairOracle("dedup_semantic_stream", 0.4)),

    // Exact duplicate-span removal (fixed 16-token spans): every span
    // whose text appeared earlier in (doc_id, span_idx) order drops;
    // docs reassemble from surviving spans. groupBy-min first-occurrence
    // + hash join back — no windows over hot span keys.
    entry("dedup_spans", (spark, dir) =>
      graft.functions.Curation.spanDedup(
        Tables.read(spark, dir, "documents"), "text", "doc_id", span = 16),
      // same spanning as the engine: 16-token aligned spans, struct-min
      // first occurrence, ordered reassembly of the kept spans
      raw"""$alignedSpanCtes
        |f AS (SELECT span_text, min(struct_pack(d := doc_id, i := span_idx)) AS first
        |  FROM sp GROUP BY span_text),
        |j AS (SELECT sp.doc_id, sp.span_idx, sp.span_text,
        |  (sp.doc_id = f.first.d AND sp.span_idx = f.first.i) AS keep
        |  FROM sp JOIN f USING (span_text))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN span_text END, ' '
        |    ORDER BY span_idx), '') AS text_dedup
        |FROM j GROUP BY doc_id""".stripMargin),

    // ExactSubstr-style duplicate spans at ARBITRARY token offsets
    // (maximal spans >= 8 tokens occurring at >= 2 corpus locations).
    // The augmentation plants one boilerplate paragraph as a PREFIX of
    // the %7 docs and a SUFFIX of the %11 docs — offsets the fixed
    // 16-token grid of dedup_spans cannot align on; natural fixture
    // repeats fire too. Oracle replays windows/merge on real substrings.
    entry("dedup_exact_substr", (spark, dir) => {
      val docs = boilerDocs(spark, dir)
      Dedup.duplicateSpans(docs, "text", "doc_id", minLen = 8)
    },
      // ExactSubstr replay on REAL window substrings (no hashes): same
      // augmentation, same normalization, duplicated 8-token windows,
      // gap<=8 island merge, maximal-span text rebuilt from the token array
      substrSpansOracle),

    // STREAMING ExactSubstr: window texts stream keyed by their own
    // string; O(1) state per window (held-back first position + flag),
    // second occurrence releases both, later ones emit immediately — no
    // watermark seal. The flagged set is arrival-order independent, so
    // the post-drain island merge equals the batch operator under the
    // SAME oracle (eighteenth streaming twin).
    entry("dedup_exact_substr_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val aug = boilerDocs(spark, dir)
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = aug.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "\u0000sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val wins = streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
        .where(size(split(Dedup.normalizeText(col("text")), " ")) >= 8)
        .select(col("doc_id"),
          posexplode(Dedup.windowStrings(col("text"), 8))
            .as(Seq("p0", "wtxt")))
        .select(col("wtxt"), col("doc_id"), (col("p0") + 1).cast("int").as("p"))
        .as[(String, Long, Int)]
      val flagged = graft.streaming.EventStream.duplicateWindowStream(wins)
      graft.streaming.EventStream.runToMemory(
        flagged.toDF(), "substr_stream_out", OutputMode.Append())
      Dedup.spansFromFlagged(
        spark.table("substr_stream_out").where(col("doc_id") =!= -1L)
          .select("doc_id", "p"),
        aug, "text", "doc_id", minLen = 8)
    },
      // the streaming flagging form merges the identical flagged set
      substrSpansOracle),

    // STREAMING index probe: new docs arrive as a stream and check
    // against the STATIC persisted window index on arrival — window
    // explode + hash semi-join + exact text equality are all stateless
    // per row, so this is the continuous-intake form of
    // dedup_substr_incremental (same oracle; nineteenth streaming twin).
    // Only the post-drain island merge is batch.
    entry("dedup_substr_incremental_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val aug = plantedDocs(spark, dir, riverbank,
        col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
        col("doc_id") % 3 =!= 0 && col("doc_id") % 13 === 0)
      val idx = Dedup.buildSubstrIndex(
        aug.where(col("doc_id") % 3 === 0), "text", "doc_id", minLen = 8)
        .withColumnRenamed("wtxt", "__iw")
      val batch = aug.where(col("doc_id") % 3 =!= 0)
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val flagged = streamWithSentinel(spark,
          batch.select(col("doc_id"), col("text"), lit(t0).as("ts")),
          sentinel, delaySec = 3600L)
        .where(size(split(Dedup.normalizeText(col("text")), " ")) >= 8)
        .select(col("doc_id"),
          posexplode(Dedup.windowStrings(col("text"), 8))
            .as(Seq("p0", "wtxt")))
        .select(col("doc_id"), (col("p0") + 1).cast("int").as("p"),
          col("wtxt"))
        .join(idx, col("wtxt") === col("__iw"), "left_semi")
      graft.streaming.EventStream.runToMemory(
        flagged, "substr_probe_stream_out", OutputMode.Append())
      Dedup.spansFromFlagged(
        spark.table("substr_probe_stream_out")
          .where(col("doc_id") =!= -1L).select("doc_id", "p"),
        batch, "text", "doc_id", minLen = 8)
    },
      // the streaming probe flags the identical window set on arrival
      substrIncrementalOracle),

    // INCREMENTAL ExactSubstr: the %3==0 slice is the indexed corpus
    // (window index round-trips through parquet — the build/probe
    // split), the rest is the new batch; spans of batch docs already
    // present in the index are located without rescanning the corpus.
    // Same plant as text_decontaminate_spans gives deterministic
    // cross-slice spans at arbitrary offsets.
    // The substr ingest LOOP: build the window index on a third of the
    // corpus, APPEND a second third's windows (distinct-merge as new
    // files — probes are semi-joins, so cross-file duplicates are
    // harmless), probe the final third against the union. Plants put
    // the same sentence into corpus docs (prefix) and appended docs
    // (suffix), so the probe must match BOTH index generations.
    entry("dedup_substr_ingest", (spark, dir) => {
      val docs = plantedDocs(spark, dir, riverbank,
        col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
        col("doc_id") % 3 === 1 && col("doc_id") % 5 === 0 ||
          col("doc_id") % 3 === 2 && col("doc_id") % 13 === 0)
      val tmp = graft.tools.Scratch.dir("graft_substr_ing")
      Dedup.buildSubstrIndex(docs.where(col("doc_id") % 3 === 0),
          "text", "doc_id", minLen = 8)
        .write.mode("overwrite").parquet(s"$tmp/idx")
      Dedup.appendSubstrIndex(docs.where(col("doc_id") % 3 === 1),
        "text", "doc_id", minLen = 8, s"$tmp/idx")
      Dedup.probeSubstrIndex(docs.where(col("doc_id") % 3 === 2),
        spark.read.parquet(s"$tmp/idx"), "text", "doc_id", minLen = 8)
    },
      // three-way ingest replay: index windows come from thirds 0 (build)
      // and 1 (append), probes from third 2, plants as in the entry
      crossSpanOracle(plantedTokenCtes(riverbank,
          "doc_id % 3 = 0 AND doc_id % 2 = 0",
          "doc_id % 3 = 1 AND doc_id % 5 = 0",
          "doc_id % 3 = 2 AND doc_id % 13 = 0"),
        "doc_id % 3 = 2", "doc_id % 3 <> 2")),

    entry("dedup_substr_incremental", (spark, dir) => {
      val docs = plantedDocs(spark, dir, riverbank,
        col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
        col("doc_id") % 3 =!= 0 && col("doc_id") % 13 === 0)
      val idx = Dedup.buildSubstrIndex(
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id", minLen = 8)
      val tmp = graft.tools.Scratch.dir("graft_substr_idx")
      idx.write.mode("overwrite").parquet(s"$tmp/idx")
      val loaded = spark.read.parquet(s"$tmp/idx")
      Dedup.probeSubstrIndex(
        docs.where(col("doc_id") % 3 =!= 0), loaded,
        "text", "doc_id", minLen = 8)
    },
      // incremental replay: batch windows IN the indexed slice's window
      // set, islands merged per batch doc
      substrIncrementalOracle),

    // The APPLY form: strike tokens covered only by non-first occurrences
    // of duplicated 8-windows (corpus-first copy survives — keep-one),
    // rebuild affected docs, pass untouched docs through normalized.
    entry("dedup_exact_substr_apply", (spark, dir) => {
      val docs = boilerDocs(spark, dir)
      // checkpointHot: measured faster for THIS standalone entry
      // (9.2-9.5 vs 11.8-14.9 s at 10×); pipeline_pretrain keeps the
      // default — the same flag cost it 5× (see the Dedup scaladoc)
      Dedup.removeDuplicateSpans(docs, "text", "doc_id", minLen = 8,
        checkpointHot = true)
    },
      // keep-one removal replay: first occurrence per duplicated window,
      // per-token keep = any covering first-occurrence window, affected
      // docs rebuilt positionally, untouched docs emitted normalized
      (substrApplyCtesForPipeline +
      "\nSELECT * FROM reb UNION ALL SELECT * FROM unt")))

  /** Pair-value oracle for the incremental (cross-corpus) dedup entries.
    * Beyond recomputing the exact Jaccard per emitted pair, it re-derives
    * the operator's contract from the pairs themselves: corpus side even,
    * incoming side odd (the entry's split), similarity at threshold, one
    * row per pair (DISTINCT) — a wrong-side, below-threshold, or
    * duplicated emission shows up as a row-count mismatch, not just a
    * value mismatch.
    */
  private def incrementalPairOracle(name: String): String = s"""
        |WITH p AS (SELECT DISTINCT id_corpus, id_new
        |  FROM read_parquet('__OUT__/$name/*.parquet')
        |  WHERE id_corpus % 2 = 0 AND id_new % 2 = 1),
        |$shingleCtes,
        |j AS (SELECT p.id_corpus, p.id_new,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_corpus = a.doc_id
        |JOIN sh b ON p.id_new = b.doc_id)
        |SELECT * FROM j WHERE jaccard >= 0.5""".stripMargin

  /** Pair-value oracle for cosine dup-pair entries: rows come from the
    * entry's own output (candidate generation is engine-specific — LSH
    * bands or k-means clusters), the cosine for each returned pair is
    * recomputed exactly from the embeddings table and hash-checked, and
    * the threshold is re-applied — any below-threshold pair the engine
    * emitted would drop here and fail the row-count match.
    */
  private def cosPairOracle(name: String, thr: Double): String = s"""
        |WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/$name/*.parquet')),
        |v AS (SELECT p.id_a, p.id_b,
        |  round(
        |   list_sum(list_transform(range(1, len(a.embedding)+1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(b.embedding)+1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) AS cos_sim
        |  FROM p JOIN embeddings a ON p.id_a = a.vec_id
        |  JOIN embeddings b ON p.id_b = b.vec_id)
        |SELECT id_a, id_b, cos_sim FROM v WHERE cos_sim >= $thr""".stripMargin

  // the keep-one removal replay's CTE chain (aug → … → reb/unt), reused
  // verbatim as the first stage of the pipeline_pretrain composition
  private[queries] val substrApplyCtesForPipeline: String =
    raw"""$boilerTokenCtes
      |$tokenWindowCtes
      |dfw AS (SELECT wtxt, min(struct_pack(d := doc_id, p := p)) AS first
      |  FROM w GROUP BY wtxt HAVING count(*) > 1),
      |fw AS (SELECT w.doc_id, w.p,
      |    CASE WHEN w.doc_id = dfw.first.d AND w.p = dfw.first.p
      |      THEN 1 ELSE 0 END AS isf
      |  FROM w JOIN dfw USING (wtxt)),
      |cov AS (SELECT doc_id, unnest(range(p, p + 8)) AS tp, isf FROM fw),
      |cv AS (SELECT doc_id, tp, max(isf) AS keep FROM cov GROUP BY doc_id, tp),
      |aff AS (SELECT DISTINCT doc_id FROM cv WHERE keep = 0),
      |allt AS (SELECT t.doc_id, unnest(range(1, len(toks) + 1)) AS tp, toks
      |  FROM t JOIN aff USING (doc_id)),
      |at2 AS (SELECT doc_id, tp, toks[tp] AS tok FROM allt),
      |j AS (SELECT a.doc_id, a.tp, a.tok,
      |    CASE WHEN cv.keep = 0 THEN 1 ELSE 0 END AS dropped
      |  FROM at2 a LEFT JOIN cv USING (doc_id, tp)),
      |reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
      |    CAST(sum(dropped) AS INT) AS n_dropped,
      |    coalesce(string_agg(CASE WHEN dropped = 0 THEN tok END, ' '
      |      ORDER BY tp), '') AS text_clean
      |  FROM j GROUP BY doc_id),
      |unt AS (SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
      |    0 AS n_dropped, array_to_string(t.toks, ' ') AS text_clean
      |  FROM t WHERE doc_id NOT IN (SELECT doc_id FROM aff))""".stripMargin

  // incremental span replay — shared by the batch probe and the
  // streaming on-arrival probe (identical flagged set: the join is
  // stateless either way)
  private val substrIncrementalOracle: String =
    crossSpanOracle(plantedTokenCtes(riverbank,
          "doc_id % 3 = 0 AND doc_id % 2 = 0",
          "doc_id % 3 <> 0 AND doc_id % 13 = 0"),
        "doc_id % 3 <> 0", "doc_id % 3 = 0")

  // ExactSubstr span replay — shared by the batch entry and the
  // streaming flagging form (identical flagged set by construction)
  private val substrSpansOracle: String =
    raw"""$boilerTokenCtes
      |$tokenWindowCtes
      |dup AS (SELECT wtxt FROM w GROUP BY wtxt HAVING count(*) > 1),
      |f AS (SELECT doc_id, p FROM w WHERE wtxt IN (SELECT wtxt FROM dup)),
      |$spanIslandCtes
      |$spanRows""".stripMargin

  private lazy val componentsClosureOracle: String =
    raw"""WITH RECURSIVE $minhashComponentCtes
      |SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep_id
      |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** The oracle shared by dedup_exact, dedup_exact_stream. */
  private lazy val dedupExactOracle: String =
    """SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
        |MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin

  /** [[shingleCtes]] under Dedup.ngramJaccardPairs' corpus-derived
    * stop-shingle cap (clamp(ceil(fraction·nDocs), floor, ceiling)):
    * `ex(doc_id, g)` the pruned postings, `sz` the per-doc set sizes and
    * `co(id_a, id_b, n)` the pair intersection counts.
    */
  private lazy val prunedShingleCtes: String =
    s"""$shingleCtes,
       |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |hot AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex0 GROUP BY g) h
       |  WHERE df > least(${graft.functions.Dedup.MaxDocFreqCeiling},
       |    greatest(${graft.functions.Dedup.MinDocFreqFloor},
       |      ceil(${graft.functions.Dedup.HotShingleFraction} *
       |        (SELECT COUNT(*) FROM documents))))),
       |ex AS (SELECT doc_id, g FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
       |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n
       |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)""".stripMargin

  /** The 16-token aligned spans `sp(doc_id, span_idx, span_text)` of the
    * non-blank documents (Curation.spanDedup's spanning).
    */
  private lazy val alignedSpanCtes: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |s AS (SELECT doc_id, toks, n,
         |  unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS si FROM n),
         |sp AS (SELECT doc_id, CAST(si AS INT) AS span_idx,
         |  array_to_string(toks[(si*16+1):least(si*16+16, n)], ' ') AS span_text
         |  FROM s),""".stripMargin
}
