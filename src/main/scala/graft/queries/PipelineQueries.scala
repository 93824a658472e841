package graft.queries

import graft.Tables
import graft.functions.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators as query entries: dedup (exact /
  * MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine), similarity
  * search (brute-force top-k + LSH ANN), text analysis, multimodal
  * plumbing, and event sessionization.
  *
  * Hash-based operators (MinHash/SimHash/fingerprint/ANN) have
  * engine-specific candidate sets (xxhash64 signatures), so their oracles
  * use pair-value verification: the returned id pairs are read back from
  * the entry's own output (`__OUT__` placeholder, resolved by
  * [[graft.Verify]]) and the VALUE columns (exact Jaccard / cosine) are
  * recomputed from the base tables and hash-checked. Inherently
  * approximate sketches (t-digest, HLL) stay rows-only with accuracy
  * bounds in ScalaTest.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(

    "dedup_exact" -> ((spark, dir) =>
      Dedup.exactGroups(Tables.read(spark, dir, "documents"), "text", "doc_id")),

    "dedup_exact_keep" -> ((spark, dir) =>
      Dedup.dropExactDuplicates(Tables.read(spark, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source")),

    "dedup_ngram_jaccard" -> ((spark, dir) =>
      Dedup.ngramJaccardPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.5)),

    // Winnowing (MOSS) fingerprint overlap: positional 4-gram md5
    // hashes, rightmost-min selection per 4-gram window, pairs sharing
    // ≥2 fingerprints with fingerprint-set Jaccard. POSITIONAL overlap
    // detection (any shared ≥7-token run guarantees a shared
    // fingerprint) — the plagiarism-detector guarantee bag-of-shingles
    // schemes don't give.
    "dedup_winnow" -> ((spark, dir) =>
      Dedup.winnowPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 4, w = 4, minShared = 2, maxDf = 50)),

    // Directed containment |sub∩sup|/|sub| ≥ 0.8 — the asymmetric
    // overlap Jaccard misses (a quote inside a long article). Same
    // pruned postings + one self-join; both directions from the single
    // undirected intersection count.
    "dedup_containment" -> ((spark, dir) =>
      Dedup.ngramContainmentPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.8)),

    "dedup_minhash" -> ((spark, dir) =>
      Dedup.minhashDupPairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)),

    // LSH tuning-loop evaluation: pairwise agreement of the two
    // production near-dup paths — MinHash-LSH (bucketed candidates,
    // full-set verify) against the pruned-postings exact jaccard — as
    // one summary row (pair counts, recall, precision). This is the
    // measurement you run before trusting a (bands, maxBucket) setting
    // at scale; both sides are the gate entries' own constructions, so
    // the oracle recomputes the exact side and replays the found side
    // from the dedup_minhash dump (the sim_eval convention).
    "dedup_lsh_eval" -> ((spark, dir) => {
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
    }),

    // Streaming EXACT-dedup groups: the same normalized-text aggregation
    // as `dedup_exact`, run as an Update-mode streaming aggregation and
    // collapsed after the drain (keep_id only ever decreases, n_copies
    // only ever grows — column-wise min/max of the update stream IS the
    // final state). Same oracle as the batch entry. Unbounded-key state
    // is inherent to exact dedup; the eviction-bounded form is
    // dropDuplicatesWithinWatermark (spec'd in StreamingSpec).
    "dedup_exact_stream" -> ((spark, dir) => {
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
    }),

    // STREAMING first-occurrence span dedup: the surviving span per
    // distinct text with its occurrence count — min(doc_id, span_idx)
    // struct and count are SET properties, so the streamed result equals
    // batch whatever the microbatch split; state per span key is O(1)
    // (one struct + one counter), the spanning itself is stateless.
    "dedup_spans_stream" -> ((spark, dir) => {
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
    }),

    // Near-dup CLUSTERING: verified minhash pairs (same params as
    // dedup_minhash, so the identical deterministic pair set) → connected
    // components via alternating large-star/small-star → one row per doc
    // with its canonical representative (component min id; unpaired docs
    // represent themselves). The oracle recomputes the components from
    // the dedup_minhash entry's own (already pair-value-verified) output
    // with a recursive transitive-closure CTE — label parity end-to-end.
    "dedup_components" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      val comp = graft.functions.Components
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep_id"))
    }),

    // The INCREMENTAL INGEST LOOP end-to-end, composed from gate-proven
    // stages: a new batch is admitted only if it (1) is not an exact
    // duplicate of any corpus document, (2) contains no duplicate span
    // >= 8 tokens already in the corpus's window index, and (3) clears
    // the quality gate. Emits every verdict per batch doc so downstream
    // can audit WHICH stage rejected it — the production admission
    // record. Plants guarantee each stage fires: some corpus and batch
    // docs share an exact text, others share an appended span.
    "pipeline_ingest" -> ((spark, dir) => {
      val raven = "the raven sat on the bust of pallas above the chamber door"
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.withColumn("text",
        when(col("doc_id") % 3 =!= 2 && col("doc_id") % 17 === 0, lit(raven))
          .when(col("doc_id") % 3 === 2 && col("doc_id") % 13 === 0, lit(raven))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 3 =!= 2 && col("doc_id") % 2 === 0,
              lit(" " + plant))
              .when(col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0,
                lit(" " + plant))
              .otherwise(lit("")))))
      val corpus = aug.where(col("doc_id") % 3 =!= 2)
      val batch = aug.where(col("doc_id") % 3 === 2)
      val exact = batch.join(
          corpus.select(col("text")).distinct().withColumn("__e", lit(true)),
          Seq("text"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("__e"), lit(false)).as("is_exact"))
      val idx = Dedup.buildSubstrIndex(corpus, "text", "doc_id", minLen = 8)
      val spanned = Dedup.probeSubstrIndex(batch, idx, "text", "doc_id",
          minLen = 8)
        .select(col("doc_id")).distinct().withColumn("__s", lit(true))
      exact.join(spanned, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact"),
          coalesce(col("__s"), lit(false)).as("has_span"),
          TextAnalysis.qualityScoreFromStats(
            TextAnalysis.stats(col("text"))).as("quality"))
        .withColumn("admitted",
          !col("is_exact") && !col("has_span") && col("quality") >= 0.5)
    }),

    // The admission loop as CONTINUOUS INTAKE: every verdict is
    // stateless per arriving doc — the exact check is a stream-static
    // left join on the corpus text set, the span check is the window
    // explode + static-index semi-join (the substr probe stream's
    // shape), quality is a projection. Two append-mode streams over the
    // same arrival feed, verdicts joined after the drain. Same oracle
    // as the batch entry — the twentieth batch ≡ stream twin.
    "pipeline_ingest_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val raven = "the raven sat on the bust of pallas above the chamber door"
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.withColumn("text",
        when(col("doc_id") % 3 =!= 2 && col("doc_id") % 17 === 0, lit(raven))
          .when(col("doc_id") % 3 === 2 && col("doc_id") % 13 === 0, lit(raven))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 3 =!= 2 && col("doc_id") % 2 === 0,
              lit(" " + plant))
              .when(col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0,
                lit(" " + plant))
              .otherwise(lit("")))))
      val corpus = aug.where(col("doc_id") % 3 =!= 2)
      val batch = aug.where(col("doc_id") % 3 === 2)
      val corpusTexts = corpus.select(col("text")).distinct()
        .withColumn("__e", lit(true))
      val idx = Dedup.buildSubstrIndex(corpus, "text", "doc_id", minLen = 8)
        .withColumnRenamed("wtxt", "__iw")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val feed = batch.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val verdicts = streamWithSentinel(spark, feed, sentinel,
          delaySec = 3600L)
        .join(corpusTexts, Seq("text"), "left")
        .select(col("doc_id"),
          coalesce(col("__e"), lit(false)).as("is_exact"),
          TextAnalysis.qualityScoreFromStats(
            TextAnalysis.stats(col("text"))).as("quality"))
      graft.streaming.EventStream.runToMemory(
        verdicts, "ingest_verdict_out", OutputMode.Append())
      val flagged = streamWithSentinel(spark, feed, sentinel,
          delaySec = 3600L)
        .where(size(split(Dedup.normalizeText(col("text")), " ")) >= 8)
        .select(col("doc_id"),
          posexplode(Dedup.windowStrings(col("text"), 8))
            .as(Seq("p0", "wtxt")))
        .join(idx, col("wtxt") === col("__iw"), "left_semi")
      graft.streaming.EventStream.runToMemory(
        flagged.select("doc_id"), "ingest_span_out", OutputMode.Append())
      val spanned = spark.table("ingest_span_out")
        .where(col("doc_id") =!= -1L).distinct().withColumn("__s", lit(true))
      spark.table("ingest_verdict_out").where(col("doc_id") =!= -1L)
        .join(spanned, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact"),
          coalesce(col("__s"), lit(false)).as("has_span"), col("quality"))
        .withColumn("admitted",
          !col("is_exact") && !col("has_span") && col("quality") >= 0.5)
    }),

    // INCREMENTAL near-dup clustering: labels from the old corpus's
    // pairs, then the batch's pairs (anything touching a new doc) merge
    // via quotient-graph contraction — the iterative loop runs over
    // contracted edges only (∝ batch), never the old edge set. Labels
    // are component minima, so the result is IDENTICAL to from-scratch
    // clustering of the full pair set — the oracle IS dedup_components'
    // closure over the same dumped pairs.
    "dedup_components_incremental" -> ((spark, dir) => {
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
    }),

    // NEAR-dup-aware leakage-safe split: the group is the minhash
    // connected component (not just exact copies), so paraphrase-level
    // duplicates can't straddle train/test either. Oracle closes the
    // SAME verified pair output (__OUT__/dedup_minhash) and applies the
    // identical md5 cut to the component label.
    "sample_split_component" -> ((spark, dir) => {
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
    }),

    // Quality-aware near-dup dedup (the FineWeb/RefinedWeb keep rule):
    // same components as dedup_components, but each cluster keeps its
    // HIGHEST-quality member (ties → smallest id) instead of min-id.
    // The argmax is one max(struct(quality, -id)) aggregation — O(1)
    // buffer per component under any cluster-size skew, and the join
    // back is keyed on the component label, so nothing quadratic ever
    // materializes. Quality is the oracle-mirrored composite score, so
    // the whole keep decision is hash-checked end-to-end.
    "dedup_keep_best" -> ((spark, dir) => {
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
    }),

    // The SAME MinHash near-dup as a real Structured Streaming query:
    // signatures/band keys are the identical stateless expressions, the
    // bucket verify runs in flatMapGroupsWithState with bottom-k-capped
    // state, and a bucket emits exactly once when the watermark seals its
    // membership (docs get a constant synthetic event time; the sentinel
    // advances the watermark past it — the bounded-ingest-window shape).
    // Oracle is IDENTICAL to `dedup_minhash`'s pair-value verification —
    // batch ≡ stream under the DuckDB gate for near-dup detection. The
    // post-drain distinct mirrors the batch form's cross-band distinct.
    "dedup_minhash_stream" -> ((spark, dir) => {
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
    }),

    // INCREMENTAL dedup — the daily-crawl shape: even doc_ids play the
    // existing corpus (indexed once via minhashBandIndex), odd doc_ids
    // the new batch; only cross pairs are emitted. Oracle recomputes the
    // exact Jaccard per returned pair AND re-derives the contract from
    // the pair itself: corpus side even, incoming side odd, similarity at
    // threshold, one row per pair (DISTINCT) — a wrong-side, duplicate,
    // or below-threshold emission breaks the row match.
    "dedup_incremental" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val index = Dedup.minhashBandIndex(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      Dedup.crossCorpusDupPairs(index,
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    }),

    // The same incremental matcher with the new batch arriving as a FILE
    // STREAM against the static corpus index: crossCorpusDupPairs is a
    // stateless stream-static join (exactly-once comes from the
    // min-shared-band filter, not from dedup state), so microbatch
    // boundaries cannot change the output. Identical oracle contract to
    // dedup_incremental.
    "dedup_incremental_stream" -> ((spark, dir) => {
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
    }),

    // TF-weighted shingle cosine (sparse bag-of-shingles similarity): all
    // arithmetic is exact-integer until the final fixed-order double
    // comparison/division, so the oracle reproduces dot AND sim
    // bit-for-bit. Same postings shape + corpus-derived stop-shingle cap
    // as dedup_ngram_jaccard.
    "dedup_tf_cosine" -> ((spark, dir) =>
      Dedup.shingleTfCosinePairs(Tables.read(spark, dir, "documents"),
        "text", "doc_id", k = 3, threshold = 0.5)),

    // SimHash candidates (Hamming ≤ maxDist — signature-specific), each
    // pair annotated with its EXACT 3-gram Jaccard so the oracle can
    // recompute and hash-check the similarity column per returned pair;
    // `dist` rides through from the output (engine-specific signature).
    // Bucket-LOCAL verification (simhashDupPairsVerified): the Jaccard is
    // computed inside each capped bucket instead of joining every
    // candidate pair back to its shingle array twice — bit-equal to the
    // join form (DedupSpec), no candidate-pair re-shuffle of KB arrays.
    "dedup_simhash" -> ((spark, dir) =>
      Dedup.simhashDupPairsVerified(Tables.read(spark, dir, "documents"),
        "text", "doc_id", bands = 4, maxDist = 3)),

    // LSH-bucketed near-dup pairs over the FULL embeddings table (the old
    // quadratic crossJoin form needed a 1/10 pre-filter even at gate scale
    // and is now spec-only). Candidate set is engine-specific (banded
    // sign-LSH), so the oracle re-derives the cosine VALUE for each
    // returned pair from the embeddings table AND re-checks the threshold
    // — exact precision verified, recall by the banded S-curve (spec'd
    // against the quadratic reference in SimilaritySpec).
    "dedup_embedding" -> ((spark, dir) =>
      Similarity.cosineDupPairsBucketed(
        Tables.read(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)),

    // SemDeDup (clustered semantic dedup): candidacy from a learned
    // k-means partition instead of random hyperplanes; same pair-value
    // oracle contract as dedup_embedding (precision exact by
    // construction, cluster-boundary recall measured in SimilaritySpec).
    "dedup_semantic" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      // k scales with the corpus (SemDeDup rule) so cluster populations
      // — and the quadratic within-cluster verify — stay constant-sized
      Similarity.semanticDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4,
        nClusters = Similarity.semanticClusterCount(emb.count()))
    }),

    // PQ-accelerated semantic dedup: same clusters, but each in-cluster
    // pair is first scored from PQ codes (m table lookups) and the exact
    // O(dim) cosine runs only when the Cauchy-Schwarz reconstruction
    // bound allows the pair to reach the threshold — output PROVABLY
    // identical to dedup_semantic (bit-equality spec'd), so the same
    // pair-value oracle applies.
    "dedup_semantic_pq" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.semanticDupPairsPq(emb, "vec_id", "embedding",
        threshold = 0.4,
        nClusters = Similarity.semanticClusterCount(emb.count()))
    }),

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
    "dedup_semantic_incremental" -> ((spark, dir) => {
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
    }),

    // Multi-assign probe: each batch vector probes its TWO nearest
    // trained centers — boundary pairs the single-bucket probe misses
    // surface, soundness unchanged (every emitted pair's exact cosine
    // is oracle-replayed; completeness/recall is pinned in
    // SimilaritySpec against the exhaustive pairs).
    "dedup_semantic_multiprobe" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
        nClusters = Similarity.semanticClusterCount(corpus.count()))
      Similarity.probeSemanticIndexMulti(idx, batch, "vec_id", "embedding",
        threshold = 0.4, nProbe = 2)
    }),

    // The ingest LOOP: build on a third of the corpus, probe batch1 and
    // APPEND it (assigned with the trained centers, new files into the
    // touched bucket partitions only — no rebuild, no rescan), then
    // probe batch2 against the UNION. Emitted pairs are batch2 vs
    // corpus∪batch1 — the oracle recomputes every pair's cosine.
    "dedup_semantic_ingest" -> ((spark, dir) => {
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
    }),

    // The same probe with the batch arriving as a FILE STREAM: the index
    // is static, assignment is stateless, and the bucket join is
    // stream-static — microbatch boundaries cannot change the output
    // (the dedup_incremental_stream argument), so the batch entry's
    // oracle applies verbatim.
    "dedup_semantic_incremental_stream" -> ((spark, dir) => {
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
    }),

    "dedup_semantic_stream" -> ((spark, dir) => {
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
    }),

    "sim_topk_brute" -> ((spark, dir) => {
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
    }),

    // Chunk→document mean pooling (RAG ingest): every 4 consecutive
    // chunk vectors pool into one document vector on the ×2^20 integer
    // plane — exact integer sums, one truncating div, so the pooled
    // vector is identical under any partitioning (a float mean is not).
    "embed_pool" -> ((spark, dir) =>
      Similarity.meanPoolFixedPoint(
        Tables.read(spark, dir, "embeddings"),
        expr("vec_id div 4"), col("embedding"))),

    // Hourly session-concurrency by sweep-line: 30-min-gap sessions
    // (min/max event ts per session), +1/−1 deltas aggregated PER HOUR
    // first (partial-agg), then ONE cumulative window over the
    // metadata-sized hour spine — never a window over raw rows. The
    // how-many-users-are-on-right-now operator.
    "events_concurrency" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
      graft.functions.EventOps.concurrencySweep(ev
        .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
        .agg(min("ts_s").as("s"), max("ts_s").as("e"))
        .select(date_trunc("hour", col("s")).as("sh"),
          date_trunc("hour", col("e")).as("eh")))
    }),

    // Streaming twin #29 — the same concurrency from a live stream:
    // native session_window aggregation seals each 30-min-gap session
    // exactly once in Append mode (watermark past its close), the sink
    // table holds (user, start, end), and the metadata-sized sweep
    // projects from the sealed sessions. SAME oracle as the batch form.
    "events_concurrency_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val sess = streamWithSentinel(spark, ev, sentinel, delaySec)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min("ts").as("s"), max("ts").as("e"))
        .select(col("user_id"), col("s"), col("e"))
      graft.streaming.EventStream.runToMemory(
        sess, "events_concurrency_stream_out", OutputMode.Append())
      graft.functions.EventOps.concurrencySweep(
        spark.table("events_concurrency_stream_out")
          .where(col("user_id") >= 0)
          .select(date_trunc("hour", col("s")).as("sh"),
            date_trunc("hour", col("e")).as("eh")))
    }),

    // Diversity-aware rerank: MMR greedy over the cosine top-30
    // shortlist, 5 selections maximizing 0.5·rel − 0.5·maxSim-to-
    // selected (ties → lower id). The greedy runs per query over the
    // BOUNDED shortlist via flatMapGroups — queries parallelize, no
    // driver collect; the oracle replays the full recursion.
    "sim_mmr" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", m = 30, k = 5)
    }),

    // Binary-quantized ANN: 64-dim float32 → two 32-bit sign words
    // (256× smaller scan), per-query Hamming top-10 (ties → lower id),
    // exact cosine re-score joined back for ONLY the winners — the
    // sig-scan-then-float-rescore memory hierarchy of a binary vector
    // store. Integer Hamming + the recomputed cosine both hash-check.
    "sim_hamming" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, k = 10)
    }),

    // ANN candidate sets are probe-order-specific, but the emitted cosine
    // is EXACT: the oracle recomputes it per returned (query, neighbor)
    // pair from the embeddings table and hash-checks the value column.
    "sim_ann_lsh" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nBits = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Greedy k-center coreset over the embedding corpus: 12 maximally
    // diverse vectors (decreasing coverage-radius sequence). The oracle
    // replays the full greedy recursion — seed, argmax-of-min-distance,
    // and the (dist desc → id asc) tie-break — via a recursive CTE.
    "sample_kcenter" -> ((spark, dir) =>
      Similarity.kCenterGreedy(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding", k = 12)),

    // Scale-safe k-center (VERDICT r6 item 2): hash-bounded 64-vector
    // sample → local greedy selection → ONE distributed assign/max pass
    // (two corpus passes total, flat in k — vs kCenterGreedy's k passes).
    // The oracle replays the sample cut, the greedy recursion over the
    // sample, and the per-center assignment count + coverage radius.
    "sample_kcenter_scalable" -> ((spark, dir) =>
      Similarity.kCenterSampled(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 12, sampleCap = 64)),

    // Symmetric int8 embedding quantization (codes + per-vector scale):
    // portable floor-based rounding, oracle mirrors every IEEE step.
    // Emitted exploded to (vec_id, idx, code, scale) scalar rows so every
    // individual code is value-checked (array columns also defeat the
    // harness's sort-based canonicalization).
    "embed_quantize" -> ((spark, dir) =>
      Similarity.int8Quantize(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("idx", "code")),
          col("scale"))),

    // JL random projection 64 → 16 dims with the deterministic hash-
    // sign matrix — the dimensionality-reduction hop before ANN; every
    // projected coordinate is an exact integer the oracle recomputes.
    "embed_project" -> ((spark, dir) =>
      Similarity.randomProject(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding",
        outDims = 16)),

    // Same operator in its production shape (VERDICT r6 item 3): the
    // pure projection, one row per vector, codes value-checked through a
    // per-row md5 digest instead of the scalar-row explode — this is the
    // entry the bench headline times, so the number reflects operator
    // cost, not verification shape.
    "embed_quantize_digest" -> ((spark, dir) =>
      Similarity.int8Quantize(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          md5(concat_ws(",",
            transform(col("codes"), c => c.cast("string")))).as("codes_md5"),
          col("scale"))),

    // Distributed covariance/PCA prep: EXACT Gram moments (n, Σqᵢ, Σqⱼ,
    // Σqᵢqⱼ over the upper triangle) of the ×2²⁰-quantized embeddings
    // via the native GramMoments aggregate — ONE ~16 KB buffer per
    // partition crosses the exchange instead of dim²/2 exploded rows
    // per vector (the relational form the oracle replays). Lossless
    // power-of-two quantization keeps every moment integer-exact.
    "embed_covariance" -> ((spark, dir) =>
      Tables.read(spark, dir, "embeddings")
        .select(transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0).cast("long")).as("qv"))
        .agg(graft.plans.GramMoments.gramMoments(col("qv"), 64).as("m"))
        .select(explode(col("m")).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"),
          col("e.sum_i").as("sum_i"), col("e.sum_j").as("sum_j"),
          col("e.sum_ij").as("sum_ij"), col("e.n").as("n"))),

    // Embedding hygiene: L2-normalize + zero-vector flag (vectors at
    // vec_id % 101 == 0 are zeroed deterministically to exercise the
    // guard). Exploded to (vec_id, idx, val) rows, values rounded 6dp
    // on both sides (the sim-oracle float-parity convention).
    "embed_normalize" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
        .withColumn("embedding", when(col("vec_id") % 101 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")))
      Similarity.normalizeEmbeddings(emb, "vec_id", "embedding")
        .select(col("vec_id"), round(col("l2_norm"), 6).as("l2_norm"),
          col("is_zero"), posexplode(col("unit")).as(Seq("idx", "val")))
        .select(col("vec_id"), col("idx"), round(col("val"), 6).as("val"),
          col("l2_norm"), col("is_zero"))
    }),

    // ANN quality evaluation: recall@10 + reciprocal rank of the LSH
    // index against the exact top-10 — the tuning-loop metrics as a
    // relational op. The oracle reads the sim_ann_lsh dump (identical
    // by determinism to the annTopK recomputed here) and rebuilds the
    // exact side with the sim_topk_brute construction.
    "sim_eval" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 10)
      val approx = Similarity.annTopK(emb, queries, "vec_id", "embedding",
        k = 10, nBits = 8)
      Similarity.evaluateAnn(approx, exact, k = 10)
    }),

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
    "sim_knn_sweep" -> ((spark, dir) => {
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
    }),

    // IVF coarse-quantizer ANN: KMeans lists + nProbe search (the
    // clustered-data scale path; LSH above is the data-independent one).
    // Same pair-value verification contract as sim_ann_lsh.
    "sim_ivf" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.search(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Self-KNN graph: every corpus vector's exact-cosine top-5 among
    // its 2 nearest lists' members — the corpus-sized self-join form
    // (shuffle join on list_id, no query broadcast), not search() with
    // corpus-as-queries. Same pair-value oracle as the ANN searches.
    "sim_knn_graph" -> ((spark, dir) => {
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
    }),

    // Product-quantization ANN: 64-dim floats → 8 codes (32× memory cut),
    // ADC table-lookup scan over the codes, exact cosine re-score of the
    // shortlist. Same pair-value verification contract as the other ANN
    // entries (emitted sims are exact — PQ affects recall only).
    "sim_pq" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.PqIndex.build(emb, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.functions.PqIndex.search(index, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // IVF-PQ (FAISS IVFADC shape): coarse lists prune to nProbe/nLists of
    // the corpus AND the pruned scan reads residual codes, not vectors —
    // both scale levers composed. Exact re-score; same oracle contract.
    "sim_ivfpq" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.PqIndex.buildIvfPq(emb, "vec_id",
        "embedding", nLists = 16, m = 8, ksub = 16)
      graft.functions.PqIndex.searchIvfPq(index, emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // BATCH append-without-rebuild IVF-PQ ingest: quantizers train on
    // the base corpus only; the held-out batch is encoded with the
    // LOADED quantizers (round-trip on the hot path) and appended into
    // the touched list partitions; the re-loaded index searches the
    // union. Same pair-value oracle family as sim_ivfpq — every emitted
    // (query, neighbor) pair's exact sim and rank are DuckDB-replayed.
    "sim_ivfpq_ingest" -> ((spark, dir) => {
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
    }),

    // STREAMING encode-on-arrival IVF-PQ ingest: quantizers train once
    // (batch build), the codes dir is wiped, and every vector re-enters
    // through the file-stream encode (stateless projections → arrival
    // order irrelevant) appending to the list-partitioned layout; the
    // re-loaded index answers the same search. Same pair-value oracle as
    // sim_ivfpq — the streamed index must produce identical exact sims.
    "sim_ivfpq_stream" -> ((spark, dir) => {
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
    }),

    // Two-wave IVF with residual-bound pruning: wave 1 probes 2 lists,
    // wave 2 considers 4 but exact-scores only lists whose residual bound
    // could beat the query's current k-th similarity (IvfIndexSpec proves
    // equality with the full 4-probe search). Same pair-value oracle.
    "sim_ivf_refined" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.searchRefined(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe1 = 2, nProbe2 = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Per-source corpus profile — the summary a pipeline operator reads
    // before choosing mix weights: doc/lang counts, exact char/token
    // totals, and double averages derived from exact integer sums (one
    // IEEE division each — portable).
    "corpus_profile" -> ((spark, dir) => {
      val t = col("text")
      Tables.read(spark, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(t).cast("long").as("tk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("tk")).as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("total_chars"), col("total_tokens"), col("min_chars"),
          col("max_chars"),
          (col("total_chars").cast("double") / col("n_docs").cast("double"))
            .as("avg_chars"),
          (col("total_tokens").cast("double") / col("n_docs").cast("double"))
            .as("avg_tokens"))
    }),

    "text_stats" -> ((spark, dir) => {
      val t = col("text")
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        TextAnalysis.bpeishTokenCount(t).cast("long").as("n_bpeish"),
        TextAnalysis.charCount(t).cast("long").as("char_len"),
        TextAnalysis.punctRatio(t).as("punct_ratio"),
        TextAnalysis.digitRatio(t).as("digit_ratio"),
        TextAnalysis.stopwordRatio(t).as("stopword_ratio"),
        TextAnalysis.meanTokenLength(t).as("mean_tok_len"),
        TextAnalysis.qualityScore(t).as("quality"))
    }),

    // The canonical Gopher document filter as one projection: every rule
    // verdict plus the conjunction, all thresholds in exact integer
    // arithmetic (no IEEE ratio anywhere) so the DuckDB replay matches
    // bit-for-bit by construction.
    "text_gopher_rules" -> ((spark, dir) =>
      TextAnalysis.gopherRules(
        Tables.read(spark, dir, "documents"), "text", "doc_id")),

    // Same metrics as text_stats from the single-pass native expression
    // (plans/TextStatsExpr): one string scan instead of ~6 regex passes.
    // Per-row equality with the HOF form is proven in TextStatsExprSpec,
    // so it shares text_stats' oracle.
    "text_stats_native" -> ((spark, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          graft.plans.TextStatsExpr.textStats(col("text")).as("s"))
        .select(col("doc_id"),
          col("s.n_tokens").as("n_tokens"),
          col("s.n_bpeish").as("n_bpeish"),
          col("s.char_len").as("char_len"),
          (d(col("s.n_punct")) / d(greatest(col("s.char_len"), lit(1)))).as("punct_ratio"),
          (d(col("s.n_digit")) / d(greatest(col("s.char_len"), lit(1)))).as("digit_ratio"),
          (d(col("s.n_stop")) / d(greatest(col("s.n_tokens"), lit(1)))).as("stopword_ratio"),
          (d(col("s.tok_len_sum")) / d(greatest(col("s.n_tokens"), lit(1)))).as("mean_tok_len"))
        .withColumn("quality",
          least(d(col("n_tokens")) / lit(100.0), lit(1.0)) * lit(0.4) +
            least(col("stopword_ratio") * lit(4.0), lit(1.0)) * lit(0.3) +
            greatest(lit(1.0) - (col("punct_ratio") + col("digit_ratio")) * lit(2.0),
              lit(0.0)) * lit(0.3))
    }),

    "text_langid" -> ((spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    // Char-bigram novelty over deterministically garbled fixture text
    // (every 13th doc gets an md5-hex suffix — bigrams clean text never
    // mints): rare = df below the integer-ceil 5% threshold; novelty =
    // one division of exact counts. Clean docs score 0.
    "text_bigram_novelty" -> ((spark, dir) =>
      TextAnalysis.bigramNovelty(
        Tables.read(spark, dir, "documents")
          .withColumn("text", when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" "),
              substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8)))
            .otherwise(col("text"))),
        "text", "doc_id")),

    // Compression-ratio quality signal (Gopher-style): deflate size /
    // byte size per doc. The deflate count is a per-run signal and
    // passes through the oracle (q_tdigest pattern); n_bytes and the
    // ratio division are value-checked exactly.
    "text_compression" -> ((spark, dir) =>
      TextAnalysis.compressionSignal(
        Tables.read(spark, dir, "documents"), "text", "doc_id")),

    // Hashed linear classifier scoring (fastText-style apply): margin =
    // exact integer weight sum / n_tokens, one IEEE division — scores
    // at scan speed, no shuffle. The md5-derived table is the seam a
    // trained weight vector plugs into.
    "text_score_linear" -> ((spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.linearScore(col("text")).as("margin"))
        .withColumn("admitted", col("margin") > 0)),

    // Gopher-style repetition quality signals (dup k-gram fractions via
    // one native shingle pass per k; top-bigram multiplicity via a
    // two-phase (doc, bigram) aggregation)
    "text_repetition" -> ((spark, dir) =>
      TextAnalysis.repetitionSignals(
        Tables.read(spark, dir, "documents"), "text", "doc_id")),

    // Canonical normalization over deterministically unicode-augmented
    // fixture text (the synthetic corpus is pure ASCII, so each doc gets
    // decomposed accents, a control char, and doubled whitespace derived
    // from its own id — the oracle performs the IDENTICAL augmentation,
    // then DuckDB's utf8proc NFC must agree byte-for-byte with the
    // JDK normalizer under the same strip → compose → collapse order).
    "text_normalize" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"),
        // DECOMPOSED accents (base letter + combining mark) so NFC has
        // real composition work; BEL is the stripped control char
        concat(col("text"), lit("  cafe\u0301"),
          when(col("doc_id") % 3 === 0, lit(" man\u0303ana"))
            .when(col("doc_id") % 3 === 1, lit(" u\u0308ber"))
            .otherwise(lit(" fiance\u0301e")),
          lit("\u0007\t "), col("source")).as("t"))
      aug.select(col("doc_id"),
        TextAnalysis.normalizeText(col("t")).as("normalized"))
    }),

    // Collocation mining: top-50 adjacent bigrams by pointwise lift
    // (raw p(xy)/(p(x)p(y)) ratio — IEEE-exact ÷/× only, no ln — with
    // a min-support cut), ties broken lexicographically.
    "text_collocations" -> ((spark, dir) =>
      TextAnalysis.collocations(Tables.read(spark, dir, "documents"),
        "text", minCount = 5L, k = 50)),

    // Corpus boilerplate detector: top-50 word-3-grams by document
    // frequency (exact; the bounded-shuffle estimate is the MisraGries
    // sketch, spec-verified against its n/(m+1) error bound)
    "text_topk_ngrams" -> ((spark, dir) =>
      TextAnalysis.topNgramsByDocFreq(
        Tables.read(spark, dir, "documents"), "text", k = 50)),

    // The SAME top-50 through the Misra-Gries sketch run in its exact
    // regime: capacity 2¹⁹ ≥ corpus 3-gram vocabulary (27k at sf0.1,
    // ~272k at the 10× scale-up whose per-replica token permutation
    // mints fresh shingles), so no counter is ever decremented and
    // every estimate IS the true document frequency — the sketch
    // becomes hash-gatable against the exact oracle. The shuffle
    // carries one bounded sketch per partition (≤ capacity entries)
    // instead of one row per distinct gram, which is the 100 TB shape:
    // shuffle volume is a constant, not vocabulary-sized. (At real
    // scale capacity ≪ vocab and the sketch is the spec-verified
    // estimate; this entry pins the exact-mode contract at every gate
    // scale.)
    "text_topk_sketch" -> ((spark, dir) => {
      val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
      Tables.read(spark, dir, "documents")
        .select(explode(
          graft.plans.ShingleStringsF.shingleStrings(toks, 3)).as("ngram"))
        .agg(graft.plans.MisraGries.sketch(col("ngram"), 1 << 19).as("sk"))
        .select(explode(slice(col("sk"), 1, 50)).as("e"))
        .select(col("e.item").as("ngram"), col("e.est").as("doc_freq"))
    }),

    // PII redaction over deterministically PII-augmented fixture text
    // (the synthetic corpus carries no addresses, so each doc gets an
    // email/IP/phone derived from its own id and source — the oracle
    // performs the IDENTICAL augmentation, then the identical sequential
    // count-and-replace with the same pattern strings).
    "text_redact" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" reach "), col("source"),
          lit("@example.com or 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1-555-"),
          lpad(col("doc_id").cast("string"), 7, "0")).as("text"))
      TextAnalysis.redactPii(aug, "text", "doc_id")
    }),

    // Markup stripping over deterministically HTML-augmented fixture
    // text (the synthetic corpus is plain text, so docs get wrapped in
    // tags + entities derived from their ids): tags → spaces, entities
    // unescape in the fixed non-double-unescape order, whitespace
    // renormalizes — the WET-extraction pass as one codegen'd
    // projection, mirrored verbatim by the oracle.
    "text_strip_markup" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("<html><body class=\"page\"><p>")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>"))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("</p></body></html>"))
            .otherwise(lit(""))).as("t"))
      aug.select(col("doc_id"),
        size(regexp_extract_all(col("t"),
          lit(graft.functions.Curation.TagRe), lit(0)))
          .cast("long").as("n_tags"),
        graft.functions.Curation.stripMarkup(col("t")).as("clean"))
    }),

    // Winnowing fingerprint + simhash are xxhash64-based (engine-specific,
    // spec-verified; they ride through the oracle from the output file);
    // fp_exact (md5 of normalized text) and fp_min (min md5-prefix over
    // 3-shingles — a 1-permutation minhash) are portable and recomputed
    // by the oracle per doc, so the entry is hash-checked.
    "text_fingerprint" -> ((spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        Dedup.simhash(col("text")).as("simhash"),
        md5(Dedup.normalizeText(col("text")).cast("binary")).as("fp_exact"),
        array_min(transform(Dedup.shingles(col("text"), 3),
          s => substring(md5(s.cast("binary")), 1, 16))).as("fp_min"))),

    "multimodal_ingest" -> ((spark, dir) =>
      Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
        .select(col("doc_id"),
          col("meta.size_bytes").cast("long").as("size_bytes"),
          col("meta.magic").as("magic"),
          // real magic-byte parse; text payloads classify as "unknown"
          Multimodal.mediaHeader(col("content")).getField("format")
            .as("media_format"))),

    // Per-frame PCM energy (silence detection / loudness audit): the
    // payload bytes decode as 16-bit little-endian samples entirely
    // inside the row — hex-plane sample decode, signed conversion,
    // exact Σs² fold; only (id, frame, energy) scalars leave the row.
    "multimodal_pcm_energy" -> ((spark, dir) =>
      Multimodal.pcmFrameEnergy(
        Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
          .select(col("doc_id"), col("content")),
        "doc_id", "content", frameSamples = 64)),

    // Bounded-contribution aggregation — the differential-privacy
    // preprocessing primitive: each user's per-type contribution clips
    // at the cap BEFORE the rollup, bounding any one user's influence
    // on the released aggregate. Raw sums ride along to expose the
    // clipped mass. Two partial-aggregated levels, exact integers.
    "table_dp_bounded" -> ((spark, dir) =>
      Tables.read(spark, dir, "events")
        .select(col("event_type"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id")
        .agg(sum("cents").as("user_cents"), count(lit(1)).as("user_rows"))
        .groupBy("event_type")
        .agg(sum(least(col("user_cents"), lit(10000L)))
          .as("bounded_cents"),
          sum(col("user_cents")).as("raw_cents"),
          sum(least(col("user_rows"), lit(20L))).as("bounded_rows"),
          sum(col("user_rows")).as("raw_rows"),
          count(lit(1)).as("n_users"))),

    // Deterministic masking/pseudonymization (the governance release
    // step): stable md5 surrogate for the name (joinable across tables,
    // irreversible), last-4 retention, account balance
    // generalized to $1000 buckets — every rule a pure projection.
    "table_masking" -> ((spark, dir) =>
      Tables.read(spark, dir, "customer")
        .select(col("c_custkey"),
          concat(lit("cust-"),
            substring(md5(col("c_name").cast("binary")), 1, 12))
            .as("name_token"),
          concat(lit("***"),
            expr("substring(c_name, length(c_name) - 3, 4)"))
            .as("name_last4"),
          (floor(col("c_acctbal") / 1000.0).cast("long") * 1000L)
            .as("acctbal_bucket"))),

    // Exact media dedup over deterministically planted re-uploads (every
    // doc_id % 7 == 3 doc carries the payload of doc_id − 3): group by
    // payload digest — only digests + ids shuffle, never the bytes.
    "multimodal_dedup" -> ((spark, dir) => {
      val base = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val donor = base.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val planted = base
        .withColumn("src", when(col("doc_id") % 7 === 3,
          col("doc_id") - 3).otherwise(col("doc_id")))
        .join(donor, col("src") === col("src_id"))
        .select(col("doc_id"), col("src_text"))
      Multimodal.exactMediaGroups(
        Multimodal.ingest(planted, "src_text"), "content", "doc_id")
    }),

    // Partition-iterator decode with the integer byte-histogram codec:
    // features are bit-exact (integers inside float32's exact range), so
    // the emitted scalar summaries are hash-checked against a DuckDB
    // recompute of the byte buckets (hex-nibble decode of the payload).
    // Features stay distributed as Array[Float]; only scalar summaries
    // are emitted (driver compare can't sort array cells).
    "multimodal_features" -> ((spark, dir) => {
      val withBin = Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
        .select("doc_id", "content")
      Multimodal.decodePartitions(withBin, "content",
          new Multimodal.ByteHistCodec(16))
        .select(col("doc_id"),
          size(col("features")).as("n_feats"),
          element_at(col("features"), 1).cast("long").as("f0"),
          aggregate(col("features"), lit(0L),
            (acc, x) => acc + x.cast("long")).as("feat_sum"))
    }),

    // Context-window chunking: every doc becomes sliding 16-token windows
    // at stride 8 (50% overlap) — the training-sequence preparation step.
    // Pure generate+projection, no shuffle; chunk boundaries and the short
    // tail chunk are pinned by the oracle.
    "text_chunk" -> ((spark, dir) =>
      graft.functions.Curation.chunkByTokens(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        window = 16, stride = 8)),

    // Deterministic training-shard assignment: portable md5 shard + the
    // md5-ordered position inside each shard (the global example
    // shuffle). Both columns are pure functions of doc_id, so the oracle
    // recomputes the whole layout independently.
    "text_shard" -> ((spark, dir) =>
      graft.functions.Curation.shardAssignments(
          Tables.read(spark, dir, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Deterministic weighted source interleave (stride scheduling /
    // WFQ): every prefix of the emitted order holds sources in
    // proportion to their weights to within one example. Weights are a
    // deterministic function of the source name (1 + len%3) so the
    // oracle can replay the whole schedule — vtime AND the global
    // position are both value-checked. Both ranking phases are
    // two-phase prefix sums (no corpus-wide window).
    "mix_interleave" -> ((spark, dir) =>
      graft.functions.Curation.interleaveBySource(
        Tables.read(spark, dir, "documents"), "doc_id", "source",
        s => lit(1.0) + (length(s) % 3).cast("double"))),

    // Per-source quality percentile calibration: quality re-expressed
    // as the within-source percentile ((rank−1)/(n−1), row_number
    // tie-break by id; 0.5 for singleton sources) — per-domain
    // normalization before a global threshold. Two-phase bucketed
    // ranking, totals broadcast.
    "text_quality_pct" -> ((spark, dir) =>
      graft.functions.Curation.qualityPercentiles(
        Tables.read(spark, dir, "documents"), "text", "doc_id", "source")),

    // Per-source cap: at most 10 docs per source, best (quality desc,
    // id) first, with final ranks — the anti-monopoly rule applied
    // before mixing. Salted two-phase top-N (nSalts=4 so phase-1 salt
    // groups are multi-row at this scale); oracle is the flat window.
    "sample_source_cap" -> ((spark, dir) =>
      graft.functions.Curation.sourceCap(
        Tables.read(spark, dir, "documents"), "text", "doc_id", "source",
        cap = 10, nSalts = 4)),

    // Repeat-factor upsampling: source weight 0.5/1.2/1.9 (from the
    // name, deterministic) ⇒ whole epochs + md5-uniform fractional
    // membership. Pure projection+generate; replica set is a function
    // of the id alone.
    "mix_epochs" -> ((spark, dir) =>
      graft.functions.Curation.epochRepeat(
        Tables.read(spark, dir, "documents"), "doc_id", "source",
        s => lit(0.5) + (length(s) % 3).cast("double") * lit(0.7))),

    // The SAME epoch expansion as a streaming query: epochRepeat is a
    // stateless projection+generate, so it maps over microbatches with
    // no state at all (the Append-mode identity case) — each arriving
    // doc emits its replicas immediately. Oracle IDENTICAL to
    // mix_epochs: batch ≡ stream for the stateless operator class.
    "mix_epochs_stream" -> ((spark, dir) => {
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
    }),

    // BPE vocabulary induction: six merge iterations over the corpus,
    // emitting the merge table a tokenizer trainer produces. The
    // oracle replays ALL six iterations — counts, tie-breaks, and the
    // evolving corpus — in one recursive CTE.
    "text_bpe_vocab" -> ((spark, dir) =>
      graft.functions.Curation.bpeMergeTable(
        Tables.read(spark, dir, "documents"), "text", k = 6)),

    // The tokenizer ENCODE step: induce the 6-merge table, then apply
    // it to every document (later merges see earlier fusions). The
    // oracle is the recursive induction CTE's FINAL corpus state —
    // table and application verified together, end-to-end.
    "text_bpe_apply" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeMergeTable(docs, "text", k = 6)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeApply(docs, "text", "doc_id", merges)
    }),

    // CHARACTER-level BPE induction, the classic weighted-vocab
    // formulation: ONE corpus pass builds the word histogram; all 8
    // merge iterations run over the tiny weighted vocab (pair counts
    // weighted by word frequency, empty joiner — chars concatenate,
    // "</w>" word-end marker). The oracle replays every iteration over
    // the same histogram in one recursive CTE.
    "text_bpe_char_vocab" -> ((spark, dir) =>
      graft.functions.Curation.bpeCharVocab(
        Tables.read(spark, dir, "documents"), "text", k = 8)),

    // The char-level ENCODE: induce the 8-merge table, then fold it
    // over every document's char stream (doc-level apply is exact —
    // merge pairs cannot span the word-end marker). n_pieces is the
    // REAL tokens-per-doc count, vs the whitespace proxy.
    "text_bpe_char_apply" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeCharApply(docs, "text", "doc_id", merges)
    }),

    // The PRODUCTION encode shape: fold the merges over the VOCABULARY
    // (k vocab passes, not k corpus passes), re-encode docs by one
    // word → pieces join. Same output, same oracle — the plan is the
    // one that survives a 50k-merge tokenizer.
    "text_bpe_char_apply_vocab" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeCharApplyVocab(docs, "text", "doc_id", merges)
    }),

    // WordPiece vocabulary induction (BERT recipe): BPE's histogram
    // machinery with the LIKELIHOOD objective — merge the pair
    // maximizing cnt(a,b)/(cnt(a)·cnt(b)), compared on the exact
    // fixed-point integer plane (score_fp = cnt·10^18 div ca·cb; Spark
    // decimal `div` and DuckDB `//` truncate identically) so the argmax
    // and the emitted score hash-match across engines.
    "text_wordpiece_vocab" -> ((spark, dir) =>
      graft.functions.Curation.wordpieceVocab(
        Tables.read(spark, dir, "documents"), "text", k = 8)),

    // WordPiece ENCODE: greedy longest-match-first (the BERT inference
    // rule) via the native per-word kernel over the final piece
    // inventory (alphabet + merges), documents re-encoded by ONE
    // word → pieces join. Oracle: the induction replay CTE plus a
    // greedy-match recursion per distinct word.
    "text_wordpiece_apply" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .wordpieceVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      val pieces = graft.functions.Curation
        .wordpieceFinalVocab(docs, "text", merges)
      graft.functions.Curation.wordpieceApply(docs, "text", "doc_id", pieces)
    }),

    // Streaming WordPiece encode (twin of text_wordpiece_apply): the
    // piece inventory trains batch-side, then documents arrive as a
    // stream and encode through the per-row greedy kernel — a STATELESS
    // projection (no join, no aggregation, Append mode), exactly-once
    // under any microbatch split, SAME oracle as the batch entry.
    "text_wordpiece_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .wordpieceVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      val pieces = graft.functions.Curation
        .wordpieceFinalVocab(docs, "text", merges)
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val enc = graft.functions.Curation.wordpieceApplyPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "text", "doc_id", pieces)
      graft.streaming.EventStream.runToMemory(
        enc, "text_wordpiece_stream_out", OutputMode.Append())
      spark.table("text_wordpiece_stream_out")
        .where(col("doc_id") =!= -1L)
    }),

    // Hashing-trick featurization: lowercase whitespace tokens hashed
    // (portable md5-prefix) into 256 buckets, sparse (doc, feature, tf)
    // rows — the vocabulary-free representation quality classifiers
    // train on. One explode + one partial-aggregated groupBy.
    "text_hashed_features" -> ((spark, dir) =>
      graft.functions.TextAnalysis.hashedFeatures(
        Tables.read(spark, dir, "documents"), "doc_id", "text",
        nFeatures = 256)),

    // Streaming twin #27 — the row-local HOF form of the same
    // featurization as a STATELESS Append-mode projection (no state
    // store, no watermark dependency): per-doc histograms computed
    // inside the row, hash-checked against the same oracle as the
    // batch groupBy form.
    "text_hashed_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val out = graft.functions.TextAnalysis.hashedFeaturesPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "doc_id", "text", nFeatures = 256)
      graft.streaming.EventStream.runToMemory(
        out, "text_hashed_stream_out", OutputMode.Append())
      spark.table("text_hashed_stream_out")
        .where(col("doc_id") =!= -1L)
    }),

    // Bit-portable HyperLogLog distinct-user counts per event type:
    // md5-derived 64-register sketch, ONE partial-aggregated groupBy
    // (duplicates die map-side — the whole point vs count(DISTINCT),
    // which must shuffle every distinct value), exact-integer harmonic
    // sum, one IEEE division. The exact count rides along so the gate
    // hash-checks sketch state AND the accuracy story in one entry.
    "events_hll_users" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val regs = graft.functions.Sketches.hllRegisters(
        ev, Seq("event_type"), col("user_id"))
      val est = graft.functions.Sketches.hllEstimate(regs, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
    }),

    // The precision knob: the SAME sketch at p=10 (1024 registers,
    // ~3.2% standard error in the raw estimator's valid range n ≳ 2.5m
    // vs p=6's 13%) — register table still metadata-sized (groups ×
    // 1024). At the fixture's tiny per-type cardinality this entry
    // deliberately sits in the SMALL-RANGE regime (n ≪ 2.5m): the raw
    // harmonic estimate is biased high exactly as hllEstimate's
    // scaladoc warns, and the emitted zero_buckets state recovers the
    // near-exact linear-counting answer m·ln(m/V) (SketchesSpec pins
    // it within 5%). The oracle builder replays the generalized
    // geometry (bucket mod m, rho cap 61−p, alpha(m), 2^(61−p) scale).
    "events_hll_precise" -> ((spark, dir) => {
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
      val regs = S.hllRegisters(ev, Seq("event_type"), col("user_id"),
        p = 10)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(regs, Seq("event_type"), p = 10).join(exact, "event_type")
    }),

    // The incremental path for the HLL sketch: registers built on the
    // first 20 days PERSIST to parquet; the new slice's registers merge
    // in by bucket-max — provably identical to the from-scratch build
    // (max is associative), so this entry shares events_hll_users'
    // oracle VERBATIM. The 100 TB story: yesterday's corpus never
    // re-scans; a day's merge touches groups × 64 register rows.
    "events_hll_incremental" -> ((spark, dir) => {
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-21 00:00:00"))
      val tmp = graft.tools.Scratch.dir("graft_hll_inc")
      S.hllRegisters(ev.where(col("ts") < cut),
          Seq("event_type"), col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/regs")
      val merged = spark.read.parquet(s"$tmp/regs")
        .unionByName(S.hllRegisters(ev.where(col("ts") >= cut),
          Seq("event_type"), col("user_id")))
        .groupBy("event_type", "bucket")
        .agg(max("register").cast("int").as("register"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(merged, Seq("event_type")).join(exact, "event_type")
    }),

    // Streaming twin #28 — daily distinct-user HLL registers as a
    // watermarked windowed aggregation (register max IS a streaming
    // aggregate: order-independent, bounded state of 64 rows per
    // (day, type) window), each window sealing exactly once in Append
    // mode; the metadata-sized estimate projects from the sink table.
    "events_hll_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("user_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, -1L))
        .toDF("event_type", "ts", "user_id")
      val regs = streamWithSentinel(spark, ev, sentinel, delaySec)
        .withColumn("__h", S.hash60(col("user_id")))
        .groupBy(window(col("ts"), "1 day"), col("event_type"),
          S.hllBucketFromH(col("__h")).as("bucket"))
        .agg(max(S.hllRhoFromH(col("__h"))).cast("int").as("register"))
        .select(col("window.start").as("day_start"), col("event_type"),
          col("bucket"), col("register"))
      graft.streaming.EventStream.runToMemory(
        regs, "events_hll_stream_out", OutputMode.Append())
      S.hllEstimate(
        spark.table("events_hll_stream_out")
          .where(col("event_type") =!= "noop"),
        Seq("event_type", "day_start"))
    }),

    // Streaming merged-register HLL sink (VERDICT r8 item 6, ROADMAP r8
    // candidate 1): foreachBatch maintenance of the ALL-TIME register
    // table — each micro-batch's registers (groups × 64 rows, computed
    // by the same partial-aggregated hllRegisters) merge into the
    // persisted store by bucket-max, giving live all-time distinct
    // counts with BOUNDED state (the store never exceeds groups × 64
    // rows no matter how much data streamed through). Merge ≡
    // from-scratch because max is associative and commutative, so the
    // entry shares events_hll_users' oracle VERBATIM — the streaming
    // counterpart of events_hll_incremental. Store versions are
    // immutable per-batch parquet dirs (a transactional-table MERGE in
    // production); the final version feeds the estimate.
    "events_hll_merge_stream" -> ((spark, dir) => {
      import spark.implicits._
      val S = graft.functions.Sketches
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("user_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, -1L))
        .toDF("event_type", "ts", "user_id")
      val root = graft.tools.Scratch.dir("graft_hll_merge_s")
      var cur: Option[String] = None
      val q = streamWithSentinel(spark, ev, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val regs = S.hllRegisters(
            batch.where(col("event_type") =!= "noop"),
            Seq("event_type"), col("user_id"))
          val merged = cur match {
            case Some(p) => spark.read.parquet(p).unionByName(regs)
              .groupBy("event_type", "bucket")
              .agg(max("register").cast("int").as("register"))
            case None => regs
          }
          val next = s"$root/v$id"
          merged.write.mode("overwrite").parquet(next)
          cur = Some(next)
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      S.hllEstimate(spark.read.parquet(cur.get), Seq("event_type"))
        .join(exact, "event_type")
    }),

    // Robust outliers by median absolute deviation on the cents plane
    // (the homogeneity-resistant alternative to z-scores — one planted
    // +$5000 shift on the %101 events gives every SF true outliers).
    // Both medians run over the per-type VALUE HISTOGRAM (distinct
    // cents), never the raw rows — the q_weighted_median shape — and
    // the 3σ-equivalent cut 10000·dev > 44478·MAD stays in integers.
    "events_mad_outliers" -> ((spark, dir) =>
      graft.functions.EventOps.madOutlierSummary(
        Tables.read(spark, dir, "events")
          .select(col("event_type"),
            (floor(col("value") * 100).cast("long") +
              when(col("event_id") % 101 === 0, lit(500000L))
                .otherwise(lit(0L))).as("cents")),
        "event_type", "cents")),

    // Per-type OLS trend of the dense hourly count series: five integer
    // moments in one pass, slope as the exact (num, den) pair + a
    // truncating-div ppm fixed point — "is error volume trending up"
    // answered bit-portably, no floats anywhere.
    "events_trend" -> ((spark, dir) => {
      val dense = denseHourlyCounts(spark, dir)
      val lo = dense.agg(min(col("h")).as("lo"))
      val xy = dense.crossJoin(broadcast(lo))
        .select(col("event_type"),
          expr("(unix_timestamp(h) - unix_timestamp(lo)) div 3600")
            .as("x"),
          col("c").as("y"))
      graft.functions.EventOps.olsTrend(xy, "event_type", "x", "y")
    }),

    // Rank/quantile transform (scikit QuantileTransformer shape): each
    // distinct cents value maps to its fractional rank in ppm, exact
    // integers, computed over the per-type value histogram — the
    // outlier-immune normalization step of a feature pipeline.
    "table_quantile_transform" -> ((spark, dir) =>
      graft.functions.Profiling.quantileTransform(
        Tables.read(spark, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents")),

    // Bloom data-skipping index + prune eval — the point-predicate
    // complement of the zone-map family: per-bucket 1024-bit Bloom over
    // the customer key (32 bit_or'd words/bucket reach the shuffle, no
    // matter the table size), probed for a fixed key suite; soundness
    // (can_skip ⇒ 0 matches) is cross-checked row by row, and the
    // can_skip=false & n_match=0 rows expose the false-positive rate.
    "layout_bloom_prune" -> ((spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      val idx = graft.functions.Layout.bloomIndex(
        o, expr("okey div 256"), "ckey")
      val keys = o.select(col("ckey"))
        .where(col("ckey") % 211 === 3 && col("ckey") < 2000).distinct()
      val dec = graft.functions.Layout.bloomPrune(idx, keys, "ckey")
      val actual = o
        .select(col("ckey").as("key"), expr("okey div 256").as("bucket"))
        .join(broadcast(keys.select(col("ckey").as("key"))), "key")
        .groupBy("key", "bucket").agg(count(lit(1)).as("n_match"))
      dec.join(actual, Seq("key", "bucket"), "left")
        .select(col("key"), col("bucket"), col("can_skip"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
    }),

    // Incremental persisted form of the Bloom skipping index: the two
    // okey-parity slices append as independent shards (no merge at
    // write), compaction folds them by bit_or, and the loaded index
    // prunes IDENTICALLY to the from-scratch build over all orders —
    // bit_or is associative+commutative, so this entry shares
    // layout_bloom_prune's oracle (and its can_skip ⇒ 0-matches
    // soundness check) VERBATIM.
    "layout_bloom_incremental" -> ((spark, dir) => {
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      val tmp = graft.tools.Scratch.dir("graft_bloom_inc")
      L.appendBloomIndex(L.bloomIndex(
        o.where(col("okey") % 2 === 0), expr("okey div 256"), "ckey"),
        s"$tmp/idx")
      L.appendBloomIndex(L.bloomIndex(
        o.where(col("okey") % 2 === 1), expr("okey div 256"), "ckey"),
        s"$tmp/idx")
      graft.functions.IndexMaintenance.compactBloomIndex(spark, s"$tmp/idx")
      val idx = L.loadBloomIndex(spark, s"$tmp/idx")
      val keys = o.select(col("ckey"))
        .where(col("ckey") % 211 === 3 && col("ckey") < 2000).distinct()
      val dec = L.bloomPrune(idx, keys, "ckey")
      val actual = o
        .select(col("ckey").as("key"), expr("okey div 256").as("bucket"))
        .join(broadcast(keys.select(col("ckey").as("key"))), "key")
        .groupBy("key", "bucket").agg(count(lit(1)).as("n_match"))
      dec.join(actual, Seq("key", "bucket"), "left")
        .select(col("key"), col("bucket"), col("can_skip"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
    }),

    // Streaming Bloom-index maintenance: each micro-batch's index rows
    // append as shards through the SAME foreachBatch pattern as the HLL
    // merge sink (bit_or-mergeable rows are exactly what makes an index
    // streamable); a compaction after the drain folds them, and the
    // pruned decisions equal the from-scratch build over everything
    // streamed — layout_bloom_prune's oracle VERBATIM, soundness check
    // included. orders stream in keyed by o_orderdate.
    "layout_bloom_stream" -> ((spark, dir) => {
      import spark.implicits._
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"),
          col("o_orderdate").cast("timestamp").as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(
        spark, o.select(col("okey"), col("ts")))
      val sentinel = Seq((-1L, -1L, sentinelTs)).toDF("okey", "ckey", "ts")
      val tmp = graft.tools.Scratch.dir("graft_bloom_stream")
      val q = streamWithSentinel(spark, o, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = L.bloomIndex(batch.where(col("okey") >= 0),
            expr("okey div 256"), "ckey")
          if (!rows.isEmpty) L.appendBloomIndex(rows, s"$tmp/idx")
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      graft.functions.IndexMaintenance.compactBloomIndex(spark, s"$tmp/idx")
      val idx = L.loadBloomIndex(spark, s"$tmp/idx")
      val keys = o.select(col("ckey"))
        .where(col("ckey") % 211 === 3 && col("ckey") < 2000).distinct()
      val dec = L.bloomPrune(idx, keys, "ckey")
      val actual = o
        .select(col("ckey").as("key"), expr("okey div 256").as("bucket"))
        .join(broadcast(keys.select(col("ckey").as("key"))), "key")
        .groupBy("key", "bucket").agg(count(lit(1)).as("n_match"))
      dec.join(actual, Seq("key", "bucket"), "left")
        .select(col("key"), col("bucket"), col("can_skip"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
    }),

    // Clustering-depth profile: the same okey-div-256 buckets measured
    // for the clustering key itself (disjoint ranges, depth 1 — every
    // range scan hits one bucket) vs the customer key (shuffled within
    // buckets, depth ≈ n_buckets) — the re-cluster decision metric,
    // computed on the zone map, never the data.
    "layout_clustering" -> ((spark, dir) => {
      val L = graft.functions.Layout
      val o = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"))
      L.clusteringProfile(o, expr("okey div 256"), "okey", "by_okey")
        .unionByName(
          L.clusteringProfile(o, expr("okey div 256"), "ckey", "by_ckey"))
    }),

    // Join-size estimation from count-min sketches (the AGMS inner
    // product): provable upper bound per pair, exact size alongside —
    // the optimizer statistic for join planning over tables too big to
    // count twice. Two real joins + one near-empty one.
    "profile_join_estimate" -> ((spark, dir) => {
      val S = graft.functions.Sketches
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      S.countMinJoinEstimate(li, col("l_orderkey"), o, col("o_orderkey"),
          "lineitem*orders")
        .unionByName(S.countMinJoinEstimate(o, col("o_custkey"),
          c, col("c_custkey"), "orders*customer"))
        .unionByName(S.countMinJoinEstimate(c, col("c_custkey"),
          li, col("l_partkey"), "customer*part_mismatch"))
    }),

    // The same depth metric over a Z-ORDER layout: Morton buckets keep
    // BOTH interleaved dimensions' depth far below bucket count (the
    // multi-dimensional locality Z-order buys), while a single-column
    // sort gives depth 1 in its own dimension and ≈ n_buckets in the
    // other — the quantified version of the zorder entry's claim.
    "layout_clustering_zorder" -> ((spark, dir) => {
      val L = graft.functions.Layout
      // two SYMMETRIC 8-bit dimensions (the fixture's suppkey range is
      // too narrow to exercise the interleave); 64 buckets both ways:
      // Morton buckets are 32x32 squares -> depth ~ sqrt(B) = 8 in BOTH
      // dimensions, the single-column sort gives (1, B)
      val li = Tables.read(spark, dir, "lineitem")
        .select((col("l_partkey") % 256).cast("long").as("pk"),
          (col("l_orderkey") % 256).cast("long").as("ok"))
        .withColumn("zv", L.zValue(col("pk"), col("ok"), 8))
      L.clusteringProfile(li, expr("zv div 1024"), "pk", "zorder:pk")
        .unionByName(
          L.clusteringProfile(li, expr("zv div 1024"), "ok", "zorder:ok"))
        .unionByName(
          L.clusteringProfile(li, expr("pk div 4"), "pk", "bypart:pk"))
        .unionByName(
          L.clusteringProfile(li, expr("pk div 4"), "ok", "bypart:ok"))
    }),

    // Multilingual-curation flagship: langid → UniMax τ=1/2 shares per
    // LANGUAGE → per-language token budget (share × 16k, floored) →
    // per-language quality-ordered fill — the balanced-mix corpus
    // assembly a multilingual pretraining run performs, as ONE plan.
    // Every stage reuses a gate-checked operator; the oracle replays
    // the whole chain (langid markers, share fold, per-lang cumsum).
    "pipeline_multilingual" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tagged = docs
        .withColumn("lang", TextAnalysis.langId(col("text")))
      val budgets = graft.functions.Curation
        .temperatureShares(tagged, "lang")
        .select(col("source").as("lang"),
          floor(col("share") * lit(16000.0)).cast("long").as("budget"))
      graft.functions.Curation.tokenBudgetFillBy(
        tagged, "text", "doc_id", "lang", budgets)
    }),

    // Streaming multilingual admission (twin of pipeline_multilingual's
    // budget stage): the share model freezes batch-side into per-
    // language budgets (languages-count-sized driver map — the same
    // train/apply split as the LM stream), then arrivals admit PER
    // LANGUAGE in event-time order while each language's running total
    // stays within its budget — keyed state shards by language, only
    // metadata flows through it. Arrival order replaces quality order
    // (admission control cannot know a corpus-wide score), so the
    // oracle is the per-language id-ordered prefix sum under the same
    // share-derived budgets.
    "pipeline_multilingual_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val tagged = Tables.read(spark, dir, "documents")
        .withColumn("lang", TextAnalysis.langId(col("text")))
      val budgets = graft.functions.Curation
        .temperatureShares(tagged, "lang")
        .select(col("source"),
          floor(col("share") * lit(16000.0)).cast("long").as("budget"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val meta = tagged.select(col("doc_id"), col("lang").as("key"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        timestamp_millis(lit(t0) + col("doc_id") * 1000L).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(
        spark, meta.select(col("doc_id"), col("ts")))
      val sentinel = Seq((-1L, "noop", 0L, sentinelTs))
        .toDF("doc_id", "key", "n_tokens", "ts")
      val streamed = graft.streaming.EventStream.keyedBudgetAdmitExact(
        streamWithSentinel(spark, meta, sentinel, delaySec)
          .as[graft.streaming.EventStream.KBudgetDoc],
        budgets)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "pipeline_multilingual_stream_out",
        OutputMode.Append())
      spark.table("pipeline_multilingual_stream_out")
        .where(col("doc_id") >= 0)
        .select(col("key").as("lang"), col("doc_id"),
          col("n_tokens"), col("cum_tokens"))
    }),

    // Incremental zone-map maintenance: each ingest slice's stats shard
    // appends as files; the loaded merge (min/min, max/max, summed
    // counts) equals the from-scratch build — layout_stats_index's
    // oracle VERBATIM. The lineitem slices split WITHIN buckets
    // (linenumber parity), so every bucket's stats really merge.
    "layout_stats_incremental" -> ((spark, dir) => {
      val L = graft.functions.Layout
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"))
      val tmp = graft.tools.Scratch.dir("graft_zm_inc")
      def shard(p: org.apache.spark.sql.DataFrame) =
        L.zoneMap(p, expr("l_orderkey div 256"),
          Seq("ship_date", "price_cents"))
      shard(li.where(col("l_linenumber") % 2 === 0))
        .write.mode("append").parquet(s"$tmp/zm")
      shard(li.where(col("l_linenumber") % 2 === 1))
        .write.mode("append").parquet(s"$tmp/zm")
      L.mergeZoneMaps(spark.read.parquet(s"$tmp/zm"),
        Seq("ship_date", "price_cents"))
    }),

    // Streaming zone-map maintenance — the third index layout with a
    // foreachBatch twin (HLL registers, Bloom words, now file stats):
    // per-batch shards append, the merged load equals the from-scratch
    // build, layout_stats_index's oracle VERBATIM.
    "layout_stats_stream" -> ((spark, dir) => {
      import spark.implicits._
      val L = graft.functions.Layout
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("okey"),
          col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"),
          col("l_shipdate").cast("timestamp").as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(
        spark, li.select(col("okey"), col("ts")))
      val sentinel = Seq((-1L,
          java.sql.Date.valueOf("1990-01-01"), -1L, sentinelTs))
        .toDF("okey", "ship_date", "price_cents", "ts")
      val tmp = graft.tools.Scratch.dir("graft_zm_stream")
      val q = streamWithSentinel(spark, li, sentinel, delaySec)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = L.zoneMap(batch.where(col("okey") >= 0),
            expr("okey div 256"), Seq("ship_date", "price_cents"))
          if (!rows.isEmpty)
            rows.write.mode("append").parquet(s"$tmp/zm")
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      L.mergeZoneMaps(spark.read.parquet(s"$tmp/zm"),
        Seq("ship_date", "price_cents"))
    }),

    // The calibration story: the SAME estimates at width 4096 (sized
    // ≥ distinct keys of the biggest side) — bounds tighten from ~60×
    // over to near-exact, showing width, not the method, sets the
    // error. Sketch stays ≤ 16384 cells — still metadata.
    "profile_join_estimate_wide" -> ((spark, dir) => {
      val S = graft.functions.Sketches
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      S.countMinJoinEstimate(li, col("l_orderkey"), o, col("o_orderkey"),
          "lineitem*orders", width = 4096)
        .unionByName(S.countMinJoinEstimate(o, col("o_custkey"),
          c, col("c_custkey"), "orders*customer", width = 4096))
        .unionByName(S.countMinJoinEstimate(c, col("c_custkey"),
          li, col("l_partkey"), "customer*part_mismatch", width = 4096))
    }),

    // FK discovery across a candidate matrix: distinct-level containment
    // for five (child → parent) pairs — the three real FKs profile at
    // 10⁶ ppm, the reversed/garbage candidates at whatever the data
    // says — the schema-inference pass a warehouse runs over an
    // undocumented landing zone.
    "profile_fk" -> ((spark, dir) => {
      val P = graft.functions.Profiling
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val c = Tables.read(spark, dir, "customer")
      val s = Tables.read(spark, dir, "supplier")
      Seq(
        P.inclusionProfile(li, "l_orderkey", "lineitem.l_orderkey",
          o, "o_orderkey", "orders.o_orderkey"),
        P.inclusionProfile(o, "o_custkey", "orders.o_custkey",
          c, "c_custkey", "customer.c_custkey"),
        P.inclusionProfile(li, "l_suppkey", "lineitem.l_suppkey",
          s, "s_suppkey", "supplier.s_suppkey"),
        P.inclusionProfile(c, "c_custkey", "customer.c_custkey",
          o, "o_custkey", "orders.o_custkey"),
        P.inclusionProfile(c, "c_nationkey", "customer.c_nationkey",
          s, "s_suppkey", "supplier.s_suppkey")
      ).reduce(_ unionByName _)
    }),

    // Functional-dependency discovery — the within-table half of schema
    // profiling next to profile_fk: exact |distinct(det)| vs
    // |distinct(det, dep)| over a candidate matrix (keys hold, composite
    // PK holds, many-to-one relations violate with a counted excess).
    // One partial-aggregated distinct pair per candidate; exchanges
    // carry distinct tuples, never rows.
    "profile_fd" -> ((spark, dir) => {
      val P = graft.functions.Profiling
      val li = Tables.read(spark, dir, "lineitem")
      val o = Tables.read(spark, dir, "orders")
      val n = Tables.read(spark, dir, "nation")
      Seq(
        P.fdProfile(o, Seq("o_orderkey"), "o_orderstatus",
          "orders: o_orderkey -> o_orderstatus"),
        P.fdProfile(o, Seq("o_custkey"), "o_orderstatus",
          "orders: o_custkey -> o_orderstatus"),
        P.fdProfile(li, Seq("l_orderkey", "l_linenumber"), "l_suppkey",
          "lineitem: (l_orderkey, l_linenumber) -> l_suppkey"),
        P.fdProfile(li, Seq("l_orderkey"), "l_suppkey",
          "lineitem: l_orderkey -> l_suppkey"),
        P.fdProfile(n, Seq("n_nationkey"), "n_name",
          "nation: n_nationkey -> n_name")
      ).reduce(_ unionByName _)
    }),

    // Two-proportion A/B test on (user, day) exposure units: portable
    // md5 arm assignment, conversion = any purchase that day, and the
    // pooled z² significance verdict via the DIVISION-FREE rational
    // form — z²·den = (c1·n2 − c2·n1)²·(n1+n2) cross-multiplied against
    // 3.84·n1·n2·c·(n−c) in DECIMAL(38,0), so the p<0.05 verdict is
    // exact with no float z, no sqrt, no division. Exactness bound
    // (ADVICE r8): (c0·n1−c1·n0)²·(n0+n1)·100 fits DECIMAL(38,0) while
    // per-arm units stay below ~1e9 (worst case (1e9·1e9)²·2e9·100 ≈
    // 2e47 overflows; at n≈1e9 the product is ≈2e45 > 1e38, so the real
    // bound is n ≲ 2e7 per arm for adversarial c; conversions ≪ n push
    // it far higher). Beyond that, non-ANSI Spark yields NULL
    // `significant` rather than an error — run with
    // spark.sql.ansi.enabled=true to fail loudly, or pre-aggregate to
    // per-cohort slices. DuckDB's HUGEINT oracle has the same 128-bit
    // ceiling (~1.7e38).
    "events_abtest" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val units = ev
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy("user_id", "day")
        .agg(max(col("conv")).as("converted"))
        .withColumn("arm",
          (conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":"), col("day").cast("string")).cast("binary")), 1, 8),
            16, 10).cast("long") % 2).cast("int"))
      val m = units.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0 && col("converted"), 1L).otherwise(0L))
          .as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1 && col("converted"), 1L).otherwise(0L))
          .as("c1"))
      m.select(col("n0"), col("c0"), col("n1"), col("c1"),
        expr("""(CAST(c0 AS DECIMAL(38,0)) * n1 -
            CAST(c1 AS DECIMAL(38,0)) * n0) *
          (CAST(c0 AS DECIMAL(38,0)) * n1 -
            CAST(c1 AS DECIMAL(38,0)) * n0) *
          (CAST(n0 AS DECIMAL(38,0)) + n1) * 100
          > CAST(384 AS DECIMAL(38,0)) * n0 * n1 *
            (c0 + c1) * (n0 + n1 - c0 - c1)""").as("significant"))
    }),

    // Kaplan–Meier signup→purchase survival curve (time-to-conversion
    // with right censoring at the corpus horizon): exact risk sets and
    // event counts over the per-duration histogram, one IEEE division
    // per factor, and the survival product folded in duration order —
    // churn analysis with a hash-checkable float chain.
    "events_survival" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val maxTs = ev.agg(max(col("ts")).as("mx"))
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pt"))
      val durations = su
        .join(pu, col("user_id") === col("p_user") &&
          col("pt") >= col("t0"), "left")
        .groupBy(col("user_id"), col("t0"))
        .agg(min(col("pt")).as("pt1"))
        .crossJoin(broadcast(maxTs))
        .select(
          when(col("pt1").isNotNull, datediff(col("pt1"), col("t0")))
            .otherwise(datediff(col("mx"), col("t0")))
            .cast("long").as("duration"),
          col("pt1").isNotNull.as("event"))
      graft.functions.EventOps.kaplanMeier(durations, "duration", "event")
    }),

    // Last-touch revenue attribution: each purchase's cents credit to
    // the user's most recent click within 7 days (the native as-of
    // operator), rolled up per (user, click hour) — null hour is the
    // unattributed bucket. As-of ∘ rollup, the marketing-attribution
    // composition.
    "events_attribution" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("p_ts"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          date_trunc("second", col("ts")).as("c_ts"))
      graft.plans.AsOfJoinPlan.asOf(purchases, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTime = "p_ts", rightTime = "c_ts",
          tolerance = Some(7L * 24 * 3600 * 1000000L)) // native µs units
        .groupBy(col("user_id"),
          date_trunc("hour", col("c_ts")).as("click_hour"))
        .agg(sum("cents").as("attributed_cents"),
          count(lit(1)).as("n_purchases"))
    }),

    // Count-min frequency sketch over the corpus token stream: 4×256
    // counter cells from ONE md5 per term lane-sliced across the 4
    // hash rows (the shuffle carries at most 1024 combined rows per
    // map task regardless of corpus size), probed
    // for the exact top-20 terms — estimate is provably >= truth, and
    // the overcount column exposes the collision error directly.
    "text_countmin" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val terms = docs
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .where(length(col("term")) > 0)
      val sketch = graft.functions.Sketches.countMinBuild(terms, col("term"))
      val top = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      graft.functions.Sketches.countMinQuery(sketch, top, "term")
        .join(broadcast(top), "term")
        .select(col("term"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
    }),

    // Pretrained-tokenizer plug-in seam: the merge table induced on the
    // %5 slice round-trips through parquet (ModelIO.saveMerges →
    // loadMerges — the entry point where a REAL GPT-2/SentencePiece
    // ranked-merge list trained elsewhere enters the same encode plan)
    // and then drives the word-join encode. Oracle: the induce+apply
    // replay restricted to the slice.
    "text_bpe_pretrained" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .where(col("doc_id") % 5 === 0)
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tmp = graft.tools.Scratch.dir("graft_bpe_model")
      graft.functions.ModelIO.saveMerges(spark, merges, s"$tmp/merges")
      val loaded = graft.functions.ModelIO.loadMerges(spark, s"$tmp/merges")
      graft.functions.Curation.bpeCharApplyVocab(docs, "text", "doc_id", loaded)
    }),

    // Pretrained-classifier plug-in seam: a Naive-Bayes-style class-
    // evidence lexicon (token doc-frequency in even- vs odd-id benchmark
    // docs) round-trips through parquet and scores the candidate corpus
    // with add-one smoothing — both sums exact integers, the score ONE
    // IEEE division (bit-portable).
    "text_score_lexicon" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val tmp = graft.tools.Scratch.dir("graft_lexicon")
      graft.functions.ModelIO.saveLexicon(lex, s"$tmp/lex")
      val loaded = graft.functions.ModelIO.loadLexicon(spark, s"$tmp/lex")
      TextAnalysis.lexiconScore(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", loaded)
    }),

    // Classifier calibration audit (reliability diagram): the lexicon
    // scorer's candidates bucketed by decile, each bin's observed
    // positive rate in exact ppm — the is-my-quality-filter-honest
    // check every scored pipeline needs. Binning rides the scorer's
    // bit-portable score; everything after is integer.
    "text_score_calibration" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      TextAnalysis.lexiconScore(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", lex)
        .select(least(floor(col("score") * 10), lit(9.0)).cast("int")
          .as("bin"),
          (col("doc_id") % 2 === 0).as("is_pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_ppm", expr("(n_pos * 1000000) div n_docs"))
    }),

    // Inter-rater agreement (Cohen's kappa) between two admission
    // rules — evidence score >= 0.5 vs token coverage >= 50% — as one
    // exact contingency aggregate; kappa in ppm via the all-integer
    // rational form (N·agree − Σ marginal products) / (N² − Σ...).
    // The do-my-filters-agree-beyond-chance audit.
    "text_classifier_agreement" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val m = TextAnalysis.lexiconScore(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", lex)
        .select((col("score") >= 0.5).as("a"),
          (col("n_hits") * 2 >= col("n_tokens")).as("b"))
        .agg(sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      m.select(col("n11"), col("n10"), col("n01"), col("n00"),
        expr("""CASE WHEN (n11+n10+n01+n00)*(n11+n10+n01+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) <> 0
          THEN (((n11+n10+n01+n00)*(n11+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00)) * 1000000)
            div ((n11+n10+n01+n00)*(n11+n10+n01+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00))
          ELSE NULL END""").as("kappa_ppm"))
    }),

    // Temperature-scaled mixture weights at tau = 1/2 (the UniMax /
    // multilingual-sampling flattening): weight = sqrt(n) per source —
    // sqrt because it is the one temperature that stays IEEE-portable
    // (pow is libm-dependent) — with the share denominator folded over
    // the source-sorted list so the single float sum has a fixed
    // association order.
    "mix_temperature" -> ((spark, dir) =>
      graft.functions.Curation.temperatureShares(
        Tables.read(spark, dir, "documents"), "source")),

    // Stats-drift monitor: the one-pass tableProfile on two date slices
    // of orders, joined per column — null-rate delta in exact ppm,
    // distinct-count delta, null-safe range-change flag. The
    // yesterday-vs-today data-contract diff.
    "table_drift" -> ((spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
      val cut = lit("1995-01-01").cast("date")
      graft.functions.Profiling.profileDrift(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    }),

    // CCNet-style LM quality filter: bigram counts trained on the %3
    // reference slice, every doc scored by its pooled add-one
    // conditional likelihood (integer sums, ONE division — the log-free
    // bit-portable form of the perplexity cut).
    "text_lm_score" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .where(length(trim(col("text"))) > 0)
      val lm = TextAnalysis.buildBigramLm(
        docs.where(col("doc_id") % 3 === 0), "text")
      val tmp = graft.tools.Scratch.dir("graft_bigram_lm")
      graft.functions.ModelIO.saveBigramLm(lm, s"$tmp/lm")
      val loaded = graft.functions.ModelIO.loadBigramLm(spark, s"$tmp/lm")
      TextAnalysis.lmScore(docs, "text", "doc_id", loaded)
    }),

    // STREAMING twin: the frozen LM counts are stream-static join
    // sides; arrivals score in Update mode and each doc finalizes
    // within its microbatch (all its bigrams arrive in one row), so the
    // post-drain max-collapse is the identity — SAME oracle as batch.
    "text_lm_score_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .where(length(trim(col("text"))) > 0)
      // persisted counts, not the live aggregation plan: a streaming
      // query re-evaluates its static sides every micro-batch, so the
      // model must be a file scan (also the production train/apply split)
      val tmp = graft.tools.Scratch.dir("graft_bigram_lm_s")
      graft.functions.ModelIO.saveBigramLm(TextAnalysis.buildBigramLm(
        docs.where(col("doc_id") % 3 === 0), "text"), s"$tmp/lm")
      val lm = graft.functions.ModelIO.loadBigramLm(spark, s"$tmp/lm")
      val feed = docs
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val scored = TextAnalysis.lmScore(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "text", "doc_id", lm)
      graft.streaming.EventStream.runToMemory(
        scored, "text_lm_score_stream_out", OutputMode.Update())
      spark.table("text_lm_score_stream_out")
        .where(col("doc_id") =!= -1L)
        .groupBy("doc_id")
        .agg(max(col("n_bigrams")).as("n_bigrams"),
          max(col("n_known")).as("n_known"),
          max(col("score")).as("score"))
    }),

    // Sparse lexical retrieval, index side: per-term df/cf over the
    // corpus slice — one explode + two partial-aggregated groupBys
    // (shuffle carries (term, doc) pairs, then terms). df >= 2 bounds
    // the emitted vocabulary to repeated terms.
    "search_index" -> ((spark, dir) =>
      graft.functions.Retrieval.termStats(
          graft.functions.Retrieval.buildPostings(
            Tables.read(spark, dir, "documents")
              .where(col("doc_id") % 97 =!= 0), "text", "doc_id"))
        .where(col("df") >= 2)),

    // BM25 top-10 per query — the contamination-search shape: queries
    // are the %97 benchmark slice's first five distinct tokens, corpus
    // is everything else. Scoring is bit-portable by construction
    // (sqrt-odds idf + DECIMAL contribution sum — see Retrieval's
    // scaladoc), so the oracle hash-compares exact score values.
    "search_bm25" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val qt = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 5000 &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
      // maxDfPermille stays at the no-op 1000 here: the fixture's tiny
      // synthetic vocabulary puts EVERY term in >half the docs, so any
      // real stop-term cut empties the result; the guard's semantics
      // are spec-verified (RetrievalSpec) instead
      graft.functions.Retrieval.bm25TopK(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id",
        qt, k = 10)
    }),

    // Append-without-rebuild retrieval index: third 0 builds, the rest
    // appends (new files only), then BM25 runs against the loaded
    // postings. df/N/avgdl are search-time aggregates of the postings —
    // never frozen into the index — so the appended index is
    // score-identical to a from-scratch build over the union, and this
    // entry shares search_bm25's oracle verbatim.
    "search_ingest" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tmp = graft.tools.Scratch.dir("graft_post_ing")
      graft.functions.Retrieval.buildPostings(
          docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 97 =!= 0),
          "text", "doc_id")
        .write.mode("overwrite").parquet(s"$tmp/idx")
      graft.functions.Retrieval.appendPostings(
        docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 97 =!= 0),
        "text", "doc_id", s"$tmp/idx")
      val qt = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 5000 &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
      graft.functions.Retrieval.bm25TopKFromPostings(
        spark.read.parquet(s"$tmp/idx"), qt, k = 10)
    }),

    // CONTINUOUS query intake for BM25: the corpus index is scored once
    // (per-posting contributions, df via one term-keyed window), then
    // each arriving query probes it with ONE stateless stream-static
    // join; contributions fold to ranked scores after the drain. Same
    // oracle as search_bm25 — pruning by query terms does not change
    // df, so the streamed probe scores bit-identically. Twin #21.
    "search_bm25_stream" -> ((spark, dir) => {
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
    }),

    // Passage retrieval with per-document collapse (the RAG search
    // shape): the corpus chunks into 16-token windows (stride 8), BM25
    // ranks CHUNKS, then each (query, parent doc) keeps its best chunk
    // via one max(struct) — no window over chunk hits — and the final
    // doc-level top-10 reranks the collapsed scores. Multiple chunks of
    // one doc can no longer crowd out other documents.
    "search_passages" -> ((spark, dir) => {
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
      val qt = docs.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 1000 && length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
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
    }),

    // Hybrid retrieval: BM25 lexical top-10 and exact-cosine vector
    // top-10 over the SAME query suite, fused by reciprocal rank
    // (integer RRF, k=60) — the dense+sparse combiner behind modern
    // RAG stacks. Both lists are per-query top-k by contract, so the
    // fusion join is metadata-sized; fused scores are integer-exact.
    "search_hybrid_rrf" -> ((spark, dir) => {
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
    }),

    // RAG flagship (VERDICT r8 item 2): strip → chunk → passage BM25 →
    // hybrid RRF → MMR as ONE composed plan. Every stage reuses an
    // operator that already has its own gate entry; the point here is
    // COMPOSITION — strip+chunk+tokenize fuse into one codegen'd
    // scan-side pipeline (no exchange until the postings aggregation),
    // the fused candidate list stays per-query bounded end to end, and
    // the only materialization is the chunk index localCheckpoint that
    // BM25's three branches (postings/stats/df) share — the stand-in
    // for the persisted chunk index a production RAG stack keeps anyway.
    "pipeline_rag" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val emb = Tables.read(spark, dir, "embeddings")
      // 1. WET strip over the deterministically HTML-augmented corpus
      //    (same augmentation contract as text_strip_markup) — the
      //    shared helper, which also rebalances the raw rows so the
      //    strip regexps run on every core
      val clean = ragCleanCorpus(docs)
      // 2. context-window chunking of the CLEAN corpus slice; ckey packs
      //    (doc, chunk) with search_passages' loud overflow guard
      val chunks = graft.functions.Curation.chunkByTokens(
          clean.where(col("doc_id") % 97 =!= 0), "clean", "doc_id",
          window = 16, stride = 8)
        .select((col("doc_id") * lit(1000000L) +
            when(col("chunk_id") < lit(1000000L), col("chunk_id"))
              .otherwise(raise_error(concat(
                lit("pipeline_rag: chunk_id >= 1000000 breaks ckey packing: "),
                col("chunk_id").cast("string"))))).as("ckey"),
          col("chunk_text"))
        .localCheckpoint(true)
      val qdocs = clean.where(col("doc_id") % 97 === 0 &&
        col("doc_id") < 1000 && length(trim(col("clean"))) > 0)
      val qt = qdocs.select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(
          split(Dedup.normalizeText(col("clean")), " "), 1, 5))).as("term"))
      // 3. passage BM25: chunk hits → per-parent best chunk → doc top-10
      val hits = graft.functions.Retrieval.bm25TopK(
        chunks, "chunk_text", "ckey", qt, k = 50)
      val lex = hits
        .groupBy(col("query_id"), expr("doc_id div 1000000").as("parent"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("nck"))).as("m"))
        .select(col("query_id"), col("parent").as("doc_id"),
          col("m.score").as("score"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"))))
        .where(col("rank") <= 10)
      // 4. dense exact-cosine top-10 over the SAME query set, RRF-fused
      val qv = emb
        .join(broadcast(qdocs.select(col("doc_id").as("query_id"))),
          col("vec_id") === col("query_id"))
        .select(col("query_id"), col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
      val vec = emb.where(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding").as("cv"),
          Similarity.norm(col("embedding")).as("cn"))
        .crossJoin(broadcast(qv))
        .select(col("query_id"), col("doc_id"),
          round(Similarity.cosinePrenormed(col("qv"), col("cv"),
            col("qn") * col("cn")), 6).as("sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("doc_id"))))
        .where(col("rank") <= 10)
      val fused = graft.functions.Retrieval.rrfFuse(lex, vec, k = 10)
      // 5. MMR diversity rerank of the fused list: rel = rrf normalized
      //    by the max achievable fused score 2·(10⁹ div 61) — ONE IEEE
      //    division, bit-portable; diversity cosines come from the
      //    embedding table through mmrRerank's bounded candidate join
      val maxRrf = 2L * (1000000000L / 61L)
      Similarity.mmrRerank(
        fused.select(col("query_id"), col("doc_id"),
          (col("rrf").cast("double") / lit(maxRrf.toDouble)).as("rel")),
        emb, "vec_id", "embedding", k = 5)
    }),

    // The flagship against a PERSISTED chunk index: the same
    // composition, but passage BM25 runs over postings appended in two
    // shards and compacted — search-time df/N/avgdl derivation makes
    // append ≡ rebuild bit-identical (spec-pinned for the postings
    // layout), so this entry shares pipeline_rag's oracle VERBATIM
    // while exercising the index build/append/compact/search lifecycle
    // a production RAG stack actually runs.
    "pipeline_rag_indexed" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val emb = Tables.read(spark, dir, "embeddings")
      val clean = ragCleanCorpus(docs)
      // checkpointed ONCE (inside ragChunks): both ingest shards read
      // the same chunk table — without it each appendPostings re-runs
      // strip+chunk over the corpus (measured ~0.7 s of the entry at
      // sf0.1)
      val chunks = ragChunks(clean, "pipeline_rag_indexed")
      val idxPath = graft.tools.Scratch.dir("graft_rag_idx") + "/postings"
      // bucketed layout + doclens sidecar (the stream twin's machinery,
      // append ≡ rebuild spec-pinned, scores bit-identical): rowLocal
      // postings (chunks are window-bounded, 16 tokens) make each append
      // a scan + projection + write — no (term, doc) exchange; the
      // compact is a per-bucket file concat instead of an index-wide
      // distinct + repartition(1); and search derives N/avgdl from the
      // doc-count-sized sidecar instead of a full-index groupBy(doc_id).
      graft.functions.Retrieval.appendPostingsBucketed(
        chunks, "chunk_text", "ckey", idxPath,
        rowLocal = true, clustered = true)
      graft.functions.IndexMaintenance.compactPostingsBucketed(spark, idxPath)
      ragQueryFromPostings(clean, emb,
        spark.read.parquet(idxPath).drop("bucket"),
        doclens = Some(spark.read.parquet(
          graft.functions.Retrieval.doclensPath(idxPath))))
    }),

    // Streaming twin of pipeline_rag_indexed (the continuous-intake
    // shape the postings index was built for): CHUNKS arrive as a file
    // stream two files per microbatch, each batch appends its postings
    // shard PRE-BUCKETED by term hash via foreachBatch — arbitrary
    // microbatch splits are safe because compaction's per-term sums
    // are associative and bm25TopKFromPostings derives df/N/avgdl at
    // search time (append ≡ rebuild, spec-pinned) — then a
    // shuffle-FREE per-bucket compact (appends already sit in the
    // index layout, so the merge is a file concat; VERDICT r10
    // item 4) + the SAME hybrid query composition over the maintained
    // index. SAME oracle as the batch entries, verbatim.
    "pipeline_rag_stream" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val emb = Tables.read(spark, dir, "embeddings")
      val clean = ragCleanCorpus(docs)
      // no checkpoint: the feed parquet below IS the chunk
      // materialization the stream reads
      val chunks = ragChunks(clean, "pipeline_rag_stream",
        checkpoint = false)
      val tmp = graft.tools.Scratch.dir("graft_rag_stream")
      // 32 feed files / 16 per trigger = two microbatches, with the
      // feed write itself fully parallel (the old repartition(4)
      // bottlenecked the chunk materialization on 4 tasks)
      chunks.repartition(32).write.parquet(s"$tmp/feed")
      val idxPath = s"$tmp/postings"
      val q = spark.readStream.schema(chunks.schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(s"$tmp/feed")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            // rowLocal: chunks are window-bounded (16 tokens), so the
            // per-batch postings job is scan + projection + write —
            // zero shuffles at ingest cadence
            graft.functions.Retrieval.appendPostingsBucketed(
              batch, "chunk_text", "ckey", idxPath, rowLocal = true)
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      graft.functions.IndexMaintenance.compactPostingsBucketed(spark, idxPath)
      ragQueryFromPostings(clean, emb,
        spark.read.parquet(idxPath).drop("bucket"),
        doclens = Some(spark.read.parquet(
          graft.functions.Retrieval.doclensPath(idxPath))))
    }),

    // BM25F fielded ranking: title = first 8 tokens, body = the rest;
    // per-field length normalization, weighted combine (title ×2),
    // ONE saturation — same query suite as search_bm25, so the two
    // rankers are directly comparable.
    "search_bm25f" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val qt = docs.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 5000 && length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
      graft.functions.Retrieval.bm25fTopK(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", qt, k = 10)
    }),

    // Ranker agreement eval: BM25 vs BM25F on the shared query suite —
    // per query, top-10 overlap plus where each ranker's #1 lands in
    // the other's list (0 = absent). The tuning-loop measurement that
    // decides whether fielding changes anything before shipping it.
    "search_ranker_eval" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val qt = docs.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 5000 && length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(
            split(Dedup.normalizeText(col("text")), " "), 1, 5)))
            .as("term"))
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
    }),

    // Proximity search ("x NEAR/4 y"): each benchmark doc's tokens 1
    // and 3 (when distinct) form its pair; qualifying position pairs
    // counted per (query, doc) with the minimum distance.
    "search_proximity" -> ((spark, dir) => {
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
    }),

    // Exact phrase search over positional postings: each benchmark doc's
    // tokens 3-4 are its phrase; anchors (pos − qpos) with a full vote
    // count are matches. Integer arithmetic end to end.
    "search_phrase" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val tk = split(Dedup.normalizeText(col("text")), " ")
      val phrases = docs
        .where(col("doc_id") % 97 === 0 && col("doc_id") < 5000 &&
          size(tk) >= 5)
        .select(col("doc_id").as("query_id"),
          posexplode(slice(tk, 3, 2)).as(Seq("qpos", "term")))
      graft.functions.Retrieval.phraseMatches(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", phrases)
    }),

    // One BPE merge iteration, word-level: corpus-wide adjacent-pair
    // counts → (count desc, pair asc) argmax → literal left-to-right
    // fuse of every non-overlapping occurrence. The oracle replays the
    // count, the tie-break, AND the greedy apply on every document.
    "text_bpe_step" -> ((spark, dir) =>
      graft.functions.Curation.bpeMergeStep(
        Tables.read(spark, dir, "documents"), "text", "doc_id")),

    // The COMPOSED mixture schedule — epoch expansion feeding the
    // stride interleave, one Catalyst plan: every replica gets a
    // synthetic id (doc_id·4 + epoch−1, epochs < 4 here) so each epoch
    // copy lands at its own md5-shuffled slot in the global WFQ order.
    // This is the artifact a mixture pipeline actually ships: the
    // final deterministic training order over upsampled sources.
    "mix_schedule" -> ((spark, dir) => {
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
    }),

    // Quality-prioritized token-budget fill: the best docs until 16k
    // running tokens. Both the admission set and every running total
    // are value-checked; the global cumsum is the bucketed two-phase
    // form (quality-value buckets are contiguous in the sort order).
    "sample_token_budget" -> ((spark, dir) =>
      graft.functions.Curation.tokenBudgetFill(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        budget = 16000L)),

    // Streaming token-budget admission: docs arrive as a stream (ts =
    // t0 + doc_id seconds — event order IS id order) and admit in
    // event-time order while the inclusive running total stays ≤ 16k.
    // Only the metadata stream enters the stateful operator; token
    // counting runs data-parallel upstream. Watermark-buffered exact ⇒
    // arrival order is invisible; oracle is the flat id-ordered cumsum.
    "sample_budget_stream" -> ((spark, dir) => {
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
    }),

    // Per-source quota admission on the stream: every source admits its
    // first 12 docs in event-time order — the KEYED form of the budget
    // gate (state shards by source, admission runs data-parallel).
    // Oracle: per-source row_number over id order ≤ 12.
    "sample_quota_stream" -> ((spark, dir) => {
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
    }),

    // Per-shard manifest over the same assignment: doc count and total
    // characters per shard — what a shard writer records next to its
    // files for audit/resume.
    "text_shard_manifest" -> ((spark, dir) =>
      graft.functions.Curation.shardAssignments(
          Tables.read(spark, dir, "documents"), "doc_id", nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))),

    // Benchmark decontamination: docs sharing any normalized word 4-gram
    // with the held-out "benchmark" slice (doc_id % 97 == 0) are flagged,
    // with the shared-gram count. Broadcast gram-set semi-join — the
    // corpus side never shuffles.
    "text_decontaminate" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      graft.functions.Curation.decontaminate(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 4)
    }),

    // CCNet-style common-line removal over deterministically augmented
    // fixture text (the synthetic corpus has no repeated lines, so docs
    // get boilerplate injected: a license line on every 3rd doc, a
    // per-residue signature on even docs). Lines in > 10 docs drop; the
    // ~2-3-doc signature variants stay — both directions exercised.
    "text_dedup_lines" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(". all rights reserved")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(". sig "), (col("doc_id") % 100).cast("string")))
            .otherwise(lit(""))))
      graft.functions.Curation.dropCommonLines(
        docs, "text", "doc_id", maxDocFreq = 10L)
    }),

    // The same decontamination behind a Bloom prefilter — the plan that
    // survives a benchmark suite too big to broadcast exactly: corpus
    // grams prune against a ~1.2 B/gram sketch before any join. Output
    // bit-identical to text_decontaminate; SAME oracle.
    "text_decontaminate_bloom" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      graft.functions.Curation.decontaminateBloom(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 4)
    }),

    // Exact duplicate-span removal (fixed 16-token spans): every span
    // whose text appeared earlier in (doc_id, span_idx) order drops;
    // docs reassemble from surviving spans. groupBy-min first-occurrence
    // + hash join back — no windows over hot span keys.
    "dedup_spans" -> ((spark, dir) =>
      graft.functions.Curation.spanDedup(
        Tables.read(spark, dir, "documents"), "text", "doc_id", span = 16)),

    // ExactSubstr-style duplicate spans at ARBITRARY token offsets
    // (maximal spans >= 8 tokens occurring at >= 2 corpus locations).
    // The augmentation plants one boilerplate paragraph as a PREFIX of
    // the %7 docs and a SUFFIX of the %11 docs — offsets the fixed
    // 16-token grid of dedup_spans cannot align on; natural fixture
    // repeats fire too. Oracle replays windows/merge on real substrings.
    "dedup_exact_substr" -> ((spark, dir) => {
      val boiler =
        "the quick brown fox jumps over the lazy dog near the river bank"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" " + boiler)).otherwise(lit(""))))
      Dedup.duplicateSpans(docs, "text", "doc_id", minLen = 8)
    }),

    // SPAN-LEVEL decontamination: maximal >= 8-token spans of candidate
    // docs that occur anywhere in the %97 benchmark slice — located, not
    // just counted. Augmentation plants one benchmark sentence as a
    // PREFIX of even benchmark docs and a SUFFIX of %13 candidates
    // (cross-corpus, different offsets); natural fixture overlaps fire
    // too. Oracle replays windows + islands on real substrings.
    "text_decontaminate_spans" -> ((spark, dir) => {
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 97 === 0 && col("doc_id") % 2 === 0,
            lit(plant + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 97 =!= 0 && col("doc_id") % 13 === 0,
            lit(" " + plant)).otherwise(lit(""))))
      Dedup.decontaminateSpans(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", minLen = 8)
    }),

    // The COMPOSED pretraining pipeline, one declarative plan:
    // plant boilerplate → ExactSubstr keep-one removal → lexicon
    // quality scoring (trained on the %97 slice of the CLEANED corpus)
    // → score >= 0.5 admission → portable train split → 128-token
    // sequence packing of the train split. Every stage is an
    // independently hash-gated operator; the oracle replays the full
    // composition in nested CTEs.
    "pipeline_pretrain" -> ((spark, dir) => {
      val boiler =
        "the quick brown fox jumps over the lazy dog near the river bank"
      val aug = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" " + boiler)).otherwise(lit(""))))
      // the span-removal stage feeds THREE downstream consumers (lexicon
      // train, scoring, admission join) — persist it once instead of
      // recomputing the corpus-wide ExactSubstr pass per consumer; the
      // cleaned table is corpus-sized text (MEMORY_AND_DISK spills, never
      // OOMs), the standard stage-boundary materialization of a composed
      // pipeline
      val cleaned = Dedup.removeDuplicateSpans(aug, "text", "doc_id", minLen = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lex = TextAnalysis.buildLexicon(
        cleaned.where(col("doc_id") % 97 === 0), "text_clean",
        col("doc_id") % 2 === 0)
      val scored = TextAnalysis.lexiconScore(
        cleaned.where(col("doc_id") % 97 =!= 0), "text_clean", "doc_id", lex)
      val admitted = cleaned.where(col("doc_id") % 97 =!= 0)
        .join(scored.select(col("doc_id"), col("score")), "doc_id")
        .where(col("score") >= 0.5)
      val train = graft.functions.Sampling.portableSplit(
          admitted, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "train")
      graft.functions.Curation.packTokenSpans(
        train, "text_clean", "doc_id", seqLen = 128, bucketSize = 64L)
    }),

    // STREAMING ExactSubstr: window texts stream keyed by their own
    // string; O(1) state per window (held-back first position + flag),
    // second occurrence releases both, later ones emit immediately — no
    // watermark seal. The flagged set is arrival-order independent, so
    // the post-drain island merge equals the batch operator under the
    // SAME oracle (eighteenth streaming twin).
    "dedup_exact_substr_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val boiler =
        "the quick brown fox jumps over the lazy dog near the river bank"
      val aug = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" " + boiler)).otherwise(lit(""))))
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
        flagged.toDF, "substr_stream_out", OutputMode.Append())
      Dedup.spansFromFlagged(
        spark.table("substr_stream_out").where(col("doc_id") =!= -1L)
          .select("doc_id", "p"),
        aug, "text", "doc_id", minLen = 8)
    }),

    // STREAMING index probe: new docs arrive as a stream and check
    // against the STATIC persisted window index on arrival — window
    // explode + hash semi-join + exact text equality are all stateless
    // per row, so this is the continuous-intake form of
    // dedup_substr_incremental (same oracle; nineteenth streaming twin).
    // Only the post-drain island merge is batch.
    "dedup_substr_incremental_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val aug = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
            lit(plant + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 =!= 0 && col("doc_id") % 13 === 0,
            lit(" " + plant)).otherwise(lit(""))))
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
    }),

    // Per-doc duplicated-token fraction (Gopher-style quality signal,
    // exact): disjoint maximal spans sum to the covered-token count;
    // the fraction is one IEEE division of exact integers. Same plant
    // as dedup_exact_substr so the signal is non-trivial on the fixture.
    "text_dup_fraction" -> ((spark, dir) => {
      val boiler =
        "the quick brown fox jumps over the lazy dog near the river bank"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" " + boiler)).otherwise(lit(""))))
      Dedup.duplicatedTokenFraction(docs, "text", "doc_id", minLen = 8)
    }),

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
    "dedup_substr_ingest" -> ((spark, dir) => {
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
            lit(plant + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 0,
            lit(" " + plant))
            .when(col("doc_id") % 3 === 2 && col("doc_id") % 13 === 0,
              lit(" " + plant))
            .otherwise(lit(""))))
      val tmp = graft.tools.Scratch.dir("graft_substr_ing")
      Dedup.buildSubstrIndex(docs.where(col("doc_id") % 3 === 0),
          "text", "doc_id", minLen = 8)
        .write.mode("overwrite").parquet(s"$tmp/idx")
      Dedup.appendSubstrIndex(docs.where(col("doc_id") % 3 === 1),
        "text", "doc_id", minLen = 8, s"$tmp/idx")
      Dedup.probeSubstrIndex(docs.where(col("doc_id") % 3 === 2),
        spark.read.parquet(s"$tmp/idx"), "text", "doc_id", minLen = 8)
    }),

    "dedup_substr_incremental" -> ((spark, dir) => {
      val plant =
        "by the riverbank the quiet fox waited for the morning light to come"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0,
            lit(plant + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 =!= 0 && col("doc_id") % 13 === 0,
            lit(" " + plant)).otherwise(lit(""))))
      val idx = Dedup.buildSubstrIndex(
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id", minLen = 8)
      val tmp = graft.tools.Scratch.dir("graft_substr_idx")
      idx.write.mode("overwrite").parquet(s"$tmp/idx")
      val loaded = spark.read.parquet(s"$tmp/idx")
      Dedup.probeSubstrIndex(
        docs.where(col("doc_id") % 3 =!= 0), loaded,
        "text", "doc_id", minLen = 8)
    }),

    // The APPLY form: strike tokens covered only by non-first occurrences
    // of duplicated 8-windows (corpus-first copy survives — keep-one),
    // rebuild affected docs, pass untouched docs through normalized.
    "dedup_exact_substr_apply" -> ((spark, dir) => {
      val boiler =
        "the quick brown fox jumps over the lazy dog near the river bank"
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" " + boiler)).otherwise(lit(""))))
      // checkpointHot: measured faster for THIS standalone entry
      // (9.2-9.5 vs 11.8-14.9 s at 10×); pipeline_pretrain keeps the
      // default — the same flag cost it 5× (see the Dedup scaladoc)
      Dedup.removeDuplicateSpans(docs, "text", "doc_id", minLen = 8,
        checkpointHot = true)
    }),

    // Greedy next-fit bin packing (whole docs, 256-token budget, 64-id
    // buckets): the sequential fold runs per independent bucket via
    // flatMapSortedGroups with O(1) state; the oracle replays the same
    // fold as a DuckDB recursive CTE.
    "text_pack_bins" -> ((spark, dir) =>
      graft.functions.Curation.packBinsNextFit(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        budget = 256L, bucketSize = 64L)),

    // Pretraining sequence packing: the doc_id-ordered token stream
    // sliced into 128-token sequences, one row per (doc × sequence)
    // intersection. The global offset is a two-phase prefix sum — no
    // corpus-wide single-partition window.
    "text_pack" -> ((spark, dir) =>
      graft.functions.Curation.packTokenSpans(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        seqLen = 128, bucketSize = 64L)),

    "events_sessionize" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
      val gap = unix_timestamp(col("ts_s")) - unix_timestamp(lag(col("ts_s"), 1).over(w))
      ev.withColumn("is_new",
          when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("user_id", "event_id", "session_id")
    }),

    // Funnel analysis: per user, first signup → first view after it →
    // first purchase after that, plus step-conversion flags. One
    // hash-partitioned aggregation over (user, type-conditional mins) —
    // no self-joins, so the shuffle carries one row per user.
    "events_funnel" -> ((spark, dir) =>
      funnelBounded(Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s")))),

    // The same funnel as a single-shuffle sorted-group fold (one
    // repartition by user, O(1) state) — same oracle as events_funnel.
    "events_funnel_fold" -> ((spark, dir) =>
      funnelFold(Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s")))),

    // The SAME funnel as a real Structured Streaming query: the exact
    // watermark-ordered funnel ([[graft.streaming.EventStream.funnelExact]])
    // run over the fixture events via the file stream source, drained by a
    // far-future sentinel (watermark = sentinel − delay > max real ts, so
    // every buffer seals and the event-time timeout emits final state).
    // The oracle is IDENTICAL to `events_funnel`'s — batch ≡ stream under
    // the DuckDB gate, which puts funnelExact's exactness claim (arrival
    // order never changes the result within the watermark bound) under the
    // hash check. In production the source is Kafka/landing files and no
    // sentinel is needed — live data advances the watermark; the temp-dir
    // copy exists only because the gate's input is a static directory.
    "events_funnel_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, "noop", sentinelTs))
        .toDF("user_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.funnelExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.FunnelEvent])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_funnel_stream_out", OutputMode.Update())
      // Update-mode memory sink accumulates one row per (user, batch);
      // each stage timestamp is set-once (null until folded, final after),
      // so max() per user IS the drained final state, and the reached
      // flags are recomputed from it exactly as the batch form does.
      spark.table("events_funnel_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(col("t_signup")).as("t_signup"),
          max(col("t_view")).as("t_view"),
          max(col("t_buy")).as("t_buy"))
        .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
          (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
          (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
    }),

    // Gap sessionization as a streaming query: the watermark-ordered exact
    // sessionizer ([[graft.streaming.EventStream.sessionizeExact]], which
    // merges at exactly the gap like the built-in session_window) over the
    // same fixture, sentinel-drained. Oracle is IDENTICAL to
    // `events_session_window`'s — batch ≡ stream under the hash gate.
    // Append mode: each closed session is emitted exactly once, so the
    // memory table IS the result (no per-user collapse needed).
    "events_sessions_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val streamed = graft.streaming.EventStream.sessionizeExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.SessionEvent], gapMinutes = 30)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_sessions_stream_out", OutputMode.Append())
      spark.table("events_sessions_stream_out")
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("n_events"))
    }),

    // D1/D7 retention as a streaming query: the watermark-ordered exact
    // per-user flags ([[graft.streaming.EventStream.retentionFlagsExact]])
    // plus the stateless cohort rollup on the drained final rows. Oracle
    // is IDENTICAL to `events_retention`'s. Update-mode rows collapse per
    // user with set-once/monotone max() (signup_day never changes once
    // emitted; d1/d7 only flip false→true).
    "events_retention_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, "noop", sentinelTs))
        .toDF("user_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.retentionFlagsExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.FunnelEvent])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_retention_stream_out", OutputMode.Update())
      spark.table("events_retention_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(max(col("signup_day")).as("signup_day"),
          max(col("d1").cast("int")).as("d1i"),
          max(col("d7").cast("int")).as("d7i"))
        .groupBy(col("signup_day").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("d1i")).as("n_d1"), sum(col("d7i")).as("n_d7"))
    }),

    // STREAM-STREAM interval join — Spark's built-in two-stream join with
    // watermark-bounded state: each purchase inner-joins the same user's
    // clicks in the preceding hour; both sides are filters of ONE file
    // stream (a stream self-join), each watermarked, so the join state
    // evicts rows once the watermark passes the interval bound. Two
    // sentinels (one per side, reserved users) drain both watermarks.
    // The drained pairs aggregate per purchase; the oracle is the plain
    // batch theta join — batch ≡ stream for the join family too.
    "q_stream_stream_join" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_trunc("second", col("ts")).as("ts"), col("value"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(
        (-1L, "purchase", -1L, sentinelTs, 0.0),
        (-2L, "click", -2L, sentinelTs, 0.0))
        .toDF("user_id", "event_type", "event_id", "ts", "value")
      val src = streamWithSentinel(spark, ev, sentinel, delaySec)
      val p = src.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val c = src.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      graft.streaming.EventStream.runToMemory(
        joined, "q_stream_stream_join_out", OutputMode.Append())
      spark.table("q_stream_stream_join_out")
        .where(col("p_user") >= 0)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("c_value").cast("decimal(18,6)")).cast("double")
            .as("click_value"))
    }),

    // LEFT OUTER stream-stream join: same interval self-join, but
    // purchases with NO preceding click must still emit (with nulls) —
    // Spark emits the null-padded row only once the watermark proves no
    // match can arrive, the subtle outer-join-on-streams semantics. The
    // oracle is the batch LEFT JOIN; n_clicks counts matches only.
    "q_stream_stream_left" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_trunc("second", col("ts")).as("ts"), col("value"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(
        (-1L, "purchase", -1L, sentinelTs, 0.0),
        (-2L, "click", -2L, sentinelTs, 0.0))
        .toDF("user_id", "event_type", "event_id", "ts", "value")
      val src = streamWithSentinel(spark, ev, sentinel, delaySec)
      val p = src.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val c = src.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"),
        "left_outer")
      graft.streaming.EventStream.runToMemory(
        joined, "q_stream_stream_left_out", OutputMode.Append())
      spark.table("q_stream_stream_left_out")
        .where(col("p_user") >= 0)
        .groupBy("purchase_id")
        .agg(count(col("c_ts")).as("n_clicks"),
          sum(col("c_value").cast("decimal(18,6)")).cast("double")
            .as("click_value"))
    }),

    // Point-in-time (as-of) join as a streaming query: purchases and
    // clicks tagged into ONE keyed stream, the watermark-ordered exact
    // streaming as-of ([[graft.streaming.EventStream.streamingAsOfExact]])
    // values each purchase at the last click at-or-before it, at full
    // microsecond precision. Oracle is IDENTICAL to `q_asof_join`'s
    // (DuckDB native ASOF LEFT JOIN) — batch ≡ stream under the hash
    // gate for the custom operator family. Append mode: each left row
    // exactly once.
    "q_asof_join_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      // the sentinel must SURVIVE the event-type filter below (the filter
      // pushes beneath the watermark node, and a filtered-out sentinel
      // would never advance the watermark): it rides as a far-future
      // 'click' on the reserved key −1, which has no left rows and so
      // can never produce output
      val sentinel = Seq((-1L, "click", sentinelTs, -1L))
        .toDF("user_id", "event_type", "ts", "event_id")
      val tagged = streamWithSentinel(spark, ev, sentinel, delaySec)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("user_id").as("key"), col("ts"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
          col("event_id").as("tag"),
          when(col("event_type") === "click", date_trunc("second", col("ts")))
            .otherwise(lit(null).cast("timestamp")).as("payload"))
        .as[graft.streaming.EventStream.AsOfEvt]
      graft.streaming.EventStream.runToMemory(
        graft.streaming.EventStream.streamingAsOfExact(tagged).toDF(),
        "q_asof_join_stream_out", OutputMode.Append())
      spark.table("q_asof_join_stream_out")
        .where(col("key") >= 0)
        .select(col("key").as("user_id"), col("tag").as("event_id"),
          col("asof_payload").as("asof_click_s"))
    }),

    // Retention cohorts: users grouped by signup day; D1/D7 retention =
    // any activity exactly 1/7 days later. Same one-row-per-user shuffle
    // shape as the funnel.
    // Full cohort-retention TRIANGLE: for every signup cohort day and
    // day offset 0..14, the active-user count and the retention rate
    // (one IEEE division of exact counts). Unlike events_retention's
    // fixed d1/d7 flags, the matrix form never collects per-user day
    // sets: distinct (user, day) activity joins the signup day and
    // aggregates by (cohort, offset) — scale-safe under any user skew.
    "events_cohort_matrix" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val signup = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val cohortSize = signup.groupBy("cohort_day")
        .agg(count(lit(1)).as("n_users"))
      val active = ev.select("user_id", "day").distinct()
        .join(signup, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
        .where(col("day_offset").between(0, 14))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
      active.join(cohortSize, "cohort_day")
        .select(col("cohort_day"), col("day_offset").cast("int").as("day_offset"),
          col("n_active"), col("n_users"),
          (col("n_active").cast("double") / col("n_users").cast("double"))
            .as("retention"))
    }),

    "events_retention" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("day"))).as("signup_day"),
          collect_set(col("day")).as("days"))
        .where(col("signup_day").isNotNull)
        .select(col("user_id"), col("signup_day"),
          array_contains(col("days"), date_add(col("signup_day"), 1)).as("d1"),
          array_contains(col("days"), date_add(col("signup_day"), 7)).as("d7"))
        .groupBy(col("signup_day").as("cohort_day"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("d1").cast("int")).as("n_d1"),
          sum(col("d7").cast("int")).as("n_d7"))
    }),

    // Rolling active users: DAU + trailing-7-day WAU per day — the
    // standard engagement rollup. (day,user) distinct once; each pair
    // then votes into its 7 report days (explode ×7, a constant), so
    // WAU needs no range self-join and no per-day window over users.
    "events_active_users" -> ((spark, dir) => {
      val du = Tables.read(spark, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = du
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("rday"))
        .distinct()
        .groupBy("rday").agg(count(lit(1)).as("wau"))
      dau.join(wau, dau("day") === wau("rday"))
        .select(col("day"), col("dau"), col("wau"))
    }),

    // The trailing-7-day WAU as a continuous SLIDING-window query (the
    // window family the tumbling events_hourly_stream doesn't cover):
    // ×7 window generate → watermark-bounded per-window user dedup →
    // Append count — two chained stateful operators. Report days run
    // through max(day)+6 (every window an event touched).
    "events_wau_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs0) = sentinelBounds(spark, ev)
      // the sentinel must push the REPORT-DAY watermark past the last
      // real window's end (max day + 7): sentinelBounds' margin is
      // sized for event-time operators, so add a month of headroom
      val sentinelTs = new java.sql.Timestamp(
        sentinelTs0.getTime + 30L * 86400 * 1000)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      // the sentinel rides THROUGH the pipeline to advance the derived
      // rts watermark; its own far-future windows never finalize, so it
      // self-filters from the Append output
      val streamed = graft.streaming.EventStream.slidingActiveUsers(
        streamWithSentinel(spark, ev, sentinel, delaySec,
          watermarkOnTs = false), delaySec)
      graft.streaming.EventStream.runToMemory(
        streamed, "events_wau_stream_out", OutputMode.Append())
      spark.table("events_wau_stream_out")
    }),

    // Pure range join (NO equi-key): clicks landing inside sampled
    // one-hour post-purchase windows, via the bucketized point-in-interval
    // operator — Spark would otherwise plan the bare range predicate as a
    // nested-loop cartesian (PlanAuditSpec asserts the minted bucket key
    // hash-joins instead). Second-granularity timestamps on both sides
    // keep the oracle comparison engine-exact.
    "q_range_join" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val windows = ev
        .where(col("event_type") === "purchase" && col("event_id") % 20 === 0)
        .select(col("event_id").as("window_id"),
          date_trunc("second", col("ts")).as("lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 1 HOUR")).as("hi"))
      val clicks = ev.where(col("event_type") === "click")
        .select(date_trunc("second", col("ts")).as("click_s"), col("value"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, "click_s", windows, "lo", "hi", bucketWidth = 3600L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
    }),

    // Interval-OVERLAP range join (both sides are intervals, no equi-key):
    // one-hour post-purchase windows against 30-minute post-view windows,
    // exactly-once via the canonical-bucket rule (the first bucket both
    // intervals cover) — no distinct over the output. Aggregated per left
    // window so the result stays linear in the window count even when
    // pair density grows quadratically with event rate.
    "q_range_overlap" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
      val a = ev.where(col("event_type") === "purchase" && col("event_id") % 20 === 0)
        .select(col("event_id").as("a_id"),
          date_trunc("second", col("ts")).as("a_lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 1 HOUR")).as("a_hi"))
      val b = ev.where(col("event_type") === "view" && col("event_id") % 7 === 0)
        .select(col("event_id").as("b_id"),
          date_trunc("second", col("ts")).as("b_lo"),
          (date_trunc("second", col("ts")) + expr("INTERVAL 30 MINUTE")).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          a, "a_lo", "a_hi", b, "b_lo", "b_hi", bucketWidth = 3600L)
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_overlaps"), min(col("b_lo")).as("first_b_lo"))
    }),

    "events_hourly" -> ((spark, dir) =>
      Tables.read(spark, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))),

    // Hopping (sliding) windows — the third windowed-aggregation family
    // next to tumbling (events_hourly) and session (events_session_window):
    // 1-hour windows every 30 minutes, each event in exactly 2. Spark's
    // window() explodes the assignment before the partial aggregate, so
    // the shuffle carries (window, type) partial sums — 2× the tumbling
    // volume, never row-level fan-out.
    "events_hopping" -> ((spark, dir) =>
      Tables.read(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("vdec"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("vdec").cast("double").as("value_sum"))),

    // The same hopping windows through the watermarked streaming path in
    // Append mode — each of an event's two windows emits exactly once
    // when the watermark passes its end; the sentinel pushes it past
    // every real window. Same oracle as the batch form.
    "events_hopping_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("value"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, 0.0))
        .toDF("event_type", "ts", "value")
      val agg = streamWithSentinel(spark, ev, sentinel, delaySec)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("vdec"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("vdec").cast("double").as("value_sum"))
      graft.streaming.EventStream.runToMemory(
        agg, "events_hopping_stream_out", OutputMode.Append())
      spark.table("events_hopping_stream_out")
        .where(col("event_type") =!= "noop")
    }),

    // The canonical streaming shape — watermarked tumbling-window
    // aggregation in Append mode — at the gate: each hour window emits
    // exactly once when the watermark passes its end (the sentinel pushes
    // it past every real window). Decimal-cast sum keeps the double
    // partition-order-independent, so the oracle is IDENTICAL to
    // `events_hourly`'s — batch ≡ stream for windowed aggregation.
    "events_hourly_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("event_type"), col("ts"), col("value"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq(("noop", sentinelTs, 0.0))
        .toDF("event_type", "ts", "value")
      val agg = streamWithSentinel(spark, ev, sentinel, delaySec)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("vdec"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("vdec").cast("double").as("value_sum"))
      graft.streaming.EventStream.runToMemory(
        agg, "events_hourly_stream_out", OutputMode.Append())
      spark.table("events_hourly_stream_out")
        .where(col("event_type") =!= "noop")
    }),

    // Native session_window (gap-based session assignment; merge iff
    // inter-event gap <= 30 min — a gap of EXACTLY the window size merges,
    // pinned by StreamingSpec's boundary test and mirrored in the oracle's
    // `gap > 1800` new-session rule). Works identically as a streaming
    // query (StreamingSpec).
    "events_session_window" -> ((spark, dir) => {
      Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
        .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
    }),

    // Flagship composed curation pipeline: exact-dedup → quality gate →
    // language ID → per-doc features. Every stage is a narrow projection
    // except the dedup semi-join; the whole thing is one Catalyst plan.
    "pipeline_curate" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val deduped = graft.functions.Dedup.dropExactDuplicates(docs, "text", "doc_id")
      // native one-pass stats + one-pass lang scores: two scans per row
      // total, vs ~8 regex/split/filter passes in the HOF forms — same
      // values (TextStatsExprSpec / TextAnalysisSpec), same oracle
      deduped
        .select(col("doc_id"), col("text"),
          TextAnalysis.stats(col("text")).as("s"))
        .select(col("doc_id"),
          TextAnalysis.langIdNative(col("text")).as("lang_pred"),
          col("s.n_tokens").as("n_tokens"),
          TextAnalysis.qualityScoreFromStats(col("s")).as("quality"))
        .where(col("quality") >= 0.5)
    }),

    // Full curation DAG in ONE Catalyst plan: exact-dedup keep-one →
    // quality gate (native one-pass stats) → benchmark decontamination
    // (broadcast gram-set) → context-window chunking. Output is the
    // training-ready chunk table; every stage reuses an operator whose
    // gate entry is independently hash-verified.
    "pipeline_full" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val deduped = graft.functions.Dedup
        .dropExactDuplicates(docs, "text", "doc_id")
      val quality = deduped
        .select(col("doc_id"), col("text"),
          TextAnalysis.qualityScoreFromStats(
            TextAnalysis.stats(col("text"))).as("quality"))
        .where(col("quality") >= 0.5)
      val clean = graft.functions.Curation.decontaminate(
          quality.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0), "text", "doc_id", k = 4)
        .where(!col("contaminated"))
        .select("doc_id")
      graft.functions.Curation.chunkByTokens(
        quality.join(clean, "doc_id"), "text", "doc_id",
        window = 16, stride = 8)
    }),

    // Curation AUDIT: the per-document "why was my doc dropped" trail a
    // production pipeline owes its users — every doc (not just
    // survivors) with its stage verdicts and ONE reason code, the FIRST
    // failing stage in pipeline_full's order (exact_dup → low_quality →
    // benchmark_doc → contaminated → admitted). Same operators, same
    // single Catalyst DAG; the output is the complement view of
    // pipeline_full's survivor table.
    "pipeline_audit" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val keepers = graft.functions.Dedup
        .dropExactDuplicates(docs, "text", "doc_id")
        .select(col("doc_id")).withColumn("__keep", lit(true))
      val contam = graft.functions.Curation.decontaminate(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0), "text", "doc_id", k = 4)
        .select(col("doc_id"), col("contaminated").as("__c"))
      docs.select(col("doc_id"),
          TextAnalysis.qualityScoreFromStats(
            TextAnalysis.stats(col("text"))).as("quality"))
        .join(keepers, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"),
          coalesce(col("__keep"), lit(false)).as("is_keeper"),
          coalesce(col("__c"), lit(false)).as("contaminated"),
          when(!coalesce(col("__keep"), lit(false)), lit("exact_dup"))
            .when(col("quality") < 0.5, lit("low_quality"))
            .when(col("doc_id") % 97 === 0, lit("benchmark_doc"))
            .when(coalesce(col("__c"), lit(false)), lit("contaminated"))
            .otherwise(lit("admitted")).as("reason"))
    }),

    // Salted two-phase aggregation — identical results to the direct
    // groupBy (the oracle IS the direct form), with the hot-key shuffle
    // split across 8 sub-keys.
    "q_salted_agg" -> ((spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      graft.functions.Skew.saltedAgg(li,
          Seq("l_returnflag", "l_linestatus"), buckets = 8,
          aggs = Seq("qty" -> "sum", "qty" -> "count"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("count_qty").as("count_qty"))
    }),

    // Salted JOIN — the skew mitigation for a fact⋈dim equi-join whose
    // key is pathological (here: 3 distinct values over all of
    // lineitem, the worst case for sort-merge). The dim replicates 8×,
    // each fact row picks one deterministic salt, the join runs on
    // (key, salt) — bit-identical result to the plain join (the
    // oracle IS the plain join), hot key spread across 8 reducers.
    "q_salted_join" -> ((spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .withColumn("k", pmod(col("l_orderkey"), lit(3)))
      val dim = Tables.read(spark, dir, "region")
        .where(col("r_regionkey") < 3)
        .select(col("r_regionkey").cast("long").as("k"), col("r_name"))
      graft.functions.Skew.saltedJoin(li, dim, Seq("k"), buckets = 8,
          salt = col("l_partkey") * 7 + col("l_linenumber"))
        .groupBy("r_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // Deterministic content-keyed sampling, portable form: membership is
    // an md5-hex-prefix compare any engine reproduces bit-for-bit, so the
    // DuckDB oracle verifies the exact sample. The cheaper xxhash64 form
    // ([[Sampling.hashSample]]) keeps its determinism/composability
    // contract asserted in SamplingSpec.
    "sample_hash" -> ((spark, dir) =>
      graft.functions.Sampling.portableHashSample(
        Tables.read(spark, dir, "documents"), "doc_id", fraction = 0.2)
        .select("doc_id", "lang", "source")),

    "sample_stratified" -> ((spark, dir) =>
      graft.functions.Sampling.portableStratifiedSample(
        Tables.read(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "fr" -> 0.1, "de" -> 0.1, "es" -> 0.1, "zh" -> 0.1))
        .select("doc_id", "lang")),

    // Domain-mix rebalancing: downsample each language to the target mix
    // (en .3 / de .2 / fr .2 / es .15 / zh .15) — per-group keep
    // fractions derived IN-PLAN from corpus counts and the binding group,
    // membership by the portable md5 keep. The oracle recomputes the
    // identical fractions from its own counts.
    "sample_rebalance" -> ((spark, dir) =>
      graft.functions.Sampling.rebalanceMix(
        Tables.read(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang", "source")),

    // One-pass mergeable quantile sketch (t-digest style custom
    // TypedImperativeAggregate). Digest estimates are sketch-specific
    // (pass-through in the oracle; rank-accuracy bounds live in
    // QuantileDigestSpec); the group's count/min/max ride in the same
    // cheap hash aggregate and ARE recomputed + hash-checked — exact
    // quantiles would need a sort-based aggregate that costs more than
    // the digest itself (q_percentile covers exact quantiles).
    "q_tdigest" -> ((spark, dir) => {
      val digest = graft.plans.QuantileDigest.tdigest(
        col("l_extendedprice"), Seq(0.25, 0.5, 0.99), delta = 100)
      Tables.read(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(digest.as("qs"), count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .select(col("l_returnflag"),
          round(element_at(col("qs"), 1), 2).as("p25"),
          round(element_at(col("qs"), 2), 2).as("p50"),
          round(element_at(col("qs"), 3), 2).as("p99"),
          col("n"), col("lo"), col("hi"))
    }),

    // Per-group deterministic reservoir (custom TypedImperativeAggregate,
    // bottom-k sketch): k example sources per language. The portable
    // variant keys on md5, so DuckDB reproduces the exact sample as the
    // k distinct values with smallest substring(md5(v),1,16) per group.
    "sample_reservoir" -> ((spark, dir) =>
      Tables.read(spark, dir, "documents")
        .groupBy("lang")
        .agg(array_join(
          array_sort(
            graft.plans.ReservoirSample.portableReservoir(col("source"), 5)),
          "|").as("source_sample"))),

    // Weighted sampling w/o replacement (priority sampling): sample ∝
    // document length — every priority is one portable IEEE division, so
    // the oracle recomputes identical bits and replays the same top-k.
    "sample_weighted" -> ((spark, dir) =>
      graft.functions.Sampling.prioritySample(
        Tables.read(spark, dir, "documents")
          .select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 200)),

    // Per-language weighted sampling: top-30 priorities WITHIN each
    // lang — the mix-respecting form (rank window per stratum).
    "sample_weighted_strat" -> ((spark, dir) =>
      graft.functions.Sampling.stratifiedPrioritySample(
        Tables.read(spark, dir, "documents")
          .select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", "lang", k = 30)),

    // DSIR-shaped importance resampling: hashed-bigram evidence weights
    // against the %97 target slice (log-free inner-product form — exact
    // integer sums, one division), resampled by the same portable
    // priority sampler. The full target-aware data-selection loop.
    "sample_importance" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val w = graft.functions.Sampling.importanceWeights(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", nBuckets = 256)
      graft.functions.Sampling.prioritySample(w, "doc_id", "weight",
        k = 100)
    }),

    // Deterministic 80/10/10 train/val/test split: membership is a pure
    // function of the key (portable md5 ranges), reproducible anywhere.
    "sample_split" -> ((spark, dir) =>
      graft.functions.Sampling.portableSplit(
        Tables.read(spark, dir, "documents").select("doc_id"),
        "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),

    // STREAMING classifier-on-arrival: the same lexicon scoring as
    // text_score_lexicon run over the file stream — the lexicon is a
    // static broadcast side, scoring is explode + join + one Update-mode
    // aggregation. A document's tokens all arrive in its single row, so
    // each doc finalizes within its microbatch and the post-drain
    // max-collapse is the identity — batch ≡ stream under the SAME
    // oracle.
    "text_score_lexicon_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val cand = docs.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val marker = "\u0000sentinel"
      val sentinel = Seq((-1L, marker,
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val scored = TextAnalysis.lexiconScore(
        streamWithSentinel(spark, cand, sentinel, delaySec = 3600L),
        "text", "doc_id", lex)
      graft.streaming.EventStream.runToMemory(
        scored, "text_score_lexicon_stream_out", OutputMode.Update())
      spark.table("text_score_lexicon_stream_out")
        .where(col("doc_id") =!= -1L)
        .groupBy("doc_id")
        .agg(max(col("n_tokens")).as("n_tokens"),
          max(col("n_hits")).as("n_hits"),
          max(col("score")).as("score"))
    }),

    // Leakage-safe split: the verdict is per exact-duplicate GROUP (min
    // id of the normalized text), so no copy of a document can straddle
    // train and test — the split stays a pure content function.
    "sample_split_leakproof" -> ((spark, dir) =>
      graft.functions.Sampling.leakSafeSplit(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),

    // SCD2 change compaction (gaps-and-islands): the events change log
    // collapses into per-user validity intervals of event_type runs —
    // the append-only-log → dimension-history operator. Both windows
    // partition by the entity key (state = one lag row / a counter);
    // the interval-closing window runs over the already-compacted run
    // table, one row per run.
    "events_scd2" -> ((spark, dir) =>
      graft.functions.EventOps.changeIntervals(
        Tables.read(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts_s")),
        "user_id", "event_type", "ts_s", "event_id")
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))),

    // Fixed-point PageRank over the customer↔supplier purchase graph
    // (distinct orders⋈lineitem pairs, emitted both directions): 5
    // power iterations with EVERY step in Long arithmetic — `div`
    // truncation and order-independent integer sums make the ranks
    // bit-portable, so the oracle unrolls the identical recurrence in
    // SQL and the hash check covers all 5 supersteps. Each iteration is
    // one hash join + one partial-agg groupBy(dst); top-20 by
    // (rank desc, node) is a TakeOrderedAndProject.
    "graph_pagerank" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      // edgesDistinct: `pairs` is distinct and the two orientations are
      // disjoint (customers < 10^7 <= shifted suppliers), so the union
      // is one row per directed edge by construction
      graft.functions.Graph.pageRankFixedPoint(edges, "src", "dst",
          iters = 5, edgesDistinct = true)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
        .select(col("node"), col("rank"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    }),

    // Bounded-hop WEIGHTED shortest paths over the customer–supplier
    // graph (edge weight = min order quantity on the relationship):
    // 4 Bellman–Ford relaxation rounds from the 20 highest-degree
    // customers — the weighted companion of graph_bfs; min is
    // order-free so the oracle unrolls the identical rounds.
    "graph_sssp" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val pairs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("s"),
          col("l_quantity").cast("long").as("w"))
        .groupBy("c", "s").agg(min(col("w")).as("w"))
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"),
          col("w"))
        .unionByName(pairs.select(col("s").as("src"), col("c").as("dst"),
          col("w")))
      val seeds = pairs.groupBy(col("c").as("node"))
        .agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("node"))
        .limit(20)
      // edgesMinimal: min-aggregated per pair above, orientations disjoint
      graft.functions.Graph.ssspBounded(edges, "src", "dst", "w",
          seeds, "node", rounds = 4, edgesMinimal = true)
        .select(col("node"), col("dist"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    }),

    // k-core over the same customer–supplier bipartite graph: the
    // maximal subgraph where every node keeps ≥ 10 neighbors — the
    // web-graph dense-region/quality filter. Synchronous peeling to
    // the fixpoint; peeling is confluent, so the oracle replays it
    // with unrolled rounds (no-ops past the fixpoint — measured 1–2
    // rounds at the fixture SFs, replayed with 12).
    "graph_kcore" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      // edgesDistinct: distinct pairs, disjoint orientations (pagerank note)
      graft.functions.Graph.kCore(edges, "src", "dst", k = 10,
          edgesDistinct = true)
        .select(col("node"), col("core_deg"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    }),

    // FULL coreness decomposition over the same bipartite graph —
    // every node's core number in one pass of synchronous h-index
    // supersteps (Lü et al. PNAS 2016: iterate "my value = h-index of
    // my neighbors' values" from the degree; converges to coreness),
    // where graph_kcore answers one fixed k. All-integer rounds, so
    // the oracle unrolls the identical iteration; rounds past the
    // fixpoint are no-ops.
    "graph_coreness" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      // edgesDistinct: distinct pairs, disjoint orientations (pagerank note)
      graft.functions.Graph.coreness(edges, "src", "dst",
          oracleUnroll = Some(24), edgesDistinct = true)
        .select(col("node"), col("coreness"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    }),

    // Multi-source BFS blast radius over the same customer–supplier
    // bipartite graph as graph_pagerank: hop distance (≤ 4) from the
    // 20 highest-degree customers. Frontier-only expansion — each node
    // is expanded once, total join work ≤ |E| across all rounds; the
    // hop-bounded min-distance set is order-invariant so the recursive
    // CTE (UNION-deduped per level) replays it exactly.
    "graph_bfs" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
      val seeds = pairs.groupBy(col("c").as("node"))
        .agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("node"))
        .limit(20)
      // edgesDistinct: distinct pairs, disjoint orientations (pagerank note)
      graft.functions.Graph.bfsLevels(edges, "src", "dst",
          seeds, "node", maxHops = 4, edgesDistinct = true)
        .select(col("node"), col("dist"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    }),

    // Resource-Allocation link prediction over the customer–part
    // co-purchase bipartite graph: which customer pairs share the most
    // (rarest) parts. Integer-exact RA scores; hub parts (deg > 30) are
    // capped out BEFORE the pair expansion so the candidate volume is
    // ≤ |parts|·30²/2 no matter how skewed the catalog — the top-100
    // ranking rides TakeOrderedAndProject, never a global sort.
    "graph_linkpred" -> ((spark, dir) => {
      val orders = Tables.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      graft.functions.Graph.linkPredictionRA(edges, "cust", "part",
          maxDeg = 30L)
        .orderBy(col("ra_score").desc, col("node_a"), col("node_b"))
        .limit(100)
    }),

    // Attribute-filtered ANN — hard-negative mining: each query's top-10
    // most-similar vectors with a DIFFERENT label, via the IVF probe with
    // the label predicate applied BEFORE any cosine is computed. Emitted
    // sims are exact; the oracle recomputes them per pair AND re-checks
    // the label inequality in its join (a same-label emission drops the
    // row → row-count mismatch).
    "sim_filtered" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 16)
      graft.functions.IvfIndex.searchFiltered(index,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
        (c, q) => c =!= q, k = 10, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rank"))
    }),

    // Entity resolution, stage 1 — blocked fuzzy match: the customer
    // registry plus deterministically corrupted re-entries (last char
    // dropped / appended / first char replaced, one per %4∈{1,2,3} row),
    // blocked on the 8-digit name core the corruptions never touch,
    // verified at edit distance ≤ 2 (length prefilter before the O(len²)
    // loop). Σ|block|² pairs, never n².
    "er_match" -> ((spark, dir) =>
      // maxBlock = 100: the standard ER non-informative-block guard
      // (same rationale as graph_triangles) — organic-scale blocks are
      // <= ~20 so sf0.001/0.01/0.1 output is unchanged; the replicated
      // 10x fixture's ~175-copy name blocks would otherwise emit tens
      // of millions of signal-free pairs (21.9M measured) and OOM the
      // closure oracle downstream
      graft.functions.EntityResolution.blockedPairs(
        erRecords(spark, dir), "id", "name",
        expr("substring(name, 10, 8)"), maxEdits = 2, maxBlock = 100L)),

    // Entity resolution, stages 2-3 — cluster + survivorship: match
    // pairs → connected components (entity_id = min member id) → ONE
    // max(struct) survivor election per entity (highest acctbal, ties to
    // the lower id; corrupted re-entries rank below every clean row).
    // Oracle: recursive closure over the emitted er_match pairs + the
    // same struct-max election.
    "er_resolve" -> ((spark, dir) =>
      graft.functions.EntityResolution.resolve(
        erRecords(spark, dir), "id", "name",
        expr("substring(name, 10, 8)"), maxEdits = 2,
        rankCol = "acctbal", maxBlock = 100L)),

    // NEAR-DUP-aware deletion propagation: the forget verdict spreads
    // through minhash components, not just exact copies — a paraphrased
    // re-upload of requested content purges too. Same pair parameters as
    // dedup_minhash, so the oracle closes over that entry's emitted
    // pairs (the dedup_components contract).
    "pipeline_forget_neardup" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      val labels = graft.functions.Components.connectedComponents(
        pairs, "id_a", "id_b")
      val lab = docs.select(col("doc_id"),
          (col("doc_id") % 29 === 0).as("requested"))
        .join(labels.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .withColumn("comp", coalesce(col("component"), col("doc_id")))
      val verdict = lab.groupBy("comp")
        .agg(max(col("requested")).as("linked"))
      lab.join(verdict, "comp")
        .select(col("doc_id"), col("requested"), col("linked"),
          col("linked").as("purged"))
    }),

    // Incremental ER: the dirty re-entries arrive as a BATCH against the
    // already-resolved clean registry — batch-touching pairs only, the
    // component loop runs over the contracted graph (∝ batch), then
    // survivorship re-elects. Labels are provably identical to the
    // from-scratch resolve, so this entry shares er_resolve's oracle.
    "er_resolve_incremental" -> ((spark, dir) => {
      val recs = erRecords(spark, dir)
      graft.functions.EntityResolution.resolveIncremental(
        recs.where(col("id") < 1000000L),
        recs.where(col("id") >= 1000000L),
        "id", "name", expr("substring(name, 10, 8)"), maxEdits = 2,
        rankCol = "acctbal", maxBlock = 100L)
    }),

    // Frame sampling over binary media payloads: fixed-size byte frames
    // (every nth chunk — real byte slicing; only the frames-vs-chunks
    // interpretation is domain-specific). Emitted as scalar rows
    // (idx, byte length, hex) so every frame byte is value-checked;
    // trailing empty frames filter out, so kept indices stay aligned
    // with the original frame grid. Pure projection + posexplode — the
    // payload never shuffles.
    "multimodal_framesample" -> ((spark, dir) => {
      val withBin = Multimodal.ingest(
          Tables.read(spark, dir, "documents"), "text")
        .select(col("doc_id"), col("content"))
      withBin
        .select(col("doc_id"),
          posexplode(Multimodal.frameSample(col("content"),
            nFrames = 4, frameBytes = 32)).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          hex(col("frame")).as("frame_hex"))
    }),

    // The SAME SCD2 compaction as a Structured Streaming query
    // (twin #22): watermark-buffered per-user fold — closed intervals
    // append exactly once (their valid_to is the next run's first sealed
    // event), the open run emits monotone snapshots keyed by its first
    // event id, reconciled with the funnelExact max() contract. Same
    // DuckDB oracle as events_scd2 — batch ≡ stream under the gate.
    "events_scd2_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, -1L, "noop", sentinelTs))
        .toDF("user_id", "event_id", "event_type", "ts")
      val streamed = graft.streaming.EventStream.scd2Exact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.Scd2Event])
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_scd2_stream_out", OutputMode.Append())
      spark.table("events_scd2_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id", "event_type", "valid_from", "from_eid")
        .agg(max(col("n_events")).as("n_events"),
          max(col("valid_to")).as("valid_to"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"),
          col("valid_to").isNull.as("is_current"))
    }),

    // Point-in-time (temporal dimension) join — SCD2 composed with the
    // as-of operator: each purchase looks up the profile state
    // (signup/view run) its user was in AT purchase time. Empty
    // [t, t) intervals (several profile changes inside one truncated
    // second) are filtered, which leaves per-user interval starts
    // strictly increasing — the as-of pick is unique and the kept
    // intervals still tile the axis, so validity needs no second check.
    // One shuffle on user_id (the carry-forward window), linear in
    // facts + dim.
    "events_pit_join" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val dim = graft.functions.EventOps.changeIntervals(
          ev.where(col("event_type").isin("signup", "view")),
          "user_id", "event_type", "ts_s", "event_id")
        .where(col("valid_to").isNull || col("valid_from") < col("valid_to"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_s"))
      graft.operators.AsOfJoin.asOf(facts, dim, "user_id", "ts_s",
          "valid_from", payload = Seq("state", "valid_from"))
        .select(col("user_id"), col("event_id"), col("ts_s"),
          col("asof_state").as("state"),
          col("asof_valid_from").as("state_since"))
    }),

    // Corpus snapshot diff — dataset versioning: the fixture corpus vs a
    // deterministically evolved copy (%17 removed, %13 edited, %19
    // re-added under new ids); only (id, digest) pairs reach the
    // full-outer join.
    "corpus_diff" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val newSnap = docs.where(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.functions.Curation.snapshotDiff(docs, newSnap, "doc_id", "text")
    }),

    // Per-node triangle counts on the ER similarity graph — the local
    // clustering signal (near-clique vs chain neighborhoods).
    // Degree-ordered orientation bounds wedge blowup to O(m^1.5); the
    // triangle SET is orientation-invariant, so the oracle replays the
    // capped blocked-pair construction with plain id order and must
    // agree bit-for-bit. maxBlock = 100 drops non-informative blocking
    // keys BEFORE the pair expansion — at organic scales every block is
    // ≤ ~20 records (output unchanged at sf0.001/0.01/0.1); on the
    // replicated 10× fixture, name copies inflate blocks to ~175
    // near-identical records whose cliques cost Σdeg³ wedge volume
    // (measured: 216 s + child-JVM OOM uncapped) while carrying no
    // clustering signal — the standard ER block-size guard.
    "graph_triangles" -> ((spark, dir) =>
      graft.functions.Graph.triangleCounts(
        graft.functions.EntityResolution.blockedPairs(
          erRecords(spark, dir), "id", "name",
          expr("substring(name, 10, 8)"), maxEdits = 2, maxBlock = 100L),
        "id_a", "id_b")),

    // KNN label vote — label-error detection: each vector's majority
    // neighbor label vs its own. The gate runs the exact window top-5
    // neighbor set (SQL-replayable end-to-end); at corpus scale the SAME
    // vote composes over IvfIndex.knnGraph (SimilaritySpec pins the two
    // equal at full probe).
    "sim_label_vote" -> ((spark, dir) => {
      val emb = Tables.read(spark, dir, "embeddings")
      val knn = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      Similarity.labelVote(knn, emb, "vec_id", "label")
    }),

    // Nearest-centroid classification (Rocchio / few-shot eval): per-
    // label centroids from the %3 train slice on the ×2^20 fixed-point
    // plane (partitioning-invariant), eval rows assigned by the fused
    // nearest-center kernel (ONE codegen'd loop over the label-sorted
    // centroid matrix, ties → lower label), confusion matrix out. The
    // centroid collect is labels × dim rows — model-sized metadata.
    "sim_centroid_classify" -> ((spark, dir) => {
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
    }),

    // The SCALE path for the label-error vote: the KNN graph comes from
    // the IVF multi-probe index (bucket-pruned — never the quadratic
    // brute self-join), and the vote emits one row per (query,
    // neighbor) so the oracle verifies labels + majority + mismatch
    // exactly FROM THE EMITTED PAIRS (the sim_ann_lsh contract; the
    // neighbor set itself is recall-dependent). The exact-KNN entry
    // above stays as the verification shape; THIS is the bench shape.
    "sim_label_vote_ann" -> ((spark, dir) => {
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
    }),

    // Event-type transition matrix (first-order Markov counts): per
    // user, consecutive (ts, event_id)-ordered event pairs, aggregated
    // to (from, to, n, gap_sum_s). Keyed lag window + one partial-agg
    // groupBy; gap seconds accumulate as exact BIGINTs.
    "events_transitions" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
      ev.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("ts_s")) - lag(unix_timestamp(col("ts_s")), 1).over(w))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("gap_sum_s"))
    }),

    // Hourly volume anomaly flags: per event type, each hour's count
    // against its trailing-24h window — z² > 9 evaluated ENTIRELY in
    // integer arithmetic ((x·n − s)² > 9·(q·n − s²), the z-score
    // inequality cleared of divisions), so the flag is bit-portable with
    // no float in sight. Range-frame window per type; exact for hourly
    // counts up to ~10⁸ (the Long headroom of the squared term).
    "events_anomaly" -> ((spark, dir) => {
      val hourly = Tables.read(spark, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type")
        .orderBy(unix_timestamp(col("hour_start")))
        .rangeBetween(-86400L, -3600L)
      hourly
        .withColumn("trail_hours", count(lit(1)).over(w))
        .withColumn("trail_sum", coalesce(sum(col("n_events")).over(w), lit(0L)))
        .withColumn("trail_sumsq",
          coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
        .withColumn("is_anomaly",
          col("trail_hours") >= 3 &&
            pow2(col("n_events") * col("trail_hours") - col("trail_sum")) >
              lit(9L) * (col("trail_sumsq") * col("trail_hours") -
                pow2(col("trail_sum"))))
    }),

    // Deletion propagation ("right to be forgotten"): a deletion request
    // (%29 ids) purges the requested doc AND every exact duplicate of it
    // (same normalized text) — otherwise deleted content survives under
    // other ids. One content-keyed aggregate + one hash join back; only
    // (hash, flag) rows shuffle.
    "pipeline_forget" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          xxhash64(graft.functions.Dedup.normalizeText(col("text"))).as("__h"))
        .withColumn("requested", col("doc_id") % 29 === 0)
      val groups = docs.groupBy("__h")
        .agg(max(col("requested")).as("linked"))
      docs.join(groups, "__h")
        .select(col("doc_id"), col("requested"), col("linked"),
          col("linked").as("purged"))
    }),

    // Z-order clustering key: Morton bit-interleave of (partkey,
    // suppkey) — the multi-dimensional file-pruning layout (Delta/
    // Iceberg OPTIMIZE ZORDER) as a pure integer projection; the
    // range-partition + local sort shape is audited in PlanAuditSpec,
    // the key math hash-checks against the SQL bit replay here.
    "layout_zorder" -> ((spark, dir) =>
      graft.functions.Layout.zorder(
        Tables.read(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", bits = 10, numPartitions = 32)
        .select("l_orderkey", "l_linenumber", "zval")),

    // Zone-map statistics index (data skipping): per ingest-order bucket
    // (l_orderkey div 256 — the file surrogate), min/max/null-count for
    // a date and a measure column + row count. ONE partial-aggregated
    // scan emitting metadata-sized output — the per-file stats table
    // (Delta/Iceberg manifests, parquet row-group footers) that lets a
    // 100 TB scan plan touch only the files a predicate can hit.
    "layout_stats_index" -> ((spark, dir) =>
      graft.functions.Layout.zoneMap(
        Tables.read(spark, dir, "lineitem")
          .select(col("l_orderkey"),
            col("l_shipdate").cast("date").as("ship_date"),
            floor(col("l_extendedprice") * 100).cast("long")
              .as("price_cents")),
        expr("l_orderkey div 256"), Seq("ship_date", "price_cents"))),

    // Prune evaluation: zone map over a CLUSTERED layout (month-of-
    // shipdate buckets) + a two-column range predicate → per-bucket
    // provable skip decision, cross-checked against the actual matching
    // row count (pruning soundness: can_skip ⇒ n_match = 0; the date
    // clustering makes most buckets skippable, the unclustered price
    // column proves the no-prune negative case). The decision is a
    // metadata projection over the stats table; the verification count
    // rides the same single aggregate scan.
    "layout_prune_eval" -> ((spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_date"),
          floor(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"))
      val bucket =
        (year(col("ship_date")) * 12 + month(col("ship_date")) - 1)
          .cast("long")
      val dLo = lit("1995-03-15").cast("date")
      val dHi = lit("1995-09-15").cast("date")
      val pLo = lit(100000L)
      val pHi = lit(5000000L)
      val zm = graft.functions.Layout.zoneMap(
        li, bucket, Seq("ship_date", "price_cents"))
      val dec = zm.select(col("bucket"),
        (graft.functions.Layout.pruneDecision("ship_date", dLo, dHi) ||
          graft.functions.Layout.pruneDecision("price_cents", pLo, pHi))
          .as("can_skip"))
      val actual = li.groupBy(bucket.as("bucket"))
        .agg(sum(when(col("ship_date").between(dLo, dHi) &&
          col("price_cents").between(pLo, pHi), 1L).otherwise(0L))
          .as("n_match"))
      dec.join(actual, "bucket")
    }),

    // One-pass per-column table profile (nulls, exact distincts,
    // min/max) — data-contract monitoring for warehouse tables.
    "table_profile" -> ((spark, dir) =>
      graft.functions.Profiling.tableProfile(
        Tables.read(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus"))),

    // The monitoring-cadence profile: approx_count_distinct drops the
    // multi-distinct Expand from the plan (no k× row expansion — the
    // exact form costs 7.9 s at sf0.1, this is one plain scan).
    // Nulls/min/max/rows stay exact and hash-check; the estimate
    // gate-checks by readback (q_approx_distinct contract).
    "table_profile_fast" -> ((spark, dir) =>
      graft.functions.Profiling.tableProfileApprox(
        Tables.read(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus"))),

    // Cross-source duplicate-overlap matrix — multi-source acquisition
    // diagnostic: distinct-normalized-text counts per source pair plus
    // shared counts. Text collapses to (xxhash64, source) before any
    // exchange; the pair matrix crosses the metadata-sized per-source
    // totals.
    "corpus_overlap" -> ((spark, dir) =>
      graft.functions.Curation.sourceOverlap(
        Tables.read(spark, dir, "documents"), "text", "source")),

    // CDC MERGE (SCD1 upsert/delete apply): a deterministic change batch
    // (%7=3 updates, %11=5 deletes — keys ≡38 mod 77 get BOTH, proving
    // last-wins election — %13=7 inserts under shifted keys) applied to
    // the orders snapshot. One max(struct) partial agg over the batch +
    // one key join; the snapshot never pays a window.
    "table_merge_cdc" -> ((spark, dir) => {
      val o = Tables.read(spark, dir, "orders")
      graft.functions.Warehouse.mergeCdc(o, cdcChanges(o),
        "o_orderkey", "seq", "op")
    }),

    // Streaming twin #23 — continuous CDC intake: the change feed arrives
    // as TWO microbatches delivered OUT of seq order (all seq-2 deletes
    // first, then the seq-1 updates/inserts), so the per-key election
    // must be arrival-order-independent. It is by construction — the
    // streaming groupBy maintains max(struct(seq, op, …)), a set
    // property; the drained state composes with the static snapshot
    // through the SAME applyElected as batch, under the SAME oracle.
    // State is bounded by touched keys — the CDC cost model.
    "table_merge_cdc_stream" -> ((spark, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val o = Tables.read(spark, dir, "orders")
      val ch = cdcChanges(o)
      val payload = o.columns.filterNot(_ == "o_orderkey").toSeq
      val stream = streamWithSentinel(spark,
        ch.where(col("seq") === 2), ch.where(col("seq") === 1),
        delaySec = 0L, watermarkOnTs = false)
      val latest = graft.functions.Warehouse.electLatest(
        stream, "o_orderkey", "seq", "op", payload)
      graft.streaming.EventStream.runToMemory(
        latest, "cdc_latest_out", OutputMode.Update())
      // Update-mode memory sink keeps one row per key per emitting batch;
      // a second max collapses to the final state (monotone in batches)
      val finalLatest = spark.table("cdc_latest_out")
        .groupBy("o_orderkey").agg(max(col("__c")).as("__c"))
      graft.functions.Warehouse.applyElected(o, finalLatest,
        "o_orderkey", "op")
    }),

    // Incremental materialized-aggregate maintenance: the hourly rollup
    // split at a deliberately hour-UNaligned cutoff (first-hour + 36h30m)
    // so the straddled hour exists in BOTH state and delta and the merge
    // must recombine it. Sums stay DECIMAL through the merge (exact,
    // order-independent), cast to double only at output — so merged ≡
    // full recompute bit-for-bit, which is exactly what the oracle runs.
    "events_hourly_incremental" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      val cutoff = ev.agg(
        (date_trunc("hour", min(col("ts"))).cast("long") + 36L * 3600L
          + 1800L).cast("timestamp").as("__cut"))
      val tagged = ev.crossJoin(broadcast(cutoff))
      def hourly(d: DataFrame) = d
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("value_dec"))
      graft.functions.Warehouse.mergeAggState(
          hourly(tagged.where(col("ts") < col("__cut"))),
          hourly(tagged.where(col("ts") >= col("__cut"))),
          Seq("hour_start", "event_type"), Seq("n_events", "value_dec"))
        .select(col("hour_start"), col("event_type"), col("n_events"),
          col("value_dec").cast("double").as("value_sum"))
    }),

    // Join-key skew profile on events.user_id — the pre-join diagnostic
    // feeding the salted-join decision. TakeOrderedAndProject top-10
    // (count desc, key asc) + broadcast 1-row totals; integer skew factor.
    "profile_skew" -> ((spark, dir) =>
      graft.functions.Profiling.keySkew(
        Tables.read(spark, dir, "events"), "user_id", topK = 10)),

    // Exact equi-width histogram of order totals on the integer cent
    // plane — optimizer/monitoring statistics. Division-free bucket
    // assignment; two scans, shuffle no wider than 20 rows.
    "table_histogram" -> ((spark, dir) =>
      graft.functions.Profiling.histogram(
        Tables.read(spark, dir, "orders")
          .select(floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents", nBuckets = 20)),

    // k-anonymity audit — every (event_type, day, user-bucket)
    // equivalence class with its size and the < k re-identifiability
    // flag; the release-gate governance check. One partial-aggregated
    // groupBy; shuffle carries class counts, not rows.
    "table_kanon" -> ((spark, dir) =>
      graft.functions.Profiling.kAnonymity(
        Tables.read(spark, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            pmod(col("user_id"), lit(97)).as("user_bucket")),
        Seq("event_type", "day", "user_bucket"), k = 5)),

    // l-diversity — the homogeneity-attack check k-anonymity misses: per
    // (event_type, day) class, how many DISTINCT users (the sensitive
    // attribute) it contains; classes below l=5 are re-identifiable even
    // when large. Two-level exact aggregate, class-count-sized output.
    "table_ldiversity" -> ((spark, dir) =>
      graft.functions.Profiling.lDiversity(
        Tables.read(spark, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            pmod(col("user_id"), lit(97)).as("user_bucket")),
        Seq("event_type", "day"), "user_bucket", l = 5)),

    // Seasonal (hour-of-day) traffic profile per event type — counts,
    // exact DECIMAL value sums, and the bucket's integer-exact traffic
    // share in ppm. ≤ 24·|types| output rows from one aggregate.
    "events_seasonal" -> ((spark, dir) =>
      graft.functions.EventOps.seasonalProfile(
        Tables.read(spark, dir, "events"))),

    // Autocorrelation sufficient stats (lags 1–3) over the DENSE hourly
    // count series per event type — zero-filled spine so lag-k means
    // k HOURS ago, moments in the table_corr_stats exact-integer form.
    // The series is aggregate-sized; the window is per-type.
    "events_acf" -> ((spark, dir) =>
      graft.functions.EventOps.acfStats(
        denseHourlyCounts(spark, dir), "event_type", "h", "c",
        maxLag = 3)),

    // Holt level+trend smoothing over the dense hourly series — a TRUE
    // sequential recursion (each step consumes the previous step's
    // output), so it rides flatMapGroups: one shuffle on the series key,
    // an in-memory fold per key. Fixed-point ×1000, truncating integer
    // divisions — bit-portable against the oracle's recursive CTE.
    "events_holt" -> ((spark, dir) =>
      graft.functions.EventOps.holtSmooth(
        denseHourlyCounts(spark, dir), "event_type", "h", "c")
        .withColumnRenamed("h", "hour_start")),

    // CUSUM change-point flags over the same dense hourly series, with a
    // deterministic +3/hour rate shift planted on the 'error' type's
    // last third (hour 480 of the 720-hour span) so the detector has a
    // true change to find at every SF; threshold λ·√S with λ = 3/2,
    // compared in squared integers — no float in the decision.
    "events_cusum" -> ((spark, dir) => {
      val dense = denseHourlyCounts(spark, dir)
      val bounds = dense.agg(min(col("h")).as("lo")).select(
        (col("lo") + expr("INTERVAL 480 HOURS")).as("cut"))
      val planted = dense.crossJoin(broadcast(bounds))
        .select(col("event_type"), col("h"),
          when(col("event_type") === "error" && col("h") >= col("cut"),
            col("c") + 3L).otherwise(col("c")).as("c"))
      graft.functions.EventOps.cusumFlags(planted, "event_type", "h",
          "c", lambdaNum = 3L, lambdaDen = 2L)
        .withColumnRenamed("h", "hour_start")
    }),

    // Sentence segmentation — lookbehind-free terminal-punctuation split
    // (identical under Java regex and RE2), trimmed, empties dropped;
    // pure projection + generator, no shuffle.
    "text_sentences" -> ((spark, dir) =>
      graft.functions.TextAnalysis.sentences(
        Tables.read(spark, dir, "documents").select("doc_id", "text"),
        "doc_id", "text")),

    // RFM customer segmentation — recency/frequency/monetary quintiles,
    // exact-integer end-to-end: the engine computes SQL-ntile semantics
    // ARITHMETICALLY from the two-phase bucketed global rank (range
    // buckets + broadcast prefix offsets — no single-partition window),
    // while the oracle replays with the plain window ntile under the same
    // deterministic (metric, user_id) total orders.
    "events_rfm" -> ((spark, dir) =>
      graft.functions.Analytics.rfmSegments(
        Tables.read(spark, dir, "events"), "user_id", "ts", "value")),

    // Market-basket pair rules over order line items: exact integer
    // support/confidence/lift ×1e6. Within-basket pair explode is bounded
    // by basket size; counts partial-agg; 1-row basket total broadcasts.
    "basket_rules" -> ((spark, dir) =>
      graft.functions.Baskets.pairRules(
        Tables.read(spark, dir, "lineitem"), "l_orderkey", "l_partkey",
        minPairCount = 2L)),

    // Flesch-style readability — exact-integer vowel-group heuristic,
    // pure projection (scan speed).
    "text_readability" -> ((spark, dir) =>
      graft.functions.TextAnalysis.readability(
        Tables.read(spark, dir, "documents").select("doc_id", "text"),
        "doc_id", "text")),

    // Top-20 3-step event paths — sequential pattern mining via two
    // keyed lags + one partial-agg count + TakeOrdered.
    "events_paths" -> ((spark, dir) =>
      graft.functions.Analytics.topPaths(
        Tables.read(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts_s")),
        "user_id", "ts_s", "event_type", "event_id")),

    // Balanced-mix admission: every source downsampled (by portable
    // hash) toward the smallest source's token mass — per-source rates
    // exact-integer, admission md5-replayable.
    "mix_to_target" -> ((spark, dir) =>
      graft.functions.Curation.mixToTarget(
        Tables.read(spark, dir, "documents"), "doc_id", "text", "source")),

    // Streaming twin #24 — continuous balanced-mix intake: the rate
    // table lives OUTSIDE the stream (search_ingest pattern — computed
    // from the corpus, refreshed by re-running mixRates, never frozen
    // into per-arrival state), each arrival gets a STATELESS verdict via
    // the stream-static broadcast join. Same oracle as the batch entry.
    "mix_to_target_stream" -> ((spark, dir) => {
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
    }),

    // Perceptual near-duplicate media (dHash): planted one-byte-flipped
    // re-uploads (%23=4 takes its donor's payload with byte 10 set to
    // 0xFF) must surface with tiny Hamming distance while unrelated
    // payloads (≈28/56 bits apart) stay silent. Signature + banded LSH +
    // exact verify — the simhash shape on the media byte plane; payloads
    // never shuffle, only 8-byte signatures.
    "multimodal_phash" -> ((spark, dir) => {
      val raw = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), hex(col("text").cast("binary")).as("h"))
      val donor = raw.select(col("doc_id").as("__sid"), col("h").as("__sh"))
      val planted = raw
        .join(donor,
          col("doc_id") % 23 === 4 && col("__sid") === col("doc_id") - 4,
          "left")
        .select(col("doc_id"),
          when(col("__sh").isNotNull,
            concat(expr("substring(__sh, 1, 20)"), lit("FF"),
              expr("substring(__sh, 23)")))
            .otherwise(col("h")).as("h"))
      Multimodal.phashPairs(planted, "doc_id", col("h"))
    }),

    // Frame-level near-dup across media (clip detection): sample each
    // payload's fixed-size frames, dHash+LSH pair FRAMES across
    // different parents, aggregate to parent pairs with matching-frame
    // counts — how shared segments surface even when whole-file hashes
    // differ. The %23 plant flips one byte inside frame 0, so planted
    // pairs show the signature mix: 3 frames at hamming 0 + frame 0 at
    // a small positive hamming.
    "multimodal_frame_neardup" -> ((spark, dir) => {
      val raw = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), hex(col("text").cast("binary")).as("h"))
      val donor = raw.select(col("doc_id").as("__sid"), col("h").as("__sh"))
      val planted = raw
        .join(donor,
          col("doc_id") % 23 === 4 && col("__sid") === col("doc_id") - 4,
          "left")
        .select(col("doc_id"),
          when(col("__sh").isNotNull,
            concat(expr("substring(__sh, 1, 20)"), lit("FF"),
              expr("substring(__sh, 23)")))
            .otherwise(col("h")).as("h"))
      val frames = planted
        .select(col("doc_id"),
          posexplode(Multimodal.frameSample(unhex(col("h")),
            nFrames = 4, frameBytes = 64)).as(Seq("fidx", "frame")))
        .where(length(col("frame")) === 64)
        .select((col("doc_id") * lit(100L) + col("fidx")).as("fkey"),
          hex(col("frame")).as("fh"))
      Multimodal.phashPairs(frames, "fkey", col("fh"))
        .where(expr("id_a div 100") =!= expr("id_b div 100"))
        .groupBy(expr("id_a div 100").as("vid_a"),
          expr("id_b div 100").as("vid_b"))
        .agg(count(lit(1)).as("n_frames"),
          min(col("hamming")).as("min_hamming"),
          max(col("hamming")).as("max_hamming"))
    }),

    // Per-user interval union: each event opens a 30-minute activity
    // interval; overlapping intervals merge (gaps-and-islands on a keyed
    // window — prev-max-end then running island sum), reporting island
    // counts and total covered seconds per user — all epoch-second
    // integers. Tie rows (same start+end) are island-invariant, so both
    // engines agree regardless of within-frame tie order.
    "events_interval_union" -> ((spark, dir) => {
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("s"))
        .withColumn("e", col("s") + 1800L)
      val ord = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
      val marked = ev
        .withColumn("pmax", max(col("e")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          (col("pmax").isNull || col("s") > col("pmax")).cast("long"))
      marked
        .withColumn("island", sum(col("new_island")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ie") - col("is")).as("covered_s"))
    }),

    // Streaming twin of events_interval_union: the watermark-sealed
    // session fold (an island IS a gap-1800s session) emits each merged
    // interval exactly once with epoch-second bounds; the per-user
    // rollup after the drain must hash-match the batch window form
    // under the SAME oracle.
    "events_interval_union_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val ev = Tables.read(spark, dir, "events")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val (delaySec, sentinelTs) = sentinelBounds(spark, ev)
      val sentinel = Seq((-1L, sentinelTs)).toDF("user_id", "ts")
      val streamed = graft.streaming.EventStream.intervalUnionExact(
        streamWithSentinel(spark, ev, sentinel, delaySec)
          .as[graft.streaming.EventStream.SessionEvent], lenSeconds = 1800L)
      graft.streaming.EventStream.runToMemory(
        streamed.toDF(), "events_interval_union_stream_out",
        OutputMode.Append())
      spark.table("events_interval_union_stream_out")
        .where(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_e") - col("island_s")).as("covered_s"))
    }),

    // Per-user fixed-point EWMA over the last 16 events: weight halves
    // per step of recency (w_j = 2^(16−j), j = recency rank), numerator
    // and denominator emitted as exact integers so the result is
    // bit-portable — a double-accumulated EWMA is reduce-order-
    // dependent and could never hash-check. One keyed window (bounded
    // top-16 per user) + one partial-aggregated groupBy; ties on ts
    // broken by event_id so the rank is a total order.
    "events_ewma" -> ((spark, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 16)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents") * expr("shiftleft(1L, 16 - rn)"))
            .as("ewma_num"),
          sum(expr("shiftleft(1L, 16 - rn)")).as("ewma_den"))
    }),

    // Per-doc keyword extraction: top-3 terms by integer TF-IDF-ish
    // score (tf·10⁶ div df — the rational idf ordering without a
    // partition-order-dependent ln sum). Token explode → two partial-
    // aggregated counts (tf keyed by doc, df by term), one term-keyed
    // hash join back, one doc-keyed bounded window. Ties: higher tf,
    // then lexicographically smaller term.
    "text_keywords" -> ((spark, dir) => {
      val toks = Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(length(col("term")) >= 5)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tf").desc, col("term"))
      tf.join(df_, "term")
        .withColumn("score", expr("(tf * 1000000L) div df"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("score"),
          col("rk"))
    }),

    // Audience overlap matrix: for every event-type pair, how many
    // distinct users did both. The scale shape is ONE shuffle of the
    // distinct (user, type) pairs into per-user bitmasks (type vocab is
    // tiny — indexed via a broadcast 6-row dimension), then a ≤2^|types|
    // row mask histogram joined against the type-pair grid — the
    // user-level self-join (what the oracle runs, per-user |types|²
    // blowup) never happens on the big side.
    "events_audience_overlap" -> ((spark, dir) => {
      val ut = Tables.read(spark, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val idx = ut.select("event_type").distinct()
        .withColumn("idx",
          row_number().over(Window.orderBy("event_type")) - 1)
      val hist = ut.join(broadcast(idx), "event_type")
        .groupBy("user_id")
        .agg(sum(expr("shiftleft(1L, idx)")).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
      val pairs = idx.select(col("event_type").as("type_a"),
          col("idx").as("ia"))
        .join(idx.select(col("event_type").as("type_b"),
          col("idx").as("ib")), col("type_a") < col("type_b"))
      hist.join(broadcast(pairs),
          expr("((mask >> ia) & 1) = 1 AND ((mask >> ib) & 1) = 1"))
        .groupBy("type_a", "type_b")
        .agg(sum(col("n")).as("n_users"))
    }),

    // Pairwise correlation SUFFICIENT STATISTICS over the numeric
    // measures — n, Σx, Σy, Σxy, Σx², Σy² per measure pair, the exact
    // integer moments a feature-correlation / drift monitor derives r
    // from. A float corr() is reduce-order-dependent and could never
    // hash-check; these moments are exact (per-row products stay in
    // Long, the sums ride DECIMAL(38)). One generate (6 structs/row)
    // into a partial-aggregated 6-group rollup — no self-join of the
    // measure columns.
    "table_corr_stats" -> ((spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem").select(
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("price"),
        floor(col("l_discount") * 100).cast("long").as("disc"),
        floor(col("l_tax") * 100).cast("long").as("tax"))
      val ms = Seq("qty", "price", "disc", "tax")
      val pairs = for {
        i <- ms.indices; j <- (i + 1) until ms.size
      } yield (ms(i), ms(j))
      li.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("ma"), lit(b).as("mb"),
            col(a).as("x"), col(b).as("y"))
        }: _*)).as("p"))
        .groupBy(col("p.ma").as("measure_a"), col("p.mb").as("measure_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("p.x")).as("sum_x"), sum(col("p.y")).as("sum_y"),
          sum((col("p.x") * col("p.y")).cast("decimal(38,0)"))
            .cast("double").as("sum_xy"),
          sum((col("p.x") * col("p.x")).cast("decimal(38,0)"))
            .cast("double").as("sum_xx"),
          sum((col("p.y") * col("p.y")).cast("decimal(38,0)"))
            .cast("double").as("sum_yy"))
    }),

    // Winsorized rollup: per returnflag, exact p05/p95 price cuts via
    // the integer cum-weight election (cum·20 ≥ total / ≥ 19·total —
    // same engine-agnostic percentile form as q_weighted_median, no
    // float quantile semantics to disagree on), then outliers clamped
    // to the cuts and re-summed. Value-histogram first (the window
    // orders DISTINCT cents per flag, not rows), cuts re-join as a
    // broadcast per-flag dimension.
    "table_winsorize" -> ((spark, dir) => {
      val li = Tables.read(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val hist = li.groupBy("l_returnflag", "cents")
        .agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy("l_returnflag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cuts = hist
        .withColumn("cum", sum(col("w")).over(wc))
        .withColumn("total", sum(col("w")).over(
          Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") * 20 >= col("total"), col("cents")))
          .as("lo_cents"),
          min(when(col("cum") * 20 >= col("total") * 19, col("cents")))
            .as("hi_cents"))
      hist.join(broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("lo_cents")).as("lo_cents"),
          max(col("hi_cents")).as("hi_cents"),
          sum(col("w") * greatest(col("lo_cents"),
            least(col("hi_cents"), col("cents")))).as("win_sum_cents"),
          sum(when(col("cents") < col("lo_cents"), col("w"))
            .otherwise(lit(0L))).as("n_lo"),
          sum(when(col("cents") > col("hi_cents"), col("w"))
            .otherwise(lit(0L))).as("n_hi"))
    }),

    // Declarative data-quality checks (the dbt-test surface) against a
    // deterministically corrupted copy — nulled FKs (%31=3), orphaned
    // FKs (%29=8), invalid status (%37=5), re-appended duplicate keys
    // (%41=6), out-of-range quantities (%43=7) — so every check's
    // violation COUNTING is exercised, not just its zero path. Each
    // check is one partial-agg scan or one anti join.
    "table_checks" -> ((spark, dir) => {
      val P = graft.functions.Profiling
      val o = Tables.read(spark, dir, "orders")
      val base = o.unionByName(o.where(col("o_orderkey") % 41 === 6))
      val corrupted = base
        .withColumn("o_custkey",
          when(col("o_orderkey") % 31 === 3, lit(null).cast("long"))
            .when(col("o_orderkey") % 29 === 8,
              col("o_custkey") + 10000000L)
            .otherwise(col("o_custkey")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 37 === 5, lit("X"))
            .otherwise(col("o_orderstatus")))
      val qty = Tables.read(spark, dir, "lineitem")
        .select((col("l_quantity").cast("long") +
          when(col("l_orderkey") % 43 === 7, 100L).otherwise(0L))
          .as("qty"))
      P.checkNotNull(corrupted, "orders", "o_custkey")
        .unionByName(P.checkUnique(corrupted, "orders", "o_orderkey"))
        .unionByName(P.checkAcceptedValues(corrupted, "orders",
          "o_orderstatus", Seq("O", "F", "P")))
        .unionByName(P.checkRefIntegrity(corrupted, "orders", "o_custkey",
          Tables.read(spark, dir, "customer"), "c_custkey"))
        .unionByName(P.checkRange(qty, "lineitem", "qty", 1L, 50L))
    }),

    // Unigram-LM (SentencePiece-style) vocabulary induction — the third
    // tokenizer family member next to BPE and WordPiece: every corpus
    // character plus the top-24 bounded substrings by the seed score
    // freq×len, each carrying its ×2^20 fixed-point log2 probability
    // (the bit-portable Viterbi cost plane — integer sums downstream,
    // one deterministic scalar log per vocab entry).
    "text_unigram_vocab" -> ((spark, dir) =>
      graft.functions.Unigram.unigramVocab(
        Tables.read(spark, dir, "documents"), "text", k = 24)),

    // Unigram-LM ENCODE: Viterbi-best segmentation of each DISTINCT
    // word under the fixed-point cost table (max Σ cost_fp, exact ties
    // on the lexicographically smallest path — a total order both
    // engines replay), documents re-encoded by ONE word → pieces join.
    // The oracle unrolls the same DP position-by-position.
    "text_unigram_apply" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      graft.functions.Unigram.unigramApply(docs, "text", "doc_id",
        graft.functions.Unigram.costTable(vocab))
    }),

    // One hard-EM refinement round (the SentencePiece M-step): re-count
    // every piece by its USES in the corpus' Viterbi segmentation and
    // rebuild the cost plane; pieces the decoder never picks prune out
    // — the vocabulary-shrinking step of unigram-LM training, exactly
    // replayed by the oracle's recount over the same DP.
    "text_unigram_em" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      graft.functions.Unigram.unigramEmRecount(docs, "text",
        graft.functions.Unigram.costTable(vocab))
    }),

    // Large-vocabulary encode path (VERDICT r10 item 3): the SAME
    // Viterbi segmentation with the vocabulary as a broadcast-joined
    // TABLE instead of a plan-literal map — the form a 100k-piece
    // production vocab needs (a literal map is linearly scanned per
    // lookup and risks codegen constant limits). The induced k=24
    // vocab is padded with 50k pieces LONGER than MaxPieceLen — they
    // can never match a candidate substring, so the cost plane (and
    // hence the oracle, reused verbatim) is unchanged, while the
    // vocab size forces unigramApplyVocab onto the join route.
    "text_unigram_apply_big" -> ((spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      val pad = spark.range(50000).select(
        format_string("zzpadpiece%07d", col("id")).as("piece"),
        lit(-999999999L).as("cost_fp"),
        lit(0L).as("cnt"), lit(false).as("is_char"))
      graft.functions.Unigram.unigramApplyVocab(docs, "text", "doc_id",
        vocab.unionByName(pad, allowMissingColumns = false))
    }),

    // URL canonicalization + canonical-URL dedup — the crawl pipeline's
    // front door (C4/RefinedWeb/FineWeb all dedup at the URL level
    // before any content pass). The synthetic URL derives from the SAME
    // SQL snippet on both sides (the erRecords pattern): doc_id % 11
    // fixes the URL's IDENTITY (subdomain, path, params, kept port),
    // doc_id itself injects only canonicalization NOISE (scheme/host
    // case, www., default ports, tracking params, param order,
    // fragments, trailing slash), so dup groups form across documents
    // and every rule is load-bearing in the hash.
    "web_url_canon" -> ((spark, dir) =>
      graft.functions.WebOps.urlDedup(webDocs(spark, dir), "url", "doc_id")),

    // Per-registered-domain corpus stats over canonical hosts (the
    // blocklist / per-site-cap decision table): eTLD+1 via the
    // documented two-level-suffix subset, counts + exact size sum only.
    "web_domain_stats" -> ((spark, dir) =>
      graft.functions.WebOps.domainStats(webDocs(spark, dir), "url",
        "n_chars")),

    // Per-domain keep cap (sourceCap with the key DERIVED from the
    // URL): smallest 8 doc_ids per registered domain survive.
    "web_domain_cap" -> ((spark, dir) =>
      graft.functions.WebOps.domainCap(webDocs(spark, dir), "url",
        "doc_id", maxPerDomain = 8)),

    // STREAMING canonical-URL dedup (twin #41): canonicalization is a
    // stateless projection, the keep verdict is (min id, count) per
    // canonical group — SET properties, so the streamed result equals
    // batch under any microbatch split; state is O(1) per group.
    "web_url_canon_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = webDocs(spark, dir)
        .select(col("doc_id"), col("url"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "\u0000sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "url", "ts")
      val agg = streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
        .groupBy(graft.functions.WebOps.canonicalizeUrl(col("url"))
          .as("canon_url"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
      graft.streaming.EventStream.runToMemory(
        agg, "web_url_canon_stream_out", OutputMode.Update())
      spark.table("web_url_canon_stream_out")
        .groupBy("canon_url")
        .agg(min(col("keep_id")).as("keep_id"),
          max(col("n_copies")).as("n_copies"))
        .where(col("keep_id") >= 0) // drop the sentinel group
    }),

    // Streaming unigram encode (twin of text_unigram_apply): the cost
    // table trains batch-side, then documents arrive as a stream and
    // every word segments inline through the per-row Viterbi fold — a
    // STATELESS projection (no join, no state store, Append mode),
    // exactly-once under any microbatch split, SAME oracle as the
    // batch entry.
    "text_unigram_stream" -> ((spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val costs = graft.functions.Unigram.costTable(
        graft.functions.Unigram.unigramVocab(docs, "text", k = 24))
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val enc = graft.functions.Unigram.unigramApplyPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L,
          rebalanceFeed = true),
        "text", "doc_id", costs)
      graft.streaming.EventStream.runToMemory(
        enc, "text_unigram_stream_out", OutputMode.Append())
      spark.table("text_unigram_stream_out")
        .where(col("doc_id") =!= -1L)
    }))

  /** Deterministic synthetic URL per document, built from the SAME SQL
    * snippets on both sides (Spark `expr` here, DuckDB oracle below) —
    * the erRecords pattern. `doc_id % 11` ("page") drives URL identity;
    * raw `doc_id` residues drive only noise the canonicalizer must
    * collapse. Shared snippets are dialect-common SQL: concat / case /
    * cast(.. as string) / upper / `%` behave identically.
    */
  private val webQCoreSql: String =
    "case when doc_id % 11 = 9 then '' else case when doc_id % 2 = 0 " +
      "then concat('a=', lang, '&b=', cast(doc_id % 11 as string)) " +
      "else concat('b=', cast(doc_id % 11 as string), '&a=', lang) end end"

  private val webQTrackSql: String =
    "concat(" +
      "case when doc_id % 3 = 0 then concat('&utm_source=', source) else '' end, " +
      "case when doc_id % 5 = 1 then '&gclid=zz1' else '' end, " +
      "case when doc_id % 7 = 3 then '&ref=fp' else '' end)"

  /** URL body; expects a column `qq` = webQCoreSql ++ webQTrackSql. */
  private val webUrlSql: String =
    """concat(
      |  case when (doc_id % 11) % 2 = 0
      |    then (case when doc_id % 5 = 0 then 'HTTPS' else 'https' end)
      |    else (case when doc_id % 5 = 0 then 'HTTP' else 'http' end) end,
      |  '://',
      |  case when doc_id % 2 = 1
      |    then (case when doc_id % 10 = 1 then 'WWW.' else 'www.' end)
      |    else '' end,
      |  case when (doc_id % 11) % 3 = 0 then 'm.'
      |       when (doc_id % 11) % 3 = 1 then 'blog.' else '' end,
      |  case when doc_id % 3 = 0 then upper(source) else source end,
      |  '.',
      |  case when lang = 'en' then 'co.uk' when lang = 'fr' then 'fr'
      |       when lang = 'es' then 'com.mx' when lang = 'de' then 'de'
      |       else 'com.cn' end,
      |  case when doc_id % 11 = 7 then ':8080'
      |       when doc_id % 7 = 0 then
      |         (case when (doc_id % 11) % 2 = 0 then ':443' else ':80' end)
      |       else '' end,
      |  case when doc_id % 11 = 5 then ''
      |       else concat('/', source, '/p', cast(doc_id % 11 as string),
      |         case when doc_id % 4 = 0 then '/' else '' end) end,
      |  case when qq = '' then '' else concat('?', qq) end,
      |  case when doc_id % 6 = 0 then concat('#s', cast(doc_id % 4 as string))
      |       else '' end)""".stripMargin

  private[graft] def webDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .withColumn("qq", expr(s"concat($webQCoreSql, $webQTrackSql)"))
      .withColumn("url", expr(webUrlSql))
      .select("doc_id", "url", "n_chars")

  /** Oracle CTE producing `canon(doc_id, n_chars, url, canon_url,
    * chost)` — the DuckDB replay of [[graft.functions.WebOps]]'s rules
    * over the same synthetic URLs. `coalesce(array_to_string(...),'')`
    * papers over DuckDB returning NULL for an empty list where Spark's
    * array_join returns ''.
    */
  private lazy val webCanonCte: String =
    s"""WITH q0 AS (SELECT doc_id, lang, source, n_chars,
       |    concat($webQCoreSql, $webQTrackSql) AS qq FROM documents),
       |u AS (SELECT doc_id, n_chars, $webUrlSql AS url
       |  FROM q0),
       |c1 AS (SELECT doc_id, n_chars, url,
       |    split_part(url, '#', 1) AS nofrag FROM u),
       |c2 AS (SELECT *, split_part(nofrag, '?', 1) AS base,
       |    CASE WHEN instr(nofrag, '?') > 0
       |      THEN substring(nofrag,
       |        length(split_part(nofrag, '?', 1)) + 2, 1073741823)
       |      ELSE '' END AS query FROM c1),
       |c3 AS (SELECT *, lower(split_part(base, '://', 1)) AS scheme,
       |    CASE WHEN instr(base, '://') > 0
       |      THEN substring(base,
       |        length(split_part(base, '://', 1)) + 4, 1073741823)
       |      ELSE base END AS rest FROM c2),
       |c4 AS (SELECT *, lower(split_part(rest, '/', 1)) AS hostport,
       |    substring(rest,
       |      length(split_part(rest, '/', 1)) + 1, 1073741823) AS path0
       |  FROM c3),
       |c5 AS (SELECT *,
       |    CASE WHEN scheme = 'http' THEN regexp_replace(
       |        regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
       |      WHEN scheme = 'https' THEN regexp_replace(
       |        regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
       |      ELSE regexp_replace(hostport, '^www\\.', '') END AS host2,
       |    regexp_replace(path0, '/$$', '') AS path1,
       |    coalesce(array_to_string(list_sort(list_filter(
       |      string_split(query, '&'),
       |      p -> NOT starts_with(p, 'utm_')
       |        AND split_part(p, '=', 1)
       |          NOT IN ('gclid','fbclid','msclkid','ref')
       |        AND p <> '')), '&'), '') AS q1 FROM c4),
       |canon AS (SELECT doc_id, n_chars, url,
       |    concat(scheme, '://', host2, path1,
       |      CASE WHEN q1 = '' THEN '' ELSE concat('?', q1) END)
       |      AS canon_url,
       |    regexp_replace(host2, ':[0-9]+$$', '') AS chost FROM c5)""".stripMargin

  /** eTLD+1 over a host column named `chost` (two-level-suffix subset
    * mirroring WebOps.TwoLevelSuffixes).
    */
  private lazy val webRegDomainSql: String =
    "CASE WHEN len(string_split(chost, '.')) <= 2 THEN chost " +
      "WHEN concat(string_split(chost, '.')[-2], '.', " +
      "string_split(chost, '.')[-1]) IN " +
      "('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp'," +
      "'com.au','net.au','org.au','com.br','com.cn','com.mx','co.in'," +
      "'co.kr','co.za','github.io','blogspot.com','herokuapp.com') " +
      "THEN concat(string_split(chost, '.')[-3], '.', " +
      "string_split(chost, '.')[-2], '.', string_split(chost, '.')[-1]) " +
      "ELSE concat(string_split(chost, '.')[-2], '.', " +
      "string_split(chost, '.')[-1]) END"

  /** The RAG corpus cleaner shared by the indexed/stream flagship
    * twins: deterministic markup wrapping + stripMarkup (same text as
    * pipeline_rag).
    */
  private[graft] def ragCleanCorpus(docs: DataFrame): DataFrame =
    // rebalanced raw rows: the markup strip (a chain of regexps) runs
    // post-exchange on every core instead of a one-file source's single
    // scan task; no-op at production file counts
    Dedup.rebalanceRaw(docs, col("doc_id"), col("text"))
      .select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("<html><body class=\"page\"><p>")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>"))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("</p></body></html>"))
            .otherwise(lit(""))).as("t"))
      .select(col("doc_id"),
        graft.functions.Curation.stripMarkup(col("t")).as("clean"))

  /** Context-window chunks of the clean corpus slice with the packed
    * (doc, chunk) key — checkpointed ONCE (default) so every ingest
    * shard reads the chunk table, not the corpus. The STREAM twin skips
    * the checkpoint (`checkpoint = false`): its ingest reads the
    * written FEED parquet, never this plan, so the checkpoint would
    * materialize the chunk table a second time for nothing.
    */
  private[graft] def ragChunks(clean: DataFrame, label: String,
                               checkpoint: Boolean = true): DataFrame = {
    val c = graft.functions.Curation.chunkByTokens(
        clean.where(col("doc_id") % 97 =!= 0), "clean", "doc_id",
        window = 16, stride = 8)
      .select((col("doc_id") * lit(1000000L) +
          when(col("chunk_id") < lit(1000000L), col("chunk_id"))
            .otherwise(raise_error(concat(
              lit(s"$label: chunk_id overflows ckey: "),
              col("chunk_id").cast("string"))))).as("ckey"),
        col("chunk_text"))
    if (checkpoint) c.localCheckpoint(true) else c
  }

  /** The hybrid query tail shared by the persisted-index RAG twins:
    * passage BM25 from the postings index → per-parent best chunk →
    * RRF fusion with exact dense cosine → MMR rerank. Identical to
    * pipeline_rag's tail, so all three entries share ONE oracle.
    */
  private[graft] def ragQueryFromPostings(clean: DataFrame, emb: DataFrame,
                                   postings: DataFrame,
                                   doclens: Option[DataFrame] = None): DataFrame = {
    val qdocs = clean.where(col("doc_id") % 97 === 0 &&
      col("doc_id") < 1000 && length(trim(col("clean"))) > 0)
    val qt = qdocs.select(col("doc_id").as("query_id"),
      explode(array_distinct(slice(
        split(Dedup.normalizeText(col("clean")), " "), 1, 5))).as("term"))
    val hits = graft.functions.Retrieval.bm25TopKFromPostings(
      postings, qt, k = 50, doclens = doclens)
    val lex = hits
      .groupBy(col("query_id"), expr("doc_id div 1000000").as("parent"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nck"))).as("m"))
      .select(col("query_id"), col("parent").as("doc_id"),
        col("m.score").as("score"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= 10)
    val qv = emb
      .join(broadcast(qdocs.select(col("doc_id").as("query_id"))),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("embedding").as("qv"),
        Similarity.norm(col("embedding")).as("qn"))
    val vec = emb.where(col("vec_id") % 97 =!= 0)
      .select(col("vec_id").as("doc_id"), col("embedding").as("cv"),
        Similarity.norm(col("embedding")).as("cn"))
      .crossJoin(broadcast(qv))
      .select(col("query_id"), col("doc_id"),
        round(Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")), 6).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("doc_id"))))
      .where(col("rank") <= 10)
    val fused = graft.functions.Retrieval.rrfFuse(lex, vec, k = 10)
    val maxRrf = 2L * (1000000000L / 61L)
    Similarity.mmrRerank(
      fused.select(col("query_id"), col("doc_id"),
        (col("rrf").cast("double") / lit(maxRrf.toDouble)).as("rel")),
      emb, "vec_id", "embedding", k = 5)
  }

  /** Exact integer square as a Column (x*x — named for readability in
    * the anomaly inequality).
    */
  private def pow2(c: org.apache.spark.sql.Column) = c * c

  /** Hashing-trick replay: lowercase whitespace tokens, first-8-hex-md5
    * bucket mod 256, per-doc counts — one oracle for the batch groupBy
    * form and the row-local streaming form.
    */
  private val hashedFeaturesOracle: String =
    """WITH t AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |f AS (SELECT doc_id,
      |    CAST(('0x' || substring(md5(term), 1, 8))::BIGINT % 256
      |      AS INTEGER) AS feature
      |  FROM t WHERE length(term) > 0)
      |SELECT doc_id, feature, count(*) AS tf
      |FROM f GROUP BY 1, 2""".stripMargin

  /** Dense per-type hourly count series over the global [min, max] hour
    * span (zero-filled spine — shared by events_acf / events_cusum; the
    * q_gap_fill construction without the carry-forward).
    */
  private def denseHourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(spark, dir, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      .join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  /** DuckDB replay of [[Multimodal.dHash56Sql]] — same sampled positions,
    * same comparisons, same shift weights, on the same hex plane.
    */
  private def duckDHash56(h: String, nb: String): String = {
    def b(i: Int): String =
      s"(('0x' || substring($h, (($i * $nb) // 64) * 2 + 1, 2))::BIGINT)"
    (for (r <- 0 until 8; c <- 0 until 7) yield
      s"(CASE WHEN ${b(r * 8 + c)} > ${b(r * 8 + c + 1)} THEN ${1L << (r * 7 + c)} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  /** The CDC fixture for table_merge_cdc: updates (seq 1, repriced +1000
    * and flagged 'R'), deletes (seq 2), and inserts under key+10M (seq 1,
    * status 'N') — all derived deterministically from the snapshot so the
    * oracle can replay them. Keys ≡38 (mod 77) receive an update AND a
    * later delete, exercising the per-key latest-change election.
    */
  private def cdcChanges(o: DataFrame): DataFrame = {
    val upd = o.where(col("o_orderkey") % 7 === 3).select(
      col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
      col("o_custkey"), lit("R").as("o_orderstatus"),
      (col("o_totalprice") + 1000.0).as("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))
    val del = o.where(col("o_orderkey") % 11 === 5).select(
      col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
      lit(null).cast("long").as("o_custkey"),
      lit(null).cast("string").as("o_orderstatus"),
      lit(null).cast("double").as("o_totalprice"),
      lit(null).cast("timestamp").as("o_orderdate"),
      lit(null).cast("string").as("o_orderpriority"))
    val ins = o.where(col("o_orderkey") % 13 === 7).select(
      (col("o_orderkey") + 10000000L).as("o_orderkey"), lit(1L).as("seq"),
      lit("U").as("op"), col("o_custkey"), lit("N").as("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    upd.unionByName(del).unionByName(ins)
  }

  /** The entity-resolution fixture: the clean customer registry plus one
    * deterministically corrupted re-entry per %4∈{1,2,3} row (dirty id =
    * clean id + 1 000 000; last char dropped / 'x' appended / first char
    * replaced — none touch the 8-digit blocking core at name[10..17]).
    * Dirty rows rank 1 000 000 below their clean source so survivorship
    * always elects a clean record.
    */
  private def erRecords(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val dirty = cust.where(col("id") % 4 =!= 0)
      .select((col("id") + 1000000L).as("id"),
        when(col("id") % 4 === 1,
            expr("substring(name, 1, length(name) - 1)"))
          .when(col("id") % 4 === 2, concat(col("name"), lit("x")))
          .otherwise(concat(lit("X"), expr("substring(name, 2)")))
          .as("name"),
        (col("acctbal") - lit(1000000.0)).as("acctbal"))
    // materialized once: the ER entries fan this registry into many
    // consumers (block keep-list, both self-join sides, batch-touching
    // pairs, survivorship) — er_resolve_incremental's plan still carried
    // 16 copies of the scan+union after the mergeComponents fix
    cust.unionByName(dirty).localCheckpoint(true)
  }

  /** DuckDB SQL recomputing the exact cosine for each (query_id,
    * neighbor_id) pair an ANN entry returned: candidate sets are
    * engine-specific (LSH probe order / KMeans lists), so rows come from
    * the entry's own output parquet (`__OUT__` → Verify's outDir), while
    * the similarity VALUES are recomputed from the embeddings table and
    * hash-checked — the pair-value verification contract.
    */
  /** Signup → first-view → first-purchase funnel with BOUNDED per-user
    * aggregation state.
    *
    * Three chained conditional-min aggregations, each keyed on `user_id`:
    * t_signup = min signup ts; t_view = min view ts after t_signup;
    * t_buy = min purchase ts after t_view. Every aggregation buffer is a
    * single timestamp (partial+final min), so a bot user with 10⁷ events
    * costs O(1) state — unlike a `collect_list` of all their timestamps,
    * which materializes the whole event array in one (non-spillable)
    * aggregation buffer and is the classic skew OOM at 100×. All joins
    * and aggs share the `user_id` key, so the per-stage exchanges reuse
    * one hash partitioning.
    *
    * `ev` must have (user_id, event_type, ts_s) columns. Null semantics
    * match the list form exactly: a missing earlier stage nulls the later
    * ones (`ts > NULL` is NULL, dropped by both `min(when(...))` here and
    * `list_filter` in the oracle).
    */
  /** Single-shuffle funnel: ONE repartition by user + a sorted-group
    * fold with O(1) state (first signup → first later view → first
    * later buy), versus [[funnelBounded]]'s three event-table shuffles
    * plus four aggregate joins. The strict `>` stage comparisons make
    * the fold independent of ordering among equal timestamps, so the
    * result is deterministic and identical to the aggregation form
    * (spec-pinned). This is the batch twin of the streaming
    * `funnelExact` fold — measured 2.6× faster at the 10× scale
    * (10.3 s → 3.9 s cold, same box) because the events table crosses
    * the network once, which is the number that matters at 100 TB.
    */
  def funnelFold(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val typed = ev.select(col("user_id"), col("event_type"),
        col("ts_s").cast("timestamp").as("ts"))
      .as[graft.streaming.EventStream.FunnelEvent]
    typed.groupByKey(_.user_id)
      .flatMapSortedGroups(col("ts")) { (user: Long,
          evts: Iterator[graft.streaming.EventStream.FunnelEvent]) =>
        var tS: java.sql.Timestamp = null
        var tV: java.sql.Timestamp = null
        var tB: java.sql.Timestamp = null
        evts.foreach { e =>
          if (tS == null) { if (e.event_type == "signup") tS = e.ts }
          else if (tV == null) {
            if (e.event_type == "view" && e.ts.after(tS)) tV = e.ts
          } else if (tB == null) {
            if (e.event_type == "purchase" && e.ts.after(tV)) tB = e.ts
          }
        }
        Iterator.single((user, tS, tV, tB))
      }
      .toDF("user_id", "t_signup", "t_view", "t_buy")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
        (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
        (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
  }

  def funnelBounded(ev: DataFrame): DataFrame = {
    val s = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_s"))).as("t_signup"))
    val v = ev.where(col("event_type") === "view")
      .join(s, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("ts_s") > col("t_signup"), col("ts_s"))).as("t_view"))
    val b = ev.where(col("event_type") === "purchase")
      .join(v, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("ts_s") > col("t_view"), col("ts_s"))).as("t_buy"))
    s.join(v, Seq("user_id"), "left")
      .join(b, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_buy"),
        (col("t_signup").isNotNull && col("t_view").isNotNull).as("reached_view"),
        (col("t_view").isNotNull && col("t_buy").isNotNull).as("reached_buy"))
  }

  /** Watermark delay covering the fixture's full event-time span (any
    * arrival order is inside the lateness bound) and a sentinel timestamp
    * far enough ahead that the final watermark passes every real event.
    */
  private def sentinelBounds(spark: SparkSession,
                             ev: DataFrame): (Long, java.sql.Timestamp) = {
    import spark.implicits._
    val (spanSec, maxSec) = ev.selectExpr(
        "unix_timestamp(max(ts)) - unix_timestamp(min(ts))",
        "unix_timestamp(max(ts))")
      .as[(Long, Long)].head()
    val delaySec = spanSec + 3600L
    (delaySec, new java.sql.Timestamp((maxSec + delaySec + 7200L) * 1000L))
  }

  /** Stream a batch fixture through the real file source: the fixture rows
    * land in batch 1, a far-future sentinel row in batch 2 — advancing the
    * watermark past every real event so watermark-buffered operators seal
    * and drain via their event-time timeouts. The temp-dir copy exists
    * only because the gate's input is a static directory; in production
    * the source is Kafka/landing files and live data advances the
    * watermark. Returns the watermarked streaming DataFrame (schema =
    * `ev.schema`, event-time column `ts`).
    */
  private def streamWithSentinel(spark: SparkSession, ev: DataFrame,
                                 sentinel: DataFrame,
                                 delaySec: Long,
                                 watermarkOnTs: Boolean = true,
                                 rebalanceFeed: Boolean = false): DataFrame = {
    val root = graft.tools.Scratch.dir("graft-stream-gate")
    // rebalanceFeed (r11): a one-file fixture lands as ONE feed file,
    // and the file stream assigns one task per file — so a per-row-HEAVY
    // stateless stage (the unigram stream's 2M Viterbi folds) runs
    // single-task for the whole drain; more feed files = more batch-1
    // tasks (batch composition unchanged: all event files share one
    // mtime and maxFilesPerTrigger is their count). OPT-IN because for
    // cheap-row stateful twins the extra feed exchange + map-task fanout
    // into the state-store shuffle measured neutral-to-worse
    // (events_concurrency_stream 7.8 vs 11.0 s at 10×); enabled where
    // the win is measured (text_unigram_stream 13.5→7.2 s at 10×).
    (if (rebalanceFeed) Dedup.rebalance(ev) else ev)
      .write.parquet(s"$root/events")
    sentinel.coalesce(1).write.parquet(s"$root/sentinel")
    // file source reads oldest-mtime first: all event files land in
    // batch 1 (strictly older mtime + maxFilesPerTrigger = their count),
    // the sentinel in batch 2
    val base = System.currentTimeMillis() - 3600_000L
    import scala.jdk.CollectionConverters._
    def stamp(sub: String, t: Long): Long = {
      val ps = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/$sub"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      ps.foreach(_.toFile.setLastModified(t))
      ps.size
    }
    val nEventFiles = stamp("events", base)
    stamp("sentinel", base + 60_000L)
    val raw = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", nEventFiles.toString)
      .parquet(s"$root/{events,sentinel}/*")
    // watermarkOnTs=false hands back the raw stream for operators whose
    // event time is DERIVED from ts (e.g. report days): Spark forbids
    // redefining a watermark downstream, so the caller sets the only one
    if (watermarkOnTs) raw.withWatermark("ts", s"$delaySec seconds") else raw
  }

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

  /** DuckDB CTEs building each document's distinct word-3-shingle set —
    * the same construction the (hash-matching) dedup_ngram_jaccard oracle
    * uses, shared by the pair-Jaccard recompute oracles.
    */
  private val shingleCtes: String =
    """toks AS (SELECT doc_id,
      |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(t) - 2, 1) + 1),
      |  i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks)""".stripMargin

  private val stopList =
    TextAnalysis.EnglishStopwords.map(s => s"'$s'").mkString("[", ",", "]")
  private def markerList(lang: String): String =
    TextAnalysis.LangMarkers.toMap.apply(lang).map(s => s"'$s'").mkString("[", ",", "]")

  // the keep-one removal replay's CTE chain (aug → … → reb/unt), reused
  // verbatim as the first stage of the pipeline_pretrain composition
  private val substrApplyCtesForPipeline: String =
    """WITH aug AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN 'the quick brown fox jumps over the lazy dog near the river bank '
      |      ELSE '' END || text ||
      |    CASE WHEN doc_id % 11 = 0
      |      THEN ' the quick brown fox jumps over the lazy dog near the river bank'
      |      ELSE '' END AS text
      |  FROM documents),
      |t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM aug),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
      |pos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p FROM n),
      |w AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt FROM pos),
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
    """WITH aug AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
      |      THEN 'by the riverbank the quiet fox waited for the morning light to come '
      |      ELSE '' END || text ||
      |    CASE WHEN doc_id % 3 <> 0 AND doc_id % 13 = 0
      |      THEN ' by the riverbank the quiet fox waited for the morning light to come'
      |      ELSE '' END AS text
      |  FROM documents),
      |t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM aug),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
      |cpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
      |  FROM n WHERE doc_id % 3 <> 0),
      |cw AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt
      |  FROM cpos),
      |bpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
      |  FROM n WHERE doc_id % 3 = 0),
      |bw AS (SELECT DISTINCT array_to_string(toks[p:p+7], ' ') AS wtxt
      |  FROM bpos),
      |f AS (SELECT doc_id, p FROM cw WHERE wtxt IN (SELECT wtxt FROM bw)),
      |g AS (SELECT doc_id, p,
      |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
      |isl AS (SELECT doc_id, p,
      |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
      |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
      |  FROM isl GROUP BY doc_id, island)
      |SELECT sp.doc_id, CAST(s AS INT) AS span_start,
      |  CAST(ln AS INT) AS span_len,
      |  array_to_string(n.toks[s:s+ln-1], ' ') AS span_text
      |FROM sp JOIN n USING (doc_id)""".stripMargin

  // ExactSubstr span replay — shared by the batch entry and the
  // streaming flagging form (identical flagged set by construction)
  private val substrSpansOracle: String =
    """WITH aug AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN 'the quick brown fox jumps over the lazy dog near the river bank '
      |      ELSE '' END || text ||
      |    CASE WHEN doc_id % 11 = 0
      |      THEN ' the quick brown fox jumps over the lazy dog near the river bank'
      |      ELSE '' END AS text
      |  FROM documents),
      |t AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM aug),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
      |pos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p FROM n),
      |w AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt FROM pos),
      |dup AS (SELECT wtxt FROM w GROUP BY wtxt HAVING count(*) > 1),
      |f AS (SELECT doc_id, p FROM w WHERE wtxt IN (SELECT wtxt FROM dup)),
      |g AS (SELECT doc_id, p,
      |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
      |isl AS (SELECT doc_id, p,
      |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
      |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
      |  FROM isl GROUP BY doc_id, island)
      |SELECT sp.doc_id, CAST(s AS INT) AS span_start,
      |  CAST(ln AS INT) AS span_len,
      |  array_to_string(n.toks[s:s+ln-1], ' ') AS span_text
      |FROM sp JOIN n USING (doc_id)""".stripMargin

  // lexicon replay: distinct-per-doc token doc-frequencies on the
  // benchmark slice split even/odd, then per-occurrence add-one sums —
  // shared by the batch entry and its streaming twin
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
    """WITH t AS (SELECT doc_id, string_split(
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
      |    sqrt((CAST(s.n - d.df AS DOUBLE) + 0.5) /
      |         (CAST(d.df AS DOUBLE) + 0.5)) *
      |      ((CAST(g.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
      |       (CAST(g.tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) *
      |         ((1.0 - CAST(0.75 AS DOUBLE)) + (CAST(0.75 AS DOUBLE) *
      |           (CAST(g.dl AS DOUBLE) /
      |            (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))))))
      |      AS contrib
      |  FROM g JOIN d USING (term) JOIN q USING (term) CROSS JOIN s),
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
      |  round(
      |   list_sum(list_transform(range(1, len(qe.qv)+1),
      |     i -> qe.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
      |   (sqrt(list_sum(list_transform(range(1, len(qe.qv)+1),
      |     i -> qe.qv[i]::DOUBLE * qe.qv[i]::DOUBLE))) *
      |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
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
      |    CAST((CASE WHEN l.rank IS NULL THEN 0
      |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + l.rank AS BIGINT)
      |      END) +
      |      (CASE WHEN v.rank IS NULL THEN 0
      |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + v.rank AS BIGINT)
      |      END) AS BIGINT) AS rrf
      |  FROM u LEFT JOIN lex l USING (query_id, doc_id)
      |  LEFT JOIN vec v USING (query_id, doc_id))
      |SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
      |  CAST(rank AS INTEGER) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id) AS rank FROM f)
      |WHERE rank <= 10""".stripMargin

  /** Bigram-LM scoring replay: unigram/bigram counts over the %3
    * reference slice, then every ≥2-token doc's pooled add-one
    * conditional likelihood Σ(c2+1)/Σ(c1+V) — numerator and denominator
    * are exact integer sums so the single division hash-matches the
    * engine bit-for-bit.
    */
  private val lmScoreOracle: String =
    """WITH t AS (SELECT doc_id, string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |ref AS (SELECT * FROM t WHERE doc_id % 3 = 0),
      |runi AS (SELECT unnest(toks) AS w1 FROM ref),
      |v AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS vsize FROM runi),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM runi
      |  GROUP BY w1),
      |rp AS (SELECT toks, unnest(range(1, len(toks))) AS p FROM ref
      |  WHERE len(toks) >= 2),
      |c2 AS (SELECT toks[CAST(p AS INT)] AS w1,
      |    toks[CAST(p + 1 AS INT)] AS w2,
      |    CAST(count(*) AS BIGINT) AS c2
      |  FROM rp GROUP BY 1, 2),
      |dp AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p FROM t
      |  WHERE len(toks) >= 2),
      |db AS (SELECT doc_id, toks[CAST(p AS INT)] AS w1,
      |    toks[CAST(p + 1 AS INT)] AS w2 FROM dp),
      |j AS (SELECT db.doc_id, coalesce(c2.c2, 0) + 1 AS num_i,
      |    coalesce(c1.c1, 0) + v.vsize AS den_i,
      |    CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END AS known
      |  FROM db LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(known) AS BIGINT) AS n_known,
      |  CAST(sum(num_i) AS DOUBLE) / CAST(sum(den_i) AS DOUBLE) AS score
      |FROM j GROUP BY doc_id""".stripMargin

  /** Concurrency sweep replay — shared by the batch entry and the
    * streaming twin #29 (sealed sessions must reproduce the batch
    * session_window answer bit-for-bit).
    */
  private val concurrencyOracle: String =
      """WITH e AS (SELECT user_id, event_id,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts_s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (SELECT
        |    CAST(date_trunc('hour', min(ts_s)) AS TIMESTAMP) AS sh,
        |    CAST(date_trunc('hour', max(ts_s)) AS TIMESTAMP) AS eh
        |  FROM s GROUP BY user_id, session_id),
        |d AS (SELECT h, CAST(sum(dd) AS BIGINT) AS delta FROM (
        |    SELECT sh AS h, 1 AS dd FROM sess
        |    UNION ALL SELECT eh + INTERVAL 1 HOUR, -1 FROM sess)
        |  GROUP BY 1),
        |b AS (SELECT min(sh) AS lo, max(eh) AS hi FROM sess),
        |spine AS (SELECT unnest(generate_series(b.lo, b.hi,
        |    INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT spine.h, CAST(coalesce(d.delta, 0) AS BIGINT) AS delta,
        |  CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY spine.h)
        |    AS BIGINT) AS n_active
        |FROM spine LEFT JOIN d USING (h)""".stripMargin

  /** table_drift replay: the per-column profile recomputed over both
    * date slices of orders with UNION ALL per column, then the same ppm
    * deltas and null-safe range flag. Fixing the same three int/string
    * columns as the entry keeps min/max-to-string engine-portable.
    */
  private val tableDriftOracle: String = {
    def side(tag: String, pred: String): String =
      Seq("o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS ${tag}_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ${tag}_distinct,
           |  CAST(min($c) AS VARCHAR) AS ${tag}_min,
           |  CAST(max($c) AS VARCHAR) AS ${tag}_max,
           |  CAST(count(*) AS BIGINT) AS ${tag}_rows
           |FROM orders WHERE $pred""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH pa AS (${side("a", "o_orderdate < DATE '1995-01-01'")}),
       |pb AS (${side("b", "o_orderdate >= DATE '1995-01-01'")})
       |SELECT pa.column_name,
       |  a_nulls, a_distinct, a_min, a_max, a_rows,
       |  b_nulls, b_distinct, b_min, b_max, b_rows,
       |  CAST((b_nulls * 1000000) // b_rows
       |    - (a_nulls * 1000000) // a_rows AS BIGINT)
       |    AS null_rate_delta_ppm,
       |  CAST(b_distinct - a_distinct AS BIGINT) AS distinct_delta,
       |  (NOT (a_min IS NOT DISTINCT FROM b_min))
       |    OR (NOT (a_max IS NOT DISTINCT FROM b_max)) AS range_changed
       |FROM pa JOIN pb USING (column_name)""".stripMargin
  }

  private val lexiconScoreOracle: String =
    """WITH bt AS (SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |    FROM documents WHERE doc_id % 97 = 0) u),
      |lex AS (SELECT tok,
      |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS np,
      |    sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS nn
      |  FROM bt GROUP BY tok),
      |cand AS (SELECT doc_id, unnest(string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM documents WHERE doc_id % 97 <> 0),
      |j AS (SELECT c.doc_id, l.np, l.nn
      |  FROM cand c LEFT JOIN lex l ON c.tok = l.tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN np IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hits,
      |  CAST(sum(coalesce(np, 0) + 1) AS DOUBLE) /
      |  CAST(sum(coalesce(np, 0) + coalesce(nn, 0) + 2) AS DOUBLE) AS score
      |FROM j GROUP BY doc_id""".stripMargin

  private val bpeCharApplyOracle: String = bpeCharApplyOracleWhere("TRUE")

  /** The char-BPE induce+apply replay restricted to the docs matching
    * `pred` — shared by the full-corpus entries (pred=TRUE) and the
    * pretrained save/load round-trip entry (slice predicate).
    */
  private def bpeCharApplyOracleWhere(pred: String): String =
      raw"""WITH RECURSIVE it AS (
        |  SELECT 0 AS step,
        |    (SELECT list(struct_pack(w := w,
        |        t := array_to_string(
        |          list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ')
        |          || '</w>', n := cnt))
        |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(string_split(
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |        FROM documents WHERE length(trim(text)) > 0 AND ($pred)) u
        |      WHERE length(w) > 0 GROUP BY w)) AS vocab
        |  UNION ALL
        |  SELECT g.step + 1,
        |    list_transform(g.vocab, e -> struct_pack(
        |      w := struct_extract(e, 'w'),
        |      t := trim(replace(replace(
        |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '  ' ||
        |          struct_extract(g.m, 'b') || ' ',
        |        ' ' || struct_extract(g.m, 'a') ||
        |          struct_extract(g.m, 'b') || ' '),
        |        '  ', ' ')),
        |      n := struct_extract(e, 'n')))
        |  FROM (
        |    SELECT it.step, it.vocab,
        |      min(struct_pack(negn := -c.cnt, a := c.a, b := c.b)) AS m
        |    FROM it, LATERAL (
        |      SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(list_transform(range(1, len(tk.toks)),
        |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
        |          tk.n AS pn
        |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
        |              struct_extract(e2, 'n') AS n
        |              FROM unnest(it.vocab) AS u(e2)) tk
        |        WHERE len(tk.toks) >= 2) bp
        |      GROUP BY 1, 2) c
        |    WHERE it.step < 8
        |    GROUP BY it.step, it.vocab
        |  ) g
        |),
        |enc AS (SELECT struct_extract(e3, 'w') AS w,
        |    struct_extract(e3, 't') AS t
        |  FROM (SELECT vocab FROM it
        |        WHERE step = (SELECT max(step) FROM it)),
        |    unnest(vocab) AS x(e3)),
        |dws AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents WHERE length(trim(text)) > 0 AND ($pred)),
        |pos AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM dws),
        |wx AS (SELECT doc_id, i, ws[i] AS w FROM pos),
        |j AS (SELECT wx.doc_id, wx.i, enc.t FROM wx JOIN enc USING (w)),
        |encoded AS (SELECT doc_id,
        |    array_to_string(list(t ORDER BY i), ' ') AS encoded
        |  FROM j GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(e.encoded, '') AS encoded,
        |  CASE WHEN COALESCE(e.encoded, '') = '' THEN 0
        |       ELSE CAST(len(string_split(e.encoded, ' ')) AS BIGINT)
        |  END AS n_pieces
        |FROM documents d LEFT JOIN encoded e USING (doc_id)
        |WHERE ($pred)""".stripMargin

  /** WordPiece induction replay: the same recursion shape as the BPE
    * vocab oracle, but each iteration also aggregates TOKEN counts from
    * the vocab state and scores pairs on the exact fixed-point plane —
    * `(cnt·10¹⁸) // (ca·cb)` in HUGEINT, the identical truncating
    * division Spark's decimal `div` performs — so argmax, fusion (`##`
    * absorbed from the right element), and the emitted score replay
    * bit-for-bit.
    */
  private val wordpieceVocabOracle: String =
    raw"""WITH RECURSIVE it AS (
      |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
      |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS cnt_ab,
      |    CAST(NULL AS BIGINT) AS cnt_a, CAST(NULL AS BIGINT) AS cnt_b,
      |    CAST(NULL AS BIGINT) AS score_fp,
      |    (SELECT list(struct_pack(t := array_to_string(
      |        list_transform(range(1, length(w) + 1),
      |          i -> CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END),
      |        ' '), n := cnt))
      |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |        SELECT unnest(string_split(
      |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      |        FROM documents WHERE length(trim(text)) > 0) u
      |      WHERE length(w) > 0 GROUP BY w)) AS vocab
      |  UNION ALL
      |  SELECT g.step + 1,
      |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
      |    struct_extract(g.m, 'cnt'), struct_extract(g.m, 'ca'),
      |    struct_extract(g.m, 'cb'), -struct_extract(g.m, 'negfp'),
      |    list_transform(g.vocab, e -> struct_pack(
      |      t := trim(replace(replace(
      |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '  ' ||
      |          struct_extract(g.m, 'b') || ' ',
      |        ' ' || struct_extract(g.m, 'a') ||
      |          CASE WHEN struct_extract(g.m, 'b') LIKE '##%'
      |               THEN struct_extract(g.m, 'b')[3:]
      |               ELSE struct_extract(g.m, 'b') END || ' '),
      |        '  ', ' ')),
      |      n := struct_extract(e, 'n')))
      |  FROM (
      |    SELECT it.step, it.vocab,
      |      min(struct_pack(negfp := -c.fp, a := c.a, b := c.b,
      |        cnt := c.cnt, ca := c.ca, cb := c.cb)) AS m
      |    FROM it, LATERAL (
      |      SELECT pc.a AS a, pc.b AS b, pc.cnt AS cnt,
      |        ta.c AS ca, tb.c AS cb,
      |        CAST((CAST(pc.cnt AS HUGEINT) * 1000000000000000000) //
      |             (CAST(ta.c AS HUGEINT) * CAST(tb.c AS HUGEINT))
      |          AS BIGINT) AS fp
      |      FROM (SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt
      |        FROM (
      |          SELECT unnest(list_transform(range(1, len(tk.toks)),
      |            i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
      |            tk.n AS pn
      |          FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
      |                struct_extract(e2, 'n') AS n
      |                FROM unnest(it.vocab) AS u(e2)) tk
      |          WHERE len(tk.toks) >= 2) bp
      |        GROUP BY 1, 2) pc
      |      JOIN (SELECT tok, CAST(sum(n2) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e3, 't'), ' ')) AS tok,
      |              struct_extract(e3, 'n') AS n2
      |            FROM unnest(it.vocab) AS u2(e3)) tt
      |          GROUP BY tok) ta ON ta.tok = pc.a
      |      JOIN (SELECT tok, CAST(sum(n3) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e4, 't'), ' ')) AS tok,
      |              struct_extract(e4, 'n') AS n3
      |            FROM unnest(it.vocab) AS u3(e4)) tt2
      |          GROUP BY tok) tb ON tb.tok = pc.b
      |      ) c
      |    WHERE it.step < 8
      |    GROUP BY it.step, it.vocab
      |  ) g
      |)
      |SELECT step, a, b, cnt_ab, cnt_a, cnt_b, score_fp
      |FROM it WHERE step >= 1""".stripMargin

  /** WordPiece encode replay: the induction recursion above feeds the
    * final piece inventory (alphabet ∪ fused merges); a second
    * recursion walks each DISTINCT word with the greedy
    * longest-match-first rule (min over (−len, piece) at each
    * position — single deterministic chain per word); documents
    * re-encode by positional join, the BPE apply oracle's reassembly.
    */
  private val wordpieceApplyOracle: String =
    raw"""WITH RECURSIVE it AS (
      |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
      |    CAST(NULL AS VARCHAR) AS b,
      |    (SELECT list(struct_pack(t := array_to_string(
      |        list_transform(range(1, length(w) + 1),
      |          i -> CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END),
      |        ' '), n := cnt))
      |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |        SELECT unnest(string_split(
      |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      |        FROM documents WHERE length(trim(text)) > 0) u
      |      WHERE length(w) > 0 GROUP BY w)) AS vocab
      |  UNION ALL
      |  SELECT g.step + 1,
      |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
      |    list_transform(g.vocab, e -> struct_pack(
      |      t := trim(replace(replace(
      |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '  ' ||
      |          struct_extract(g.m, 'b') || ' ',
      |        ' ' || struct_extract(g.m, 'a') ||
      |          CASE WHEN struct_extract(g.m, 'b') LIKE '##%'
      |               THEN struct_extract(g.m, 'b')[3:]
      |               ELSE struct_extract(g.m, 'b') END || ' '),
      |        '  ', ' ')),
      |      n := struct_extract(e, 'n')))
      |  FROM (
      |    SELECT it.step, it.vocab,
      |      min(struct_pack(negfp := -c.fp, a := c.a, b := c.b)) AS m
      |    FROM it, LATERAL (
      |      SELECT pc.a AS a, pc.b AS b,
      |        CAST((CAST(pc.cnt AS HUGEINT) * 1000000000000000000) //
      |             (CAST(ta.c AS HUGEINT) * CAST(tb.c AS HUGEINT))
      |          AS BIGINT) AS fp
      |      FROM (SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt
      |        FROM (
      |          SELECT unnest(list_transform(range(1, len(tk.toks)),
      |            i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
      |            tk.n AS pn
      |          FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
      |                struct_extract(e2, 'n') AS n
      |                FROM unnest(it.vocab) AS u(e2)) tk
      |          WHERE len(tk.toks) >= 2) bp
      |        GROUP BY 1, 2) pc
      |      JOIN (SELECT tok, CAST(sum(n2) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e3, 't'), ' ')) AS tok,
      |              struct_extract(e3, 'n') AS n2
      |            FROM unnest(it.vocab) AS u2(e3)) tt
      |          GROUP BY tok) ta ON ta.tok = pc.a
      |      JOIN (SELECT tok, CAST(sum(n3) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e4, 't'), ' ')) AS tok,
      |              struct_extract(e4, 'n') AS n3
      |            FROM unnest(it.vocab) AS u3(e4)) tt2
      |          GROUP BY tok) tb ON tb.tok = pc.b
      |      ) c
      |    WHERE it.step < 8
      |    GROUP BY it.step, it.vocab
      |  ) g
      |),
      |words AS (SELECT DISTINCT w FROM (
      |    SELECT unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      |    FROM documents WHERE length(trim(text)) > 0) u
      |  WHERE length(w) > 0),
      |alpha AS (SELECT DISTINCT
      |    CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END AS piece
      |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM words) z),
      |mp AS (SELECT a || CASE WHEN b LIKE '##%' THEN b[3:] ELSE b END AS piece
      |  FROM it WHERE step >= 1),
      |vocab2 AS (SELECT piece,
      |    CASE WHEN piece LIKE '##%' THEN piece[3:] ELSE piece END AS raw,
      |    (piece LIKE '##%') AS cont
      |  FROM (SELECT DISTINCT piece FROM (
      |    SELECT piece FROM alpha UNION ALL SELECT piece FROM mp) vv) v),
      |gw AS (
      |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc
      |  FROM words
      |  UNION ALL
      |  SELECT s.w, s.pos + length(struct_extract(s.m, 'raw')),
      |    CASE WHEN s.acc = '' THEN struct_extract(s.m, 'piece')
      |         ELSE s.acc || ' ' || struct_extract(s.m, 'piece') END
      |  FROM (SELECT gw.w, gw.pos, gw.acc,
      |      min(struct_pack(neglen := -length(v.raw), piece := v.piece,
      |        raw := v.raw)) AS m
      |    FROM gw JOIN vocab2 v ON v.cont = (gw.pos > 1)
      |      AND substr(gw.w, CAST(gw.pos AS INT), length(v.raw)) = v.raw
      |    WHERE gw.pos <= length(gw.w)
      |    GROUP BY gw.w, gw.pos, gw.acc) s),
      |encw AS (SELECT words.w AS w, coalesce(d.acc, '[UNK]') AS t
      |  FROM words LEFT JOIN (SELECT w, acc FROM gw
      |    WHERE pos = length(w) + 1) d USING (w)),
      |dws AS (SELECT doc_id, string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM dws),
      |wx AS (SELECT doc_id, i, ws[i] AS w FROM pos WHERE length(ws[i]) > 0),
      |j AS (SELECT wx.doc_id, wx.i, encw.t FROM wx JOIN encw USING (w)),
      |encoded AS (SELECT doc_id,
      |    array_to_string(list(t ORDER BY i), ' ') AS encoded
      |  FROM j GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(e.encoded, '') AS encoded,
      |  CASE WHEN COALESCE(e.encoded, '') = '' THEN 0
      |       ELSE CAST(len(string_split(e.encoded, ' ')) AS BIGINT)
      |  END AS n_pieces
      |FROM documents d LEFT JOIN encoded e USING (doc_id)""".stripMargin

  def oracles: Map[String, String] = moreOracles ++ Map(
    "dedup_exact" ->
      """SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
        |MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // identical oracle to dedup_exact: the drained streaming aggregation
    // must reproduce the batch dedup groups bit-for-bit
    "dedup_exact_stream" ->
      """SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
        |MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact_keep" ->
      """SELECT doc_id, lang, source FROM documents WHERE doc_id IN (
        |SELECT MIN(doc_id) FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin,
    // mirrors ngramJaccardPairs' default corpus-derived stop-shingle cap
    // (clamp(ceil(fraction·nDocs), floor, ceiling); pruned from both
    // intersection and union)
    "dedup_ngram_jaccard" -> s"""
        |WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 1) + 1),
        |  i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex0 GROUP BY g) h
        |  WHERE df > least(${graft.functions.Dedup.MaxDocFreqCeiling},
        |    greatest(${graft.functions.Dedup.MinDocFreqFloor},
        |      ceil(${graft.functions.Dedup.HotShingleFraction} *
        |        (SELECT COUNT(*) FROM documents))))),
        |ex AS (SELECT doc_id, g FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
        |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n
        |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n AS DOUBLE) / CAST(a.sz + b.sz - n AS DOUBLE) AS jaccard
        |FROM co JOIN sz a ON co.id_a = a.doc_id JOIN sz b ON co.id_b = b.doc_id
        |WHERE CAST(n AS DOUBLE) / CAST(a.sz + b.sz - n AS DOUBLE) >= 0.5""".stripMargin,
    // Winnowing replay: positional 4-gram md5-prefix hashes, the
    // rightmost-min selection as min(struct(h, −p)) over the identical
    // doc-local window frame, df-capped postings, shared-count Jaccard
    "dedup_winnow" ->
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
        |WHERE n_shared >= 2""".stripMargin,
    // LSH eval replay: exact side recomputed with the pruned-postings
    // construction above; found side read from the (deterministic)
    // dedup_minhash dump — counts are exact integers, the two ratios
    // are single IEEE divisions
    "dedup_lsh_eval" -> s"""
        |WITH f AS (SELECT DISTINCT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 1) + 1),
        |  i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex0 GROUP BY g) h
        |  WHERE df > least(${graft.functions.Dedup.MaxDocFreqCeiling},
        |    greatest(${graft.functions.Dedup.MinDocFreqFloor},
        |      ceil(${graft.functions.Dedup.HotShingleFraction} *
        |        (SELECT COUNT(*) FROM documents))))),
        |ex AS (SELECT doc_id, g FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
        |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n
        |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
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
        |    CAST((SELECT count(*) FROM f) AS DOUBLE) AS "precision"""".stripMargin,
    // containment replay: same shingles, same cap, both directions from
    // the undirected intersection count
    "dedup_containment" -> s"""
        |WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 2, 1) + 1),
        |  i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks),
        |ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM ex0 GROUP BY g) h
        |  WHERE df > least(${graft.functions.Dedup.MaxDocFreqCeiling},
        |    greatest(${graft.functions.Dedup.MinDocFreqFloor},
        |      ceil(${graft.functions.Dedup.HotShingleFraction} *
        |        (SELECT COUNT(*) FROM documents))))),
        |ex AS (SELECT doc_id, g FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
        |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n
        |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b, n, a.sz AS sz_a, b.sz AS sz_b
        |  FROM co JOIN sz a ON co.id_a = a.doc_id JOIN sz b ON co.id_b = b.doc_id),
        |d AS (SELECT id_a AS id_sub, id_b AS id_sup,
        |    CAST(n AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment FROM j
        |  UNION ALL
        |  SELECT id_b AS id_sub, id_a AS id_sup,
        |    CAST(n AS DOUBLE) / CAST(sz_b AS DOUBLE) AS containment FROM j)
        |SELECT id_sub, id_sup, containment FROM d WHERE containment >= 0.8""".stripMargin,
    // mirrors shingleTfCosinePairs exactly: non-distinct shingles with
    // multiplicity, the same auto df-cap (pruned BEFORE Σtf²), integer
    // dot/sq, the same fixed-order double threshold test and division
    "dedup_tf_cosine" -> s"""
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
        |  0.25 * (CAST(a.sq AS DOUBLE) * CAST(b.sq AS DOUBLE))""".stripMargin,
    // Pair-value oracle (same contract as sim_ann_lsh): rows come from the
    // entry's own output (candidate generation is engine-specific LSH), the
    // cosine for each returned pair is recomputed exactly from the
    // embeddings table and hash-checked, and the threshold is re-applied —
    // any below-threshold pair the engine emitted would drop here and fail
    // the row-count match.
    "dedup_embedding" -> cosPairOracle("dedup_embedding", 0.4),
    "dedup_semantic" -> cosPairOracle("dedup_semantic", 0.4),
    "dedup_semantic_incremental" ->
      cosPairOracle("dedup_semantic_incremental", 0.4),
    "dedup_semantic_incremental_stream" ->
      cosPairOracle("dedup_semantic_incremental_stream", 0.4),
    "dedup_semantic_ingest" -> cosPairOracle("dedup_semantic_ingest", 0.4),
    "dedup_semantic_multiprobe" ->
      cosPairOracle("dedup_semantic_multiprobe", 0.4),
    "dedup_semantic_pq" -> cosPairOracle("dedup_semantic_pq", 0.4),
    "dedup_semantic_stream" -> cosPairOracle("dedup_semantic_stream", 0.4),
    "sim_topk_brute" ->
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
        |  FROM s) t WHERE rank <= 10""".stripMargin,
    // MMR greedy replay: cosine shortlist (rel desc, id), then the
    // full per-query recursion — argmax of 0.5·rel − 0.5·maxSim via
    // struct max with the (score desc, lower id) tie-break; step 1's
    // empty selected set contributes an explicit 0.0
    "sim_mmr" ->
      """WITH RECURSIVE base AS (
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
        |  SELECT query_id, 1 AS step,
        |    -struct_extract(m, 'nid') AS doc_id,
        |    struct_extract(m, 'rel') AS rel,
        |    struct_extract(m, 's') AS score,
        |    [-struct_extract(m, 'nid')] AS sids,
        |    [struct_extract(m, 'v')] AS svecs,
        |    [struct_extract(m, 'nrm')] AS snrms
        |  FROM (SELECT query_id,
        |      max(struct_pack(
        |        s := CAST(0.5 AS DOUBLE) * rel -
        |          CAST(0.5 AS DOUBLE) * CAST(0.0 AS DOUBLE),
        |        nid := -doc_id, rel := rel, v := cv, nrm := cn)) AS m
        |    FROM sl GROUP BY query_id)
        |  UNION ALL
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
        |FROM r""".stripMargin,
    // sign-pack replay (bit i of word w ⇔ embedding[32w+i] >= 0),
    // popcount Hamming rank with the (hamming, id) tie-break, exact
    // cosine recomputed for the winners only
    "sim_hamming" ->
      """WITH p AS (SELECT vec_id, embedding,
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
        |  round(
        |   list_sum(list_transform(range(1, len(q.qv)+1),
        |     i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
        |     i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
        |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
        |    AS sim,
        |  w.rank
        |FROM w JOIN q ON w.query_id = q.query_id
        |JOIN embeddings e ON w.neighbor_id = e.vec_id""".stripMargin,
    // full greedy replay: each recursion step carries the selected
    // (vectors, norms, ids) and re-derives the next farthest point with
    // the identical IEEE arithmetic and tie-break
    "sample_kcenter" ->
      """WITH RECURSIVE n AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |s0 AS (SELECT min(vec_id) AS id FROM n),
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
        |  ) g
        |)
        |SELECT rank, vec_id, round(dist, 6) AS dist FROM r""".stripMargin,
    // sampled variant: the same greedy recursion, but over the 64-row
    // content-hash sample, then assignment count + coverage radius per
    // center over the FULL corpus (nearest center, ties to lower rank)
    "sample_kcenter_scalable" ->
      """WITH RECURSIVE n0 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0
        |  ORDER BY substring(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id
        |  LIMIT 64),
        |s0 AS (SELECT min(vec_id) AS id FROM n),
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
        |  ) g
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
        |FROM r LEFT JOIN agg ON agg.rank = r.rank""".stripMargin,
    // unnest-and-self-join replay of the moment table: the oracle pays
    // the dim²/2-rows-per-vector blowup the native aggregate avoids
    "embed_covariance" ->
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
        |GROUP BY 1, 2""".stripMargin,
    // JL replay: same floor quantization, same md5-parity sign matrix,
    // exact integer sums per output coordinate
    "embed_project" ->
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
        |FROM o""".stripMargin,
    "embed_quantize" ->
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
        |FROM e""".stripMargin,
    "embed_quantize_digest" ->
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
        |FROM s""".stripMargin,
    // hygiene replay: same zeroing, same norm, same per-component
    // division, 6dp on both sides
    "embed_normalize" ->
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
        |FROM x""".stripMargin,
    // sweep replay: found pairs read back from the dump (kmeans-
    // dependent candidate sets), exact slice top-5 + every cosine +
    // hit/recall re-derived independently and hash-checked
    "sim_knn_sweep" ->
      """WITH a AS (SELECT n_probe, query_id, neighbor_id
        |  FROM read_parquet('__OUT__/sim_knn_sweep/*.parquet')),
        |q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 32),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.qv)+1),
        |     i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
        |     i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
        |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
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
        |FROM j JOIN h USING (n_probe) CROSS JOIN ne""".stripMargin,
    "sim_eval" ->
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
        |LEFT JOIN rr USING (query_id)""".stripMargin,
    "text_stats_native" -> textStatsOracle,
    "text_stats" -> textStatsOracle,
    "text_gopher_rules" -> raw"""
      |WITH t AS (SELECT doc_id, text,
      |  string_split_regex(trim(text), '\s+') AS toks,
      |  string_split(text, chr(10)) AS lines,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
      |  FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(ntok AS BIGINT) AS n_tokens,
      |  CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS tls,
      |  CAST(len(lines) AS BIGINT) AS nl,
      |  CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
      |    OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• '))) AS BIGINT) AS nb,
      |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
      |    OR ends_with(rtrim(l), '…'))) AS BIGINT) AS ne,
      |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |    w -> list_contains(toks, w))) AS BIGINT) AS ns,
      |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |    + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
      |    + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS nsym
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  n_tokens BETWEEN 50 AND 100000 AS word_count_ok,
      |  (tls >= n_tokens * 3 AND tls <= n_tokens * 10) AS mean_len_ok,
      |  nsym * 10 <= n_tokens AS symbol_ok,
      |  nb * 10 <= nl * 9 AS bullet_ok,
      |  ne * 10 <= nl * 3 AS ellipsis_ok,
      |  na * 5 >= n_tokens * 4 AS alpha_ok,
      |  ns >= 2 AS stop_ok,
      |  ((n_tokens BETWEEN 50 AND 100000)
      |    AND tls >= n_tokens * 3 AND tls <= n_tokens * 10
      |    AND nsym * 10 <= n_tokens AND nb * 10 <= nl * 9
      |    AND ne * 10 <= nl * 3 AND na * 5 >= n_tokens * 4
      |    AND ns >= 2) AS keep
      |FROM m""".stripMargin,
    "corpus_profile" ->
      """WITH t AS (SELECT source, lang, n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS tk
        |  FROM documents),
        |g AS (SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  SUM(n_chars) AS total_chars, SUM(tk) AS total_tokens,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM t GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  min_chars, max_chars,
        |  CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars,
        |  CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_tokens
        |FROM g""".stripMargin)

  private lazy val componentsClosureOracle: String =
    """WITH RECURSIVE p AS (SELECT id_a, id_b
      |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
      |e AS (SELECT id_a AS u, id_b AS v FROM p
      |  UNION SELECT id_b, id_a FROM p),
      |reach AS (
      |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
      |  UNION
      |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
      |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u)
      |SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep_id
      |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  private lazy val textStatsOracle: String = s"""
        |WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
        |  CAST(length(text) AS BIGINT) AS char_len,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio,
        |  CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS mean_tok_len
        |  FROM t)
        |SELECT doc_id, n_tokens, n_bpeish, char_len, punct_ratio, digit_ratio,
        |  stopword_ratio, mean_tok_len,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |FROM m""".stripMargin

  /** Unigram-LM shared CTE prefix: word histogram → bounded substring
    * candidates → vocabulary (all chars + top-k multi by freq×len) →
    * the ×2^20 fixed-point log2 cost plane. The division is pinned to
    * ln 2's exact IEEE literal (Scala shortest-round-trip repr — the
    * same double `Unigram.Ln2` the Spark side multiplies by), so the
    * one floating step per vocab entry evaluates from identical inputs.
    */
  private def unigramVocabCtes(k: Int): String =
    s"""WITH wh AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents) WHERE length(w) > 0 GROUP BY w),
       |upos AS (SELECT w, n, unnest(range(1, length(w) + 1)) AS i FROM wh),
       |cand AS MATERIALIZED (
       |  SELECT substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece,
       |    CAST(sum(n) AS BIGINT) AS cnt
       |  FROM (SELECT w, n, i,
       |      unnest(range(1, least(${graft.functions.Unigram.MaxPieceLen},
       |        length(w) - i + 1) + 1)) AS l FROM upos)
       |  GROUP BY 1),
       |uchars AS (SELECT piece, cnt, true AS is_char FROM cand
       |  WHERE length(piece) = 1),
       |umulti AS (SELECT piece, cnt, false AS is_char FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt * length(piece) DESC, piece) AS rn
       |    FROM cand WHERE length(piece) > 1) WHERE rn <= $k),
       |uvocab AS (SELECT * FROM uchars UNION ALL SELECT * FROM umulti),
       |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uvocab),
       |costs AS MATERIALIZED (
       |  SELECT piece, cnt, is_char,
       |    CAST(round(1048576.0 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |      / ${graft.functions.Unigram.Ln2}) AS BIGINT) AS cost_fp
       |  FROM uvocab CROSS JOIN utot)""".stripMargin

  /** The unrolled Viterbi DP over distinct words: dp_i holds the best
    * (max Σ cost_fp, tie → lexicographically smallest path) state
    * ending at char i, reached from dp_j through piece w[j+1..i] for
    * the ≤ MaxPieceLen predecessors — `rounds past a word's length are
    * vacuous (WHERE length(w) >= i)`. MATERIALIZED is load-bearing as
    * in the k-core replay: each dp_i is referenced by up to MaxPieceLen
    * later steps, and DuckDB inlines plain CTEs per reference.
    */
  private def unigramDpCtes: String = {
    val maxW = graft.functions.Unigram.MaxWordLen
    val maxP = graft.functions.Unigram.MaxPieceLen
    val steps = (1 to maxW).map { i =>
      val branches = (math.max(0, i - maxP) until i).map { j =>
        s"""SELECT d.w, d.c + v.cost_fp AS c,
           |      d.p || ' ' || substring(d.w, ${j + 1}, ${i - j}) AS p
           |    FROM dp$j d JOIN costs v
           |      ON v.piece = substring(d.w, ${j + 1}, ${i - j})
           |    WHERE length(d.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s""",
         |dp$i AS MATERIALIZED (SELECT w, c, p FROM (
         |  SELECT w, c, p,
         |    row_number() OVER (PARTITION BY w ORDER BY c DESC, p) AS rn
         |  FROM ($branches)) WHERE rn = 1)""".stripMargin
    }.mkString
    s""",
       |uwords AS (SELECT DISTINCT w FROM wh),
       |dp0 AS (SELECT w, CAST(0 AS BIGINT) AS c, '' AS p FROM uwords)""".stripMargin +
      steps +
      s""",
         |dpall AS (${(1 to maxW)
          .map(i => s"SELECT w, $i AS i, p FROM dp$i")
          .mkString("\n  UNION ALL ")}),
         |segw AS MATERIALIZED (SELECT w, ltrim(p) AS seg FROM dpall
         |  WHERE i = length(w))""".stripMargin
  }

  private def unigramVocabOracle: String =
    unigramVocabCtes(24) +
      "\nSELECT piece, cnt, is_char, cost_fp FROM costs"

  private def unigramApplyOracle: String =
    unigramVocabCtes(24) + unigramDpCtes +
      s""",
         |t AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |tw AS (SELECT doc_id, pos, toks[CAST(pos AS INTEGER)] AS w FROM (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
         |  FROM t)),
         |enc AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS encoded,
         |    CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_pieces
         |  FROM tw JOIN segw USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.encoded, '') AS encoded,
         |  CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces
         |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin

  private def unigramEmOracle: String =
    unigramVocabCtes(24) + unigramDpCtes +
      s""",
         |emc AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(s.seg, ' ')) AS piece, wh.n
         |    FROM wh JOIN segw s USING (w))
         |  GROUP BY 1),
         |emt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM emc)
         |SELECT piece, cnt, length(piece) = 1 AS is_char,
         |  CAST(round(1048576.0 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
         |    / ${graft.functions.Unigram.Ln2}) AS BIGINT) AS cost_fp
         |FROM emc CROSS JOIN emt""".stripMargin

  private lazy val moreOracles: Map[String, String] = Map(
    "text_unigram_vocab" -> unigramVocabOracle,
    "text_unigram_apply" -> unigramApplyOracle,
    // pad pieces are longer than MaxPieceLen (unmatchable), so the
    // big-vocab join path replays the identical oracle
    "text_unigram_apply_big" -> unigramApplyOracle,
    "text_unigram_stream" -> unigramApplyOracle,
    "text_unigram_em" -> unigramEmOracle,
    "sample_reservoir" ->
      """WITH d AS (SELECT DISTINCT lang, source FROM documents),
        |r AS (SELECT lang, source, row_number() OVER (
        |  PARTITION BY lang ORDER BY substring(md5(source), 1, 16), source) AS rn
        |  FROM d)
        |SELECT lang, array_to_string(list_sort(list(source)), '|') AS source_sample
        |FROM r WHERE rn <= 5 GROUP BY lang""".stripMargin,
    "sample_weighted" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) / ((hv + 0.5) / 4294967296.0) AS priority
        |FROM h ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin,
    // importance replay: same md5-bucketed bigram features, the same
    // add-one evidence sums and single-division weight, the same
    // portable priority top-k
    "sample_importance" ->
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
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    "sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // group label replay (min id per normalized text) + the same
    // portable md5 cut applied to the GROUP key
    "sample_split_leakproof" ->
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
        |FROM j""".stripMargin,
    "sample_weighted_strat" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS hv
        |  FROM documents),
        |p AS (SELECT doc_id, lang, n_chars,
        |  CAST(n_chars AS DOUBLE) / ((hv + 0.5) / 4294967296.0) AS priority
        |  FROM h),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY lang ORDER BY priority DESC, doc_id) AS rk FROM p)
        |SELECT doc_id, lang, n_chars, priority FROM r WHERE rk <= 30""".stripMargin,
    "dedup_minhash" -> s"""
        |WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin,
    // transitive closure over the (verified) minhash pair graph: min
    // reachable id per node = the component label the operator must emit
    "dedup_components" -> componentsClosureOracle,
    // the incremental merge is provably identical to from-scratch
    // clustering of the same pair set — same closure oracle
    "dedup_components_incremental" -> componentsClosureOracle,
    // same closure over the same verified pairs, then the portable md5
    // cut on the component label (the leakSafeSplit rule)
    "sample_split_component" ->
      """WITH RECURSIVE p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u),
        |lab AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, group_id,
        |  CASE WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lab""".stripMargin,
    // closure over the same verified pair graph + the mirrored quality
    // formula: DuckDB independently recomputes component labels AND the
    // per-cluster argmax (quality desc, id asc) keep rule
    "dedup_keep_best" -> s"""
        |WITH RECURSIVE p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u),
        |t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |lab AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep_id, q.quality
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |  JOIN q USING (doc_id)),
        |b AS (SELECT rep_id, doc_id AS keep_id FROM (
        |  SELECT rep_id, doc_id, row_number() OVER (
        |    PARTITION BY rep_id ORDER BY quality DESC, doc_id) AS rn
        |  FROM lab) WHERE rn = 1)
        |SELECT lab.doc_id, lab.rep_id, b.keep_id,
        |  lab.doc_id = b.keep_id AS kept, lab.quality
        |FROM lab JOIN b USING (rep_id)""".stripMargin,
    // identical pair-value contract to dedup_minhash: the streamed pairs
    // must carry the exact Jaccard DuckDB recomputes from the base table
    "dedup_minhash_stream" -> s"""
        |WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash_stream/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin,
    "dedup_simhash" -> s"""
        |WITH p AS (SELECT id_a, id_b, dist
        |  FROM read_parquet('__OUT__/dedup_simhash/*.parquet')),
        |$shingleCtes
        |SELECT p.id_a, p.id_b, p.dist,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM p JOIN sh a ON p.id_a = a.doc_id
        |JOIN sh b ON p.id_b = b.doc_id""".stripMargin,
    // packing oracle: one flat cumsum in doc_id order (the oracle can
    // afford the global window; the engine must not) and the same span
    // intersection arithmetic
    "text_pack" ->
      """WITH n AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
        |  COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM n WHERE nt > 0),
        |s AS (SELECT doc_id, nt, off,
        |  unnest(range(CAST(off // 128 AS BIGINT),
        |    CAST((off + nt - 1) // 128 + 1 AS BIGINT))) AS seq_id
        |  FROM p)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(off, seq_id * 128) - off AS INT) AS tok_start,
        |  CAST(least(off + nt, (seq_id + 1) * 128) - off AS INT) AS tok_end
        |FROM s""".stripMargin,
    // full independent recomputation: DuckDB derives shard AND in-shard
    // position from doc_id alone (md5 prefix as hex → bigint, full md5 as
    // the order key) — any drift in hashing, modulo, or ordering breaks
    // every row
    "text_shard" ->
      """WITH a AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
        |    AS shard,
        |  md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents)
        |SELECT doc_id, shard, CAST(row_number() OVER (
        |  PARTITION BY shard ORDER BY ord, doc_id) AS INT) AS pos
        |FROM a""".stripMargin,
    // the induction CTE's final corpus IS the encoded output; blank
    // docs (dropped from the evolving corpus) come back as ''
    "text_bpe_apply" ->
      """WITH RECURSIVE it AS (
        |  SELECT 0 AS step,
        |    (SELECT list(struct_pack(d := doc_id,
        |       t := regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |     FROM documents WHERE length(trim(text)) > 0) AS corpus
        |  UNION ALL
        |  SELECT g.step + 1,
        |    list_transform(g.corpus, e -> struct_pack(
        |      d := struct_extract(e, 'd'),
        |      t := trim(replace(replace(
        |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '  ' ||
        |          struct_extract(g.m, 'b') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '+' ||
        |          struct_extract(g.m, 'b') || ' '),
        |        '  ', ' '))))
        |  FROM (
        |    SELECT it.step, it.corpus,
        |      min(struct_pack(negn := -c.n, a := c.a, b := c.b)) AS m
        |    FROM it, LATERAL (
        |      SELECT p.a AS a, p.b AS b, count(*) AS n FROM (
        |        SELECT unnest(list_transform(range(1, len(tk.toks)),
        |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p
        |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks
        |              FROM unnest(it.corpus) AS u(e2)) tk
        |        WHERE len(tk.toks) >= 2) bp
        |      GROUP BY 1, 2) c
        |    WHERE it.step < 6
        |    GROUP BY it.step, it.corpus
        |  ) g
        |),
        |fin AS (SELECT struct_extract(e3, 'd') AS doc_id,
        |  struct_extract(e3, 't') AS merged_text
        |  FROM (SELECT corpus FROM it
        |        WHERE step = (SELECT max(step) FROM it)),
        |    unnest(corpus) AS w(e3))
        |SELECT d.doc_id, COALESCE(f.merged_text, '') AS merged_text
        |FROM documents d LEFT JOIN fin f USING (doc_id)""".stripMargin,
    // six-iteration replay: the recursive CTE carries the evolving
    // corpus as a list and re-derives each step's argmax with the
    // min(struct(-n, a, b)) trick (max count, then smallest pair)
    "text_bpe_vocab" ->
      """WITH RECURSIVE it AS (
        |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
        |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS n,
        |    (SELECT list(struct_pack(d := doc_id,
        |       t := regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |     FROM documents WHERE length(trim(text)) > 0) AS corpus
        |  UNION ALL
        |  SELECT g.step + 1,
        |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
        |    -struct_extract(g.m, 'negn'),
        |    list_transform(g.corpus, e -> struct_pack(
        |      d := struct_extract(e, 'd'),
        |      t := trim(replace(replace(
        |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '  ' ||
        |          struct_extract(g.m, 'b') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '+' ||
        |          struct_extract(g.m, 'b') || ' '),
        |        '  ', ' '))))
        |  FROM (
        |    SELECT it.step, it.corpus,
        |      min(struct_pack(negn := -c.n, a := c.a, b := c.b)) AS m
        |    FROM it, LATERAL (
        |      SELECT p.a AS a, p.b AS b, count(*) AS n FROM (
        |        SELECT unnest(list_transform(range(1, len(tk.toks)),
        |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p
        |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks
        |              FROM unnest(it.corpus) AS u(e2)) tk
        |        WHERE len(tk.toks) >= 2) bp
        |      GROUP BY 1, 2) c
        |    WHERE it.step < 6
        |    GROUP BY it.step, it.corpus
        |  ) g
        |)
        |SELECT step, a, b, n FROM it WHERE step >= 1""".stripMargin,
    // char-level replay: the recursion carries the WEIGHTED vocab (word
    // histogram, char-split with the '</w>' marker); pair counts are
    // frequency-weighted sums, fuse concatenates (empty joiner)
    "text_bpe_char_vocab" ->
      """WITH RECURSIVE it AS (
        |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
        |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS n,
        |    (SELECT list(struct_pack(t := array_to_string(
        |        list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ')
        |        || '</w>', n := cnt))
        |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(string_split(
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |        FROM documents WHERE length(trim(text)) > 0) u
        |      WHERE length(w) > 0 GROUP BY w)) AS vocab
        |  UNION ALL
        |  SELECT g.step + 1,
        |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
        |    -struct_extract(g.m, 'negn'),
        |    list_transform(g.vocab, e -> struct_pack(
        |      t := trim(replace(replace(
        |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
        |        ' ' || struct_extract(g.m, 'a') || '  ' ||
        |          struct_extract(g.m, 'b') || ' ',
        |        ' ' || struct_extract(g.m, 'a') ||
        |          struct_extract(g.m, 'b') || ' '),
        |        '  ', ' ')),
        |      n := struct_extract(e, 'n')))
        |  FROM (
        |    SELECT it.step, it.vocab,
        |      min(struct_pack(negn := -c.cnt, a := c.a, b := c.b)) AS m
        |    FROM it, LATERAL (
        |      SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(list_transform(range(1, len(tk.toks)),
        |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
        |          tk.n AS pn
        |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
        |              struct_extract(e2, 'n') AS n
        |              FROM unnest(it.vocab) AS u(e2)) tk
        |        WHERE len(tk.toks) >= 2) bp
        |      GROUP BY 1, 2) c
        |    WHERE it.step < 8
        |    GROUP BY it.step, it.vocab
        |  ) g
        |)
        |SELECT step, a, b, n FROM it WHERE step >= 1""".stripMargin,
    // encode replay: the same recursion also carries each word, so the
    // final state is the word → encoded-stream map; documents re-encode
    // by positional join over their word lists
    "text_bpe_char_apply" -> bpeCharApplyOracle,
    // the vocab-join encode is pure plan shape — same output, same oracle
    "text_bpe_char_apply_vocab" -> bpeCharApplyOracle,
    "text_bpe_pretrained" -> bpeCharApplyOracleWhere("doc_id % 5 = 0"),
    // WordPiece replay: likelihood-scored merges on the exact
    // fixed-point plane, then greedy longest-match encode per word
    "text_wordpiece_vocab" -> wordpieceVocabOracle,
    "text_wordpiece_apply" -> wordpieceApplyOracle,
    // the drained stream's per-row encodes fold to the identical table
    "text_wordpiece_stream" -> wordpieceApplyOracle,
    // lexicon replay: distinct-per-doc token doc-frequencies on the
    // benchmark slice split even/odd, then per-occurrence add-one sums
    "text_score_lexicon" -> lexiconScoreOracle,
    // calibration replay: the full lexicon-score replay as a derived
    // table, decile bins on the identical score double, integer ppm
    "text_score_calibration" ->
      s"""WITH s AS (SELECT * FROM ($lexiconScoreOracle)),
        |b AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS pos FROM s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_ppm
        |FROM b GROUP BY 1""".stripMargin,
    // kappa replay: same contingency counts; the ppm division is
    // sign-split so DuckDB's floor // matches Spark's truncating div
    // when kappa is negative
    "text_classifier_agreement" ->
      s"""WITH s AS (SELECT * FROM ($lexiconScoreOracle)),
        |r AS (SELECT (score >= 0.5) AS a,
        |    (n_hits * 2 >= n_tokens) AS b FROM s),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM r),
        |k AS (SELECT n11, n10, n01, n00,
        |    (n11+n10+n01+n00)*(n11+n00)
        |      - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) AS num,
        |    (n11+n10+n01+n00)*(n11+n10+n01+n00)
        |      - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) AS den
        |  FROM m)
        |SELECT n11, n10, n01, n00,
        |  CASE WHEN den <> 0 THEN
        |    CASE WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
        |      ELSE -CAST(((-num) * 1000000) // den AS BIGINT) END
        |  ELSE NULL END AS kappa_ppm
        |FROM k""".stripMargin,
    // temperature-share replay: sqrt weights, source-sorted list fold
    // for the one float denominator, same division
    "mix_temperature" ->
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
        |  sqrt(CAST(x.n AS DOUBLE)) / denom AS share FROM e""".stripMargin,
    // drift replay: per-column profile recompute on both date slices
    "table_drift" -> tableDriftOracle,
    // bigram-LM replay: reference counts, pooled add-one likelihood —
    // integer sums and one division, so the doubles hash-match exactly
    "text_lm_score" -> lmScoreOracle,
    // stream-static twin folds to the identical per-doc rows
    "text_lm_score_stream" -> lmScoreOracle,
    // inverted-index stats replay: tf per (term, doc), then df/cf
    "search_index" ->
      """WITH t AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id % 97 <> 0 AND length(trim(text)) > 0),
        |p AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |g AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM p GROUP BY term, doc_id)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf
        |FROM g GROUP BY term HAVING count(*) >= 2""".stripMargin,
    // BM25 replay with the identical IEEE association: sqrt-odds idf ×
    // tf saturation, term-ordered contribution fold, rank by
    // (score desc, doc_id)
    "search_bm25" -> bm25Oracle,
    // fielded replay: per-field tf normalization, ×2 title combine, one
    // saturation, any-field df, the same term-ordered IEEE fold
    "search_bm25f" -> bm25fOracle,
    // agreement replay: both full ranker replays nested MATERIALIZED
    // (each referenced 3x), overlap + cross-rank lookups with 0-absent
    "search_ranker_eval" -> rankerEvalOracle,
    // the ingest entry's two appended batches union to the identical
    // corpus, and search-time stats make append ≡ rebuild — same replay
    "search_ingest" -> bm25Oracle,
    // streamed probes of the pre-scored index fold to identical scores
    "search_bm25_stream" -> bm25OracleBound(1000),
    // passage replay: the chunk construction (text_chunk's spanning),
    // BM25 over chunks with the identical IEEE fold, per-parent best
    // chunk via the same struct max, doc-level rerank
    "search_passages" ->
      """WITH t0 AS (SELECT doc_id,
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
        |    sqrt((CAST(s.n - d.df AS DOUBLE) + 0.5) /
        |         (CAST(d.df AS DOUBLE) + 0.5)) *
        |      ((CAST(g.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |       (CAST(g.tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) *
        |         ((1.0 - CAST(0.75 AS DOUBLE)) + (CAST(0.75 AS DOUBLE) *
        |           (CAST(g.dl AS DOUBLE) /
        |            (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))))))
        |      AS contrib
        |  FROM g JOIN d USING (term) JOIN q USING (term) CROSS JOIN s),
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
        |WHERE rank <= 10""".stripMargin,
    // hybrid fusion replay: the full BM25 replay (bound 1000) and the
    // brute cosine top-10 as derived tables, fused with the identical
    // truncating-div RRF and (rrf desc, doc_id) tie-break
    "search_hybrid_rrf" -> hybridRrfOracle,
    // full composed replay: strip → chunk → passage BM25 → RRF fusion →
    // MMR recursion with rel = rrf/32786884.0 (= 2·(10⁹ div 61), the
    // max achievable fused score). The fusion-union dedup is an explicit
    // DISTINCT over UNION ALL: inside a WITH RECURSIVE block DuckDB
    // 1.0.0 does NOT dedup a plain UNION in a non-recursive CTE
    // (measured: (97,60) doubled at sf0.01), unlike the identical shape
    // in the non-recursive hybridRrfOracle.
    "pipeline_rag" -> ragOracle,
    // same replay: append = rebuild for the persisted postings index
    "pipeline_rag_indexed" -> ragOracle,
    "pipeline_rag_stream" -> ragOracle,
    // proximity replay: matched position lists joined per (query, doc),
    // |px − py| ≤ 4 pairs counted, minimum distance kept
    "search_proximity" ->
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
        |GROUP BY query_id, doc_id""".stripMargin,
    // phrase replay: positional postings vs the benchmark bigrams,
    // anchor votes counted per (query, doc, start)
    "search_phrase" ->
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
        |FROM g WHERE hits = 2""".stripMargin,
    // identical semantics through the stream — same replay
    "text_score_lexicon_stream" -> lexiconScoreOracle,
    // full replay: same normalization, same pair counts and tie-break,
    // same space-doubling literal fuse (DuckDB replace() is the same
    // left-to-right non-overlapping rule as Spark's)
    "text_bpe_step" ->
      """WITH t AS (SELECT doc_id, text,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM t
        |  WHERE length(trim(text)) > 0),
        |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |  i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS p
        |  FROM tk WHERE len(toks) >= 2),
        |cnt AS (SELECT p.a AS a, p.b AS b, count(*) AS n FROM bg
        |  GROUP BY 1, 2),
        |top AS (SELECT a, b, n FROM cnt ORDER BY n DESC, a, b LIMIT 1)
        |SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN '' ELSE
        |    trim(replace(replace(
        |      ' ' || replace(norm, ' ', '  ') || ' ',
        |      ' ' || top.a || '  ' || top.b || ' ',
        |      ' ' || top.a || '+' || top.b || ' '),
        |      '  ', ' ')) END AS merged_text,
        |  top.a || ' ' || top.b AS pair, top.n AS pair_count
        |FROM t, top""".stripMargin,
    // composed replay: epoch regeneration → synthetic replica ids →
    // the full WFQ schedule over the expanded set
    "mix_schedule" ->
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
        |FROM v""".stripMargin,
    // percentile replay: mirrored quality + the same row_number
    // tie-break ((rank−1)/(n−1), singleton → 0.5)
    "text_quality_pct" -> s"""
        |WITH t AS (SELECT doc_id, source, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id, source, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id, source,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |r AS (SELECT doc_id, source, quality,
        |  row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT doc_id, source, quality,
        |  CASE WHEN n = 1 THEN 0.5
        |       ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
        |    AS quality_pct
        |FROM r""".stripMargin,
    // cap replay: mirrored quality, one flat per-source window (the
    // oracle may monopartition; the engine's salted two-phase form
    // must produce the identical ranked survivor set)
    "sample_source_cap" -> s"""
        |WITH t AS (SELECT doc_id, source, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id, source, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id, source,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |r AS (SELECT doc_id, source, quality,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
        |  FROM q)
        |SELECT doc_id, source, quality, rank FROM r WHERE rank <= 10""".stripMargin,
    // epoch replay: same weight function, same md5 uniform, same
    // floor/fraction split — DuckDB regenerates every replica row
    "mix_epochs" ->
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
        |FROM n WHERE nrep >= 1""".stripMargin,
    // batch ≡ stream for the stateless operator: identical oracle
    "mix_epochs_stream" ->
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
        |FROM n WHERE nrep >= 1""".stripMargin,
    // budget replay: mirrored quality + token count, one flat ordered
    // cumsum (the oracle may funnel; the engine must not)
    // streaming-admission replay: same langid + share-derived budgets,
    // per-language ID-ordered prefix sums (event order is id order by
    // construction; arrival replaces quality as the admission order)
    "pipeline_multilingual_stream" -> s"""
        |WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(${markerList("en")}, x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(${markerList("fr")}, x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(${markerList("es")}, x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(${markerList("de")}, x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(${markerList("zh")}, x))) AS s_zh
        |  FROM t),
        |lg AS (SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
        |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
        |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
        |  WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
        |  ELSE 'und' END AS lang
        |  FROM sc),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM lg GROUP BY 1),
        |pp AS (SELECT list(struct_pack(lang := lang, n := n)
        |    ORDER BY lang, n) AS arr FROM c),
        |dd AS (SELECT arr, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(arr, x -> sqrt(CAST(x.n AS DOUBLE)))),
        |    (a, b) -> a + b) AS denom FROM pp),
        |bb AS (SELECT x.lang AS lang,
        |    CAST(floor(sqrt(CAST(x.n AS DOUBLE)) / denom * 16000.0)
        |      AS BIGINT) AS budget
        |  FROM (SELECT unnest(arr) AS x, denom FROM dd)),
        |o AS (SELECT lg.lang, t.doc_id, CAST(t.ntok AS BIGINT) AS n_tokens,
        |  CAST(sum(t.ntok) OVER (PARTITION BY lg.lang ORDER BY t.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |  FROM t JOIN lg USING (doc_id))
        |SELECT lang, doc_id, n_tokens, cum_tokens
        |FROM o JOIN bb USING (lang) WHERE cum_tokens <= budget""".stripMargin,
    // multilingual-mix replay: langid markers → per-lang sqrt-share
    // fold (sorted list, one float sum) → floored budgets → per-lang
    // quality-ordered prefix sums, admission while cum ≤ budget
    "pipeline_multilingual" -> s"""
        |WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(${markerList("en")}, x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(${markerList("fr")}, x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(${markerList("es")}, x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(${markerList("de")}, x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(${markerList("zh")}, x))) AS s_zh
        |  FROM t),
        |lg AS (SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
        |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
        |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
        |  WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
        |  ELSE 'und' END AS lang
        |  FROM sc),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM lg GROUP BY 1),
        |pp AS (SELECT list(struct_pack(lang := lang, n := n)
        |    ORDER BY lang, n) AS arr FROM c),
        |dd AS (SELECT arr, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(arr, x -> sqrt(CAST(x.n AS DOUBLE)))),
        |    (a, b) -> a + b) AS denom FROM pp),
        |bb AS (SELECT x.lang AS lang,
        |    CAST(floor(sqrt(CAST(x.n AS DOUBLE)) / denom * 16000.0)
        |      AS BIGINT) AS budget
        |  FROM (SELECT unnest(arr) AS x, denom FROM dd)),
        |m AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id, n_tokens,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |o AS (SELECT lg.lang, q.doc_id, q.quality, q.n_tokens,
        |  CAST(sum(q.n_tokens) OVER (PARTITION BY lg.lang
        |    ORDER BY q.quality DESC, q.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |  FROM q JOIN lg USING (doc_id))
        |SELECT lang, doc_id, quality, n_tokens, cum_tokens, budget
        |FROM o JOIN bb USING (lang) WHERE cum_tokens <= budget""".stripMargin,
    "sample_token_budget" -> s"""
        |WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id, n_tokens,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |o AS (SELECT doc_id, quality, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |  FROM q)
        |SELECT doc_id, quality, n_tokens, cum_tokens
        |FROM o WHERE cum_tokens <= 16000""".stripMargin,
    // streaming admission replay: event order is id order by
    // construction, so the oracle is the flat id-ordered prefix sum
    "sample_budget_stream" ->
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
        |FROM o WHERE cum_tokens <= 16000""".stripMargin,
    // keyed quota replay: per-source first-12 in id order
    "sample_quota_stream" ->
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |    AS BIGINT) AS rank
        |  FROM documents)
        |SELECT doc_id, source, rank FROM r WHERE rank <= 12""".stripMargin,
    // full schedule replay: per-source md5-shuffled rank → virtual
    // time (one exact subtraction + one IEEE division) → global
    // (vtime, source, id) order; any drift in hashing, weights, or
    // tie-breaks moves positions and breaks the hash
    "mix_interleave" ->
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
        |FROM v""".stripMargin,
    // n_chars: DuckDB sum(INTEGER) yields HUGEINT (→ float in pandas);
    // cast to BIGINT so both engines emit identical int64 values
    "text_shard_manifest" ->
      """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 8 AS shard,
        |  count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // chunk boundaries: [i*stride, i*stride+window) over whitespace
    // tokens; 1 + ceil(max(n-window,0)/stride) chunks per doc
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks, n, unnest(range(0,
        |  1 + CAST(floor((greatest(n - 16, 0) + 7) / 8.0) AS BIGINT))) AS cid
        |  FROM n)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  array_to_string(toks[(cid*8+1):least(cid*8+16, n)], ' ') AS chunk_text,
        |  CAST(least(cid*8+16, n) - cid*8 AS INT) AS n_tokens
        |FROM c""".stripMargin,
    // the batch first-occurrence aggregate over the same spanning — the
    // streamed Update-mode result must collapse to exactly this
    "dedup_spans_stream" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |s AS (SELECT doc_id, toks, n,
        |  unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS si FROM n),
        |sp AS (SELECT doc_id, CAST(si AS INT) AS span_idx,
        |  array_to_string(toks[(si*16+1):least(si*16+16, n)], ' ') AS span_text
        |  FROM s),
        |f AS (SELECT span_text,
        |  min(struct_pack(d := doc_id, i := span_idx)) AS first,
        |  count(*) AS n FROM sp GROUP BY span_text)
        |SELECT first.d AS doc_id, first.i AS span_idx,
        |  CAST(n AS BIGINT) AS n_occurrences FROM f""".stripMargin,

    // the same per-bucket next-fit fold, replayed one rank at a time by
    // a recursive CTE (oracle-scale sequentiality is fine in DuckDB)
    "text_pack_bins" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CAST(floor(doc_id / 64) AS BIGINT) AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n,
        |    row_number() OVER (PARTITION BY floor(doc_id / 64)
        |      ORDER BY doc_id) AS rn
        |  FROM documents WHERE length(trim(text)) > 0),
        |fold AS (
        |  SELECT bucket, rn, doc_id, n,
        |    CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_start,
        |    CAST(n AS BIGINT) AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.bucket, t.rn, t.doc_id, t.n,
        |    CASE WHEN f.fill + t.n > 256 THEN f.bin_idx + 1 ELSE f.bin_idx END,
        |    CASE WHEN f.fill + t.n > 256 THEN 0 ELSE f.fill END,
        |    CASE WHEN f.fill + t.n > 256 THEN CAST(t.n AS BIGINT) ELSE f.fill + t.n END
        |  FROM fold f JOIN t ON t.bucket = f.bucket AND t.rn = f.rn + 1)
        |SELECT doc_id, n AS n_tokens, bucket, bin_idx, bin_start
        |FROM fold""".stripMargin,

    // same spanning as the engine: 16-token aligned spans, struct-min
    // first occurrence, ordered reassembly of the kept spans
    "dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |s AS (SELECT doc_id, toks, n,
        |  unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS si FROM n),
        |sp AS (SELECT doc_id, CAST(si AS INT) AS span_idx,
        |  array_to_string(toks[(si*16+1):least(si*16+16, n)], ' ') AS span_text
        |  FROM s),
        |f AS (SELECT span_text, min(struct_pack(d := doc_id, i := span_idx)) AS first
        |  FROM sp GROUP BY span_text),
        |j AS (SELECT sp.doc_id, sp.span_idx, sp.span_text,
        |  (sp.doc_id = f.first.d AND sp.span_idx = f.first.i) AS keep
        |  FROM sp JOIN f USING (span_text))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN span_text END, ' '
        |    ORDER BY span_idx), '') AS text_dedup
        |FROM j GROUP BY doc_id""".stripMargin,

    // ExactSubstr replay on REAL window substrings (no hashes): same
    // augmentation, same normalization, duplicated 8-token windows,
    // gap<=8 island merge, maximal-span text rebuilt from the token array
    "dedup_exact_substr" -> substrSpansOracle,
    // the streaming flagging form merges the identical flagged set
    "dedup_exact_substr_stream" -> substrSpansOracle,

    // cross-corpus window replay: candidate windows IN benchmark window
    // set, islands merged per candidate doc, span text from token array
    "text_decontaminate_spans" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 AND doc_id % 2 = 0
        |      THEN 'by the riverbank the quiet fox waited for the morning light to come '
        |      ELSE '' END || text ||
        |    CASE WHEN doc_id % 97 <> 0 AND doc_id % 13 = 0
        |      THEN ' by the riverbank the quiet fox waited for the morning light to come'
        |      ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM aug),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
        |cpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 97 <> 0),
        |cw AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt
        |  FROM cpos),
        |bpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 97 = 0),
        |bw AS (SELECT DISTINCT array_to_string(toks[p:p+7], ' ') AS wtxt
        |  FROM bpos),
        |f AS (SELECT doc_id, p FROM cw WHERE wtxt IN (SELECT wtxt FROM bw)),
        |g AS (SELECT doc_id, p,
        |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
        |isl AS (SELECT doc_id, p,
        |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
        |  FROM isl GROUP BY doc_id, island)
        |SELECT sp.doc_id, CAST(s AS INT) AS span_start,
        |  CAST(ln AS INT) AS span_len,
        |  array_to_string(n.toks[s:s+ln-1], ' ') AS span_text
        |FROM sp JOIN n USING (doc_id)""".stripMargin,

    // span replay + disjoint-span length sum per doc, every doc reported
    "text_dup_fraction" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'the quick brown fox jumps over the lazy dog near the river bank '
        |      ELSE '' END || text ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' the quick brown fox jumps over the lazy dog near the river bank'
        |      ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM aug),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
        |pos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p FROM n),
        |w AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt FROM pos),
        |dup AS (SELECT wtxt FROM w GROUP BY wtxt HAVING count(*) > 1),
        |f AS (SELECT doc_id, p FROM w WHERE wtxt IN (SELECT wtxt FROM dup)),
        |g AS (SELECT doc_id, p,
        |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
        |isl AS (SELECT doc_id, p,
        |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT doc_id, sum(ln) AS dup_tokens FROM sp GROUP BY doc_id),
        |alln AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
        |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) /
        |    CAST(a.n_tokens AS DOUBLE) AS dup_fraction
        |FROM alln a LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // incremental replay: batch windows IN the indexed slice's window
    // set, islands merged per batch doc
    "dedup_substr_incremental" -> substrIncrementalOracle,
    // three-way ingest replay: index windows come from thirds 0 (build)
    // and 1 (append), probes from third 2, plants as in the entry
    "dedup_substr_ingest" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
        |      THEN 'by the riverbank the quiet fox waited for the morning light to come '
        |      ELSE '' END || text ||
        |    CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 0
        |      THEN ' by the riverbank the quiet fox waited for the morning light to come'
        |      WHEN doc_id % 3 = 2 AND doc_id % 13 = 0
        |      THEN ' by the riverbank the quiet fox waited for the morning light to come'
        |      ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM aug),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
        |cpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 3 = 2),
        |cw AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt
        |  FROM cpos),
        |bpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 3 <> 2),
        |bw AS (SELECT DISTINCT array_to_string(toks[p:p+7], ' ') AS wtxt
        |  FROM bpos),
        |f AS (SELECT doc_id, p FROM cw WHERE wtxt IN (SELECT wtxt FROM bw)),
        |g AS (SELECT doc_id, p,
        |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
        |isl AS (SELECT doc_id, p,
        |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
        |  FROM isl GROUP BY doc_id, island)
        |SELECT sp.doc_id, CAST(s AS INT) AS span_start,
        |  CAST(ln AS INT) AS span_len,
        |  array_to_string(n.toks[s:s+ln-1], ' ') AS span_text
        |FROM sp JOIN n USING (doc_id)""".stripMargin,
    // the streaming probe flags the identical window set on arrival
    "dedup_substr_incremental_stream" -> substrIncrementalOracle,

    // keep-one removal replay: first occurrence per duplicated window,
    // per-token keep = any covering first-occurrence window, affected
    // docs rebuilt positionally, untouched docs emitted normalized
    "dedup_exact_substr_apply" -> (substrApplyCtesForPipeline +
      "\nSELECT * FROM reb UNION ALL SELECT * FROM unt"),

    // the full composition replay: apply-replay CTEs → cleaned corpus →
    // lexicon trained on its %97 slice → per-occurrence add-one score →
    // >= 0.5 admission → md5 train cut → flat-cumsum sequence packing
    "pipeline_pretrain" -> (substrApplyCtesForPipeline +
      """,
        |cl AS MATERIALIZED (SELECT doc_id, text_clean FROM reb
        |  UNION ALL SELECT doc_id, text_clean FROM unt),
        |bt2 AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(
        |      regexp_replace(lower(trim(text_clean)), '\s+', ' ', 'g'), ' ')) AS tok
        |    FROM cl WHERE doc_id % 97 = 0) u2),
        |lex2 AS (SELECT tok,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS np,
        |    sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS nn
        |  FROM bt2 GROUP BY tok),
        |cand2 AS (SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text_clean)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM cl WHERE doc_id % 97 <> 0),
        |sc AS (SELECT c2.doc_id,
        |    CAST(sum(coalesce(l2.np, 0) + 1) AS DOUBLE) /
        |    CAST(sum(coalesce(l2.np, 0) + coalesce(l2.nn, 0) + 2) AS DOUBLE)
        |      AS score
        |  FROM cand2 c2 LEFT JOIN lex2 l2 ON c2.tok = l2.tok
        |  GROUP BY c2.doc_id),
        |adm AS (SELECT cl.doc_id, cl.text_clean
        |  FROM cl JOIN sc USING (doc_id)
        |  WHERE cl.doc_id % 97 <> 0 AND sc.score >= 0.5
        |    AND substring(md5(CAST(cl.doc_id AS VARCHAR)), 1, 8) < 'cccccccc'),
        |pn AS (SELECT doc_id,
        |    CASE WHEN length(trim(text_clean)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text_clean), '\s+')) END AS nt
        |  FROM adm),
        |pp AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
        |  COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM pn WHERE nt > 0),
        |ps AS (SELECT doc_id, nt, off,
        |  unnest(range(CAST(off // 128 AS BIGINT),
        |    CAST((off + nt - 1) // 128 + 1 AS BIGINT))) AS seq_id
        |  FROM pp)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(off, seq_id * 128) - off AS INT) AS tok_start,
        |  CAST(least(off + nt, (seq_id + 1) * 128) - off AS INT) AS tok_end
        |FROM ps""".stripMargin),

    // shared normalized 4-grams against the doc_id%97 benchmark slice;
    // grams per doc are DISTINCT (list_distinct mirrors array_distinct)
    "text_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 3, 1) + 1),
        |  i -> array_to_string(t[i:i+3], ' '))) AS s FROM toks),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 97 = 0),
        |cand AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
        |  JOIN bench USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared,
        |  COALESCE(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 97 <> 0""".stripMargin,
    // line-removal replay: same augmentation, same normalization, same
    // doc-frequency threshold, positional reassembly
    "text_dedup_lines" ->
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN '. all rights reserved' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '. sig ' || CAST(doc_id % 100 AS VARCHAR)
        |         ELSE '' END AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, '.') AS parts FROM aug),
        |pos AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM p),
        |l AS (SELECT doc_id, i,
        |    regexp_replace(lower(trim(parts[i])), '\s+', ' ', 'g') AS ln
        |  FROM pos),
        |nz AS (SELECT doc_id, i, ln FROM l WHERE length(ln) > 0),
        |hot AS (SELECT ln FROM (
        |    SELECT ln, count(*) AS df FROM (SELECT DISTINCT doc_id, ln FROM nz) d
        |    GROUP BY ln) f WHERE df > 10),
        |kept AS (SELECT doc_id, i, ln FROM nz WHERE ln NOT IN (SELECT ln FROM hot)),
        |re AS (SELECT doc_id, array_to_string(list(ln ORDER BY i), '. ') AS cleaned_text,
        |    CAST(count(*) AS BIGINT) AS n_lines_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(re.cleaned_text, '') AS cleaned_text,
        |  COALESCE(re.n_lines_kept, 0) AS n_lines_kept
        |FROM documents d LEFT JOIN re USING (doc_id)""".stripMargin,
    // Bloom prefilter is pure plan optimization — identical exact result
    "text_decontaminate_bloom" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 3, 1) + 1),
        |  i -> array_to_string(t[i:i+3], ' '))) AS s FROM toks),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 97 = 0),
        |cand AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
        |  JOIN bench USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared,
        |  COALESCE(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 97 <> 0""".stripMargin,
    // digest estimates pass through from the output; group count/min/max
    // recomputed and verified
    "q_tdigest" ->
      """WITH o AS (SELECT l_returnflag, p25, p50, p99
        |  FROM read_parquet('__OUT__/q_tdigest/*.parquet'))
        |SELECT o.l_returnflag, o.p25, o.p50, o.p99, e.n, e.lo, e.hi
        |FROM o JOIN (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem GROUP BY l_returnflag) e USING (l_returnflag)""".stripMargin,
    "sim_ann_lsh" -> annPairOracle("sim_ann_lsh"),
    "sim_ivf" -> annPairOracle("sim_ivf"),
    // self-KNN graph: emitted neighbor sims recomputed exactly
    "sim_knn_graph" -> annPairOracle("sim_knn_graph"),
    // centroid-classifier replay: fixed-point centroids (trunc-div
    // mean, FLOAT-cast elements), the identical cosine-distance argmin
    // with (distance, lower label) tie-break, confusion counts
    "sim_centroid_classify" ->
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
        |FROM best GROUP BY 1, 2""".stripMargin,
    // readback vote verification: labels, the (count desc, lower label)
    // majority, and the mismatch flag recomputed from the emitted pairs
    "sim_label_vote_ann" ->
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
        |FROM v JOIN vote USING (vec_id)""".stripMargin,
    "sim_ivf_refined" -> annPairOracle("sim_ivf_refined"),
    "sim_pq" -> annPairOracle("sim_pq"),
    "sim_ivfpq" -> annPairOracle("sim_ivfpq"),
    "sim_ivfpq_stream" -> annPairOracle("sim_ivfpq_stream"),
    "sim_ivfpq_ingest" -> annPairOracle("sim_ivfpq_ingest"),
    "dedup_incremental" -> incrementalPairOracle("dedup_incremental"),
    "dedup_incremental_stream" ->
      incrementalPairOracle("dedup_incremental_stream"),
    "text_fingerprint" -> s"""
        |WITH o AS (SELECT doc_id, fp, simhash
        |  FROM read_parquet('__OUT__/text_fingerprint/*.parquet')),
        |norms AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        |  FROM documents),
        |$shingleCtes
        |SELECT o.doc_id, o.fp, o.simhash, md5(n.norm) AS fp_exact,
        |  list_min(list_transform(sh.s, g -> substring(md5(g), 1, 16))) AS fp_min
        |FROM o JOIN norms n ON o.doc_id = n.doc_id
        |JOIN sh ON o.doc_id = sh.doc_id""".stripMargin,
    // same augmentation, same patterns, same sequential count-then-replace
    // order as the entry; DuckDB's RE2 and Spark's Java regex agree on the
    // shared pattern subset (documented on TextAnalysis.PiiPatterns)
    "text_redact" -> """
        |WITH aug AS (SELECT doc_id,
        |  text || ' reach ' || source || '@example.com or 10.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |  CAST(doc_id * 7 % 256 AS VARCHAR) || ' tel +1-555-' ||
        |  lpad(CAST(doc_id AS VARCHAR), 7, '0') AS t FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t FROM aug),
        |s2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |    '<IP>', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, n_email, n_ip,
        |  CAST(len(regexp_extract_all(t, '\+\d[\d-]{5,}\d')) AS BIGINT)
        |    AS n_phone,
        |  regexp_replace(t, '\+\d[\d-]{5,}\d', '<PHONE>', 'g') AS t FROM s2)
        |SELECT doc_id, t AS redacted, n_email, n_ip, n_phone FROM s3""".stripMargin,
    // collocation replay: same counts, same IEEE association for the
    // lift ratio, same (lift desc, x, y) order
    "text_collocations" ->
      """WITH t AS (SELECT string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |tu AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t_uni FROM t),
        |tb AS (SELECT CAST(sum(len(toks) - 1) AS BIGINT) AS t_bi
        |  FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[CAST(i AS INT)] AS x, toks[CAST(i + 1 AS INT)] AS y
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM b GROUP BY x, y HAVING count(*) >= 5),
        |j AS (SELECT bc.x, bc.y, bc.c_xy,
        |    (CAST(bc.c_xy AS DOUBLE) / CAST(tb.t_bi AS DOUBLE)) /
        |    ((CAST(ux.c AS DOUBLE) / CAST(tu.t_uni AS DOUBLE)) *
        |     (CAST(uy.c AS DOUBLE) / CAST(tu.t_uni AS DOUBLE))) AS lift
        |  FROM bc JOIN uc ux ON bc.x = ux.w JOIN uc uy ON bc.y = uy.w
        |  CROSS JOIN tu CROSS JOIN tb),
        |r AS (SELECT x, y, c_xy, lift,
        |    row_number() OVER (ORDER BY lift DESC, x, y) AS rank FROM j)
        |SELECT x, y, c_xy, lift, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 50""".stripMargin,
    // markup replay: identical wrap/entity augmentation, tag regex →
    // space, replace() entity chain in the same order, '\s+' collapse
    "text_strip_markup" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN '<html><body class="page"><p>' ELSE '' END ||
        |  text ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN ' <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 2 = 0 THEN '</p></body></html>' ELSE '' END
        |    AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '<[^>]+>')) AS BIGINT) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(
        |      regexp_replace(t, '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM aug""".stripMargin,
    // identical augmentation via chr() codepoints (769=U+0301, 771=U+0303,
    // 776=U+0308, 7=BEL), then the identical strip → NFC → collapse order;
    // utf8proc's NFC and the JDK normalizer must agree byte-for-byte
    "text_normalize" ->
      """WITH aug AS (SELECT doc_id,
        |  text || '  cafe' || chr(769) ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' man' || chr(771) || 'ana'
        |       WHEN doc_id % 3 = 1 THEN ' u' || chr(776) || 'ber'
        |       ELSE ' fiance' || chr(769) || 'e' END ||
        |  chr(7) || chr(9) || ' ' || source AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    nfc_normalize(regexp_replace(t, '[\x00-\x1f\x7f]', '', 'g')),
        |    '\s+', ' ', 'g')) AS normalized
        |FROM aug""".stripMargin,
    "text_topk_ngrams" -> s"""
        |WITH $shingleCtes,
        |u AS (SELECT unnest(s) AS ngram FROM sh)
        |SELECT ngram, count(*) AS doc_freq FROM u
        |GROUP BY ngram ORDER BY doc_freq DESC, ngram LIMIT 50""".stripMargin,
    // identical construction: in exact mode the sketch must reproduce
    // the true top-50 (same tie-break: freq desc, gram asc)
    "text_topk_sketch" -> s"""
        |WITH $shingleCtes,
        |u AS (SELECT unnest(s) AS ngram FROM sh)
        |SELECT ngram, count(*) AS doc_freq FROM u
        |GROUP BY ngram ORDER BY doc_freq DESC, ngram LIMIT 50""".stripMargin,
    // distinct-count parity: the engine counts distinct k-grams by 64-bit
    // xxhash (WordShingleHashes), the oracle by the strings themselves —
    // equal unless xxhash64 collides within one document (~n²/2⁶⁵)
    "text_repetition" -> """
        |WITH base AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |tk AS (SELECT doc_id, n_tokens, string_split(t, ' ') AS tks
        |  FROM base WHERE n_tokens >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, n_tokens::BIGINT),
        |  i -> tks[i] || ' ' || tks[i + 1])) AS g FROM tk),
        |top AS (SELECT doc_id, max(c) AS top_cnt FROM
        |  (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |d2 AS (SELECT doc_id, len(list_distinct(list_transform(
        |  range(1, n_tokens::BIGINT), i -> tks[i] || ' ' || tks[i + 1]))) AS d
        |  FROM tk),
        |d3 AS (SELECT doc_id, len(list_distinct(list_transform(
        |  range(1, (n_tokens - 1)::BIGINT),
        |  i -> tks[i] || ' ' || tks[i + 1] || ' ' || tks[i + 2]))) AS d
        |  FROM tk WHERE n_tokens >= 3)
        |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  COALESCE(CAST(1 AS DOUBLE) -
        |    CAST(d2.d AS DOUBLE) / CAST(b.n_tokens - 1 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS dup_bigram_frac,
        |  COALESCE(CAST(1 AS DOUBLE) -
        |    CAST(d3.d AS DOUBLE) / CAST(b.n_tokens - 2 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS dup_trigram_frac,
        |  COALESCE(CAST(top.top_cnt AS DOUBLE) /
        |    CAST(b.n_tokens - 1 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS top_bigram_frac
        |FROM base b
        |LEFT JOIN d2 ON b.doc_id = d2.doc_id
        |LEFT JOIN d3 ON b.doc_id = d3.doc_id
        |LEFT JOIN top ON b.doc_id = top.doc_id""".stripMargin,
    // deflate count passes through; byte size recomputed exactly and
    // the ratio re-derived from the two ints (any drift in either, or
    // in the division, breaks the hash)
    "text_compression" ->
      """WITH o AS (SELECT doc_id, deflate_bytes
        |  FROM read_parquet('__OUT__/text_compression/*.parquet')),
        |n AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT o.doc_id, n.n_bytes, o.deflate_bytes,
        |  CASE WHEN n.n_bytes = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(o.deflate_bytes AS DOUBLE) / CAST(n.n_bytes AS DOUBLE)
        |  END AS ratio
        |FROM o JOIN n USING (doc_id)""".stripMargin,
    // novelty replay: same garble, same distinct char bigrams, same
    // integer-ceil threshold, one division of exact counts
    "text_bigram_novelty" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0
        |       THEN text || ' ' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |       ELSE text END AS text
        |  FROM documents),
        |n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM aug),
        |base AS (SELECT doc_id, t FROM n WHERE length(t) >= 2),
        |bg AS (SELECT DISTINCT doc_id, t[i:i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM base)),
        |tot AS (SELECT count(*) AS n FROM base),
        |dfc AS (SELECT b, count(*) AS df FROM bg GROUP BY b),
        |rare AS (SELECT b FROM dfc, tot WHERE df < (n * 5 + 99) // 100),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams FROM bg GROUP BY doc_id),
        |rd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rare
        |  FROM bg JOIN rare USING (b) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(rd.n_rare, 0) AS n_rare,
        |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(COALESCE(rd.n_rare, 0) AS DOUBLE) /
        |            CAST(pd.n_bigrams AS DOUBLE) END AS novelty
        |FROM documents d
        |LEFT JOIN pd USING (doc_id) LEFT JOIN rd USING (doc_id)""".stripMargin,
    // linear-classifier replay: same md5 bucket weights, exact integer
    // sum, ONE division — margins hash-compare bit-for-bit
    "text_score_linear" ->
      """WITH t AS (SELECT doc_id, text, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(list_sum(list_transform(toks, w ->
        |         ('0x' || substring(md5(w), 1, 8))::BIGINT % 512 - 256))
        |         AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |  END AS margin
        |  FROM t)
        |SELECT doc_id, margin, margin > 0 AS admitted FROM m""".stripMargin,
    "text_langid" -> s"""
        |WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> list_contains(${markerList("en")}, x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(${markerList("fr")}, x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(${markerList("es")}, x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(${markerList("de")}, x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(${markerList("zh")}, x))) AS s_zh
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
        |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
        |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
        |  WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
        |  ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,
    "multimodal_ingest" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        |hex(encode(substring(text, 1, 4))) AS magic,
        |'unknown' AS media_format FROM documents""".stripMargin,
    // digest-group replay: same planted re-uploads, same md5-of-bytes key
    "multimodal_dedup" ->
      """WITH planted AS (SELECT d.doc_id, s.text AS payload
        |  FROM documents d JOIN documents s
        |  ON s.doc_id = CASE WHEN d.doc_id % 7 = 3 THEN d.doc_id - 3
        |                     ELSE d.doc_id END),
        |g AS (SELECT md5(payload) AS dg, min(doc_id) AS group_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM planted GROUP BY 1)
        |SELECT p.doc_id, g.group_id, g.n_copies
        |FROM planted p JOIN g ON md5(p.payload) = g.dg""".stripMargin,
    // byte-bucket histogram recomputed from the UTF-8 payload via
    // hex-nibble decode (bucket 0 = byte positions ≡ 0 mod 16)
    // PCM energy replay: same hex-nibble byte decode, little-endian
    // sample assembly, signed conversion, exact square-sum per frame
    "multimodal_pcm_energy" ->
      """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, hx, unnest(range(0, n // 128)) AS frame
        |  FROM h WHERE n >= 128),
        |s AS (SELECT doc_id, CAST(frame AS INTEGER) AS frame_idx,
        |    list_transform(range(0, 64), i ->
        |      (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 1 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 1 AS INT)]) - 1) * 16
        |      + (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 2 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 2 AS INT)]) - 1)
        |      + 256 * ((strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 3 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 3 AS INT)]) - 1) * 16
        |      + (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 4 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 4 AS INT)]) - 1))) AS vs
        |  FROM f)
        |SELECT doc_id, frame_idx,
        |  CAST(list_sum(list_transform(vs, v ->
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT)
        |    * CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
        |      AS BIGINT))) AS BIGINT) AS energy
        |FROM s""".stripMargin,
    // bounded-contribution replay: per-user clip then rollup
    "table_dp_bounded" ->
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS user_cents,
        |    CAST(count(*) AS BIGINT) AS user_rows
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(sum(least(user_cents, 10000)) AS BIGINT) AS bounded_cents,
        |  CAST(sum(user_cents) AS BIGINT) AS raw_cents,
        |  CAST(sum(least(user_rows, 20)) AS BIGINT) AS bounded_rows,
        |  CAST(sum(user_rows) AS BIGINT) AS raw_rows,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM u GROUP BY 1""".stripMargin,
    // masking replay: identical md5 surrogate, last-4 retention,
    // floor-division $1000 generalization
    "table_masking" ->
      """SELECT c_custkey,
        |  'cust-' || substring(md5(c_name), 1, 12) AS name_token,
        |  '***' || substring(c_name, length(c_name) - 3, 4)
        |    AS name_last4,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000
        |    AS acctbal_bucket
        |FROM customer""".stripMargin,
    "multimodal_features" ->
      """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |  octet_length(encode(text)) AS n FROM documents),
        |b AS (SELECT doc_id, n, list_transform(range(1, n + 1),
        |  i -> (strpos('0123456789abcdef', hx[2*i-1:2*i-1]) - 1) * 16 +
        |       (strpos('0123456789abcdef', hx[2*i:2*i]) - 1)) AS bytes
        |  FROM h)
        |SELECT doc_id, 16 AS n_feats,
        |  CAST(COALESCE(list_sum(list_transform(range(1, n + 1),
        |    i -> CASE WHEN (i - 1) % 16 = 0 THEN bytes[i] ELSE 0 END)), 0)
        |    AS BIGINT) AS f0,
        |  CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS feat_sum
        |FROM b""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts_s FROM events),
        |a AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts_s END) AS t_signup,
        |  list(ts_s) FILTER (WHERE event_type = 'view') AS views,
        |  list(ts_s) FILTER (WHERE event_type = 'purchase') AS buys
        |  FROM e GROUP BY user_id),
        |b AS (SELECT user_id, t_signup, buys,
        |  list_min(list_filter(views, v -> v > t_signup)) AS t_view FROM a)
        |SELECT user_id, t_signup, t_view,
        |  list_min(list_filter(buys, x -> x > t_view)) AS t_buy,
        |  (t_signup IS NOT NULL AND t_view IS NOT NULL) AS reached_view,
        |  (t_view IS NOT NULL AND list_min(list_filter(buys, x -> x > t_view)) IS NOT NULL) AS reached_buy
        |FROM b""".stripMargin,
    // identical oracle: the single-shuffle fold must reproduce the
    // aggregation form bit-for-bit
    "events_funnel_fold" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts_s FROM events),
        |a AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts_s END) AS t_signup,
        |  list(ts_s) FILTER (WHERE event_type = 'view') AS views,
        |  list(ts_s) FILTER (WHERE event_type = 'purchase') AS buys
        |  FROM e GROUP BY user_id),
        |b AS (SELECT user_id, t_signup, buys,
        |  list_min(list_filter(views, v -> v > t_signup)) AS t_view FROM a)
        |SELECT user_id, t_signup, t_view,
        |  list_min(list_filter(buys, x -> x > t_view)) AS t_buy,
        |  (t_signup IS NOT NULL AND t_view IS NOT NULL) AS reached_view,
        |  (t_view IS NOT NULL AND list_min(list_filter(buys, x -> x > t_view)) IS NOT NULL) AS reached_buy
        |FROM b""".stripMargin,
    // identical oracle to events_funnel: the streaming entry must produce
    // the batch answer bit-for-bit (funnelExact's exactness contract)
    "events_funnel_stream" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts_s FROM events),
        |a AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts_s END) AS t_signup,
        |  list(ts_s) FILTER (WHERE event_type = 'view') AS views,
        |  list(ts_s) FILTER (WHERE event_type = 'purchase') AS buys
        |  FROM e GROUP BY user_id),
        |b AS (SELECT user_id, t_signup, buys,
        |  list_min(list_filter(views, v -> v > t_signup)) AS t_view FROM a)
        |SELECT user_id, t_signup, t_view,
        |  list_min(list_filter(buys, x -> x > t_view)) AS t_buy,
        |  (t_signup IS NOT NULL AND t_view IS NOT NULL) AS reached_view,
        |  (t_view IS NOT NULL AND list_min(list_filter(buys, x -> x > t_view)) IS NOT NULL) AS reached_buy
        |FROM b""".stripMargin,
    // sliding-window replay: every report day any event's 7 windows
    // touch, distinct users via the quadratic BETWEEN join
    "events_wau_stream" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |rd AS (SELECT DISTINCT day + CAST(i AS INTEGER) AS rday
        |  FROM du, (SELECT unnest(range(0, 7)) AS i) t),
        |wau AS (SELECT rd.rday AS day,
        |    CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
        |  FROM rd JOIN du ON du.day BETWEEN rd.rday - 6 AND rd.rday
        |  GROUP BY rd.rday)
        |SELECT day, wau FROM wau""".stripMargin,
    // DAU/WAU replay: trailing-window membership via the range join the
    // engine deliberately avoids (the oracle may be quadratic)
    "events_active_users" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
        |wau AS (SELECT r.day AS day,
        |    CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
        |  FROM dau r JOIN du ON du.day BETWEEN r.day - 6 AND r.day
        |  GROUP BY r.day)
        |SELECT dau.day, dau.dau, wau.wau FROM dau JOIN wau USING (day)""".stripMargin,
    // triangle replay: distinct activity days joined to the signup day,
    // one division of exact counts per (cohort, offset) cell
    "events_cohort_matrix" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |s AS (SELECT user_id, min(day) AS cohort_day FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM s GROUP BY cohort_day),
        |a AS (SELECT DISTINCT user_id, day FROM e),
        |act AS (SELECT s.cohort_day,
        |    CAST(a.day - s.cohort_day AS INT) AS day_offset,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM a JOIN s USING (user_id)
        |  WHERE (a.day - s.cohort_day) BETWEEN 0 AND 14
        |  GROUP BY 1, 2)
        |SELECT act.cohort_day, act.day_offset, act.n_active, cs.n_users,
        |  CAST(act.n_active AS DOUBLE) / CAST(cs.n_users AS DOUBLE)
        |    AS retention
        |FROM act JOIN cs USING (cohort_day)""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |p AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN day END) AS signup_day,
        |  list(DISTINCT day) AS days FROM e GROUP BY user_id),
        |r AS (SELECT user_id, signup_day,
        |  list_contains(days, signup_day + 1) AS d1,
        |  list_contains(days, signup_day + 7) AS d7
        |  FROM p WHERE signup_day IS NOT NULL)
        |SELECT signup_day AS cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(CAST(d1 AS INT)) AS BIGINT) AS n_d1,
        |  CAST(SUM(CAST(d7 AS INT)) AS BIGINT) AS n_d7
        |FROM r GROUP BY signup_day""".stripMargin,
    "sample_hash" -> s"""
        |SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |  < '${graft.functions.Sampling.hexCut(0.2)}'""".stripMargin,
    "sample_stratified" -> s"""
        |SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN '${graft.functions.Sampling.hexCut(0.5)}'
        |  ELSE '${graft.functions.Sampling.hexCut(0.1)}' END
        |AND lang IN ('en','fr','de','es','zh')""".stripMargin,
    "sample_rebalance" ->
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
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < f.cut""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)) AS gap
        |  FROM e)
        |SELECT user_id, event_id,
        |CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM g""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event replayed into both of its 30-min-slide hour windows;
    // shared by the batch and Append-mode streaming forms
    "events_hopping" -> hoppingOracle,
    "events_hopping_stream" -> hoppingOracle,
    // identical oracle to events_hourly: Append-mode windowed aggregation
    // must reproduce the batch hourly rollup bit-for-bit
    "events_hourly_stream" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    // mean-pool replay: same floor quantization and integer sums; the
    // mean div is trunc-vs-floor-safe via the sign split
    "embed_pool" ->
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
        |FROM a""".stripMargin,
    // concurrency replay: the session_window islands (gap > 1800 rule),
    // hour-truncated span per session, +1/−1 per-hour deltas, cumsum
    // over the generate_series hour spine
    "events_concurrency_stream" -> concurrencyOracle,
    "events_concurrency" -> concurrencyOracle,
    "events_session_window" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts_s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(MIN(ts_s) AS TIMESTAMP) AS session_start,
        |COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // identical oracle to events_session_window: the streaming sessionizer
    // must reproduce the batch session_window answer bit-for-bit
    "events_sessions_stream" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_id, ts_s,
        |  epoch(ts_s) - epoch(lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)) AS gap
        |  FROM e),
        |s AS (SELECT user_id, ts_s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(MIN(ts_s) AS TIMESTAMP) AS session_start,
        |COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // the naive theta-join form IS the oracle: the bucketized operator
    // must produce exactly the rows the bare range predicate defines
    "q_range_join" ->
      """WITH w AS (SELECT event_id AS window_id,
        |  date_trunc('second', ts) AS lo,
        |  date_trunc('second', ts) + INTERVAL 1 HOUR AS hi
        |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
        |c AS (SELECT date_trunc('second', ts) AS click_s, value
        |  FROM events WHERE event_type = 'click')
        |SELECT w.window_id, COUNT(*) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM w JOIN c ON c.click_s >= w.lo AND c.click_s < w.hi
        |GROUP BY w.window_id""".stripMargin,
    // same contract for the overlap form: the naive interval-intersection
    // theta join defines the rows the canonical-bucket operator must emit
    "q_range_overlap" ->
      """WITH a AS (SELECT event_id AS a_id,
        |  date_trunc('second', ts) AS a_lo,
        |  date_trunc('second', ts) + INTERVAL 1 HOUR AS a_hi
        |  FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0),
        |b AS (SELECT event_id AS b_id,
        |  date_trunc('second', ts) AS b_lo,
        |  date_trunc('second', ts) + INTERVAL 30 MINUTE AS b_hi
        |  FROM events WHERE event_type = 'view' AND event_id % 7 = 0)
        |SELECT a.a_id, COUNT(*) AS n_overlaps,
        |  CAST(MIN(b.b_lo) AS TIMESTAMP) AS first_b_lo
        |FROM a JOIN b ON a.a_lo < b.b_hi AND b.b_lo < a.a_hi
        |GROUP BY a.a_id""".stripMargin,
    // the plain batch theta join defines what the watermarked
    // stream-stream join must emit
    "q_stream_stream_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  date_trunc('second', ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, date_trunc('second', ts) AS c_ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(*) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts < p.p_ts
        |GROUP BY p.purchase_id""".stripMargin,
    // batch LEFT JOIN: unmatched purchases appear with 0 clicks/null sum
    "q_stream_stream_left" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  date_trunc('second', ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, date_trunc('second', ts) AS c_ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(c.c_ts) AS n_clicks,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts < p.p_ts
        |GROUP BY p.purchase_id""".stripMargin,
    // identical oracle to q_asof_join: the streaming as-of must reproduce
    // DuckDB's native ASOF LEFT JOIN bit-for-bit
    "q_asof_join_stream" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, date_trunc('second', ts) AS click_s
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, CAST(r.click_s AS TIMESTAMP) AS asof_click_s
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,
    // identical oracle to events_retention: streaming flags + stateless
    // rollup must reproduce the batch cohort table bit-for-bit
    "events_retention_stream" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |p AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN day END) AS signup_day,
        |  list(DISTINCT day) AS days FROM e GROUP BY user_id),
        |r AS (SELECT user_id, signup_day,
        |  list_contains(days, signup_day + 1) AS d1,
        |  list_contains(days, signup_day + 7) AS d7
        |  FROM p WHERE signup_day IS NOT NULL)
        |SELECT signup_day AS cohort_day, COUNT(*) AS n_users,
        |  CAST(SUM(CAST(d1 AS INT)) AS BIGINT) AS n_d1,
        |  CAST(SUM(CAST(d7 AS INT)) AS BIGINT) AS n_d7
        |FROM r GROUP BY signup_day""".stripMargin,
    "q_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS count_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // the salted join's oracle IS the plain join — salting must be
    // result-invisible
    "q_salted_join" ->
      """SELECT r_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_rows
        |FROM lineitem JOIN region ON r_regionkey = l_orderkey % 3
        |WHERE r_regionkey < 3
        |GROUP BY r_name""".stripMargin,
    // admission-loop replay: exact membership = augmented batch text IN
    // the corpus text set; span membership = any 8-token window of the
    // batch doc in the corpus window set (dedup_substr_ingest's window
    // CTEs); quality = the mirrored stats formula on the augmented text
    "pipeline_ingest" -> ingestAdmissionOracle,
    // per-arrival verdicts drain to the identical table — same replay
    "pipeline_ingest_stream" -> ingestAdmissionOracle) ++ tailOracles

  private lazy val ingestAdmissionOracle: String = s"""
        |WITH aug AS (SELECT doc_id,
        |    CASE WHEN (doc_id % 3 <> 2 AND doc_id % 17 = 0)
        |           OR (doc_id % 3 = 2 AND doc_id % 13 = 0)
        |      THEN 'the raven sat on the bust of pallas above the chamber door'
        |      ELSE text || CASE
        |        WHEN doc_id % 3 <> 2 AND doc_id % 2 = 0
        |          THEN ' by the riverbank the quiet fox waited for the morning light to come'
        |        WHEN doc_id % 3 = 2 AND doc_id % 7 = 0
        |          THEN ' by the riverbank the quiet fox waited for the morning light to come'
        |        ELSE '' END
        |      END AS text
        |  FROM documents),
        |ex AS (SELECT doc_id, text,
        |    COALESCE(text IN (SELECT text FROM aug WHERE doc_id % 3 <> 2),
        |      FALSE) AS is_exact
        |  FROM aug WHERE doc_id % 3 = 2),
        |t AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM aug),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
        |cpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 3 <> 2),
        |cw AS (SELECT DISTINCT array_to_string(toks[p:p+7], ' ') AS wtxt
        |  FROM cpos),
        |bpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
        |  FROM n WHERE doc_id % 3 = 2),
        |sp AS (SELECT DISTINCT doc_id FROM bpos
        |  WHERE array_to_string(toks[p:p+7], ' ') IN (SELECT wtxt FROM cw)),
        |st AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\\s+') AS stoks,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM ex),
        |m AS (SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |    CAST(len(list_filter(stoks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM st),
        |q AS (SELECT doc_id,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |    least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |    greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m)
        |SELECT e.doc_id, e.is_exact,
        |  e.doc_id IN (SELECT doc_id FROM sp) AS has_span,
        |  q.quality,
        |  (NOT e.is_exact) AND NOT (e.doc_id IN (SELECT doc_id FROM sp))
        |    AND q.quality >= 0.5 AS admitted
        |FROM ex e JOIN q USING (doc_id)""".stripMargin

  /** DuckDB replay of the fixed-point PageRank: the same integer
    * recurrence unrolled — one chained CTE per superstep (SQL's
    * recursive CTEs forbid aggregation in the recursive term, so the
    * loop unrolls). `//` on non-negative BIGINTs matches Spark's `div`
    * truncation; DuckDB's HUGEINT sums collapse back through the final
    * BIGINT cast to the same values.
    */
  /** HLL replay shared by the from-scratch (`events_hll_users`) and the
    * persisted-shard-merge (`events_hll_incremental`) entries — register
    * max is associative, so the merged sketch is provably identical to
    * the full build and one replay gates both.
    */
  /** Composed-RAG replay shared by pipeline_rag and its
    * persisted-index twin (append ≡ rebuild for the postings
    * layout, spec-pinned).
    */
  private lazy val ragOracle: String =
    """WITH RECURSIVE aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN '<html><body class="page"><p>' ELSE '' END ||
        |  text ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN ' <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 2 = 0 THEN '</p></body></html>' ELSE '' END
        |    AS t
        |  FROM documents),
        |cl AS MATERIALIZED (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(
        |      regexp_replace(t, '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM aug),
        |t0 AS MATERIALIZED (SELECT doc_id,
        |    string_split_regex(trim(clean), '\s+') AS rtoks
        |  FROM cl
        |  WHERE length(trim(clean)) > 0 AND doc_id % 97 <> 0),
        |nn AS (SELECT doc_id, rtoks, len(rtoks) AS n FROM t0),
        |ch AS (SELECT doc_id, rtoks, n, unnest(range(0,
        |    1 + CAST(floor((greatest(n - 16, 0) + 7) / 8.0) AS BIGINT)))
        |    AS cid
        |  FROM nn),
        |chunks AS MATERIALIZED (SELECT doc_id * 1000000 + cid AS ckey,
        |    array_to_string(rtoks[(cid*8+1):least(cid*8+16, n)], ' ')
        |      AS ctext
        |  FROM ch),
        |tc AS (SELECT ckey, string_split(regexp_replace(lower(trim(ctext)),
        |    '\s+', ' ', 'g'), ' ') AS toks
        |  FROM chunks WHERE length(trim(ctext)) > 0),
        |p AS (SELECT ckey, len(toks) AS dl, unnest(toks) AS term FROM tc),
        |g AS MATERIALIZED (SELECT term, ckey, CAST(count(*) AS BIGINT) AS tf,
        |    min(dl) AS dl FROM p GROUP BY 1, 2),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM (SELECT ckey, min(dl) AS dl FROM g GROUP BY ckey)),
        |q AS MATERIALIZED (SELECT doc_id AS query_id,
        |    unnest(list_distinct(string_split(regexp_replace(
        |      lower(trim(clean)), '\s+', ' ', 'g'), ' ')[1:5])) AS term
        |  FROM cl WHERE length(trim(clean)) > 0
        |    AND doc_id % 97 = 0 AND doc_id < 1000),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM g
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
        |co AS (SELECT q.query_id, g.ckey, q.term,
        |    sqrt((CAST(st.n - d.df AS DOUBLE) + 0.5) /
        |         (CAST(d.df AS DOUBLE) + 0.5)) *
        |      ((CAST(g.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |       (CAST(g.tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) *
        |         ((1.0 - CAST(0.75 AS DOUBLE)) + (CAST(0.75 AS DOUBLE) *
        |           (CAST(g.dl AS DOUBLE) /
        |            (CAST(st.sum_dl AS DOUBLE) / CAST(st.n AS DOUBLE))))))))
        |      AS contrib
        |  FROM g JOIN d USING (term) JOIN q USING (term) CROSS JOIN st),
        |agg AS (SELECT query_id, ckey,
        |    list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
        |      AS score
        |  FROM co GROUP BY query_id, ckey),
        |rk AS (SELECT query_id, ckey, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, ckey) AS rnk
        |  FROM agg),
        |hits AS MATERIALIZED (SELECT query_id, ckey, score FROM rk WHERE rnk <= 50),
        |best AS (SELECT query_id, ckey // 1000000 AS doc_id,
        |    max(struct_pack(s := score, nck := -ckey)) AS m
        |  FROM hits GROUP BY 1, 2),
        |lex AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY struct_extract(m, 's') DESC, doc_id) AS rank
        |    FROM best) WHERE rank <= 10),
        |qe AS MATERIALIZED (SELECT c2.doc_id AS query_id, e.embedding AS qv
        |  FROM cl c2 JOIN embeddings e ON e.vec_id = c2.doc_id
        |  WHERE c2.doc_id % 97 = 0 AND c2.doc_id < 1000
        |    AND length(trim(c2.clean)) > 0),
        |sc2 AS MATERIALIZED (SELECT qe.query_id, e.vec_id AS doc_id,
        |  round(
        |   list_sum(list_transform(range(1, len(qe.qv)+1),
        |     i -> qe.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(qe.qv)+1),
        |     i -> qe.qv[i]::DOUBLE * qe.qv[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
        |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
        |    AS sim
        |  FROM embeddings e CROSS JOIN qe WHERE e.vec_id % 97 <> 0),
        |vec AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, doc_id) AS rank
        |    FROM sc2) WHERE rank <= 10),
        |u AS (SELECT DISTINCT query_id, doc_id FROM (
        |  SELECT query_id, doc_id FROM lex
        |  UNION ALL SELECT query_id, doc_id FROM vec)),
        |fz AS (SELECT u.query_id, u.doc_id,
        |    CAST((CASE WHEN l.rank IS NULL THEN 0
        |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + l.rank AS BIGINT)
        |      END) +
        |      (CASE WHEN v.rank IS NULL THEN 0
        |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + v.rank AS BIGINT)
        |      END) AS BIGINT) AS rrf
        |  FROM u LEFT JOIN lex l USING (query_id, doc_id)
        |  LEFT JOIN vec v USING (query_id, doc_id)),
        |fused AS MATERIALIZED (SELECT query_id, doc_id, rrf FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf DESC, doc_id) AS rank FROM fz) WHERE rank <= 10),
        |bse AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |      j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |sl AS MATERIALIZED (SELECT f.query_id, f.doc_id, b.v AS cv, b.nrm AS cn,
        |    CAST(f.rrf AS DOUBLE) / 32786884.0 AS rel
        |  FROM fused f JOIN bse b ON b.vec_id = f.doc_id),
        |r2 AS (
        |  SELECT query_id, 1 AS step,
        |    -struct_extract(m, 'nid') AS doc_id,
        |    struct_extract(m, 'rel') AS rel,
        |    struct_extract(m, 's') AS score,
        |    [-struct_extract(m, 'nid')] AS sids,
        |    [struct_extract(m, 'v')] AS svecs,
        |    [struct_extract(m, 'nrm')] AS snrms
        |  FROM (SELECT query_id,
        |      max(struct_pack(
        |        s := CAST(0.5 AS DOUBLE) * rel -
        |          CAST(0.5 AS DOUBLE) * CAST(0.0 AS DOUBLE),
        |        nid := -doc_id, rel := rel, v := cv, nrm := cn)) AS m
        |    FROM sl GROUP BY query_id)
        |  UNION ALL
        |  SELECT g2.query_id, g2.step + 1,
        |    -struct_extract(g2.m, 'nid'),
        |    struct_extract(g2.m, 'rel'),
        |    struct_extract(g2.m, 's'),
        |    list_append(g2.sids, -struct_extract(g2.m, 'nid')),
        |    list_append(g2.svecs, struct_extract(g2.m, 'v')),
        |    list_append(g2.snrms, struct_extract(g2.m, 'nrm'))
        |  FROM (
        |    SELECT r2.query_id, r2.step, r2.sids, r2.svecs, r2.snrms,
        |      max(struct_pack(
        |        s := CAST(0.5 AS DOUBLE) * sl.rel -
        |          CAST(0.5 AS DOUBLE) * lat.ms,
        |        nid := -sl.doc_id, rel := sl.rel, v := sl.cv,
        |        nrm := sl.cn)) AS m
        |    FROM r2 JOIN sl ON r2.query_id = sl.query_id
        |      AND NOT list_contains(r2.sids, sl.doc_id),
        |    LATERAL (SELECT list_max(list_transform(
        |        range(1, len(r2.svecs)+1),
        |        i -> CASE WHEN sl.cn * r2.snrms[i] = 0
        |          THEN CAST(0.0 AS DOUBLE)
        |          ELSE list_sum(list_transform(range(1, len(sl.cv)+1),
        |            j -> sl.cv[j] * r2.svecs[i][j])) /
        |            (sl.cn * r2.snrms[i]) END)) AS ms) lat
        |    WHERE r2.step < 5
        |    GROUP BY r2.query_id, r2.step, r2.sids, r2.svecs, r2.snrms
        |  ) g2
        |)
        |SELECT query_id, doc_id, CAST(step AS INT) AS mmr_rank,
        |  round(rel, 6) AS rel, round(score, 6) AS mmr_score
        |FROM r2""".stripMargin

  /** Zone-map replay shared by the from-scratch and appended/
    * merged (shard min/min, max/max, summed counts) entries.
    */
  private val statsIndexOracle: String =
    """SELECT l_orderkey // 256 AS bucket, count(*) AS n_rows,
        |  min(CAST(l_shipdate AS DATE)) AS min_ship_date,
        |  max(CAST(l_shipdate AS DATE)) AS max_ship_date,
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nulls_ship_date,
        |  min(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS min_price_cents,
        |  max(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS max_price_cents,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nulls_price_cents
        |FROM lineitem GROUP BY 1""".stripMargin

  /** AGMS join-estimate replay at a given sketch width, shared by the
    * demo-width (256) and calibrated (4096) entries: ONE md5 per key,
    * lane-sliced per hash row (`substring(md5(v), 1+8j, 8)` — the r9
    * verdict's 4× constant cut), per-row inner products left-joined
    * against the full row set (zero-overlap rows count as 0), min over
    * rows; exact side via frequency vectors. Both sums accumulate in
    * DECIMAL(38,0) (Long-overflow guard, mirrored in
    * `Sketches.countMinJoinEstimate`).
    */
  private def joinEstimateOracle(width: Int): String = {
    def one(aTbl: String, aCol: String, bTbl: String, bCol: String,
            label: String): String =
      s"""SELECT '$label' AS pair, est.cm_join_est, ex.exact_join
         |FROM (
         |  SELECT CAST(min(coalesce(p.est, 0)) AS BIGINT)
         |    AS cm_join_est
         |  FROM (SELECT unnest([0,1,2,3]) AS j) js
         |  LEFT JOIN (
         |    SELECT sa.j, sum(CAST(sa.cnt AS DECIMAL(19,0)) *
         |      CAST(sb.cnt AS DECIMAL(19,0))) AS est
         |    FROM (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt FROM (
         |        SELECT j, CAST(('0x' || substring(md5(
         |            CAST($aCol AS VARCHAR)), 1 + 8 * j, 8))::BIGINT % $width
         |          AS INTEGER) AS c
         |        FROM $aTbl CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
         |      GROUP BY 1, 2) sa
         |    JOIN (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt FROM (
         |        SELECT j, CAST(('0x' || substring(md5(
         |            CAST($bCol AS VARCHAR)), 1 + 8 * j, 8))::BIGINT % $width
         |          AS INTEGER) AS c
         |        FROM $bTbl CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
         |      GROUP BY 1, 2) sb
         |      ON sa.j = sb.j AND sa.c = sb.c
         |    GROUP BY sa.j) p ON js.j = p.j) est
         |CROSS JOIN (
         |  SELECT CAST(coalesce(sum(CAST(fa AS DECIMAL(19,0)) *
         |      CAST(fb AS DECIMAL(19,0))), 0) AS BIGINT)
         |    AS exact_join
         |  FROM (SELECT $aCol AS k, CAST(count(*) AS BIGINT) AS fa
         |        FROM $aTbl GROUP BY 1) a
         |  JOIN (SELECT $bCol AS k, CAST(count(*) AS BIGINT) AS fb
         |        FROM $bTbl GROUP BY 1) b USING (k)) ex""".stripMargin
    Seq(one("lineitem", "l_orderkey", "orders", "o_orderkey",
          "lineitem*orders"),
        one("orders", "o_custkey", "customer", "c_custkey",
          "orders*customer"),
        one("customer", "c_custkey", "lineitem", "l_partkey",
          "customer*part_mismatch")).mkString("\nUNION ALL\n")
  }

  /** Bloom skip-index replay shared by the from-scratch
    * (`layout_bloom_prune`) and appended/compacted
    * (`layout_bloom_incremental`) entries — identical index rows by the
    * bit_or associativity argument, identical probe, and the can_skip ⇒
    * 0-matches soundness columns.
    */
  private val bloomPruneOracle: String =
    """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
      |    CAST(o_custkey AS BIGINT) AS ckey FROM orders),
      |keys AS (SELECT DISTINCT ckey AS key FROM o
      |  WHERE ckey % 211 = 3 AND ckey < 2000),
      |js AS (SELECT unnest([0, 1]) AS j),
      |kb AS (SELECT okey // 256 AS bucket, j,
      |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(ckey AS VARCHAR)), 1, 8))::BIGINT % 1024 AS INTEGER)
      |      AS bit
      |  FROM o CROSS JOIN js),
      |idx AS (SELECT bucket, bit // 32 AS word,
      |    bit_or(1::BIGINT << (bit % 32)) AS bits
      |  FROM kb GROUP BY 1, 2),
      |probe AS (SELECT key, j,
      |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(key AS VARCHAR)), 1, 8))::BIGINT % 1024 AS INTEGER)
      |      AS bit
      |  FROM keys CROSS JOIN js),
      |bkts AS (SELECT DISTINCT bucket FROM idx),
      |dec AS (SELECT p.key, b.bucket,
      |    sum(CASE WHEN i.bits IS NOT NULL AND
      |        (i.bits & (1::BIGINT << (p.bit % 32))) <> 0
      |      THEN 1 ELSE 0 END) < 2 AS can_skip
      |  FROM probe p CROSS JOIN bkts b
      |  LEFT JOIN idx i ON i.bucket = b.bucket AND i.word = p.bit // 32
      |  GROUP BY 1, 2),
      |act AS (SELECT ckey AS key, okey // 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_match
      |  FROM o JOIN keys ON o.ckey = keys.key GROUP BY 1, 2)
      |SELECT d.key, d.bucket, d.can_skip,
      |  CAST(coalesce(a.n_match, 0) AS BIGINT) AS n_match
      |FROM dec d LEFT JOIN act a USING (key, bucket)""".stripMargin

  /** [[hllUsersOracle]] at an arbitrary precision p: bucket mod 2^p,
    * rho capped at 61 − p, alpha(m) bias constant, 2^(61−p) scale —
    * double literals rendered with Scala's shortest-round-trip repr,
    * which DuckDB's correctly-rounded parser maps to the identical
    * IEEE value.
    */
  private def hllUsersOracleP(p: Int): String = {
    val m = 1L << p
    val maxReg = 61 - p
    val alpha = graft.functions.Sketches.hllAlpha(m).toString
    val m2 = (m.toDouble * m.toDouble).toString
    val tp = (1L << maxReg).toDouble.toString
    s"""WITH h AS (SELECT event_type,
       |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
       |      AS h
       |  FROM events),
       |r AS (SELECT event_type, CAST(h % $m AS INTEGER) AS bucket,
       |    max(CASE WHEN (h // $m) = 0 THEN $maxReg
       |      ELSE CAST(bit_count(((h // $m) & (-(h // $m))) - 1)
       |        AS INTEGER) + 1 END) AS register
       |  FROM h GROUP BY 1, 2),
       |e AS (SELECT event_type,
       |    CAST(sum(1::BIGINT << ($maxReg - register)) +
       |      ($m - count(*)) * (1::BIGINT << $maxReg) AS BIGINT)
       |      AS sum_scaled,
       |    CAST($m - count(*) AS BIGINT) AS zero_buckets
       |  FROM r GROUP BY 1),
       |x AS (SELECT event_type,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, e.sum_scaled, e.zero_buckets,
       |  CAST($alpha AS DOUBLE) * CAST($m2 AS DOUBLE) *
       |    CAST($tp AS DOUBLE) /
       |    CAST(sum_scaled AS DOUBLE) AS hll_est,
       |  x.exact_users
       |FROM e JOIN x USING (event_type)""".stripMargin
  }

  private val hllUsersOracle: String =
    """WITH h AS (SELECT event_type,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS h
      |  FROM events),
      |r AS (SELECT event_type, CAST(h % 64 AS INTEGER) AS bucket,
      |    max(CASE WHEN (h // 64) = 0 THEN 55
      |      ELSE CAST(bit_count(((h // 64) & (-(h // 64))) - 1)
      |        AS INTEGER) + 1 END) AS register
      |  FROM h GROUP BY 1, 2),
      |e AS (SELECT event_type,
      |    CAST(sum(1::BIGINT << (55 - register)) +
      |      (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS sum_scaled,
      |    CAST(64 - count(*) AS BIGINT) AS zero_buckets
      |  FROM r GROUP BY 1),
      |x AS (SELECT event_type,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, e.sum_scaled, e.zero_buckets,
      |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) *
      |    CAST(36028797018963968.0 AS DOUBLE) /
      |    CAST(sum_scaled AS DOUBLE) AS hll_est,
      |  x.exact_users
      |FROM e JOIN x USING (event_type)""".stripMargin

  /** k-core peeling replay: `rounds` unrolled (degree → keep → filter)
    * rounds over the bipartite projection; peeling is confluent and
    * monotone, so rounds past the engine's fixpoint are no-ops — the
    * replay only needs rounds ≥ the actual peel depth (measured 1–2).
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e0 AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs)""".stripMargin
    // MATERIALIZED is load-bearing: each e_{i+1} references e_i three
    // times (directly + through k_i twice); DuckDB inlines plain CTEs
    // per reference, which goes exponential across unrolled rounds
    val its = (0 until rounds).map { i =>
      s""",
         |k$i AS MATERIALIZED (SELECT src AS node FROM e$i
         |  GROUP BY src HAVING count(*) >= $k),
         |e${i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$i e
         |  JOIN k$i a ON e.src = a.node
         |  JOIN k$i b ON e.dst = b.node)""".stripMargin
    }.mkString
    head + its +
      s"""
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg,
         |  CASE WHEN src >= 10000000 THEN 'supplier' ELSE 'customer' END
         |    AS kind
         |FROM e$rounds GROUP BY src""".stripMargin
  }

  /** Coreness replay: the identical h-index iteration, `rounds`
    * unrolled — v0 = degree, v_{i+1}(node) = max over incoming
    * neighbor values of least(desc-rank, value). The sequence is
    * pointwise non-increasing with fixpoint = coreness, so any unroll
    * ≥ the measured convergence depth replays exactly (the tail rounds
    * are no-ops). MATERIALIZED for the same inlining reason as the
    * k-core replay.
    */
  private def corenessOracle(rounds: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e0 AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |v0 AS MATERIALIZED (SELECT src AS node,
        |  CAST(count(*) AS BIGINT) AS v FROM e0 GROUP BY src)""".stripMargin
    val its = (1 to rounds).map { i =>
      s""",
         |v$i AS MATERIALIZED (SELECT node, max(least(rnk, v)) AS v FROM (
         |  SELECT e.dst AS node, x.v, CAST(row_number() OVER (
         |      PARTITION BY e.dst ORDER BY x.v DESC) AS BIGINT) AS rnk
         |  FROM e0 e JOIN v${i - 1} x ON e.src = x.node)
         |  GROUP BY node)""".stripMargin
    }.mkString
    head + its +
      s"""
         |SELECT node, v AS coreness,
         |  CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END
         |    AS kind
         |FROM v$rounds""".stripMargin
  }

  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |r$i AS (SELECT n.node,
         |  CAST(150000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS node, SUM(r.rank // ed.deg) AS m
         |    FROM r${i - 1} r JOIN ed ON r.node = ed.src
         |    GROUP BY ed.dst) s ON n.node = s.node)""".stripMargin
    }.mkString
    head + its +
      s"""
         |SELECT node, rank,
         |  CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS kind
         |FROM r$iters ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** The erRecords fixture in DuckDB — shared by both ER oracles. */
  private val erRecsCtes: String =
    """dirty AS (SELECT c_custkey + 1000000 AS id,
      |    CASE WHEN c_custkey % 4 = 1 THEN substring(c_name, 1, length(c_name) - 1)
      |         WHEN c_custkey % 4 = 2 THEN c_name || 'x'
      |         ELSE 'X' || substring(c_name, 2) END AS name,
      |    c_acctbal - 1000000.0 AS acctbal
      |  FROM customer WHERE c_custkey % 4 <> 0),
      |recs AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
      |    c_acctbal AS acctbal FROM customer
      |  UNION ALL SELECT id, name, acctbal FROM dirty)""".stripMargin

  /** The SCD2 window replay, shared by the batch entry and its streaming
    * twin (batch ≡ stream under the gate).
    */
  private lazy val scd2Oracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    date_trunc('second', ts) AS ts_s FROM events),
      |g AS (SELECT user_id, event_id, event_type, ts_s,
      |  CASE WHEN event_type IS DISTINCT FROM lag(event_type)
      |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
      |    THEN 1 ELSE 0 END AS chg
      |  FROM e),
      |i AS (SELECT user_id, event_type, ts_s,
      |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run
      |  FROM g),
      |r AS (SELECT user_id, run, min(event_type) AS event_type,
      |  min(ts_s) AS valid_from, count(*) AS n_events
      |  FROM i GROUP BY user_id, run)
      |SELECT user_id, event_type,
      |  CAST(valid_from AS TIMESTAMP) AS valid_from,
      |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
      |    AS TIMESTAMP) AS valid_to,
      |  n_events,
      |  (lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL)
      |    AS is_current
      |FROM r""".stripMargin

  /** Closure over the emitted er_match pairs (the same contract as
    * dedup_components' oracle) + the identical struct-max survivor
    * election; field order (r, nid, nm) matches the engine's struct so
    * lexicographic comparison agrees, and nid = −id is unique so the
    * string field never decides. Shared by er_resolve and its
    * incremental twin (labels provably identical).
    */
  // hopping-window replay: an event at t belongs to the hour windows
  // starting at floor30(t) and floor30(t) − 30 min (second-truncation is
  // bucket-safe — boundaries sit on whole minutes)
  private val hoppingOracle: String =
    """WITH e AS (SELECT event_type, value,
      |    to_timestamp((epoch(date_trunc('second', ts))::BIGINT // 1800)
      |      * 1800) AS b
      |  FROM events),
      |w AS (SELECT event_type, value,
      |    unnest([b, b - INTERVAL 30 MINUTE]) AS ws FROM e)
      |SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM w GROUP BY 1, 2""".stripMargin

  // gaps-and-islands replay of the 30-minute activity-interval union;
  // shared by the batch (window) and streaming (watermark-sealed fold)
  // entries — both must reproduce it bit-for-bit
  private val intervalUnionOracle: String =
    """WITH ev AS (SELECT user_id,
      |    epoch(date_trunc('second', ts)) AS s,
      |    epoch(date_trunc('second', ts)) + 1800 AS e FROM events),
      |m AS (SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM ev),
      |k AS (SELECT user_id, s, e,
      |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
      |      AS new_island FROM m),
      |i AS (SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM k),
      |g AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_s
      |FROM g GROUP BY 1""".stripMargin

  private lazy val erResolveOracle: String = s"""
        |WITH RECURSIVE p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/er_match/*.parquet')),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |comp AS (SELECT u AS id, MIN(r) AS entity FROM reach GROUP BY u),
        |$erRecsCtes,
        |lab AS (SELECT recs.id, recs.name, recs.acctbal,
        |    COALESCE(comp.entity, recs.id) AS entity_id
        |  FROM recs LEFT JOIN comp ON recs.id = comp.id),
        |surv AS (SELECT entity_id,
        |    max(struct_pack(r := acctbal, nid := -id, nm := name)) AS best,
        |    count(*) AS n_members
        |  FROM lab GROUP BY entity_id)
        |SELECT l.id, l.entity_id,
        |  -struct_extract(s.best, 'nid') AS canonical_id,
        |  struct_extract(s.best, 'nm') AS canonical_name,
        |  s.n_members
        |FROM lab l JOIN surv s USING (entity_id)""".stripMargin

  private lazy val tailOracles: Map[String, String] = Map(
    // URL canonicalization replay (webCanonCte) + keep = group-min id
    "web_url_canon" ->
      s"""$webCanonCte
         |SELECT doc_id, url, canon_url,
         |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS keep
         |FROM canon""".stripMargin,
    "web_domain_stats" ->
      s"""$webCanonCte
         |SELECT $webRegDomainSql AS domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT chost) AS BIGINT) AS n_hosts,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_size
         |FROM canon GROUP BY 1""".stripMargin,
    "web_domain_cap" ->
      s"""$webCanonCte
         |SELECT doc_id, domain,
         |  row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 8
         |    AS keep
         |FROM (SELECT doc_id, $webRegDomainSql AS domain FROM canon)
         |  t""".stripMargin,
    // group-level replay: streamed (min id, count) per canonical group
    // must equal the batch grouping bit-for-bit
    "web_url_canon_stream" ->
      s"""$webCanonCte
         |SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM canon GROUP BY canon_url""".stripMargin,
    // bit-exact Morton replay: bit i of a → 2i, bit i of b → 2i+1
    "layout_zorder" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    (((l_partkey % 1024) >> i) & 1) * (1::BIGINT << (2*i)) +
        |    (((l_suppkey % 1024) >> i) & 1) * (1::BIGINT << (2*i+1))))
        |    AS BIGINT) AS zval
        |FROM lineitem""".stripMargin,
    "layout_stats_index" -> statsIndexOracle,
    // appended shards merge to the identical stats — same replay
    "layout_stats_incremental" -> statsIndexOracle,
    // per-micro-batch shards merge identically — streaming twin
    "layout_stats_stream" -> statsIndexOracle,
    "layout_prune_eval" ->
      """WITH li AS (SELECT CAST(l_shipdate AS DATE) AS d,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
        |  FROM lineitem),
        |b AS (SELECT CAST(year(d) * 12 + month(d) - 1 AS BIGINT)
        |    AS bucket, d, p FROM li),
        |zm AS (SELECT bucket, min(d) AS min_d, max(d) AS max_d,
        |  min(p) AS min_p, max(p) AS max_p,
        |  CAST(sum(CASE WHEN d BETWEEN DATE '1995-03-15'
        |      AND DATE '1995-09-15'
        |    AND p BETWEEN 100000 AND 5000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_match
        |  FROM b GROUP BY bucket)
        |SELECT bucket,
        |  (max_d < DATE '1995-03-15' OR min_d > DATE '1995-09-15'
        |   OR min_d IS NULL
        |   OR max_p < 100000 OR min_p > 5000000 OR min_p IS NULL)
        |    AS can_skip,
        |  n_match FROM zm""".stripMargin,
    // approx-profile replay: exact nulls/min/max/rows + exact distinct
    // recomputed per column; the engine-specific HLL++ estimate reads
    // back from the entry's own output (the q_approx_distinct contract)
    "table_profile_fast" -> ("""WITH o AS (SELECT column_name,
        |    n_distinct_approx
        |  FROM read_parquet('__OUT__/table_profile_fast/*.parquet')),
        |e AS (""".stripMargin +
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus").map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value,
           |  CAST(count(*) AS BIGINT) AS n_rows
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n") + """)
        |SELECT e.column_name, e.n_nulls, o.n_distinct_approx,
        |  e.min_value, e.max_value, e.n_rows
        |FROM e JOIN o USING (column_name)""".stripMargin),
    "table_profile" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus").map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value,
         |  count(*) AS n_rows
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "events_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |    AS from_type,
        |  epoch(ts_s) - lag(epoch(ts_s)) OVER (PARTITION BY user_id
        |    ORDER BY ts_s, event_id) AS gap_s
        |  FROM e)
        |SELECT from_type, event_type AS to_type, count(*) AS n,
        |  CAST(sum(gap_s) AS BIGINT) AS gap_sum_s
        |FROM g WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // the z² > 9 inequality cleared of divisions — every term an exact
    // integer in both engines (DuckDB's HUGEINT sums collapse to the
    // same values through the BIGINT casts)
    "events_anomaly" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |    count(*) AS n_events FROM events GROUP BY 1, 2),
        |t AS (SELECT hour_start, event_type, n_events,
        |  count(*) OVER w AS trail_hours,
        |  COALESCE(sum(n_events) OVER w, 0) AS trail_sum,
        |  COALESCE(sum(n_events * n_events) OVER w, 0) AS trail_sumsq
        |  FROM h WINDOW w AS (PARTITION BY event_type
        |    ORDER BY epoch(hour_start)
        |    RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
        |SELECT CAST(hour_start AS TIMESTAMP) AS hour_start, event_type,
        |  n_events,
        |  CAST(trail_hours AS BIGINT) AS trail_hours,
        |  CAST(trail_sum AS BIGINT) AS trail_sum,
        |  CAST(trail_sumsq AS BIGINT) AS trail_sumsq,
        |  (trail_hours >= 3 AND
        |   (n_events * trail_hours - trail_sum) *
        |     (n_events * trail_hours - trail_sum) >
        |   9 * (trail_sumsq * trail_hours - trail_sum * trail_sum))
        |    AS is_anomaly
        |FROM t""".stripMargin,
    // closure over dedup_minhash's emitted pairs (the dedup_components
    // contract), then the same max-per-component verdict spread
    "pipeline_forget_neardup" ->
      """WITH RECURSIVE p AS (SELECT id_a, id_b
        |  FROM read_parquet('__OUT__/dedup_minhash/*.parquet')),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u),
        |d AS (SELECT doc_id, (doc_id % 29 = 0) AS requested FROM documents),
        |lab AS (SELECT d.doc_id, d.requested,
        |    COALESCE(c.rep, d.doc_id) AS cmp
        |  FROM d LEFT JOIN comp c USING (doc_id)),
        |g AS (SELECT cmp, max(requested) AS linked FROM lab GROUP BY cmp)
        |SELECT lab.doc_id, lab.requested, g.linked, g.linked AS purged
        |FROM lab JOIN g USING (cmp)""".stripMargin,
    // grouping by the normalized text itself — the same equivalence
    // classes the engine's 64-bit content hash induces
    "pipeline_forget" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k,
        |    (doc_id % 29 = 0) AS requested
        |  FROM documents),
        |g AS (SELECT k, max(requested) AS linked FROM d GROUP BY k)
        |SELECT d.doc_id, d.requested, g.linked, g.linked AS purged
        |FROM d JOIN g USING (k)""".stripMargin,
    // RA replay: same degree window, capped postings self-join, integer
    // truncating division, (score desc, a, b) top-100
    "graph_linkpred" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS z
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |d AS (SELECT z, count(*) AS deg FROM e GROUP BY z
        |  HAVING count(*) BETWEEN 2 AND 30)
        |SELECT a.u AS node_a, b.u AS node_b, count(*) AS n_common,
        |  CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_score
        |FROM e a JOIN d ON a.z = d.z JOIN e b ON b.z = d.z
        |WHERE a.u < b.u
        |GROUP BY 1, 2
        |ORDER BY ra_score DESC, node_a, node_b LIMIT 100""".stripMargin,
    // id-ordered orientation (the triangle set is orientation-invariant)
    // over the emitted er_match pairs
    // self-contained replay: capped blocked pairs (levenshtein ≤ 2,
    // block size ≤ 100) then the id-ordered triangle closure
    "graph_triangles" -> s"""
        |WITH $erRecsCtes,
        |blk0 AS (SELECT substring(name, 10, 8) AS blk, id, name FROM recs),
        |ok AS (SELECT blk FROM blk0 GROUP BY blk HAVING count(*) <= 100),
        |bb AS (SELECT blk0.blk, blk0.id, blk0.name
        |  FROM blk0 JOIN ok USING (blk)),
        |p AS (SELECT a.id AS id_a, c.id AS id_b
        |  FROM bb a JOIN bb c ON a.blk = c.blk AND a.id < c.id
        |  WHERE abs(length(a.name) - length(c.name)) <= 2
        |    AND levenshtein(a.name, c.name) <= 2),
        |e AS (SELECT DISTINCT least(id_a, id_b) AS a,
        |    greatest(id_a, id_b) AS b FROM p WHERE id_a <> id_b),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT node, count(*) AS n_triangles FROM n GROUP BY node""".stripMargin,
    // full replay: exact window top-5 neighbors → per-query vote with
    // the (count desc, label asc) tie rule via the same struct max
    "sim_label_vote" ->
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
        |FROM best""".stripMargin,
    // the SCD2 replay over profile events + the latest-start-≤-ts pick
    // (unique after empty-interval filtering); LEFT join keeps purchases
    // that precede any profile state, with NULL state
    "events_pit_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events
        |  WHERE event_type IN ('signup', 'view')),
        |g AS (SELECT user_id, event_id, event_type, ts_s,
        |  CASE WHEN event_type IS DISTINCT FROM lag(event_type)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |    THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |i AS (SELECT user_id, event_type, ts_s,
        |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run
        |  FROM g),
        |r AS (SELECT user_id, run, min(event_type) AS state,
        |  min(ts_s) AS valid_from FROM i GROUP BY user_id, run),
        |iv AS (SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |    AS valid_to FROM r),
        |dim AS (SELECT user_id, state, valid_from FROM iv
        |  WHERE valid_to IS NULL OR valid_from < valid_to),
        |p AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.user_id, p.event_id, p.ts_s, d.state, d.valid_from,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY d.valid_from DESC) AS rn
        |  FROM p LEFT JOIN dim d
        |    ON p.user_id = d.user_id AND d.valid_from <= p.ts_s)
        |SELECT user_id, event_id, CAST(ts_s AS TIMESTAMP) AS ts_s, state,
        |  CAST(valid_from AS TIMESTAMP) AS state_since
        |FROM j WHERE rn = 1""".stripMargin,
    "corpus_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS d FROM documents),
        |new AS (SELECT doc_id,
        |    md5(text || CASE WHEN doc_id % 13 = 0 THEN ' v2' ELSE '' END) AS d
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents
        |  WHERE doc_id % 19 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.d <> n.d THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  o.d AS old_digest, n.d AS new_digest
        |FROM old o FULL JOIN new n ON o.doc_id = n.doc_id""".stripMargin,
    // byte-exact frame replay on the hex plane (2 hex chars per byte —
    // character substring on VARCHAR would split multi-byte UTF-8)
    "multimodal_framesample" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, 4)) AS i, h FROM b),
        |s AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  substring(h, CAST(i * 64 + 1 AS INT), 64) AS frame_hex FROM f)
        |SELECT doc_id, frame_idx,
        |  CAST(length(frame_hex) // 2 AS BIGINT) AS frame_len, frame_hex
        |FROM s WHERE length(frame_hex) > 0""".stripMargin,
    "er_match" -> s"""
        |WITH $erRecsCtes,
        |b AS (SELECT substring(name, 10, 8) AS blk, id, name FROM recs),
        |keep AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 100),
        |bk AS (SELECT b.* FROM b JOIN keep USING (blk))
        |SELECT a.id AS id_a, bb.id AS id_b,
        |  CAST(levenshtein(a.name, bb.name) AS INTEGER) AS edit_dist
        |FROM bk a JOIN bk bb ON a.blk = bb.blk AND a.id < bb.id
        |WHERE abs(length(a.name) - length(bb.name)) <= 2
        |  AND levenshtein(a.name, bb.name) <= 2""".stripMargin,
    // closure over the emitted er_match pairs (the same contract as
    // dedup_components' oracle) + the identical struct-max survivor
    // election; field order (r, nid, nm) matches the engine's struct so
    // lexicographic comparison agrees, and nid = −id is unique so the
    // string field never decides
    // identical oracle: the incremental merge's labels provably equal
    // the from-scratch resolve's
    "er_resolve_incremental" -> erResolveOracle,
    "er_resolve" -> erResolveOracle,
    // identical oracle to events_scd2: the streaming compaction must
    // reproduce the batch interval table bit-for-bit after the drain
    "events_scd2_stream" -> scd2Oracle,
    "events_scd2" -> scd2Oracle,
    "graph_pagerank" -> pagerankOracle(5),
    "graph_kcore" -> kcoreOracle(10, 12),
    "graph_coreness" -> corenessOracle(24),
    // 4 unrolled relaxation rounds (min is confluent; MATERIALIZED for
    // the same multi-reference reason as the k-core replay)
    "graph_sssp" -> {
      val head =
        """WITH pairs AS (SELECT CAST(o_custkey AS BIGINT) AS c,
          |    CAST(l_suppkey AS BIGINT) + 10000000 AS s,
          |    min(CAST(l_quantity AS BIGINT)) AS w
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |edges AS MATERIALIZED (
          |  SELECT c AS src, s AS dst, w FROM pairs
          |  UNION ALL SELECT s AS src, c AS dst, w FROM pairs),
          |d0 AS MATERIALIZED (SELECT c AS node, CAST(0 AS BIGINT) AS dist
          |  FROM pairs GROUP BY c ORDER BY count(*) DESC, c LIMIT 20)"""
          .stripMargin
      val rounds = (0 until 4).map { i =>
        s""",
           |d${i + 1} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d$i
           |  UNION ALL
           |  SELECT e.dst AS node, d$i.dist + e.w AS dist
           |  FROM d$i JOIN edges e ON e.src = d$i.node) GROUP BY node)"""
          .stripMargin
      }.mkString
      head + rounds +
        """
          |SELECT node, dist,
          |  CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END
          |    AS kind
          |FROM d4""".stripMargin
    },
    // recursive CTE, UNION-deduped per (node, dist) level, min over
    // dists — the order-invariant replay of the frontier expansion
    "graph_bfs" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |seeds AS (SELECT c AS node FROM pairs GROUP BY c
        |  ORDER BY count(*) DESC, c LIMIT 20),
        |r AS (SELECT node, 0 AS dist FROM seeds
        |  UNION
        |  SELECT e.dst AS node, r.dist + 1 AS dist
        |  FROM r JOIN edges e ON e.src = r.node WHERE r.dist < 4)
        |SELECT node, CAST(min(dist) AS INT) AS dist,
        |  CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END
        |    AS kind
        |FROM r GROUP BY node""".stripMargin,
    // annPairOracle + the filter contract: the neighbor join carries
    // `n.label <> q.label`, so a same-label emission loses its row
    "sim_filtered" -> """
        |WITH p AS (SELECT query_id, neighbor_id, rank
        |  FROM read_parquet('__OUT__/sim_filtered/*.parquet'))
        |SELECT p.query_id, p.neighbor_id,
        |  round(
        |   list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)) /
        |   (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(range(1, len(n.embedding)+1), i -> n.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE)))), 6) AS sim,
        |  CAST(p.rank AS INTEGER) AS rank
        |FROM p JOIN embeddings q ON p.query_id = q.vec_id
        |JOIN embeddings n ON p.neighbor_id = n.vec_id AND n.label <> q.label""".stripMargin,
    // the full DAG's oracle composes the independently-verified stage
    // oracles: dedup keep-one + quality formula (pipeline_curate's CTEs),
    // 4-gram decontamination (text_decontaminate's), chunking
    // (text_chunk's) — over the surviving docs
    "pipeline_full" -> s"""
        |WITH kept AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id IN (
        |    SELECT MIN(doc_id) FROM documents
        |    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
        |t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM kept),
        |m AS (SELECT doc_id, toks, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |good AS (SELECT k.doc_id, k.text FROM q JOIN kept k USING (doc_id)
        |  WHERE q.quality >= 0.5),
        |ntoks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 3, 1) + 1),
        |  i -> array_to_string(t[i:i+3], ' '))) AS s FROM ntoks),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 97 = 0),
        |cand AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT DISTINCT c.doc_id FROM cand c JOIN bench USING (gram)),
        |clean AS (SELECT doc_id, text FROM good
        |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)),
        |ct AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM clean WHERE length(trim(text)) > 0),
        |cn AS (SELECT doc_id, toks, len(toks) AS n FROM ct),
        |cc AS (SELECT doc_id, toks, n, unnest(range(0,
        |  1 + CAST(floor((greatest(n - 16, 0) + 7) / 8.0) AS BIGINT))) AS cid
        |  FROM cn)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  array_to_string(toks[(cid*8+1):least(cid*8+16, n)], ' ') AS chunk_text,
        |  CAST(least(cid*8+16, n) - cid*8 AS INT) AS n_tokens
        |FROM cc""".stripMargin,
    "pipeline_curate" -> s"""
        |WITH kept AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id IN (
        |    SELECT MIN(doc_id) FROM documents
        |    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
        |t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM kept),
        |m AS (SELECT doc_id, toks, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id, toks, n_tokens,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |s AS (SELECT doc_id, n_tokens, quality,
        |  len(list_filter(toks, x -> list_contains(${markerList("en")}, x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(${markerList("fr")}, x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(${markerList("es")}, x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(${markerList("de")}, x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(${markerList("zh")}, x))) AS s_zh
        |  FROM q)
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
        |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
        |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
        |  WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
        |  ELSE 'und' END AS lang_pred,
        |  n_tokens, quality
        |FROM s WHERE quality >= 0.5""".stripMargin,
    // audit replay: keeper set, the pinned quality formula over ALL
    // docs, the contamination hit set — one reason code per doc in
    // pipeline_full's stage order
    "pipeline_audit" -> s"""
        |WITH keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
        |t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id, toks, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
        |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio
        |  FROM t),
        |q AS (SELECT doc_id,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
        |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality
        |  FROM m),
        |ntoks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 3, 1) + 1),
        |  i -> array_to_string(t[i:i+3], ' '))) AS s FROM ntoks),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 97 = 0),
        |cand AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT DISTINCT c.doc_id FROM cand c JOIN bench USING (gram))
        |SELECT d.doc_id, q.quality,
        |  (k.doc_id IS NOT NULL) AS is_keeper,
        |  (h.doc_id IS NOT NULL) AS contaminated,
        |  CASE WHEN k.doc_id IS NULL THEN 'exact_dup'
        |       WHEN q.quality < 0.5 THEN 'low_quality'
        |       WHEN d.doc_id % 97 = 0 THEN 'benchmark_doc'
        |       WHEN h.doc_id IS NOT NULL THEN 'contaminated'
        |       ELSE 'admitted' END AS reason
        |FROM documents d JOIN q USING (doc_id)
        |LEFT JOIN keepers k ON k.doc_id = d.doc_id
        |LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin,
    // distinct-text counts replayed on the raw normalized strings (the
    // engine counts distinct 64-bit hashes of the same normalization)
    "corpus_overlap" ->
      """WITH ds AS (SELECT DISTINCT
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t, source
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n FROM ds GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM ds a JOIN ds b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pa.source AS source_a, pb.source AS source_b,
        |  pa.n AS n_a, pb.n AS n_b, COALESCE(sh.n_shared, 0) AS n_shared
        |FROM ps pa JOIN ps pb ON pa.source < pb.source
        |LEFT JOIN sh ON sh.source_a = pa.source AND sh.source_b = pb.source"""
        .stripMargin,
    // the engine's max(struct(seq, op, …)) election replayed as a
    // row_number over seq desc — identical because seq totally orders
    // each key's changes
    "table_merge_cdc" ->
      """WITH ch AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey,
        |    'R' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL, NULL, NULL, NULL
        |  FROM orders WHERE o_orderkey % 11 = 5
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 1, 'U', o_custkey, 'N',
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 = 7),
        |latest AS (SELECT k, op, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM ch)
        |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
        |  s.o_orderdate, s.o_orderpriority
        |FROM orders s LEFT JOIN (SELECT DISTINCT k FROM ch) t
        |  ON s.o_orderkey = t.k
        |WHERE t.k IS NULL
        |UNION ALL
        |SELECT k, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM latest WHERE rn = 1 AND op = 'U'""".stripMargin,
    // identical oracle to table_merge_cdc: the out-of-order streamed
    // election must reproduce the batch merge bit-for-bit
    "table_merge_cdc_stream" ->
      """WITH ch AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey,
        |    'R' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL, NULL, NULL, NULL
        |  FROM orders WHERE o_orderkey % 11 = 5
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 1, 'U', o_custkey, 'N',
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 = 7),
        |latest AS (SELECT k, op, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM ch)
        |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
        |  s.o_orderdate, s.o_orderpriority
        |FROM orders s LEFT JOIN (SELECT DISTINCT k FROM ch) t
        |  ON s.o_orderkey = t.k
        |WHERE t.k IS NULL
        |UNION ALL
        |SELECT k, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority
        |FROM latest WHERE rn = 1 AND op = 'U'""".stripMargin,
    // merged state ≡ full recompute bit-for-bit (decimal sums are exact),
    // so the oracle IS the events_hourly oracle
    "events_hourly_incremental" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    "profile_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS n_rows_key FROM events
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows_key) AS BIGINT) AS n_rows_total,
        |    count(*) AS n_keys_total,
        |    CAST(max(n_rows_key) AS BIGINT) AS max_rows_key FROM c),
        |r AS (SELECT user_id, n_rows_key,
        |    row_number() OVER (ORDER BY n_rows_key DESC, user_id) AS rn
        |  FROM c)
        |SELECT r.user_id, r.n_rows_key, t.n_rows_total, t.n_keys_total,
        |  t.max_rows_key,
        |  max_rows_key * 1000 * n_keys_total // n_rows_total AS skew_x1000
        |FROM r, t WHERE rn <= 10""".stripMargin,
    // the division-free bucket formula on the integer cent plane; all
    // operands non-negative so DuckDB's floor-div ≡ Spark's div
    "table_histogram" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |b AS (SELECT CAST(min(v) AS BIGINT) AS lo,
        |    CAST(max(v) AS BIGINT) AS hi FROM v),
        |a AS (SELECT v,
        |    CAST(least(19, (v - lo) * 20 // (hi - lo + 1)) AS INT) AS bucket
        |  FROM v, b)
        |SELECT bucket, count(*) AS n, min(v) AS lo_cents,
        |  max(v) AS hi_cents
        |FROM a GROUP BY 1""".stripMargin,
    // class sizes replayed directly; % on non-negative ids ≡ pmod
    "table_kanon" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |user_id % 97 AS user_bucket,
        |COUNT(*) AS class_size, COUNT(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "table_ldiversity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |COUNT(*) AS class_size,
        |COUNT(DISTINCT user_id % 97) AS n_sensitive,
        |COUNT(DISTINCT user_id % 97) < 5 AS at_risk
        |FROM events GROUP BY 1, 2""".stripMargin,
    // portable md5-prefix bucket replay of the hashing trick; shared by
    // the batch groupBy form and the row-local streaming twin
    "text_hashed_features" -> hashedFeaturesOracle,
    "text_hashed_stream" -> hashedFeaturesOracle,
    // HLL register replay: identical 60-bit md5-prefix hash, bucket =
    // h % 64, rho = trailing zeros of h // 64 plus one, register = max;
    // the harmonic sum is exact integers and the estimate the same
    // literal-constant product / one division. The incremental entry
    // shares it VERBATIM: register max is associative, so persisted-
    // shard merge is provably identical to the from-scratch build.
    "events_hll_users" -> hllUsersOracle,
    // generalized-geometry replay at p=10
    "events_hll_precise" -> hllUsersOracleP(10),
    "events_hll_incremental" -> hllUsersOracle,
    // streaming merged-register sink: per-batch registers merge into the
    // all-time store by bucket-max ≡ from-scratch build — same replay
    "events_hll_merge_stream" -> hllUsersOracle,
    // daily-windowed register replay for the streaming twin — same
    // register construction per (day, type); the estimate is the same
    // constant product / one division per sealed window
    "events_hll_stream" ->
      """WITH h AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS h
        |  FROM events),
        |r AS (SELECT event_type, day_start, CAST(h % 64 AS INTEGER) AS bucket,
        |    max(CASE WHEN (h // 64) = 0 THEN 55
        |      ELSE CAST(bit_count(((h // 64) & (-(h // 64))) - 1)
        |        AS INTEGER) + 1 END) AS register
        |  FROM h GROUP BY 1, 2, 3)
        |SELECT event_type, day_start,
        |  CAST(sum(1::BIGINT << (55 - register)) +
        |    (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS sum_scaled,
        |  CAST(64 - count(*) AS BIGINT) AS zero_buckets,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) *
        |    CAST(36028797018963968.0 AS DOUBLE) /
        |    CAST(CAST(sum(1::BIGINT << (55 - register)) +
        |      (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS DOUBLE)
        |    AS hll_est
        |FROM r GROUP BY 1, 2""".stripMargin,
    // MAD replay: same planted +$5000 shift, lower weighted median over
    // the per-type cents histogram (cum·2 >= total), MAD the same over
    // the deviation histogram, integer 3σ-equivalent cut
    "events_mad_outliers" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) +
        |    CASE WHEN event_id % 101 = 0 THEN 500000 ELSE 0 END AS cents
        |  FROM events),
        |hist AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS w
        |  FROM ev GROUP BY 1, 2),
        |medt AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= total THEN cents END) AS med_cents
        |  FROM (SELECT event_type, cents,
        |      sum(w) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |      sum(w) OVER (PARTITION BY event_type) AS total FROM hist)
        |  GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.cents - m.med_cents) AS dev,
        |    m.med_cents
        |  FROM ev e JOIN medt m USING (event_type)),
        |dhist AS (SELECT event_type, dev, CAST(count(*) AS BIGINT) AS w
        |  FROM dev GROUP BY 1, 2),
        |madt AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= total THEN dev END) AS mad_cents
        |  FROM (SELECT event_type, dev,
        |      sum(w) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |      sum(w) OVER (PARTITION BY event_type) AS total FROM dhist)
        |  GROUP BY 1)
        |SELECT d.event_type,
        |  CAST(min(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(min(t.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev * 10000 > t.mad_cents * 44478
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM dev d JOIN madt t USING (event_type) GROUP BY 1""".stripMargin,
    // OLS trend replay: same dense zero-filled spine as events_acf,
    // same integer moments and truncating-div ppm slope
    "events_trend" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h
        |    FROM events),
        |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |g AS (SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |d AS (SELECT g.event_type,
        |    CAST((date_part('epoch', g.h) - date_part('epoch', b.lo))
        |      AS BIGINT) // 3600 AS x,
        |    CAST(coalesce(cnt.c, 0) AS BIGINT) AS y
        |  FROM g LEFT JOIN cnt USING (event_type, h), b),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT event_type, n, sx, sy,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    CASE WHEN n * sxy - sx * sy >= 0
        |      THEN CAST(((n * sxy - sx * sy) * 1000000) //
        |        (n * sxx - sx * sx) AS BIGINT)
        |      ELSE -CAST(((sx * sy - n * sxy) * 1000000) //
        |        (n * sxx - sx * sx) AS BIGINT) END
        |    ELSE NULL END AS slope_ppm
        |FROM m""".stripMargin,
    // quantile-transform replay: per-type cents histogram, strictly-
    // smaller row count × 1e6 truncating-div (total − 1)
    "table_quantile_transform" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |hist AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS w
        |  FROM ev GROUP BY 1, 2),
        |c AS (SELECT event_type, cents, w,
        |    sum(w) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |    sum(w) OVER (PARTITION BY event_type) AS total FROM hist)
        |SELECT event_type, cents,
        |  CAST(CASE WHEN total > 1
        |    THEN ((cum - w) * 1000000) // (total - 1) ELSE 0 END
        |    AS BIGINT) AS ppm
        |FROM c""".stripMargin,
    // Bloom prune replay: same salted md5 bit positions, bit_or'd
    // per-bucket words, any-absent-bit skip rule, actual counts joined
    "layout_bloom_prune" -> bloomPruneOracle,
    // appended shards fold by bit_or ≡ from-scratch build — same replay
    "layout_bloom_incremental" -> bloomPruneOracle,
    // per-micro-batch shards fold identically — streaming twin, same replay
    "layout_bloom_stream" -> bloomPruneOracle,
    // sweep replay: zone-map events ordered (v, open-first, bucket),
    // inclusive running sum sampled at each open
    "layout_clustering" -> {
      def one(key: String, label: String): String =
        s"""SELECT '$label' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(max(depth) AS BIGINT) AS max_depth,
           |  CAST(sum(depth) * 1000000 // count(*) AS BIGINT)
           |    AS avg_depth_ppm
           |FROM (SELECT tie, sum(delta) OVER (ORDER BY v, tie, bucket
           |      ROWS UNBOUNDED PRECEDING) AS depth
           |  FROM (SELECT bucket, mn AS v, 0 AS tie, 1 AS delta FROM (
           |      SELECT okey // 256 AS bucket,
           |        min($key) AS mn, max($key) AS mx
           |      FROM (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |            CAST(o_custkey AS BIGINT) AS ckey FROM orders)
           |      GROUP BY 1)
           |    UNION ALL
           |    SELECT bucket, mx, 1, -1 FROM (
           |      SELECT okey // 256 AS bucket,
           |        min($key) AS mn, max($key) AS mx
           |      FROM (SELECT CAST(o_orderkey AS BIGINT) AS okey,
           |            CAST(o_custkey AS BIGINT) AS ckey FROM orders)
           |      GROUP BY 1)))
           |WHERE tie = 0""".stripMargin
      one("okey", "by_okey") + "\nUNION ALL\n" + one("ckey", "by_ckey")
    },
    // z-order depth replay: Morton zval recomputed, same sweep per
    // (bucketing, key) combination
    "layout_clustering_zorder" -> {
      val base =
        """(SELECT l_partkey % 256 AS pk, l_orderkey % 256 AS ok,
          |  CAST(list_sum(list_transform(range(0, 8), i ->
          |    (((l_partkey % 256) >> i) & 1) * (1::BIGINT << (2*i)) +
          |    (((l_orderkey % 256) >> i) & 1) * (1::BIGINT << (2*i+1))))
          |    AS BIGINT) AS zv
          |  FROM lineitem)""".stripMargin
      def one(bucket: String, key: String, label: String): String =
        s"""SELECT '$label' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(max(depth) AS BIGINT) AS max_depth,
           |  CAST(sum(depth) * 1000000 // count(*) AS BIGINT)
           |    AS avg_depth_ppm
           |FROM (SELECT tie, sum(delta) OVER (ORDER BY v, tie, bucket
           |      ROWS UNBOUNDED PRECEDING) AS depth
           |  FROM (SELECT bucket, mn AS v, 0 AS tie, 1 AS delta FROM (
           |      SELECT $bucket AS bucket, min($key) AS mn,
           |        max($key) AS mx
           |      FROM $base GROUP BY 1)
           |    UNION ALL
           |    SELECT bucket, mx, 1, -1 FROM (
           |      SELECT $bucket AS bucket, min($key) AS mn,
           |        max($key) AS mx
           |      FROM $base GROUP BY 1)))
           |WHERE tie = 0""".stripMargin
      Seq(one("zv // 1024", "pk", "zorder:pk"),
          one("zv // 1024", "ok", "zorder:ok"),
          one("pk // 4", "pk", "bypart:pk"),
          one("pk // 4", "ok", "bypart:ok")).mkString("\nUNION ALL\n")
    },
    // AGMS replay: same salted-md5 cells per side, per-row inner
    // products, min over rows; exact side via frequency vectors
    "profile_join_estimate" -> joinEstimateOracle(256),
    "profile_join_estimate_wide" -> joinEstimateOracle(4096),
    // inclusion replay per candidate pair: distinct child keys anti-join
    // distinct parent keys, integer ppm containment
    "profile_fk" -> {
      def one(childTbl: String, childCol: String, parentTbl: String,
              parentCol: String): String =
        s"""SELECT '$childTbl.$childCol' AS child,
           |  '$parentTbl.$parentCol' AS parent,
           |  CAST(n_child AS BIGINT) AS n_child_distinct,
           |  CAST(n_missing AS BIGINT) AS n_missing,
           |  CAST((n_child - n_missing) * 1000000 // n_child AS BIGINT)
           |    AS containment_ppm
           |FROM (SELECT count(*) AS n_child,
           |    sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS n_missing
           |  FROM (SELECT DISTINCT $childCol AS k FROM $childTbl
           |        WHERE $childCol IS NOT NULL) ch
           |  LEFT JOIN (SELECT DISTINCT $parentCol AS k FROM $parentTbl
           |        WHERE $parentCol IS NOT NULL) p USING (k))""".stripMargin
      Seq(
        one("lineitem", "l_orderkey", "orders", "o_orderkey"),
        one("orders", "o_custkey", "customer", "c_custkey"),
        one("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        one("customer", "c_custkey", "orders", "o_custkey"),
        one("customer", "c_nationkey", "supplier", "s_suppkey")
      ).mkString("\nUNION ALL\n")
    },
    // FD replay per candidate: distinct determinant tuples vs distinct
    // (determinant, dependent) tuples over the null-filtered projection
    "profile_fd" -> {
      def one(tbl: String, det: Seq[String], dep: String,
              label: String): String = {
        val nn = (det :+ dep).map(c => s"$c IS NOT NULL").mkString(" AND ")
        val detRow =
          if (det.size == 1) s"CAST(${det.head} AS VARCHAR)"
          else det.map(c => s"CAST($c AS VARCHAR)").mkString("(", ", ", ")")
        val pairRow = (det :+ dep).map(c => s"CAST($c AS VARCHAR)")
          .mkString("(", ", ", ")")
        s"""SELECT '$label' AS fd,
           |  CAST(count(DISTINCT $detRow) AS BIGINT) AS n_det,
           |  CAST(count(DISTINCT $pairRow) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT $pairRow) - count(DISTINCT $detRow)
           |    AS BIGINT) AS violations,
           |  count(DISTINCT $pairRow) = count(DISTINCT $detRow) AS holds
           |FROM $tbl WHERE $nn""".stripMargin
      }
      Seq(
        one("orders", Seq("o_orderkey"), "o_orderstatus",
          "orders: o_orderkey -> o_orderstatus"),
        one("orders", Seq("o_custkey"), "o_orderstatus",
          "orders: o_custkey -> o_orderstatus"),
        one("lineitem", Seq("l_orderkey", "l_linenumber"), "l_suppkey",
          "lineitem: (l_orderkey, l_linenumber) -> l_suppkey"),
        one("lineitem", Seq("l_orderkey"), "l_suppkey",
          "lineitem: l_orderkey -> l_suppkey"),
        one("nation", Seq("n_nationkey"), "n_name",
          "nation: n_nationkey -> n_name")
      ).mkString("\nUNION ALL\n")
    },
    // A/B replay: same md5 arms, same conversion units, the identical
    // cross-multiplied z² verdict in HUGEINT
    "events_abtest" ->
      """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS converted
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT converted,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':' ||
        |      strftime(day, '%Y-%m-%d')), 1, 8))::BIGINT % 2 AS INTEGER)
        |      AS arm
        |  FROM u),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM a)
        |SELECT n0, c0, n1, c1,
        |  (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0) *
        |  (CAST(c0 AS HUGEINT) * n1 - CAST(c1 AS HUGEINT) * n0) *
        |  (CAST(n0 AS HUGEINT) + n1) * 100
        |  > CAST(384 AS HUGEINT) * n0 * n1 * (c0 + c1) *
        |    (n0 + n1 - c0 - c1) AS significant
        |FROM m""".stripMargin,
    // Kaplan–Meier replay: same durations (censored at the horizon),
    // reverse-cum risk sets over the duration histogram, the identical
    // duration-ordered factor fold
    "events_survival" ->
      """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |mx AS (SELECT max(ts) AS mx FROM events),
        |fp AS (SELECT su.user_id, su.t0, min(e.ts) AS pt1
        |  FROM su LEFT JOIN events e ON e.user_id = su.user_id
        |    AND e.event_type = 'purchase' AND e.ts >= su.t0
        |  GROUP BY 1, 2),
        |dur AS (SELECT CAST(CASE WHEN pt1 IS NOT NULL
        |      THEN date_diff('day', CAST(t0 AS DATE), CAST(pt1 AS DATE))
        |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(mx.mx AS DATE))
        |      END AS BIGINT) AS d,
        |    (pt1 IS NOT NULL) AS ev
        |  FROM fp, mx),
        |hist AS (SELECT d,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_events,
        |    CAST(count(*) AS BIGINT) AS d_total FROM dur GROUP BY 1),
        |risk AS (SELECT d, d_events,
        |    CAST(sum(d_total) OVER (ORDER BY d DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_at_risk
        |  FROM hist),
        |ev2 AS (SELECT d, d_events, n_at_risk FROM risk
        |  WHERE d_events > 0),
        |p AS (SELECT list(struct_pack(d := d, d_events := d_events,
        |    n_at_risk := n_at_risk) ORDER BY d) AS arr FROM ev2),
        |e AS (SELECT arr, unnest(range(1, len(arr) + 1)) AS i FROM p)
        |SELECT arr[CAST(i AS INT)].d AS duration,
        |  arr[CAST(i AS INT)].n_at_risk AS n_at_risk,
        |  arr[CAST(i AS INT)].d_events AS n_events,
        |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list_transform(arr[1:CAST(i AS INT)],
        |      y -> CAST(1.0 AS DOUBLE) -
        |        CAST(y.d_events AS DOUBLE) / CAST(y.n_at_risk AS DOUBLE))),
        |    (a, b) -> a * b) AS survival
        |FROM e""".stripMargin,
    // last-touch attribution replay: max preceding click within 7 days
    // per purchase (the q_asof_tolerance rule), cents rolled up per
    // (user, click hour); NULL hour = unattributed
    "events_attribution" ->
      """WITH l AS (SELECT user_id, date_trunc('second', ts) AS p_ts,
        |      CAST(floor(value * 100) AS BIGINT) AS cents
        |    FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id AS c_user, date_trunc('second', ts) AS c_ts
        |    FROM events WHERE event_type = 'click'),
        |a AS (SELECT l.user_id, l.cents,
        |    (SELECT max(r.c_ts) FROM r WHERE r.c_user = l.user_id
        |       AND r.c_ts <= l.p_ts
        |       AND r.c_ts >= l.p_ts - INTERVAL 7 DAY) AS c_ts
        |  FROM l)
        |SELECT user_id,
        |  CAST(date_trunc('hour', c_ts) AS TIMESTAMP) AS click_hour,
        |  CAST(sum(cents) AS BIGINT) AS attributed_cents,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1, 2""".stripMargin,
    // count-min replay: ONE md5 per term lane-sliced per hash row
    // (substring(md5(term), 1+8j, 8)), same top-20 term suite (count
    // desc, term tie-break), min over the 4 rows
    "text_countmin" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(
        |      trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |f AS (SELECT term FROM t WHERE length(term) > 0),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM f GROUP BY 1),
        |top AS (SELECT term, exact_cnt FROM (
        |    SELECT term, exact_cnt,
        |      row_number() OVER (ORDER BY exact_cnt DESC, term) AS rn
        |    FROM ex) WHERE rn <= 20),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (SELECT j,
        |    CAST(('0x' || substring(md5(term),
        |      1 + 8 * j, 8))::BIGINT % 256 AS INTEGER) AS c
        |  FROM f CROSS JOIN js),
        |sk AS (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |probe AS (SELECT term, exact_cnt, j,
        |    CAST(('0x' || substring(md5(term),
        |      1 + 8 * j, 8))::BIGINT % 256 AS INTEGER) AS c
        |  FROM top CROSS JOIN js),
        |est AS (SELECT term, min(exact_cnt) AS exact_cnt,
        |    CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cm_est
        |  FROM probe LEFT JOIN sk USING (j, c) GROUP BY term)
        |SELECT term, exact_cnt, cm_est,
        |  CAST(cm_est - exact_cnt AS BIGINT) AS overcount
        |FROM est""".stripMargin,
    // hour-of-day rollup + per-type ppm share (truncating div, exact)
    "events_seasonal" ->
      """WITH h AS (SELECT event_type, date_part('hour', ts) AS hod,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(h.hod AS INT) AS hod, h.n, h.value_sum,
        |  h.n * 1000000 // t.tot AS share_ppm
        |FROM h JOIN t USING (event_type)""".stripMargin,
    // dense zero-filled spine, per-type lag windows, exact-integer
    // moments (products summed via HUGEINT, cast to DOUBLE at the end)
    "events_acf" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h
        |    FROM events),
        |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |g AS (SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |d AS (SELECT g.event_type, g.h, coalesce(cnt.c, 0) AS x
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |l AS (SELECT event_type, x,
        |    lag(x, 1) OVER pk AS y1,
        |    lag(x, 2) OVER pk AS y2,
        |    lag(x, 3) OVER pk AS y3
        |  FROM d WINDOW pk AS (PARTITION BY event_type ORDER BY h)),
        |p AS (
        |  SELECT event_type, 1 AS lag_k, x, y1 AS y FROM l
        |  UNION ALL SELECT event_type, 2, x, y2 FROM l
        |  UNION ALL SELECT event_type, 3, x, y3 FROM l)
        |SELECT event_type, lag_k, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x * y) AS DOUBLE) AS sum_xy,
        |  CAST(sum(x * x) AS DOUBLE) AS sum_xx,
        |  CAST(sum(y * y) AS DOUBLE) AS sum_yy
        |FROM p WHERE y IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // the same dense spine, then the level/trend recursion replayed
    // step-by-step by a recursive CTE with identical truncating integer
    // divisions (both engines truncate toward zero, negatives included)
    "events_holt" ->
      """WITH RECURSIVE e AS (SELECT event_type, date_trunc('hour', ts)
        |    AS h FROM events),
        |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |g AS (SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |d AS (SELECT g.event_type, g.h,
        |    CAST(coalesce(cnt.c, 0) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY g.event_type ORDER BY g.h)
        |      AS i
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |r AS (
        |  SELECT event_type, h, x, i, x * 1000 AS l, CAST(0 AS BIGINT)
        |    AS bt
        |  FROM d WHERE i = 1
        |  UNION ALL
        |  SELECT d.event_type, d.h, d.x, d.i,
        |    (3 * d.x * 1000 + 7 * (r.l + r.bt)) // 10,
        |    (2 * ((3 * d.x * 1000 + 7 * (r.l + r.bt)) // 10 - r.l)
        |      + 8 * r.bt) // 10
        |  FROM r JOIN d ON d.event_type = r.event_type AND d.i = r.i + 1)
        |SELECT event_type, h AS hour_start, x, l AS level_fp,
        |  bt AS trend_fp, l + bt AS forecast_fp FROM r""".stripMargin,
    // same dense spine + planted +3/hour shift on error's last third;
    // flag comparison in squared integers (λ = 3/2 → 4·dev² > 9·n²·S)
    "events_cusum" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h
        |    FROM events),
        |cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |g AS (SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |d AS (SELECT g.event_type, g.h, coalesce(cnt.c, 0) AS x
        |  FROM g LEFT JOIN cnt USING (event_type, h)),
        |pl AS (SELECT d.event_type, d.h AS hour_start,
        |    CASE WHEN d.event_type = 'error'
        |      AND d.h >= b.lo + INTERVAL 480 HOUR
        |      THEN d.x + 3 ELSE d.x END AS x
        |  FROM d, b),
        |w AS (SELECT event_type, hour_start, x,
        |    count(*) OVER pk AS i, sum(x) OVER pk AS p,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS s
        |  FROM pl WINDOW pk AS (PARTITION BY event_type
        |    ORDER BY hour_start ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, hour_start, CAST(x AS BIGINT) AS x,
        |  CAST(n * p - i * s AS BIGINT) AS dev,
        |  (4 * (n*p - i*s) * (n*p - i*s) > 9 * n * n * s) AS flagged
        |FROM w""".stripMargin,
    // the same lookbehind-free pattern under RE2; list index is 1-based
    "text_sentences" ->
      """WITH a AS (SELECT doc_id,
        |    regexp_extract_all(text, '[^.!?]+[.!?]*') AS segs
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, len(segs))) AS i, segs FROM a),
        |s AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
        |    trim(segs[CAST(i AS INT) + 1]) AS sentence FROM e)
        |SELECT doc_id, seg_idx, sentence,
        |  CAST(length(sentence) AS BIGINT) AS n_chars
        |FROM s WHERE length(sentence) > 0""".stripMargin,
    // window-ntile replay of the engine's arithmetic ntile: identical
    // under the same deterministic (metric, user_id) total orders
    "events_rfm" ->
      """WITH u AS (SELECT user_id, date_trunc('day', max(ts)) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(last_day) AS gday FROM u),
        |r AS (SELECT user_id,
        |    CAST(date_diff('day', last_day, gday) AS INT) AS rec_days,
        |    frequency, monetary_cents FROM u, g),
        |s AS (SELECT user_id, rec_days, frequency, monetary_cents,
        |    CAST(ntile(5) OVER (ORDER BY rec_days, user_id) AS INT)
        |      AS r_bucket,
        |    CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INT)
        |      AS f_bucket,
        |    CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id)
        |      AS INT) AS m_bucket
        |  FROM r)
        |SELECT user_id, rec_days, frequency, monetary_cents,
        |  r_bucket, f_bucket, m_bucket,
        |  CAST(r_bucket * 100 + f_bucket * 10 + m_bucket AS INT) AS rfm
        |FROM s""".stripMargin,
    "basket_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
        |  FROM lineitem),
        |nb AS (SELECT count(DISTINCT o) AS n_baskets FROM it),
        |ic AS (SELECT i, count(*) AS cnt FROM it GROUP BY 1),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
        |  FROM it a JOIN it b ON a.o = b.o AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b,
        |  CAST(ia.cnt AS BIGINT) AS n_a, CAST(ib.cnt AS BIGINT) AS n_b,
        |  CAST(p.n_ab AS BIGINT) AS n_ab,
        |  CAST(nb.n_baskets AS BIGINT) AS n_baskets,
        |  p.n_ab * 1000000 // nb.n_baskets AS support_ppm,
        |  p.n_ab * 1000000 // ia.cnt AS conf_ppm,
        |  p.n_ab * nb.n_baskets * 1000000 // (ia.cnt * ib.cnt) AS lift_ppm
        |FROM p
        |JOIN ic ia ON p.item_a = ia.i
        |JOIN ic ib ON p.item_b = ib.i, nb""".stripMargin,
    // vowel-group syllable heuristic replayed under RE2; all-integer
    // truncating division (operands non-negative)
    "text_readability" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206835 - (1015 * n_words) // n_sentences -
        |    (84600 * n_syllables) // greatest(n_words, 1) AS flesch_x1000
        |FROM m""".stripMargin,
    "events_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts_s FROM events),
        |g AS (SELECT user_id, event_type AS e3,
        |    lag(event_type, 2) OVER w AS e1,
        |    lag(event_type, 1) OVER w AS e2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |c AS (SELECT e1, e2, e3, count(*) AS n FROM g
        |  WHERE e1 IS NOT NULL GROUP BY 1, 2, 3),
        |r AS (SELECT e1, e2, e3, n,
        |    row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rn FROM c)
        |SELECT e1, e2, e3, n FROM r WHERE rn <= 20""".stripMargin,
    // portable-hash admission: ('0x'||substring(md5(id),1,8))::UBIGINT
    // replays Spark's conv(substring(md5(...),1,8),16,10)
    "mix_to_target" ->
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
        |FROM d JOIN a USING (source), m""".stripMargin,
    // same oracle for batch and streaming: the drained island set must
    // be bit-identical to the window-computed one
    "events_interval_union_stream" -> intervalUnionOracle,
    "events_interval_union" -> intervalUnionOracle,
    "events_ewma" ->
      """WITH r AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT)
        |    AS ewma_num,
        |  CAST(sum(CAST(1 AS BIGINT) << (16 - rn)) AS BIGINT) AS ewma_den
        |FROM r WHERE rn <= 16 GROUP BY 1""".stripMargin,
    "text_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE length(term) >= 5 GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    (tf.tf * 1000000) // df.df AS score
        |  FROM tf JOIN df USING (term)),
        |r AS (SELECT doc_id, term, tf, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tf DESC, term) AS INT) AS rk
        |  FROM s)
        |SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 3""".stripMargin,
    "table_corr_stats" ->
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS disc,
        |    CAST(floor(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
        |p AS (
        |  SELECT 'qty' AS measure_a, 'price' AS measure_b,
        |    qty AS x, price AS y FROM li
        |  UNION ALL SELECT 'qty', 'disc', qty, disc FROM li
        |  UNION ALL SELECT 'qty', 'tax', qty, tax FROM li
        |  UNION ALL SELECT 'price', 'disc', price, disc FROM li
        |  UNION ALL SELECT 'price', 'tax', price, tax FROM li
        |  UNION ALL SELECT 'disc', 'tax', disc, tax FROM li)
        |SELECT measure_a, measure_b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sum_xy,
        |  CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sum_xx,
        |  CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS sum_yy
        |FROM p GROUP BY 1, 2""".stripMargin,
    "table_winsorize" ->
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM h),
        |cuts AS (SELECT l_returnflag,
        |    min(CASE WHEN cum * 20 >= total THEN cents END) AS lo_cents,
        |    min(CASE WHEN cum * 20 >= total * 19 THEN cents END)
        |      AS hi_cents
        |  FROM c GROUP BY 1)
        |SELECT h.l_returnflag, max(lo_cents) AS lo_cents,
        |  max(hi_cents) AS hi_cents,
        |  CAST(sum(w * greatest(lo_cents, least(hi_cents, cents)))
        |    AS BIGINT) AS win_sum_cents,
        |  CAST(sum(CASE WHEN cents < lo_cents THEN w ELSE 0 END)
        |    AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN cents > hi_cents THEN w ELSE 0 END)
        |    AS BIGINT) AS n_hi
        |FROM h JOIN cuts USING (l_returnflag) GROUP BY 1""".stripMargin,
    // the naive per-user self-join replay of the bitmask aggregation
    "events_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,
    // the same planted corruption replayed; CASE order pins the
    // null-beats-orphan precedence for keys ≡ both moduli
    "table_checks" ->
      """WITH b AS (SELECT * FROM orders
        |  UNION ALL SELECT * FROM orders WHERE o_orderkey % 41 = 6),
        |c AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 31 = 3 THEN NULL
        |         WHEN o_orderkey % 29 = 8 THEN o_custkey + 10000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 37 = 5 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM b),
        |q AS (SELECT CAST(l_quantity AS BIGINT) +
        |    CASE WHEN l_orderkey % 43 = 7 THEN 100 ELSE 0 END AS qty
        |  FROM lineitem)
        |SELECT 'not_null:o_custkey' AS check_name, 'orders' AS table_name,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations, count(*) AS n_rows FROM c
        |UNION ALL
        |SELECT 'unique:o_orderkey', 'orders', CAST(sum(n - 1) AS BIGINT),
        |  CAST(sum(n) AS BIGINT)
        |FROM (SELECT count(*) AS n FROM c GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'accepted_values:o_orderstatus', 'orders',
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1
        |    ELSE 0 END) AS BIGINT), count(*) FROM c
        |UNION ALL
        |SELECT 'ref_integrity:o_custkey', 'orders',
        |  (SELECT count(*) FROM c WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |  count(*) FROM c
        |UNION ALL
        |SELECT 'range:qty', 'lineitem',
        |  CAST(sum(CASE WHEN qty < 1 OR qty > 50 THEN 1 ELSE 0 END)
        |    AS BIGINT), count(*) FROM q""".stripMargin,
    // full pipeline replay: planted flips, hex-plane signatures, band
    // candidates, Hamming verify — engine and oracle must agree on the
    // exact pair set AND distances
    // frame replay: same plant, 64-byte hex slices as frame keys
    // (doc*100+idx), the identical dHash/band/verify, parent rollup
    "multimodal_frame_neardup" -> s"""
        |WITH raw AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
        |pl AS (SELECT r.doc_id,
        |    CASE WHEN d.h IS NOT NULL
        |      THEN substring(d.h, 1, 20) || 'FF' || substring(d.h, 23)
        |      ELSE r.h END AS h
        |  FROM raw r LEFT JOIN raw d
        |    ON r.doc_id % 23 = 4 AND d.doc_id = r.doc_id - 4),
        |fr AS (SELECT doc_id, unnest(range(0, 4)) AS i, h FROM pl),
        |fx AS (SELECT doc_id * 100 + i AS fkey,
        |    substring(h, CAST(i * 128 + 1 AS INT), 128) AS fh
        |  FROM fr),
        |f AS (SELECT fkey, fh AS h, 64 AS nb FROM fx
        |  WHERE length(fh) = 128),
        |s AS (SELECT fkey, ${duckDHash56("h", "nb")} AS sig FROM f),
        |bt AS (SELECT fkey, sig, unnest(range(0, 4)) AS k FROM s),
        |bv AS (SELECT fkey, sig, k,
        |    (sig >> (CAST(k AS INT) * 14)) & 16383 AS v FROM bt),
        |p AS (SELECT DISTINCT a.fkey AS id_a, b.fkey AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bv a JOIN bv b
        |    ON a.k = b.k AND a.v = b.v AND a.fkey < b.fkey),
        |pr AS (SELECT id_a, id_b,
        |    CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |  FROM p WHERE bit_count(xor(sa, sb)) <= 5)
        |SELECT id_a // 100 AS vid_a, id_b // 100 AS vid_b,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(min(hamming) AS INT) AS min_hamming,
        |  CAST(max(hamming) AS INT) AS max_hamming
        |FROM pr WHERE id_a // 100 <> id_b // 100
        |GROUP BY 1, 2""".stripMargin,
    "multimodal_phash" -> s"""
        |WITH raw AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
        |pl AS (SELECT r.doc_id,
        |    CASE WHEN d.h IS NOT NULL
        |      THEN substring(d.h, 1, 20) || 'FF' || substring(d.h, 23)
        |      ELSE r.h END AS h
        |  FROM raw r LEFT JOIN raw d
        |    ON r.doc_id % 23 = 4 AND d.doc_id = r.doc_id - 4),
        |f AS (SELECT doc_id, h, length(h) // 2 AS nb FROM pl
        |  WHERE length(h) >= 128),
        |s AS (SELECT doc_id, ${duckDHash56("h", "nb")} AS sig FROM f),
        |bt AS (SELECT doc_id, sig, unnest(range(0, 4)) AS k FROM s),
        |bv AS (SELECT doc_id, sig, k,
        |    (sig >> (CAST(k AS INT) * 14)) & 16383 AS v FROM bt),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bv a JOIN bv b
        |    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM p WHERE bit_count(xor(sa, sb)) <= 5""".stripMargin,
    // identical oracle to mix_to_target: stateless per-arrival verdicts
    // must reproduce the batch admission bit-for-bit
    "mix_to_target_stream" ->
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
        |FROM d JOIN a USING (source), m""".stripMargin)
}
