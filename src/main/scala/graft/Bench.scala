package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is forced through the `noop` sink — unlike `count()`, which
  * lets Catalyst prune every column a count doesn't need, noop write
  * materializes the full result rows, so the measured time covers the real
  * work (joins, windows, signatures), not a pruned skeleton.
  */
object Bench {

  /** Representative mix: scan-agg, shuffle join, star join, window,
    * set-shaped dedup, signature dedup, per-row text analysis, similarity
    * top-k, sessionization, time-bucket agg.
    */
  val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q_window_topn", "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "text_stats", "text_stats_native",
    "sim_topk_brute", "events_sessionize", "events_hourly", "q_asof_join",
    "pipeline_curate",
    // round-2 additions: custom merge-join operator, digest aggregate,
    // funnel analytics, order-safe stats
    "q_asof_join_native", "q_tdigest", "events_funnel", "q_stats_agg",
    // round-4 additions: the ANN scale paths next to their brute-force
    // baseline, and the LSH-bucketed embedding dedup
    "sim_ann_lsh", "sim_ivf", "dedup_embedding",
    // bucket-local simhash verify, the two-wave pruned IVF probe, and the
    // TF-weighted shingle cosine
    "dedup_simhash", "sim_ivf_refined", "dedup_tf_cosine",
    // round-4 close: bucketized range joins (point-in-interval + overlap),
    // near-dup clustering (iterative connected components), and the
    // product-quantization ANN next to its IVF/LSH siblings
    "q_range_join", "q_range_overlap", "dedup_components", "sim_pq",
    // IVF-PQ, the composed curation DAG, and pretraining sequence packing
    "sim_ivfpq", "pipeline_full", "text_pack",
    // round-5: exact duplicate-span removal (boilerplate scrubbing),
    // whole-doc next-fit bin packing, and incremental cross-corpus dedup
    // (index build + probe in one number; the split profile is
    // `git show 4a60afe:src/main/scala/graft/tools/ProfIncremental.scala`)
    "dedup_spans", "text_pack_bins", "dedup_incremental",
    // round-5 second wave: clustered (SemDeDup-style) semantic dedup,
    // weighted priority sampling, boilerplate top-k n-grams, and
    // canonical unicode normalization
    "dedup_semantic", "sample_weighted", "text_topk_ngrams",
    "text_normalize",
    // round-5 close: int8 embedding quantization (the production
    // projection+digest shape — the scalar-row explode entry
    // `embed_quantize` exists only for per-code value verification) and
    // the ANN tuning-loop metrics (recall@k + MRR vs exact)
    "embed_quantize_digest", "sim_eval",
    // round-6: exact-mode Misra-Gries top-k, quality-aware keep-best
    // dedup, stride-scheduled source interleave, k-center coreset
    "text_topk_sketch", "dedup_keep_best", "mix_interleave",
    "sample_kcenter", "mix_epochs", "sample_token_budget",
    "text_quality_pct", "events_funnel_fold", "mix_schedule",
    "text_bpe_step", "text_bpe_vocab", "text_bpe_apply",
    // round-6 close: per-source cap, Bloom-prefiltered decontamination,
    // linear classifier scoring, char-level BPE (induce + encode)
    "sample_source_cap", "text_decontaminate_bloom", "text_score_linear",
    "text_bpe_char_vocab", "text_bpe_char_apply", "text_dedup_lines",
    "dedup_containment", "text_bigram_novelty", "multimodal_dedup",
    "text_compression",
    // round-6 third wave: arbitrary-offset duplicate spans (find +
    // keep-one apply), span-located decontamination, PQ-pruned semantic
    // dedup, and the pretrained-model plug-in seams
    "dedup_exact_substr", "dedup_exact_substr_apply",
    "text_decontaminate_spans", "dedup_semantic_pq", "text_score_lexicon",
    "dedup_substr_incremental", "sample_split_component",
    "text_dup_fraction", "pipeline_pretrain",
    // round-7: two-pass sampled k-center (flat in k, vs the greedy's k
    // passes), the persisted-index incremental semantic probe, and the
    // append-without-rebuild substr ingest loop
    "sample_kcenter_scalable", "dedup_semantic_incremental",
    "dedup_substr_ingest",
    // round-7 close: the Gopher rule-set filter (scan-speed projection),
    // the IVF-PQ append-without-rebuild ingest loop, incremental
    // component merge, and the multi-assign semantic probe
    "text_gopher_rules", "sim_ivfpq_ingest",
    "dedup_components_incremental", "dedup_semantic_multiprobe",
    // the composed admission loop (exact gate + span gate + quality gate)
    "pipeline_ingest",
    // sparse lexical retrieval: inverted-index stats + BM25 ranked
    // search + positional phrase match + append-without-rebuild ingest
    "search_index", "search_bm25", "search_phrase", "search_ingest",
    "search_proximity",
    // markup stripping (WET extraction) — scan-speed projection — and
    // bigram-lift collocation mining
    "text_strip_markup", "text_collocations",
    // DSIR-shaped importance resampling (hashed-bigram evidence weights)
    "sample_importance",
    // bigram-LM quality scoring (pooled add-one likelihood) and the
    // corpus self-KNN graph (fused multi-probe assign + list self-join)
    "text_lm_score", "sim_knn_graph",
    // SCD2 change compaction (keyed gaps-and-islands) and integer
    // fixed-point PageRank (5 join+agg supersteps over the purchase graph)
    "events_scd2", "graph_pagerank",
    // label-filtered ANN (hard-negative mining) and the entity-resolution
    // family (blocked levenshtein match → cluster → survivorship)
    "sim_filtered", "er_match", "er_resolve",
    // point-in-time dimension join (SCD2 ∘ as-of) and the digest-only
    // corpus snapshot diff
    "events_pit_join", "corpus_diff",
    // degree-oriented triangle counting and the KNN label-error vote
    // (the IVF-composed scale shape; the exact-KNN entry stays in the
    // gate as the verification form — it is quadratic by definition)
    "graph_triangles", "sim_label_vote_ann",
    // Markov transition counts, integer-exact volume anomaly flags, and
    // exact-dup deletion propagation
    "events_transitions", "events_anomaly", "pipeline_forget",
    // Z-order clustering key + range layout, and the one-pass column
    // profile
    "layout_zorder", "table_profile",
    // incremental ER merge (batch-touching pairs + contracted CC loop)
    "er_resolve_incremental",
    // warehouse maintenance: CDC MERGE (SCD1 apply) and incremental
    // materialized-aggregate state merge
    "table_merge_cdc", "events_hourly_incremental",
    // cross-source duplicate-overlap matrix, join-key skew profile,
    // integer-plane equi-width histogram, and sentence segmentation
    "corpus_overlap", "profile_skew", "table_histogram", "text_sentences",
    // RFM quintiles via the arithmetic distributed ntile, market-basket
    // pair rules, exact weighted median, deterministic per-group mode
    "events_rfm", "basket_rules", "q_weighted_median", "q_mode_exact",
    // integer Flesch readability, 3-step path mining, balanced-mix
    // admission rates, perceptual media near-dup
    "text_readability", "events_paths", "mix_to_target",
    "multimodal_phash",
    // dbt-style declarative checks and the ordered-array_agg dialect path
    "table_checks", "tap_array_agg",
    // date-spine LOCF gap fill and per-user interval union
    "q_gap_fill", "events_interval_union",
    // Pareto frontier, multi-source BFS, bitmask audience overlap,
    // fixed-point EWMA, integer TF-IDF keywords, winsorized rollup
    "q_skyline", "graph_bfs", "events_audience_overlap",
    "events_ewma", "text_keywords", "table_winsorize",
    // hopping windows, wide-to-long melt, exact correlation moments
    "events_hopping", "q_unpivot", "table_corr_stats",
    // round-8: zone-map stats + prune eval, RA link prediction, binary
    // Hamming ANN, ACF moments, CUSUM change-points, hashing-trick
    // features, l-diversity, native Gram/covariance moments
    "layout_stats_index", "layout_prune_eval", "graph_linkpred",
    "sim_hamming", "events_acf", "events_cusum", "text_hashed_features",
    "table_ldiversity", "embed_covariance", "events_holt",
    // bit-portable HLL distinct sketch and count-min point frequencies
    "events_hll_users", "text_countmin",
    // hybrid BM25+vector RRF fusion and MMR diversity rerank
    "search_hybrid_rrf", "sim_mmr",
    // incremental HLL register merge, MAD robust outliers, last-touch
    // attribution (as-of ∘ rollup)
    "events_hll_incremental", "events_mad_outliers", "events_attribution",
    // integer OLS trend, ppm quantile transform, Bloom skip-index
    "events_trend", "table_quantile_transform", "layout_bloom_prune",
    // calibration curve, Cohen's kappa, temperature mix, stats drift
    "text_score_calibration", "text_classifier_agreement",
    "mix_temperature", "table_drift",
    // fixed-point chunk->doc pooling and sweep-line session concurrency
    "embed_pool", "events_concurrency",
    // PCM frame energy, DP bounded contributions, deterministic masking
    "multimodal_pcm_energy", "table_dp_bounded", "table_masking",
    // chunked passage retrieval with per-doc collapse
    "search_passages",
    // sweep-line concurrency streaming twin (#29)
    "events_concurrency_stream",
    // Kaplan-Meier conversion survival and exact-rational A/B verdict
    "events_survival", "events_abtest",
    // nearest-centroid classification (fixed-point centroids)
    "sim_centroid_classify",
    // monitoring-cadence profile (approx distincts, no Expand)
    "table_profile_fast",
    // round-9: the composed RAG flagship (strip → chunk → passage BM25 →
    // hybrid RRF → MMR in one plan)
    "pipeline_rag",
    // round-9: k-core peel, FK discovery, AGMS join-size estimate, JL
    // projection, clustering-depth profile, nProbe/recall sweep,
    // appended Bloom index, JSON-value flattening, streaming HLL merge
    "graph_kcore", "profile_fk", "profile_join_estimate",
    "embed_project", "layout_clustering", "sim_knn_sweep",
    "layout_bloom_incremental", "tap_flatten_json",
    "events_hll_merge_stream",
    // round-9 late wave: indexed RAG twin, multilingual mix flagship,
    // zone-map shard merge, calibrated join estimate, z-order depth
    "pipeline_rag_indexed", "pipeline_multilingual",
    "layout_stats_incremental", "profile_join_estimate_wide",
    "layout_clustering_zorder", "events_hll_precise", "graph_sssp", "search_bm25f", "layout_stats_stream", "multimodal_frame_neardup",
    "pipeline_multilingual_stream", "search_ranker_eval",
    // r9-advice gap: the fourth streaming twin was gate-verified but
    // never benchmarked
    "layout_bloom_stream",
    // round-10: unigram-LM tokenizer family (vocab, Viterbi encode,
    // hard-EM recount), the full coreness decomposition, and the
    // streaming index-maintenance RAG twin
    "text_unigram_vocab", "text_unigram_apply", "text_unigram_em",
    "graph_coreness", "pipeline_rag_stream", "text_unigram_stream",
    // round-10 close: functional-dependency discovery
    "profile_fd")

  /** Max queries measured per JVM. After ~100+ query executions in one
    * local-mode JVM the shared driver+executor heap carries enough
    * residue (codegen caches, localCheckpoint blocks pending
    * ContextCleaner GC) that later queries measure GC pressure, not
    * plans — observed 358 s in-JVM vs 187 s fresh for an identical
    * sweep, and a 70-query-overlap comparison inflating 79 s → 133 s as
    * the suite grew past 140. The coordinator shards the headline into
    * fresh child JVMs of this size so every query is measured near
    * steady state regardless of suite growth.
    */
  private val ChunkSize = 40

  def main(args: Array[String]): Unit = {
    // serialize with any other heavyweight graft JVM — the artifact
    // number must be the isolated number (VERDICT r9 item 6)
    graft.tools.RunLock.acquire("bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Headline)
    if (sys.env.contains("SPARK_GRAFT_NO_SHARD")) runInline(sfDir, names)
    else runCoordinator(sfDir, names)
  }

  /** Shard coordinator, the one top-level path: measure `names` in fresh
    * child JVMs of [[ChunkSize]], at the base SF and (unless skipped) the
    * 10× dir, then emit the single merged JSON result line.
    */
  private def runCoordinator(sfDir: String, names: Seq[String]): Unit = {
    // a bench artifact can never mix timings from two builds (VERDICT
    // r10 item 1): captured here, checked before emit
    val fp = graft.tools.BuildFingerprint.compute()
    val chunks = names.grouped(ChunkSize).toSeq
    def sweep(dir: String): Option[Seq[(String, Double)]] = {
      val parts = chunks.zipWithIndex.map { case (ch, i) =>
        System.err.println(
          s"[bench] chunk ${i + 1}/${chunks.size} (${ch.size} queries) @ $dir")
        runChunk(dir, ch)
      }
      if (parts.contains(None)) None else Some(parts.flatMap(_.get))
    }
    val base = sweep(sfDir).getOrElse {
      System.err.println("[bench] base-sf sweep lost a chunk — aborting")
      sys.exit(54)
    }
    val total = base.map(_._2).sum
    // 10× sweep in the SAME json (VERDICT r6 item 7): round-over-round
    // scale regressions become machine-diffable instead of living in
    // SCALING.md prose; headline `value` stays the base-sf total
    val tenxDir = sys.env.get("SPARK_GRAFT_SF10_DIR").orElse {
      if (new java.io.File(sfDir).getName == "sf0.1") Some("/tmp/sf1")
      else None
    }.filter(_ => !sys.env.contains("SPARK_GRAFT_SKIP_10X"))
    val tenx = tenxDir.flatMap { dir =>
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        System.err.println(s"[bench] generating 10x fixture at $dir")
        val spark = buildSession()
        try graft.tools.ScaleUp.scale(spark, sfDir, dir, 10)
        finally spark.stop()
      }
      sweep(dir).map { qs => (qs.map(_._2).sum, qJson(qs), dir) }
    }
    val tenxJson = tenx.map { case (t, qs, dir) =>
      f""","value_10x":$t%.3f,"queries_10x":$qs,"sf_10x":"$dir""""
    }.getOrElse("")
    // refuse to seal a bench artifact whose code moved mid-run
    graft.tools.BuildFingerprint.check(fp, "bench")(())
    System.err.println(s"[bench] build fingerprint: ${fp.render}")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${qJson(base)},"sf":"$sfDir"$tenxJson,"build_fingerprint":${fp.json}}"""
    emit(json, total, sfDir, base, tenx.map(_._1))
  }

  private def qJson(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")

  private def resultFile: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_RESULT_FILE", "bench_result.json"))

  /** Final stdout emission. The full JSON goes to the sidecar file and to
    * stdout; the LAST stdout line is a compact (< 1.5 KB) summary that a
    * log-tail parser can recover even when the wrapper keeps only the last
    * ~2 KB of a decorated log — the full 160+-query line alone exceeds that
    * tail, and sbt prints a `[success]` trailer after us, so a parser
    * scanning backwards for a complete `{...}` line must find this one.
    * Keys mirror the full JSON; `queries` carries the 15 slowest entries,
    * with the complete set in the sidecar (`bench_result.json`).
    */
  private def emit(json: String, total: Double, sfDir: String,
                   results: Seq[(String, Double)],
                   tenxTotal: Option[Double]): Unit = {
    try java.nio.file.Files.write(resultFile, (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(json)
    val slowest = results.sortBy(-_._2).take(15)
    val tenx = tenxTotal.map(t => f""","value_10x":$t%.3f""").getOrElse("")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries":${qJson(slowest)},"queries_note":"15 slowest of ${results.size}; full set in bench_result.json"$tenx}""")
  }

  private def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Child-JVM body ([[spawnChild]] sets `SPARK_GRAFT_NO_SHARD`): time
    * `names` against `sfDir` and write `{"queries":{...}}` to the result
    * file the coordinator reads.
    */
  private def runInline(sfDir: String, names: Seq[String]): Unit = {
    val spark = buildSession()

    // one trivial action to absorb session/codegen cold start
    spark.range(1000000).selectExpr("sum(id)").collect()

    def once(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        // a query that killed the context (executor OOM → uncaught-
        // handler shutdown) would make every later query "fail" in 10 ms
        // and shrink the total SILENTLY — abort instead, so the missing
        // chunk is visible (nonzero exit; the coordinator reports None)
        if (spark.sparkContext.isStopped) {
          System.err.println(s"[bench] SparkContext died during $name — aborting suite")
          sys.exit(53)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    // two runs, report the faster: the first pays parquet footer reads and
    // whole-stage codegen compilation; the second is the steady state a
    // long-running cluster job actually sees
    val results = names.map { name =>
      val secs = math.min(once(name), once(name))
      System.err.println(f"[bench] $name%-22s $secs%.2fs")
      name -> secs
    }
    spark.stop()
    java.nio.file.Files.write(resultFile,
      s"""{"queries":${qJson(results)}}\n""".getBytes("UTF-8"))
  }

  /** Measure one chunk of queries in a fresh child JVM; per-query
    * timings in chunk order, None if the child failed.
    */
  private def runChunk(dir: String,
                       names: Seq[String]): Option[Seq[(String, Double)]] =
    try {
      val resultFile = spawnChild(dir, names)
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(resultFile)))
      val q = node.get("queries")
      Some(names.map(n => n -> q.get(n).asDouble()))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] chunk failed: ${e.getMessage}")
      None
    }

  /** Launch `graft.Bench` in a child JVM (same flags/classpath) that
    * times `names` against `dir` ([[runInline]]); returns the sidecar
    * result path. Throws on nonzero exit.
    */
  private def spawnChild(dir: String, names: Seq[String]): String = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val resultFile = java.nio.file.Files
      .createTempFile("graft_bench_child", ".json").toString
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
    pb.environment().put("SPARK_GRAFT_NO_SHARD", "1")
    // parent already holds the run lock — child must not self-deadlock
    pb.environment().put("GRAFT_LOCK_HELD", "1")
    pb.environment().put("SPARK_GRAFT_RESULT_FILE", resultFile)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
    val code = pb.start().waitFor()
    if (code != 0) throw new RuntimeException(s"child exit $code")
    resultFile
  }
}
