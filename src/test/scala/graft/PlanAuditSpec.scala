package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits for the headline queries: the properties that make
  * these plans survive a 100× scale-up, asserted against the actual
  * executed/optimized plans rather than trusted from the code shape —
  * filter pushdown into the parquet scan, column pruning, broadcast of
  * dim sides, top-k as TakeOrderedAndProject, and map-side partial
  * aggregation.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestSession.Sf)
      .queryExecution.executedPlan.toString

  /** Plan AFTER execution — AQE finalizes join strategy and codegen spans
    * only once stages run.
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SparkTestSession.Sf)
    df.collect() // finalize THIS queryExecution's adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter pushed to parquet; only needed columns read") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan must prune unused columns:\n$readSchema")
  }

  test("q1: aggregation is partial+final (map-side combine)") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("q3/q5: dim sides broadcast, fact join shuffles") {
    // disable size-based auto-broadcast: at fixture scale EVERYTHING is
    // broadcastable, which is exactly the plan that would not survive
    // 100×. Only the explicit broadcast() hints may broadcast.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q3_top_orders", "q5_region_revenue")) {
        val plan = executedPlan(q)
        assert(plan.contains("BroadcastHashJoin"), s"$q: dims must broadcast:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q: the fact-fact join must be a shuffle join (broadcastable " +
            s"only at toy scale):\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q_topk plans as TakeOrderedAndProject (no full sort)") {
    val plan = executedPlan("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not full-sort:\n$plan")
  }

  test("corpus_profile partial-aggregates before its exchanges") {
    val plan = executedPlan("corpus_profile")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"profile must partial-aggregate before the exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("sample_weighted plans as TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan("sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted top-k must not full-sort the corpus:\n$plan")
  }

  test("dedup_exact shuffles aggregated keys, not rows (partial agg)") {
    val plan = executedPlan("dedup_exact")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"exact dedup must partial-aggregate before the exchange:\n$plan")
  }

  test("events_funnel aggregates with bounded buffers (no collect_list)") {
    // Per-user state must be O(1) conditional mins with map-side partial
    // aggregation — a collect_list of all of a bot user's timestamps is
    // the unbounded-buffer skew OOM at 100×.
    val plan = executedPlan("events_funnel")
    assert(!plan.contains("collect_list"),
      s"funnel must not buffer per-user event arrays:\n$plan")
    assert(plan.contains("partial_min"),
      s"funnel mins must partial-aggregate map-side:\n$plan")
  }

  test("dedup_embedding is LSH-bucketed: no cartesian product in the plan") {
    // The quadratic crossJoin form is spec-only; the gate entry must plan
    // as banded-LSH candidate generation + hash-join verify — the shape
    // that survives 100×.
    val plan = finalPlan("dedup_embedding")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dedup_embedding must not plan a cartesian/nested-loop join:\n$plan")
  }

  // AQE explain prints "== Final Plan ==" followed by "== Initial Plan =="
  // (the same tree twice); node-count assertions must look at one section.
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==")(0)

  test("dedup_tf_cosine: postings hash-join, partial-agg counts, no cartesian") {
    // The TF-cosine self-join must be a hash join on the 8-byte shingle
    // hash with map-side partial aggregation of the dot products — the
    // same narrow-shuffle contract as the n-gram path. Since the r11
    // optimization, the pruned (id, h, tf) postings materialize ONCE
    // (localCheckpoint) before fanning into the Σtf² branch and both
    // self-join sides, so the tf-count partial aggregation lives in the
    // checkpoint-materialization job and the FINAL plan must carry no
    // shingle-hashing Generate at all — three consumers, zero postings
    // rebuilds. (The auto df-cap's one-row corpus-count crossJoin
    // legitimately plans as a single-row-build nested loop, as on the
    // n-gram path — only a true pairwise cartesian is the scale-killer.)
    val plan = finalSection(finalPlan("dedup_tf_cosine"))
    assert(!plan.contains("CartesianProduct"),
      s"tf-cosine must not plan a pairwise cartesian join:\n$plan")
    assert(plan.contains("partial_sum"),
      s"tf dot products must partial-aggregate before the exchange:\n$plan")
    assert(!plan.contains("graft_word_shingle_hashes"),
      "the pruned postings must materialize once — a shingle-hash " +
        s"Generate in the final plan means a consumer rebuilt them:\n$plan")
  }

  test("dedup_simhash verifies bucket-locally: no per-pair join back to arrays") {
    // The gate entry's exact-Jaccard annotation is computed inside each
    // capped bucket (ObjectHashAggregate gathering bounded members +
    // a local flatMap) — the candidate-pair stream re-joining shingle
    // arrays twice must be absent. Evidence: at most the ONE hash join
    // that attaches shingle sets to bucket members (the pair-annotate
    // form needs two id-keyed joins AFTER an explode of candidate pairs).
    val plan = finalSection(finalPlan("dedup_simhash"))
    assert(!plan.contains("CartesianProduct"),
      s"simhash must not plan a cartesian join:\n$plan")
    val idJoins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).size
    assert(idJoins <= 1,
      s"bucket-local verify needs at most one member-attach join, saw $idJoins:\n$plan")
  }

  test("dedup_spans: first-occurrence is partial-agg'd; no cartesian join") {
    // The span-text groupBy-min must combine map-side (boilerplate-span
    // skew collapses before the exchange) and the join back must be a
    // hash/merge join on the span key — never a nested loop.
    val plan = finalPlan("dedup_spans")
    assert(plan.contains("partial_min"),
      s"first-occurrence min must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span join-back must be a key join:\n$plan")
  }

  test("sample_rebalance: per-group cuts broadcast; corpus never shuffles") {
    // The corpus side must see one filter pass with the nGroups cut table
    // broadcast to it — a shuffled join (or a corpus-side Exchange at
    // all, beyond the tiny counts aggregate) is the wrong plan at 100 TB.
    val plan = finalPlan("sample_rebalance")
    assert(plan.contains("BroadcastHashJoin"),
      s"cuts must broadcast-join against the scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the cut join:\n$plan")
  }

  test("q_range_join hash-joins on the minted bucket key (no nested loop)") {
    // A bare range predicate join plans as BroadcastNestedLoopJoin —
    // every point against every interval. The bucketized operator must
    // mint the equi-key and hash-join on it.
    val plan = finalSection(finalPlan("q_range_join"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must not plan a nested-loop/cartesian join:\n$plan")
    assert(plan.contains("HashJoin"),
      s"expected a hash join on the minted bucket key:\n$plan")
  }

  test("q_range_overlap hash-joins on the minted bucket key (no nested loop)") {
    // Same contract for the interval-overlap form: both sides explode
    // over covered buckets and hash-join on the bucket id; the canonical-
    // bucket filter (not a distinct) provides exactly-once.
    val plan = finalSection(finalPlan("q_range_overlap"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"overlap join must not plan a nested-loop/cartesian join:\n$plan")
    assert(plan.contains("HashJoin"),
      s"expected a hash join on the minted bucket key:\n$plan")
  }

  test("dedup_incremental: band-key hash joins only, no cartesian, no distinct") {
    // Incoming×index must meet on the minted band key (equi hash join);
    // exactly-once comes from the min-shared-band FILTER, so no
    // aggregation/distinct may appear downstream of the join.
    val plan = finalSection(finalPlan("dedup_incremental"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus matching must never plan all-pairs:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join on the band key:\n$plan")
    assert(!plan.contains("id_corpus") ||
      !"""HashAggregate\(keys=\[id_corpus""".r.findFirstIn(plan).isDefined,
      s"exactly-once must come from the band filter, not a distinct:\n$plan")
  }

  test("text_shard: window partitions by shard (no single-partition sort)") {
    val plan = finalPlan("text_shard")
    assert(plan.contains("Window"), s"expected a window for pos:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"shard numbering must never funnel the corpus to one partition:\n$plan")
  }

  test("mix_interleave: both rank phases stay bucketed (no corpus-wide window)") {
    val plan = finalPlan("mix_interleave")
    assert(plan.contains("Window"), s"expected bucketed rank windows:\n$plan")
    // the only SinglePartition traffic allowed is the tiny bucket-count
    // cumsum (nSources×256 / nBuckets rows); the corpus-sized windows key
    // on (source, md5 bucket) and (round bucket). A corpus-wide
    // row_number would show a Window whose partition spec is empty —
    // spelled "Window [...]" with no "partitionBy"-derived hash exchange
    // directly beneath feeding the full input.
    val windows = plan.split("\n").count(_.contains("Window"))
    assert(windows >= 2, s"two bucketed rank phases expected:\n$plan")
    assert(plan.contains("__b") && plan.contains("__gb"),
      s"ranks must key on the md5-prefix and round buckets:\n$plan")
  }

  test("text_topk_sketch: one bounded sketch per partition crosses the exchange") {
    val plan = finalPlan("text_topk_sketch")
    assert(plan.contains("graft_misra_gries") || plan.contains("misra"),
      s"expected the MG aggregate:\n$plan")
    assert(plan.contains("partial_graft_misra_gries") ||
      (plan.contains("ObjectHashAggregate") && plan.contains("Exchange")),
      s"the sketch must partial-aggregate before the exchange:\n$plan")
  }

  test("dedup_keep_best: component argmax is an aggregation, not a window") {
    val plan = finalPlan("dedup_keep_best")
    assert(plan.contains("max(struct"),
      s"keep rule must be max(struct(quality, -id)):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no quadratic join anywhere in the keep-best path:\n$plan")
  }

  test("events_funnel_fold: the events table crosses exactly one exchange") {
    // strip AQE's "== Initial Plan ==" echo — it repeats every node
    val plan = finalPlan("events_funnel_fold").split("== Initial Plan ==")(0)
    val exchanges = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"single-shuffle fold must shuffle events exactly once:\n$plan")
    assert(plan.contains("MapGroups") && plan.contains("Sort"),
      s"expected the sorted-group fold:\n$plan")
  }

  test("sample_source_cap: both top-N phases window on bounded partitions") {
    val plan = finalPlan("sample_source_cap")
    assert(!plan.contains("SinglePartition"),
      s"the cap must never funnel the corpus to one partition:\n$plan")
    val windows = plan.split("\n").count(_.contains("Window"))
    assert(windows >= 2, s"salted phase + survivor phase expected:\n$plan")
    assert(plan.contains("__salt"),
      s"phase 1 must partition on (source, salt):\n$plan")
  }

  test("text_decontaminate_bloom: bloom prune sits below the verify join") {
    val plan = finalPlan("text_decontaminate_bloom")
    assert(plan.contains("might_contain"),
      s"expected the codegen'd bloom probe:\n$plan")
    // the bloom filter must prune BEFORE any join: the probe appears in
    // a Filter/Project, not only above the join
    val joinLine = plan.linesIterator.indexWhere(_.contains("Join"))
    val bloomLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    assert(bloomLine > joinLine,
      s"bloom probe must be on the scan side (deeper than the join):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"no quadratic join:\n$plan")
  }

  test("text_score_linear: pure projection — no exchange, codegen end-to-end") {
    val plan = finalPlan("text_score_linear").split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"),
      s"classifier apply must score at scan speed, no shuffle:\n$plan")
    assert(plan.contains("*(1)"),
      s"expected a whole-stage codegen span over the scan:\n$plan")
  }

  test("tap incremental predicate reaches the parquet scan") {
    val plan = executedPlan("tap_incremental")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"the replication-key watermark must push into the scan:\n$plan")
  }

  test("exact-substr family: linear candidate plans, no quadratic join") {
    for (q <- Seq("dedup_exact_substr", "dedup_exact_substr_apply",
        "text_decontaminate_spans", "dedup_semantic_pq",
        "dedup_substr_incremental", "text_dup_fraction")) {
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"$q must not plan a quadratic join:\n$plan")
    }
  }

  test("dedup_exact_substr: hot-hash count partial-aggregates before its exchange") {
    val plan = finalPlan("dedup_exact_substr")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"window-hash counting must map-side combine:\n$plan")
    // island merge windows partition by doc (bounded by doc length),
    // never a corpus-wide single-partition window
    assert(!plan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition")),
      s"no global window allowed:\n$plan")
  }

  test("text_decontaminate_spans: benchmark side broadcasts to the candidate stream") {
    val plan = finalPlan("text_decontaminate_spans")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark window set must broadcast:\n$plan")
  }

  test("whole-stage codegen covers the scan-side of q1") {
    // `*(n)` prefixes mark WholeStageCodegen spans in the finalized plan
    val plan = finalPlan("q1_pricing_summary")
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
      s"expected codegen spans (*(n) markers):\n$plan")
  }

  test("kCenterSampled assign pass: partial agg, no cartesian, no global sort") {
    // The distributed half is ONE projection (k distance structs →
    // array_min) into a k-row aggregate: counts/cover must map-side
    // partial-aggregate, and nothing may plan a cartesian or a
    // corpus-wide sort (the sample cut already ran at build, as
    // TakeOrderedAndProject — audited via the operator's own subplan).
    val plan = finalSection(finalPlan("sample_kcenter_scalable"))
    assert(!plan.contains("CartesianProduct"),
      s"assign pass must not be cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_max"),
      s"per-center stats must partial-aggregate before the exchange:\n$plan")
    val emb = graft.Tables.read(spark, SparkTestSession.Sf, "embeddings")
    import org.apache.spark.sql.functions._
    val cutPlan = emb.select(col("vec_id"))
      .orderBy(substring(md5(col("vec_id").cast("string")), 1, 8), col("vec_id"))
      .limit(64).queryExecution.executedPlan.toString
    assert(cutPlan.contains("TakeOrderedAndProject"),
      s"the hash-sample cut must plan as top-k, not a global sort:\n$cutPlan")
  }

  test("semantic-index probe: bucket hash join over the saved members, no cartesian") {
    // The probe must be assignment-projection → ONE equi-join on the
    // bucket key against the reloaded (bucket-partitioned) members
    // scan — never a pairwise cartesian against the corpus.
    val plan = finalSection(finalPlan("dedup_semantic_incremental"))
    assert(!plan.contains("CartesianProduct"),
      s"probe must not be cartesian:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).nonEmpty, s"probe must equi-join on bucket:\n$plan")
    assert(plan.contains("bucket"),
      s"join key must be the cluster bucket:\n$plan")
  }

  test("loaded IVF-PQ search: code scan is partition-pruned to the probed lists") {
    // The IVF storage contract at scale: probing nProbe of nLists must
    // READ only those lists' code files. The broadcast join alone does
    // not do this — Spark's dynamic partition pruning degenerates to
    // `dynamicpruningexpression(true)` under this plan shape — so
    // searchIvfPq pushes the probed list set (≤ nLists values by
    // construction) as a static IN filter. Assert it reaches the code
    // scan's PartitionFilters with fewer lists than the index holds.
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val idx = graft.functions.PqIndex.buildIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("planaudit-ivfpq").toString
    graft.functions.PqIndex.saveIvfPq(idx, dir)
    val loaded = graft.functions.PqIndex.loadIvfPq(spark, dir)
    val df = graft.functions.PqIndex.searchIvfPq(loaded, emb,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 5, nProbe = 2, shortlist = 16)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val codeScan = plan.split("\n").filter(l =>
      l.contains("Scan parquet") && l.contains("/codes"))
    assert(codeScan.nonEmpty, s"expected a scan of the saved codes:\n$plan")
    assert(codeScan.forall(_.matches(""".*PartitionFilters: \[list_id#\d+ IN \([0-9,]+\).*""")),
      s"code scan must carry the static probed-list filter:\n${codeScan.mkString("\n")}")
    // 2 queries × nProbe 2 → at most 4 of 16 lists survive the filter
    val in = """list_id#\d+ IN \(([0-9,]+)\)""".r
    val lists = in.findFirstMatchIn(codeScan.head).get.group(1).split(",")
    assert(lists.length <= 4, s"probe must prune to ≤4 of 16 lists: $lists")
  }

  /** One pagerank superstep over a 3-cycle, node-sized sides passed
    * through `bcast`. The loop localCheckpoints each round (the executed
    * top-level plan is just the final RDD scan), so the auditable unit
    * is one superstep.
    */
  private def superstep(bcast: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = identity) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    graft.functions.Graph.superstep(nodes.withColumn("rank", lit(1000000L)),
      e.withColumn("deg", lit(1L)), nodes,
      base = 150000L, dampNum = 85, dampDen = 100, bcast)
  }

  test("graph_pagerank superstep: partial-agg contribution sum, hash joins only") {
    // rank⋈edges hash join → map-side-combined sum on dst
    val df = superstep()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"superstep must not plan a cartesian/nested-loop join:\n$plan")
    assert(plan.contains("partial_sum"),
      s"contribution sum must partial-aggregate:\n$plan")
  }

  test("graph broadcast gate: hinted at the node bound, unhinted above it") {
    // the graph operators' per-round joins broadcast a node-sized table
    // only while its counted size is within Graph.BroadcastMaxNodes;
    // auto-broadcast off so only the gate's hint can broadcast
    import graft.functions.Graph
    def plan(n: Long): String =
      superstep(Graph.gatedBroadcast(_, n)).queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val at = plan(Graph.BroadcastMaxNodes)
      assert(at.contains("BroadcastHashJoin"),
        s"n == bound must broadcast:\n$at")
      val above = plan(Graph.BroadcastMaxNodes + 1)
      assert(!above.contains("Broadcast"),
        s"n == bound + 1 must not broadcast:\n$above")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("er_match: block self-join is a hash join with the length prefilter below the edit distance") {
    val plan = finalPlan("er_match")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked match must hash-join on the block key:\n$plan")
    // the cheap length lower bound and the O(len²) levenshtein must both
    // sit in the JOIN condition, length gate first (conjunct order in
    // the same predicate — short-circuit before the distance loop)
    val cond = plan.split("\n")
      .find(l => l.contains("HashJoin") && l.contains("levenshtein"))
      .getOrElse("")
    assert(cond.contains("abs(") &&
      cond.indexOf("abs(") < cond.indexOf("levenshtein"),
      s"length prefilter must guard the levenshtein call:\n$plan")
  }

  test("events_scd2 / events_pit_join: keyed windows only, no corpus-wide partition") {
    for (name <- Seq("events_scd2", "events_pit_join")) {
      val plan = finalPlan(name)
      // every window/sort in the plan must be keyed by user_id — a Window
      // with an empty partition spec would serialize the corpus into one
      // task (the scale-killer these operators are designed to avoid)
      val bad = plan.split("\n").filter(l =>
        l.contains("Window ") && !l.contains("user_id"))
      assert(bad.isEmpty,
        s"$name: un-keyed window in plan:\n${bad.mkString("\n")}")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  test("corpus_diff: digest-only projections feed the full-outer join") {
    val plan = finalPlan("corpus_diff")
    assert(plan.contains("FullOuter"),
      s"diff must plan a full-outer hash/merge join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"diff join must be key-based:\n$plan")
    // the text column must be consumed by md5 below the exchange: no
    // exchange row carries `text` itself
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      s"document payloads must not shuffle:\n${exchanges.mkString("\n")}")
  }

  test("corpus_overlap: text collapses to hashes below every exchange") {
    val plan = finalPlan("corpus_overlap")
    assert(!plan.contains("CartesianProduct"),
      s"hash self-join must be key-based:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      s"only (hash, source) rows may shuffle:\n${exchanges.mkString("\n")}")
  }

  test("table_merge_cdc: latest-change election is an aggregation, not a window") {
    val plan = finalPlan("table_merge_cdc")
    assert(plan.contains("max(struct"),
      s"per-key election must be one max(struct(seq, op, …)) agg:\n$plan")
    assert(!plan.contains("Window"),
      s"no window sort in the CDC merge:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"untouched rows survive via a left-anti key join:\n$plan")
  }

  test("profile_skew: top-k plans as TakeOrderedAndProject, totals broadcast") {
    val plan = executedPlan("profile_skew")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"1-row totals must broadcast:\n$plan")
  }

  test("events_hourly_incremental: both halves partial-aggregate before merging") {
    val plan = executedPlan("events_hourly_incremental")
    val partials = plan.split("\n").count(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    assert(partials >= 3,
      s"state, delta, and merge aggregates must all map-side combine:\n$plan")
    assert(!plan.contains("Window"), s"no window anywhere:\n$plan")
  }

  test("text_sentences: projection + generate only — no exchange at all") {
    val plan = executedPlan("text_sentences")
    assert(plan.contains("Generate"), s"expected posexplode:\n$plan")
    assert(!plan.contains("Exchange"),
      s"sentence split must not shuffle:\n$plan")
  }

  test("events_rfm: every rank window is range-bucketed (no corpus-wide rank)") {
    // globalRank checkpoints its input per pass (r11: the 3-pass chain
    // otherwise re-executed the user aggregation up to 27x), so only the
    // LAST rank phase is visible in the final plan — the earlier passes
    // sit behind the checkpoint scans. Audit the visible phase's shape
    // here; GlobalRankSpec/the oracle pin the other passes' values.
    val plan = executedPlan("events_rfm")
    val rankWindows = plan.split("\n").filter(_.contains("row_number()"))
    assert(rankWindows.nonEmpty, s"expected a rank phase:\n$plan")
    rankWindows.foreach(l => assert(l.contains("__b"),
      s"rank window must partition by the range bucket:\n$l"))
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpointed earlier rank passes:\n$plan")
  }

  test("q_gap_fill: spine explodes from broadcast bounds; windows are keyed") {
    val plan = executedPlan("q_gap_fill")
    assert(plan.contains("Generate"), s"expected sequence+explode spine:\n$plan")
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("event_type")),
      s"LOCF window must partition by event_type:\n${windows.mkString("\n")}")
  }

  test("events_interval_union: keyed windows only, two partial aggs") {
    val plan = executedPlan("events_interval_union")
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      s"island windows must partition by user_id:\n${windows.mkString("\n")}")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"island and per-user aggregates must map-side combine:\n$plan")
  }

  test("q_skyline: bucket-local prune before the global window; no cartesian") {
    val plan = executedPlan("q_skyline")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline must not plan the quadratic dominance join:\n$plan")
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.length >= 2, s"expected local+global prune windows:\n$plan")
    assert(windows.exists(_.contains("b#")),
      s"first prune must partition by the hash bucket:\n${windows.mkString("\n")}")
    assert(plan.contains("partial_sum"),
      s"supplier rollup must map-side combine:\n$plan")
  }

  test("graph_bfs round: frontier hash join + anti join, no window/cartesian") {
    import org.apache.spark.sql.functions._
    val e = spark.range(100).select((col("id") % 10).as("src"),
      ((col("id") * 7) % 10).as("dst"))
    val seeds = spark.range(2).select(col("id").as("node"),
      lit(0).as("dist"))
    val plan = graft.functions.Graph.bfsStep(seeds, e, seeds, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"visited exclusion must be a left-anti hash join:\n$plan")
    // keys-only distinct plans as partial+final HashAggregate around the
    // node-key exchange — both phases must be present
    assert(plan.split("\n").count(_.contains("HashAggregate")) >= 2,
      s"frontier distinct must two-phase aggregate:\n$plan")
  }

  test("events_hopping: window fan-out feeds a partial aggregate, no window fn") {
    val plan = executedPlan("events_hopping")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"hopping assignment must expand before the aggregate:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"hopping agg must map-side combine:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"no analytic window anywhere:\n$plan")
  }

  test("q_unpivot: melt is expand-over-aggregate — no join, no shuffle after rollup") {
    val plan = executedPlan("q_unpivot")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"unpivot must plan as expand/generate:\n$plan")
    assert(!plan.contains("Join"), s"no join in a melt:\n$plan")
    assert(plan.contains("partial_sum"),
      s"measure rollup must map-side combine:\n$plan")
  }

  test("table_corr_stats: pair explode partial-aggregates to 6 groups, no self-join") {
    val plan = executedPlan("table_corr_stats")
    assert(plan.contains("Generate"),
      s"pair stacking must be a generate:\n$plan")
    assert(!plan.contains("Join"),
      s"measure pairs must not plan a self-join:\n$plan")
    assert(plan.contains("partial_sum"),
      s"moment sums must map-side combine:\n$plan")
  }

  test("events_ewma: one keyed window, map-side combined rollup") {
    val plan = executedPlan("events_ewma")
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      s"recency rank must partition by user_id:\n${windows.mkString("\n")}")
    assert(plan.contains("partial_sum"),
      s"EWMA sums must map-side combine:\n$plan")
  }

  test("text_keywords: doc-keyed rank window; tf/df aggregate partially") {
    val plan = executedPlan("text_keywords")
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      s"keyword rank must partition by doc_id:\n${windows.mkString("\n")}")
    assert(plan.contains("partial_count"),
      s"tf/df counts must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("table_winsorize: cuts broadcast back; histogram windows are flag-keyed") {
    val plan = finalPlan("table_winsorize").split("== Initial Plan ==")(0)
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("l_returnflag")),
      s"cum/total windows must partition by returnflag:\n${windows.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-flag cuts must re-join as a broadcast dim:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"value histogram must map-side combine:\n$plan")
  }

  test("events_audience_overlap: big side shuffles once into masks; pair grid broadcast") {
    val plan = finalPlan("events_audience_overlap").split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"the per-user type self-join must never plan:\n$plan")
    // only tiny sides (≤2^|types| hist rows, |types|² grid) may nest
    val bnlj = plan.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.length <= 2,
      s"only the mask-histogram × pair-grid joins may nest:\n${bnlj.mkString("\n")}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"mask aggregation must map-side combine:\n$plan")
  }

  test("multimodal_phash: payload hex never shuffles — signatures only") {
    val plan = finalPlan("multimodal_phash").split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"band candidates must come from a key join:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("__h#")),
      s"only (id, sig, band) rows may shuffle:\n${exchanges.mkString("\n")}")
  }

  test("basket_rules: bounded pair explode — key joins and partial aggs only") {
    val plan = finalPlan("basket_rules").split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"within-basket pairs must come from a key-equi self-join:\n$plan")
    // the ONLY nested-loop join allowed is the 1-row n_baskets broadcast
    val bnlj = plan.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.length <= 1,
      s"only the 1-row totals may cross-broadcast:\n${bnlj.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"the pair self-join must be a key join:\n$plan")
    assert(plan.contains("partial_count"),
      s"pair counts must map-side combine:\n$plan")
  }

  test("events_hll_users: registers partial-aggregate before the shuffle") {
    val plan = finalPlan("events_hll_users")
    assert(plan.contains("partial_max"),
      s"register max must map-side combine (duplicates die before the exchange):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("layout_bloom_prune: probes join the broadcast index, data never re-shuffles") {
    val plan = finalPlan("layout_bloom_prune")
    assert(plan.contains("partial_bit_or") || plan.contains("bit_or"),
      s"bloom words must bit_or map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the metadata-sized index/buckets must broadcast:\n$plan")
  }

  test("search_passages: collapse is an aggregate, not a window over chunk hits") {
    val plan = finalPlan("search_passages")
    // exactly one window is allowed: the final per-query doc rerank
    // (plus bm25's own per-query top-k) — the per-parent collapse must
    // be max(struct), i.e. a HashAggregate, not another window sort
    assert(plan.contains("partial_max"),
      s"per-parent best chunk must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("events_concurrency: deltas partial-aggregate; window only over the spine") {
    val plan = finalPlan("events_concurrency")
    assert(plan.contains("partial_sum"),
      s"hour deltas must map-side combine before the cum window:\n$plan")
    // the global-order window input must be the joined SPINE, whose rows
    // are bounded by the hour range — assert the spine join exists
    assert(plan.contains("Generate") || plan.contains("sequence"),
      s"the hour spine must come from a sequence generate:\n$plan")
  }
}
