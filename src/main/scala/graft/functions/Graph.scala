package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connectivity ([[Components]]):
  * power-iteration ranking over an edge list, in the same
  * shuffle-per-round, lineage-truncated shape as the CC loop.
  */
object Graph {

  /** Row bound of every node-sized broadcast below (two-long rows; 4M
    * keys ≈ tens of MB). A localCheckpoint scan reports no stats, so
    * without the hint the per-round joins against the checkpointed edge
    * table plan as SortMergeJoin and re-exchange + re-sort ALL edges
    * every round (r12, plan-verified); above the bound SMJ is the right
    * strategy and the hint backs off.
    */
  private[graft] val BroadcastMaxNodes = 4000000L

  /** `df` broadcast-hinted when its counted size `n` is within
    * [[BroadcastMaxNodes]], unhinted above it.
    */
  private[graft] def gatedBroadcast(df: DataFrame, n: Long): DataFrame =
    if (n <= BroadcastMaxNodes) broadcast(df) else df

  /** Fixed-point-arithmetic PageRank — power iteration with every step
    * in EXACT integer (Long) arithmetic so the result is bit-portable
    * across partitionings, reduce orders, and engines (a double-sum
    * PageRank is partition-order-dependent; this one hash-checks
    * against a SQL replay):
    *
    *   rank_0(v)   = scale
    *   rank_i+1(v) = (dampNum_c * scale) div dampDen
    *                 + (dampNum * Σ_{u→v} (rank_i(u) div outdeg(u)))
    *                   div dampDen
    *
    * where dampNum_c = dampDen − dampNum (the 1−d teleport term). All
    * divisions truncate (operands are non-negative, so Spark's `div`
    * and SQL `//`/floor agree). Dangling nodes contribute nothing
    * (their mass leaks — the standard simplification; the oracle leaks
    * identically).
    *
    * Returns (`node`, `rank`) for every distinct node in `edges`.
    *
    * 100 TB shape: one hash join (ranks ⋈ degree-annotated edges on the
    * source key) plus one partial-aggregated groupBy(dst).sum per
    * iteration — the canonical Pregel superstep as two key-partitioned
    * shuffles, no collect, no windows. The degree-annotated edge list is
    * computed once and localCheckpoint'd; each round's rank table is
    * checkpointed too, so k rounds never stack k shuffle stages into one
    * plan. Overflow headroom: Σ rank ≤ n·scale, and the largest
    * intermediate is dampNum·Σ — at scale=10⁶ and dampNum=85 that stays
    * inside Long past 10⁹ nodes.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, scale: Long = 1000000L,
                         dampNum: Int = 85, dampDen: Int = 100,
                         edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // `edgesDistinct = true` skips the defensive dedup when the caller
    // already guarantees one row per directed edge (the gate queries
    // union two orientation-disjoint distinct pair sets) — dropping a
    // full edge-list exchange; results are identical by the guarantee.
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e = if (edgesDistinct) e0 else e0.distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // degree-annotated edges: computed once, reused every round; the
    // join leaves them hash-partitioned by src, exactly what each
    // round's ranks-join needs (localCheckpoint preserves partitioning)
    val eDeg = e.join(outdeg, "src").localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val base = (dampDen - dampNum).toLong * scale / dampDen
    // r12: the rank table is |V| rows of two longs — broadcast it (and
    // the superstep's node-sized aggregate) so the edge-sized eDeg is
    // streamed, never re-exchanged and re-sorted per round
    val nNodes = nodes.count()
    var ranks = nodes.withColumn("rank", lit(scale))
    // one checkpoint per round (re-measured, r11): each superstep
    // references `ranks` exactly once, so rounds CAN stack into one
    // linear plan — but fresh-JVM A/B showed per-round materialization
    // faster at BOTH scales (10×: 13.6-14.9 s vs 16.1-22.5 s stacked;
    // sf0.1: 5.9-6.9 vs 7.1-8.0): the stacked plan chains 2·iters
    // shuffle stages into one job, serializing AQE stage scheduling and
    // re-planning, while the per-round form keeps every stage shallow.
    // Change the cadence only with a measurement at the target scale.
    var i = 0
    while (i < iters) {
      ranks = superstep(ranks, eDeg, nodes, base, dampNum, dampDen,
        gatedBroadcast(_, nNodes))
      i += 1
      if (i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering signal (dense near-clique neighborhoods vs chains) of a
    * similarity/ER graph. Emits (`node`, `n_triangles`) for every node
    * in at least one triangle.
    *
    * Algorithm: DEGREE-ORDERED edge orientation (Suri & Vassilvitskii's
    * MR triangle counting) — orient each edge toward the higher
    * (degree, id) endpoint, join out-edges on their source to form
    * wedges, close each wedge against the oriented edge set. Every
    * triangle has exactly one node with two out-edges under a total
    * order, so each is found exactly once; the triangle SET is
    * orientation-invariant, so the SQL oracle may replay with plain id
    * order and must match bit-for-bit.
    *
    * 100 TB shape: degree orientation bounds any node's out-degree by
    * O(√m) on arbitrary graphs — the wedge join materializes
    * Σ outdeg(v)² ≤ m^1.5 rows instead of the hub-degree² blowup a hot
    * node causes under id ordering; both joins are key-partitioned hash
    * joins, no windows, no collect.
    */
  def triangleCounts(pairs: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val canon = pairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = canon.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val da = deg.select(col("n").as("a"), col("deg").as("da"))
    val db = deg.select(col("n").as("b"), col("deg").as("db"))
    // rank = (deg, id); s → t with rank(s) < rank(t); carry t's rank for
    // ordering the wedge pair
    val oriented = canon.join(da, "a").join(db, "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("s"), col("b").as("t"),
            struct(col("db").as("d"), col("b").as("i")).as("rt")))
          .otherwise(
            struct(col("b").as("s"), col("a").as("t"),
              struct(col("da").as("d"), col("a").as("i")).as("rt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.rt").as("rt"))
    val e1 = oriented.select(col("s"), col("t").as("x"), col("rt").as("rx"))
    val e2 = oriented.select(col("s"), col("t").as("y"), col("rt").as("ry"))
    val wedges = e1.join(e2, Seq("s"))
      .where(col("rx") < col("ry"))
      .select(col("s"), col("x"), col("y"))
    val closure = oriented.select(col("s").as("x"), col("t").as("y"))
    val tri = wedges.join(closure, Seq("x", "y"))
    tri.select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distance: for every node reachable from
    * `seeds` within `maxHops` edge traversals, the MINIMUM number of
    * hops. Emits (`node`, `dist`), seeds at dist 0. The reachability /
    * blast-radius primitive (supply-chain exposure, contamination
    * spread over a similarity graph, k-hop neighborhoods for GNN
    * sampling).
    *
    * Algorithm: frontier-only label propagation. Round i joins the
    * CURRENT FRONTIER (nodes first reached at dist i−1, not the whole
    * visited set) against the edge list, then anti-joins the visited
    * set so each node is expanded exactly once — total work is
    * Σ_frontiers outdeg(frontier) ≤ m over the whole run, the textbook
    * Pregel BFS. Each round is one hash join + one distinct + one
    * left-anti join, all key-partitioned; per-round localCheckpoint
    * truncates lineage so k rounds never stack into one plan. No
    * windows, no collect, no driver-side graph.
    *
    * The hop-bounded distance SET is deterministic (min over paths), so
    * a SQL recursive-CTE replay with UNION-dedup per level must match
    * bit-for-bit.
    */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                maxHops: Int, edgesDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // repartition by the per-round join key BEFORE checkpointing: every
    // hop joins the frontier on `src`, and a (src,dst)- or scan-
    // partitioned edge table would re-exchange the FULL edge list each
    // round; src-partitioned, the rounds reuse the checkpoint layout.
    // `edgesDistinct` as in pageRankFixedPoint.
    val e = (if (edgesDistinct) e0 else e0.distinct())
      .localCheckpoint(true)
    val seed = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint(true)
    // `visited` accumulates as a UNION of the per-hop checkpointed
    // frontiers instead of re-materializing the whole growing set every
    // hop (r11): the layers are disjoint by construction (each hop
    // anti-joins everything seen), so the union is exact, the anti-join
    // side is a cheap scan of ≤ maxHops small checkpoints, and each hop
    // pays ONE materialization (its own frontier) instead of two.
    var visited = seed
    var frontier = seed
    // r12: broadcast the frontier and the visited union while their
    // counted sizes stay bounded, so the per-hop frontier ⋈ edges join
    // and the visited anti-join never re-exchange the EDGE table (count
    // replaces the old isEmpty action: same one job per hop)
    var nFrontier = seed.count()
    var nVisited = nFrontier
    var i = 1
    while (i <= maxHops && nFrontier > 0) {
      val next = bfsStep(gatedBroadcast(frontier, nFrontier), e,
        gatedBroadcast(visited.select("node"), nVisited), i)
        .localCheckpoint(true)
      nFrontier = next.count()
      visited = visited.unionByName(next)
      nVisited += nFrontier
      frontier = next
      i += 1
    }
    visited
  }

  /** One BFS round (the unit [[bfsLevels]] checkpoints per hop —
    * exposed so the plan shape is auditable: frontier ⋈ edges is a
    * key-partitioned hash join, the visited exclusion a left-anti hash
    * join; no windows, no cartesian anywhere).
    */
  private[graft] def bfsStep(frontier: DataFrame, e: DataFrame,
                             visited: DataFrame, i: Int): DataFrame =
    frontier
      .join(e, col("node") === col("src"))
      .select(col("dst").as("node"))
      .distinct()
      .join(visited.select("node"), Seq("node"), "left_anti")
      .withColumn("dist", lit(i))

  /** One power-iteration superstep (the unit [[pageRankFixedPoint]]
    * checkpoints per round — exposed so the plan shape is auditable:
    * PlanAuditSpec asserts the contribution sum partial-aggregates and
    * nothing plans a nested loop).
    */
  private[graft] def superstep(ranks: DataFrame, eDeg: DataFrame,
                               nodes: DataFrame, base: Long,
                               dampNum: Int, dampDen: Int,
                               bcast: DataFrame => DataFrame = identity): DataFrame = {
    // `bcast` (size-gated by the caller) hints both node-sized sides so
    // the edge table is STREAMED, never exchanged or sorted per round
    val contrib = bcast(ranks)
      .join(eDeg, col("node") === col("src"))
      .select(col("dst").as("node"),
        expr("rank div deg").as("c"))
      .groupBy("node")
      .agg(sum(col("c")).as("m"))
    nodes
      .join(bcast(contrib), Seq("node"), "left")
      .select(col("node"),
        (lit(base) + expr(s"($dampNum * coalesce(m, 0L)) div $dampDen"))
          .as("rank"))
  }

  /** Resource-Allocation link prediction over the one-mode projection of
    * a bipartite edge list (`left` entities connected through shared
    * `right` neighbors — co-purchase, co-click, co-citation):
    *
    *   score(a, b) = Σ_{z ∈ N(a) ∩ N(b)}  scale div deg(z)
    *
    * — the RA index (Zhou/Lü/Zhang 2009), the common-neighbor family's
    * strongest simple predictor, kept in EXACT integer arithmetic
    * (truncating div, Long sums) so it hash-checks across engines.
    *
    * `maxDeg` drops hub neighbors before the pair expansion: a z with
    * degree d emits d·(d−1)/2 candidate pairs, so the blowup is
    * quadratic in the hubs and the hubs are precisely the neighbors
    * whose per-pair contribution (scale/d) is smallest — the standard
    * LP cap. With it, total pair volume is ≤ |Z|·maxDeg²/2 regardless
    * of skew; without a cap one celebrity node at 100 TB plans a
    * near-cartesian shuffle. `minDeg` = 2 skips degree-1 neighbors that
    * can't witness any pair.
    *
    * 100 TB shape: one distinct + one partial-agg degree count, one hash
    * join of the capped postings with themselves on z (key-partitioned,
    * no broadcast of the big side), one partial-aggregated groupBy on
    * the (a, b) pair key. No window, no collect.
    */
  def linkPredictionRA(edges: DataFrame, leftCol: String, rightCol: String,
                       maxDeg: Long, minDeg: Long = 2L,
                       scale: Long = 1000000L): DataFrame = {
    require(maxDeg >= minDeg && minDeg >= 2L,
      s"need maxDeg >= minDeg >= 2, got [$minDeg, $maxDeg]")
    val e = edges
      .select(col(leftCol).cast("long").as("u"),
        col(rightCol).cast("long").as("z"))
      .distinct()
    val deg = e.groupBy("z").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= minDeg && col("deg") <= maxDeg)
    // Materialized once: the self-join consumes ez through two
    // projections, and neither static exchange reuse nor AQE stage reuse
    // deduplicates the sides at runtime (measured — an identical-
    // projection self-join variant still re-executed the upstream per
    // side: 30.3 s at 10×), so without the checkpoint the whole upstream
    // (edge scan + distinct + degree join) runs per side. The capped
    // postings table is ≤ |edges| narrow rows — the cheap side of that
    // trade at any scale (10×: 29.8 → 11.6 s; sf0.1 pays the ~0.5 s
    // materialization job).
    val ez = e.join(deg, "z").localCheckpoint(true)
    ez.select(col("z"), col("u").as("node_a"), col("deg"))
      .join(ez.select(col("z"), col("u").as("node_b")), Seq("z"))
      .where(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr(s"$scale div deg")).as("ra_score"))
  }

  /** Bounded-hop weighted shortest paths (Bellman–Ford relaxation,
    * `rounds` synchronous rounds): dist_{i+1}(v) = min(dist_i(v),
    * min_{(u,v,w)} dist_i(u) + w) from the seed set at distance 0 —
    * the weighted companion of [[bfsLevels]] (shortest path using at
    * most `rounds` edges; min is associative and order-free, so a SQL
    * engine replays the rounds exactly). Weights must be non-negative
    * Longs; unreached nodes are absent.
    *
    * 100 TB shape: per round ONE key-partitioned hash join (dists ⋈
    * edges on the source key) + one partial-aggregated groupBy(dst)
    * min + one merge groupBy — the Pregel relaxation superstep; each
    * round's dist table localCheckpoints so rounds never stack one
    * plan. No windows, no collect.
    */
  def ssspBounded(edges: DataFrame, srcCol: String, dstCol: String,
                  wCol: String, seeds: DataFrame, seedCol: String,
                  rounds: Int, edgesMinimal: Boolean = false): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
    // `edgesMinimal = true`: caller guarantees one minimum-weight row
    // per directed edge already (the gate query pre-aggregates min per
    // pair before orienting) — skip the defensive re-aggregate, saving
    // a full edge exchange; identical input by the guarantee. Either
    // way, partition by the per-round join key (`src`) before the
    // checkpoint so relaxation rounds never re-exchange the edge list.
    val e = (if (edgesMinimal) e0
      else e0.groupBy("src", "dst").agg(min(col("w")).as("w")))
      .localCheckpoint(true)
    var dist = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    // r12: broadcast the node-sized dist table while its counted size
    // stays bounded, so the per-round dists ⋈ edges join never
    // re-exchanges the EDGE table; the count is one tiny job on the
    // already-materialized checkpoint
    var nDist = dist.count()
    var i = 0
    while (i < rounds) {
      val relaxed = gatedBroadcast(dist, nDist)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min(col("dist")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      nDist = dist.count()
      i += 1
    }
    dist
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k —
    * the web-graph quality/spam filter (Kumar et al.) and the standard
    * "dense region" extractor. Iterative SYNCHRONOUS peeling: each
    * round drops every node whose current degree is below k, then
    * re-filters edges to surviving endpoints; the fixpoint is the
    * k-core regardless of removal order (peeling is monotone and
    * confluent), which is what lets a SQL engine replay it with
    * unrolled rounds — extra rounds past the fixpoint are no-ops.
    *
    * `edges` must carry each undirected edge in BOTH directions (the
    * convention of the other graph operators here). Returns
    * (`node`, `core_deg`) for the surviving nodes with their degree
    * inside the core.
    *
    * 100 TB shape: per round ONE partial-aggregated groupBy(src) for
    * degrees and one semi-shaped hash join per endpoint to re-filter —
    * all key-partitioned, no windows, no collect; each round's edge
    * set localCheckpoints so rounds never stack one plan. Convergence
    * is node-count based: peeling only shrinks the node set, so an
    * unchanged count IS the fixpoint.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 50,
            edgesDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // src-partitioned before the checkpoint (and re-established by
    // ending each round on the src-keyed semi join) so the per-round
    // degree groupBy(src) needs NO exchange; `edgesDistinct` as in
    // pageRankFixedPoint.
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    var cur = (if (edgesDistinct) e0 else e0.distinct())
      .localCheckpoint(true)
    var prevNodes = -1L
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val keep = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("src").as("node"))
        .localCheckpoint(true)
      val n = keep.count()
      if (n == prevNodes) converged = true
      else {
        prevNodes = n
        // r12: `keep` is node-sized and already counted — broadcast both
        // semi joins while n is bounded, so the surviving edge set is
        // filtered in one streaming pass instead of two SortMergeJoin
        // semi joins that each re-exchange + re-sort the edge table
        val keepB = gatedBroadcast(keep, n)
        cur = cur
          .join(keepB.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .join(keepB.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .localCheckpoint(true)
        rounds += 1
      }
    }
    require(converged, s"kCore: no fixpoint within $maxRounds rounds")
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** FULL coreness decomposition — every node's core number (the
    * largest k whose k-core contains it), where [[kCore]] fixes one k.
    * Computed by the iterated neighbor h-index (Lü, Zhou, Zhang,
    * Stanley, PNAS 2016): c₀(v) = deg(v),
    * cᵢ₊₁(v) = H({cᵢ(u) : u ∈ N(v)}) with H the h-index (the largest
    * h such that ≥ h neighbors carry value ≥ h); the sequence is
    * pointwise non-increasing and converges to coreness in finitely
    * many rounds — no sequential peel, so the whole decomposition is
    * synchronous supersteps instead of maxCore nested loops.
    *
    * Returns (`node`, `coreness`) for every distinct endpoint.
    *
    * 100 TB shape (histogram rounds since round 12): H({vᵤ}) is
    * computed from the VALUE HISTOGRAM — groupBy(dst, v).count whose
    * map-side combine collapses repeated neighbor values BEFORE the
    * shuffle, then a per-dst cumulative count over the few distinct
    * values. The pre-r12 form instead ranked each destination's full
    * neighbor list per round (`row_number` over partitionBy(dst)),
    * shuffling |E| rows per round and sorting whole neighbor lists;
    * the histogram form shuffles |distinct (dst,v)| rows, which
    * contracts sharply as values converge (r12 A/B at 10×, fresh-JVM
    * 3+ samples: ranked 17.0/18.6/19.3 s → histogram+broadcast
    * 11.5–13.3 s; the two fixes measured together). Hot destinations
    * (static degree ≥ `hotDegree`, broadcast semi/anti split) take the
    * CAPPED histogram: capping neighbor values at the node's own
    * current value c is lossless (for any h ≤ c, x ≥ h ⟺ min(x,c) ≥ h,
    * and H ≤ c by the monotone theorem), bounding the per-dst window
    * input at cap+1 rows even when a 10⁸-degree hub's neighbors carry
    * that many DISTINCT values. Both paths are exact (same identity,
    * below), so the routing never changes results. The per-round vals
    * join is broadcast-hinted while the current vals table is within
    * [[BroadcastMaxNodes]]: unhinted, it planned as SortMergeJoin
    * re-exchanging and re-sorting ALL edges every round — the measured
    * dominant cost. The size is re-counted every round (in the job that
    * sums the values), because on a directed edge list destination-only
    * nodes join vals after round 0.
    * No collect (the hot SET is node-metadata and stays distributed;
    * only its emptiness is checked), no global sort; each round's
    * value table localCheckpoints so rounds never stack one plan.
    * Convergence is Σvalue-based: values only decrease, so an
    * unchanged sum IS the pointwise fixpoint.
    * Checkpoint cadence re-measured (r12, fresh-JVM 10×, 3 samples):
    * stacking TWO rounds per materialization (probe every 2) read
    * 16.0/16.6/18.0 s vs 15.7/16.6/16.6 s for the per-round form —
    * flat-to-worse, the same serialized-stage-scheduling effect the
    * pagerank stacking experiment measured, so the cadence stays 1.
    *
    * Delta rounds (the `plans/r12/coreness_delta_spec.md` variant:
    * recompute only nodes with a changed in-neighbor, carry the rest)
    * were IMPLEMENTED AND REVERTED in r12 after measurement: even with
    * the sharp affected set (v recomputes only when a changed neighbor
    * CROSSED v's current value — nv(u) < c(v) ≤ ov(u); drops entirely
    * above or below c(v) provably cannot move H), 10× fresh-JVM A/Bs
    * read 20.7/21.0/18.8 s (naive affected) and 16.9/18.4/19.0 s
    * (sharp, on top of the histogram rounds) vs 11.5–13.3 s without —
    * on this bipartite fixture the changed set is the HIGH-DEGREE side
    * (suppliers), so "edges incident to affected" stays ≈ |E| while
    * the extra per-round jobs (affected-set materialization, carry
    * anti-join, changed diff) serialize scheduling, the same failure
    * mode as the r11 superstep-stacking revert. The spec file records
    * the analysis for a future skew-shaped dataset. `roundProbe` is a
    * test-only hook (round index, that round's checkpointed value
    * table) letting specs pin per-round equality of the histogram
    * rounds against a ranked replay; the default is a no-op and costs
    * nothing.
    *
    * Histogram h-index identity (proof): H = max{h : |{x ≥ h}| ≥ h}.
    * For each distinct value d with cum(d) = |{x ≥ d}|, take
    * f(d) = min(d, cum(d)). If d ≤ H then f(d) ≤ H; if d > H then
    * cum(d) ≤ H so f(d) ≤ H; and the smallest distinct d* ≥ H has
    * cum(d*) = cum(H) ≥ H, f(d*) ≥ H. Hence max_d f(d) = H exactly —
    * bit-identical to the ranked form, so the unrolled oracle replays
    * unchanged.
    *
    * Bit-portable: every step is integer (degrees, counts, mins) — the
    * oracle replays the identical rounds; extra rounds past the
    * fixpoint are no-ops, so a fixed unroll ≥ the measured depth
    * replays exactly. `oracleUnroll` pins that contract: pass the
    * oracle's unroll depth and the measured convergence is asserted
    * against it, so a dataset needing more rounds fails LOUDLY here
    * instead of surfacing as an opaque hash mismatch (at scales DuckDB
    * cannot replay, the independent exact checker is
    * `tools/core_check.py`, a Batagelj–Zaversnik peel).
    */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
               maxRounds: Int = 50,
               oracleUnroll: Option[Int] = None,
               hotDegree: Long = 20000000L,
               edgesDistinct: Boolean = false,
               roundProbe: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    // src-partitioned before the checkpoint: every round joins the value
    // table on `src`, and a (src,dst)-partitioned edge list would
    // re-exchange ALL edges per round; `edgesDistinct` as in
    // pageRankFixedPoint.
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val e = (if (edgesDistinct) e0 else e0.distinct())
      .localCheckpoint(true)
    var vals = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("v"))
      .localCheckpoint(true)
    // hot destinations from STATIC degree (= the initial values): the
    // set is node-metadata-sized (usually empty) and broadcast per
    // round; only its emptiness is checked driver-side
    val hot = vals.where(col("v") >= hotDegree)
      .select(col("node").as("dst")).localCheckpoint(true)
    val hasHot = hot.limit(1).count() > 0
    // current size of vals, gating its per-round broadcast
    var nVals = vals.count()
    var rounds = 0
    var converged = false
    val wHist = org.apache.spark.sql.expressions.Window
      .partitionBy("dst").orderBy(col("cv").desc)
    // histogram h-index: distinct-value counts (map-side combine
    // collapses repeated neighbor values BEFORE the shuffle — the
    // shuffled histogram is |distinct (dst, v)| rows, far fewer than
    // edges once values contract toward the fixpoint), cum count desc,
    // H = max min(d, cum) (identity proof in the scaladoc); per-key
    // window input is the number of DISTINCT neighbor values (≤ degree)
    val wVal = org.apache.spark.sql.expressions.Window
      .partitionBy("dst").orderBy(col("v").desc)
    def hist(j1: DataFrame): DataFrame = j1
      .groupBy("dst", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wVal))
      .groupBy(col("dst").as("node"))
      .agg(max(least(col("v"), col("cum"))).as("v"))
    // capped-histogram h-index for hot destinations: as `hist` but
    // capped at the node's own current value (lossless, see scaladoc),
    // bounding the per-key window input at cap+1 rows even when a hub's
    // neighbors carry that many DISTINCT values
    def capped(j1: DataFrame, cur: DataFrame): DataFrame = j1
      .groupBy("dst", "v").agg(count(lit(1)).as("cnt"))
      .join(gatedBroadcast(
        cur.select(col("node").as("dst"), col("v").as("cap")), nVals), "dst")
      .groupBy(col("dst"), least(col("v"), col("cap")).as("cv"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wHist))
      .groupBy(col("dst").as("node"))
      .agg(max(least(col("cv"), col("cum"))).as("v"))
    var prevSum = -1L
    while (!converged && rounds < maxRounds) {
      val j1 = e.join(
          gatedBroadcast(vals.withColumnRenamed("node", "src"), nVals),
          "src")
        .select(col("dst"), col("v"))
      val nextPlan = if (!hasHot) hist(j1)
        else
          hist(j1.join(broadcast(hot), Seq("dst"), "left_anti"))
            .unionByName(
              capped(j1.join(broadcast(hot), Seq("dst"), "left_semi"), vals))
      val next = nextPlan.localCheckpoint(true)
      roundProbe(rounds + 1, next)
      val r = next.agg(sum(col("v")), count(lit(1))).head()
      val s = r.getLong(0)
      if (s == prevSum) converged = true
      else { prevSum = s; vals = next; nVals = r.getLong(1); rounds += 1 }
    }
    require(converged, s"coreness: no fixpoint within $maxRounds rounds")
    oracleUnroll.foreach { r =>
      require(rounds <= r,
        s"coreness converged in $rounds rounds > the oracle's $r-round " +
          s"unroll — regenerate corenessOracle($rounds) (or use " +
          s"tools/core_check.py at scales DuckDB cannot replay)")
    }
    vals.select(col("node"), col("v").as("coreness"))
  }
}
