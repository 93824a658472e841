package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step of a near-dup pipeline: verified dup PAIRS (minhash / simhash /
  * embedding) become per-doc canonical-representative assignments
  * (component label = MIN member id, so the labeling is deterministic
  * and oracle-checkable).
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard shuffle-friendly CC for data that doesn't fit one machine:
  *
  *  - large-star: every node u connects its LARGER neighbors to the
  *    minimum of its neighborhood (incl. itself);
  *  - small-star: every node u connects its SMALLER-OR-EQUAL neighbors
  *    (and itself) to the minimum of its neighborhood.
  *
  * Both rounds preserve connectivity, never increase the edge count
  * beyond O(m), and the alternation converges to per-component stars
  * rooted at the minimum id in O(log² n) rounds (typically ≤ 5 on
  * dedup graphs, whose components are short-diameter clumps).
  *
  * 100 TB design: NO collect_list of neighborhoods — each round is a
  * `groupBy(u).min(v)` (partial-agg friendly, O(1) buffer per node)
  * plus one hash join of the edge list back to the per-node minimum,
  * i.e. two key-partitioned shuffles per round regardless of degree
  * skew (a 10⁷-degree hub never materializes its neighbor list in one
  * buffer). Each iteration persists its edge set and unpersists the
  * previous one; lineage is truncated per round via localCheckpoint on
  * the persisted plan, so 20 rounds don't stack 20 shuffle stages into
  * one plan. Convergence is detected with an order-independent
  * (count, xxhash64-sum) fingerprint — one tiny action per round, no
  * driver-side edge materialization.
  */
object Components {

  /** Edge count at or below which [[connectedComponents]] skips the
    * iterative star loop and labels the whole graph with ONE global
    * [[graft.plans.UnionFindPairs]] aggregation (map-side partial
    * union-find per partition, one merge task). The final buffer holds
    * ≤ 2·edges nodes — at the default 4M edges that is ≤ 8M LongMap
    * entries ≈ 256 MB on one task, squarely inside a normal executor's
    * execution memory — and replaces O(log n) loop rounds, each costing
    * ~6 edge-sized exchanges plus a checkpoint and a fingerprint job.
    * The dedup/ER pair graphs this engine builds are EDGE-SPARSE by
    * construction (bucket caps, block caps, verified pairs only), so at
    * 100 TB corpus scale the pair graph is still typically under this
    * bound; a genuinely larger graph takes the loop unchanged. Override
    * with system property `graft.cc.localMax` (negative disables the
    * cutover — ComponentsSpec uses that to pin the two paths equal).
    */
  private def localUnionFindMax: Long =
    sys.props.get("graft.cc.localMax").map(_.toLong).getOrElse(4000000L)

  /** Per-node component assignment for the undirected graph given by
    * `pairs(srcCol, dstCol)`: returns (`node`, `component`) with
    * `component` = min node id of the component, one row per distinct
    * node appearing in `pairs`. Isolated nodes (absent from `pairs`)
    * are their own components — callers left-join and coalesce.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    // eager localCheckpoint both materializes the round and truncates
    // lineage; superseded rounds' blocks are released by the context
    // cleaner once the previous DataFrame goes out of scope
    var edges = pairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var fp = fingerprint(edges)
    // small-graph cutover: the first fingerprint already counted the
    // edges — below the bound, ONE mergeable union-find aggregation
    // (identical min-member-id labels, pinned by ComponentsSpec)
    // replaces the whole loop and its per-round actions
    if (fp._1 <= localUnionFindMax)
      return edges
        .agg(graft.plans.UnionFindPairs.unionFind(col("u"), col("v"))
          .as("__uf"))
        .select(explode(col("__uf")).as("__e"))
        .select(col("__e.node").as("node"),
          col("__e.component").as("component"))
    var iter = 0
    var converged = fp._1 == 0L
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      edges = next
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    // fixed point: edges are (member, root) stars with root = component
    // min. Roots themselves appear only on the right side — add their
    // self-assignments.
    val members = edges.select(col("u").as("node"), col("v").as("component"))
    val roots = edges.select(col("v").as("node"), col("v").as("component"))
      .distinct()
    members.unionByName(roots).distinct()
  }

  /** Connected components for BLOCK-CONFINED graphs — every edge's
    * endpoints share the `blockCol` value (one blocking key per record,
    * as in [[EntityResolution.blockedPairs]]), so components never span
    * blocks and the whole labeling needs ONE shuffle: a per-block
    * union-find aggregate ([[graft.plans.UnionFindPairs]], partial-agg
    * mergeable) instead of the iterative star loop's 4 shuffles + 2
    * checkpoints per round. Same output contract as
    * [[connectedComponents]] (component = min member id, one row per
    * node in `pairs`) — pinned equal by ComponentsSpec.
    *
    * 100 TB shape: the aggregation buffer is O(nodes in block) — use
    * ONLY when blocks are bounded (a `maxBlock`-capped blocking key, a
    * capped LSH bucket). Unbounded blocks belong to the iterative loop.
    */
  def blockLocalComponents(pairs: DataFrame, srcCol: String,
                           dstCol: String, blockCol: String): DataFrame =
    pairs.groupBy(col(blockCol))
      .agg(graft.plans.UnionFindPairs.unionFind(
        col(srcCol).cast("long"), col(dstCol).cast("long")).as("__uf"))
      .select(explode(col("__uf")).as("__e"))
      .select(col("__e.node").as("node"), col("__e.component").as("component"))

  /** INCREMENTAL component merge — fold a batch of NEW edges into
    * existing labels without re-running the loop over the original edge
    * set (the missing incremental path once every index had one):
    *
    *  1. contract each new edge's endpoints to their existing component
    *     labels (unlabeled endpoints stand for themselves) — connected
    *     subgraphs collapse to single quotient nodes, so connectivity
    *     over (old ∪ new) edges is exactly connectivity of the
    *     contracted multigraph;
    *  2. run [[connectedComponents]] over ONLY the contracted edges —
    *     a graph whose size is ∝ the new batch, not the corpus;
    *  3. relabel: existing labels whose component merged follow it to
    *     the new minimum; new nodes take their computed label; every
    *     untouched component passes through the join unchanged and
    *     never enters the loop.
    *
    * Because labels are component MINIMA, the contracted minimum equals
    * the global minimum of the merged node set — the result is
    * IDENTICAL to a from-scratch [[connectedComponents]] over the union
    * of all edges (pinned by ComponentsSpec on random graphs), emitted
    * for labeled-nodes ∪ new-edge endpoints.
    *
    * 100 TB shape: the iterative loop touches O(|batch|) contracted
    * edges; the corpus-sized work is two narrow hash joins against the
    * (node, component) table — one to contract, one to relabel.
    */
  def mergeComponents(labels0: DataFrame, newPairs: DataFrame,
                      srcCol: String, dstCol: String): DataFrame = {
    // materialize both inputs ONCE: `labels` is consumed four times
    // below (two contraction sides, the relabel join, the new-node
    // anti-join) and `e` three times — without the checkpoint each
    // consumer re-executes the caller's whole upstream subtree (the
    // blocked self-join / LSH pipeline that produced the pairs), which
    // measured as a 1,153-operator / 240-Exchange final plan on
    // er_resolve_incremental. Both tables are the operator's own size
    // class (labels = node-count rows, e = batch pairs), so the
    // materialization is strictly smaller than ONE of the recomputes.
    val labels = labels0.localCheckpoint(true)
    val e = newPairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .localCheckpoint(true)
    val lu = labels.select(col("node").as("u"), col("component").as("cu"))
    val lv = labels.select(col("node").as("v"), col("component").as("cv"))
    val contracted = e
      .join(lu, Seq("u"), "left").join(lv, Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("qa"),
        coalesce(col("cv"), col("v")).as("qb"))
    // quotient-graph components: node values here are old component
    // labels and brand-new node ids. Checkpointed — `merged` feeds both
    // relabel joins below, and its plan (the contracted CC) must run
    // once, not twice.
    val mergedRaw = connectedComponents(contracted, "qa", "qb")
    val merged = mergedRaw.select(mergedRaw.col("node").as("component"),
      mergedRaw.col("component").as("merged"))
      .localCheckpoint(true)
    val relabeledOld = labels.join(merged, Seq("component"), "left")
      .select(col("node"),
        coalesce(col("merged"), col("component")).as("component"))
    // new-edge endpoints absent from labels: their label is their own
    // (possibly merged) quotient assignment
    val newNodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .distinct()
      .join(labels.select(col("node")), Seq("node"), "left_anti")
    val labeledNew = newNodes
      .join(merged.withColumnRenamed("component", "node"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("merged"), col("node")).as("component"))
    relabeledOld.unionByName(labeledNew)
  }

  /** Large-star round: for every node u (over the SYMMETRIZED edge list)
    * with neighborhood minimum m = min(Γ(u) ∪ {u}), emit (v, m) for each
    * strictly-larger neighbor v > u. Smaller neighbors are handled from
    * their own perspective in the symmetric orientation.
    */
  private[functions] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.where(col("v") > col("u"))
      .join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: orient every edge toward the smaller endpoint,
    * then for every node u with smaller-neighbor minimum m emit (v, m)
    * for each neighbor v ≠ m plus (u, m) itself.
    */
  private[functions] def smallStar(e: DataFrame): DataFrame = {
    val oriented = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val reattached = oriented.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val selfEdges = mins.select(col("u"), col("m").as("v"))
    reattached.unionByName(selfEdges).distinct()
  }

  /** Order-independent edge-set fingerprint: (count, XOR of
    * xxhash64(u, v)) — overflow-free under ANSI mode. Two equal sets
    * fingerprint equally; a false match would need the symmetric
    * difference's 64-bit hashes to XOR to zero at equal cardinality —
    * the standard negligible-risk convergence check (and a round late
    * is only a wasted round, never a wrong result: the fixed point is
    * stable under further rounds).
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
