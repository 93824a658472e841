package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EntityResolutionQueries.{erRecords, erRecsCtes}

/** Graph entries: components, k-core, coreness, PageRank and friends,
  * each replayed in DuckDB by unrolled fixed-point iterations.
  */
object GraphQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    // Fixed-point PageRank over the customer↔supplier purchase graph
    // (distinct orders⋈lineitem pairs, emitted both directions): 5
    // power iterations with EVERY step in Long arithmetic — `div`
    // truncation and order-independent integer sums make the ranks
    // bit-portable, so the oracle unrolls the identical recurrence in
    // SQL and the hash check covers all 5 supersteps. Each iteration is
    // one hash join + one partial-agg groupBy(dst); top-20 by
    // (rank desc, node) is a TakeOrderedAndProject.
    entry("graph_pagerank", (spark, dir) => {
      val pairs = custSuppPairs(spark, dir)
      val edges = bothWays(pairs)
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
    },
      pagerankOracle(5)),

    // Bounded-hop WEIGHTED shortest paths over the customer–supplier
    // graph (edge weight = min order quantity on the relationship):
    // 4 Bellman–Ford relaxation rounds from the 20 highest-degree
    // customers — the weighted companion of graph_bfs; min is
    // order-free so the oracle unrolls the identical rounds.
    entry("graph_sssp", (spark, dir) => {
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
    },
      // 4 unrolled relaxation rounds (min is confluent; MATERIALIZED for
      // the same multi-reference reason as the k-core replay)
      {
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
    }),

    // k-core over the same customer–supplier bipartite graph: the
    // maximal subgraph where every node keeps ≥ 10 neighbors — the
    // web-graph dense-region/quality filter. Synchronous peeling to
    // the fixpoint; peeling is confluent, so the oracle replays it
    // with unrolled rounds (no-ops past the fixpoint — measured 1–2
    // rounds at the fixture SFs, replayed with 12).
    entry("graph_kcore", (spark, dir) => {
      val pairs = custSuppPairs(spark, dir)
      val edges = bothWays(pairs)
      // edgesDistinct: distinct pairs, disjoint orientations (pagerank note)
      graft.functions.Graph.kCore(edges, "src", "dst", k = 10,
          edgesDistinct = true)
        .select(col("node"), col("core_deg"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    },
      kcoreOracle(10, 12)),

    // FULL coreness decomposition over the same bipartite graph —
    // every node's core number in one pass of synchronous h-index
    // supersteps (Lü et al. PNAS 2016: iterate "my value = h-index of
    // my neighbors' values" from the degree; converges to coreness),
    // where graph_kcore answers one fixed k. All-integer rounds, so
    // the oracle unrolls the identical iteration; rounds past the
    // fixpoint are no-ops.
    entry("graph_coreness", (spark, dir) => {
      val pairs = custSuppPairs(spark, dir)
      val edges = bothWays(pairs)
      // edgesDistinct: distinct pairs, disjoint orientations (pagerank note)
      graft.functions.Graph.coreness(edges, "src", "dst",
          oracleUnroll = Some(24), edgesDistinct = true)
        .select(col("node"), col("coreness"),
          when(col("node") >= 10000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
    },
      corenessOracle(24)),

    // Multi-source BFS blast radius over the same customer–supplier
    // bipartite graph as graph_pagerank: hop distance (≤ 4) from the
    // 20 highest-degree customers. Frontier-only expansion — each node
    // is expanded once, total join work ≤ |E| across all rounds; the
    // hop-bounded min-distance set is order-invariant so the recursive
    // CTE (UNION-deduped per level) replays it exactly.
    entry("graph_bfs", (spark, dir) => {
      val pairs = custSuppPairs(spark, dir)
      val edges = bothWays(pairs)
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
    },
      // recursive CTE, UNION-deduped per (node, dist) level, min over
      // dists — the order-invariant replay of the frontier expansion
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
        |FROM r GROUP BY node""".stripMargin),

    // Resource-Allocation link prediction over the customer–part
    // co-purchase bipartite graph: which customer pairs share the most
    // (rarest) parts. Integer-exact RA scores; hub parts (deg > 30) are
    // capped out BEFORE the pair expansion so the candidate volume is
    // ≤ |parts|·30²/2 no matter how skewed the catalog — the top-100
    // ranking rides TakeOrderedAndProject, never a global sort.
    entry("graph_linkpred", (spark, dir) => {
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
    },
      // RA replay: same degree window, capped postings self-join, integer
      // truncating division, (score desc, a, b) top-100
      """WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS z
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |d AS (SELECT z, count(*) AS deg FROM e GROUP BY z
        |  HAVING count(*) BETWEEN 2 AND 30)
        |SELECT a.u AS node_a, b.u AS node_b, count(*) AS n_common,
        |  CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_score
        |FROM e a JOIN d ON a.z = d.z JOIN e b ON b.z = d.z
        |WHERE a.u < b.u
        |GROUP BY 1, 2
        |ORDER BY ra_score DESC, node_a, node_b LIMIT 100""".stripMargin),

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
    entry("graph_triangles", (spark, dir) =>
      graft.functions.Graph.triangleCounts(
        graft.functions.EntityResolution.blockedPairs(
          erRecords(spark, dir), "id", "name",
          expr("substring(name, 10, 8)"), maxEdits = 2, maxBlock = 100L),
        "id_a", "id_b"),
      // id-ordered orientation (the triangle set is orientation-invariant)
      // over the emitted er_match pairs
      // self-contained replay: capped blocked pairs (levenshtein ≤ 2,
      // block size ≤ 100) then the id-ordered triangle closure
      s"""
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
        |SELECT node, count(*) AS n_triangles FROM n GROUP BY node""".stripMargin))

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

  /** DuckDB replay of the fixed-point PageRank: the same integer
    * recurrence unrolled — one chained CTE per superstep (SQL's
    * recursive CTEs forbid aggregation in the recursive term, so the
    * loop unrolls). `//` on non-negative BIGINTs matches Spark's `div`
    * truncation; DuckDB's HUGEINT sums collapse back through the final
    * BIGINT cast to the same values.
    */
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

  /** The customer–supplier bipartite graph: distinct (customer `c`,
    * supplier `s` + 10⁷) pairs of orders ⋈ lineitem.
    */
  private def custSuppPairs(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        (col("l_suppkey").cast("long") + 10000000L).as("s"))
      .distinct()
  }

  /** `pairs` as directed (src, dst) edges in both orientations. */
  private def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
}
