package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SqlFragments.closureCtes

/** Entity-resolution entries over the erRecords fixture: blocked
  * matching, clustering and survivorship.
  */
object EntityResolutionQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    // Entity resolution, stage 1 — blocked fuzzy match: the customer
    // registry plus deterministically corrupted re-entries (last char
    // dropped / appended / first char replaced, one per %4∈{1,2,3} row),
    // blocked on the 8-digit name core the corruptions never touch,
    // verified at edit distance ≤ 2 (length prefilter before the O(len²)
    // loop). Σ|block|² pairs, never n².
    entry("er_match", (spark, dir) =>
      // maxBlock = 100: the standard ER non-informative-block guard
      // (same rationale as graph_triangles) — organic-scale blocks are
      // <= ~20 so sf0.001/0.01/0.1 output is unchanged; the replicated
      // 10x fixture's ~175-copy name blocks would otherwise emit tens
      // of millions of signal-free pairs (21.9M measured) and OOM the
      // closure oracle downstream
      graft.functions.EntityResolution.blockedPairs(
        erRecords(spark, dir), "id", "name",
        expr("substring(name, 10, 8)"), maxEdits = 2, maxBlock = 100L),
      s"""
        |WITH $erRecsCtes,
        |b AS (SELECT substring(name, 10, 8) AS blk, id, name FROM recs),
        |keep AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 100),
        |bk AS (SELECT b.* FROM b JOIN keep USING (blk))
        |SELECT a.id AS id_a, bb.id AS id_b,
        |  CAST(levenshtein(a.name, bb.name) AS INTEGER) AS edit_dist
        |FROM bk a JOIN bk bb ON a.blk = bb.blk AND a.id < bb.id
        |WHERE abs(length(a.name) - length(bb.name)) <= 2
        |  AND levenshtein(a.name, bb.name) <= 2""".stripMargin),

    // Entity resolution, stages 2-3 — cluster + survivorship: match
    // pairs → connected components (entity_id = min member id) → ONE
    // max(struct) survivor election per entity (highest acctbal, ties to
    // the lower id; corrupted re-entries rank below every clean row).
    // Oracle: recursive closure over the emitted er_match pairs + the
    // same struct-max election.
    entry("er_resolve", (spark, dir) =>
      graft.functions.EntityResolution.resolve(
        erRecords(spark, dir), "id", "name",
        expr("substring(name, 10, 8)"), maxEdits = 2,
        rankCol = "acctbal", maxBlock = 100L),
      erResolveOracle),

    // Incremental ER: the dirty re-entries arrive as a BATCH against the
    // already-resolved clean registry — batch-touching pairs only, the
    // component loop runs over the contracted graph (∝ batch), then
    // survivorship re-elects. Labels are provably identical to the
    // from-scratch resolve, so this entry shares er_resolve's oracle.
    entry("er_resolve_incremental", (spark, dir) => {
      val recs = erRecords(spark, dir)
      graft.functions.EntityResolution.resolveIncremental(
        recs.where(col("id") < 1000000L),
        recs.where(col("id") >= 1000000L),
        "id", "name", expr("substring(name, 10, 8)"), maxEdits = 2,
        rankCol = "acctbal", maxBlock = 100L)
    },
      // closure over the emitted er_match pairs (the same contract as
      // dedup_components' oracle) + the identical struct-max survivor
      // election; field order (r, nid, nm) matches the engine's struct so
      // lexicographic comparison agrees, and nid = −id is unique so the
      // string field never decides
      // identical oracle: the incremental merge's labels provably equal
      // the from-scratch resolve's
      erResolveOracle))

  /** The entity-resolution fixture: the clean customer registry plus one
    * deterministically corrupted re-entry per %4∈{1,2,3} row (dirty id =
    * clean id + 1 000 000; last char dropped / 'x' appended / first char
    * replaced — none touch the 8-digit blocking core at name[10..17]).
    * Dirty rows rank 1 000 000 below their clean source so survivorship
    * always elects a clean record.
    */
  private[queries] def erRecords(spark: SparkSession, dir: String): DataFrame = {
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

  /** The erRecords fixture in DuckDB — shared by both ER oracles. */
  private[queries] val erRecsCtes: String =
    """dirty AS (SELECT c_custkey + 1000000 AS id,
      |    CASE WHEN c_custkey % 4 = 1 THEN substring(c_name, 1, length(c_name) - 1)
      |         WHEN c_custkey % 4 = 2 THEN c_name || 'x'
      |         ELSE 'X' || substring(c_name, 2) END AS name,
      |    c_acctbal - 1000000.0 AS acctbal
      |  FROM customer WHERE c_custkey % 4 <> 0),
      |recs AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
      |    c_acctbal AS acctbal FROM customer
      |  UNION ALL SELECT id, name, acctbal FROM dirty)""".stripMargin

  /** Closure over the emitted er_match pairs (the same contract as
    * dedup_components' oracle) + the identical struct-max survivor
    * election; field order (r, nid, nm) matches the engine's struct so
    * lexicographic comparison agrees, and nid = −id is unique so the
    * string field never decides. Shared by er_resolve and its
    * incremental twin (labels provably identical).
    */
  private lazy val erResolveOracle: String = s"""
        |WITH RECURSIVE ${closureCtes("er_match")}
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
}
