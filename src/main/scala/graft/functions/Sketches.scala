package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches built entirely from
  * codegen'd column expressions — no custom aggregation buffers, no
  * driver state — so they partial-aggregate map-side and merge across
  * any partitioning.
  *
  * Unlike Spark's own `approx_count_distinct` (whose HLL++ register
  * values are engine-internal and thus only rows-checkable by the
  * gate), both sketches here are BIT-PORTABLE by construction: every
  * hash is an md5 prefix, every register update is an integer max/min,
  * and the one floating-point step (the HLL harmonic estimate) is a
  * literal-constant product divided once by an exact integer — any
  * IEEE engine replays them hash-for-hash. That is the property that
  * matters at 100 TB: a sketch computed by this engine, a DuckDB
  * auditor, and next year's rebuild all agree exactly, so sketch
  * tables can be persisted, merged across days, and diffed.
  *
  * Reference behavior: the reference tap delegates DISTINCT estimation
  * to PostgreSQL (`count(DISTINCT …)`); these operators are the
  * sub-linear replacements a 100 TB corpus needs.
  */
object Sketches {

  /** HLL geometry: m = 2^p registers. p=6 keeps the register table a
    * metadata-sized 64 rows/group while giving ~13% standard error —
    * the audit-dashboard operating point; raise p for tighter bounds.
    */
  val HllP = 6

  /** 60-bit md5-prefix hash (15 hex chars — stays positive in a Long,
    * identical to DuckDB's `('0x' || substring(md5(v),1,15))::BIGINT`).
    */
  private[graft] def hash60(v: Column): Column =
    conv(substring(md5(v.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Flajolet bias constant for m = 2^p registers (exact published
    * values for the small m; the asymptotic form above m = 64).
    */
  def hllAlpha(m: Long): Double = m match {
    case 16L => 0.673
    case 32L => 0.697
    case 64L => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m.toDouble)
  }

  /** Register bucket of a precomputed [[hash60]] column. */
  private[graft] def hllBucketFromH(h: Column, p: Int = HllP): Column =
    pmod(h, lit(1L << p)).cast("int")

  /** Register rank of a precomputed [[hash60]] column: trailing-zero
    * count of the post-bucket bits, + 1 (capped at 61 − p when the
    * remaining bits are all zero). Pure column composition, so it
    * drops into streaming aggregations unchanged.
    */
  private[graft] def hllRhoFromH(h: Column, p: Int = HllP): Column = {
    val w = shiftright(h, p)
    when(w === 0L, lit(61 - p))
      .otherwise(bit_count(w.bitwiseAND(lit(0L) - w) - lit(1L))
        .cast("int") + lit(1))
  }

  /** HLL register table: one row per (group, bucket) with the max rank
    * (rho = trailing-zero count of the post-bucket hash bits, + 1).
    *
    * ONE partial-aggregated groupBy over the raw rows — duplicates
    * never shuffle (max() absorbs them map-side), which is the whole
    * point of HLL vs `count(DISTINCT)`: the exact form must shuffle
    * every distinct value; this shuffles at most groups × 64 rows.
    * Registers are mergeable by max, so per-day register tables union
    * into per-month cardinalities without re-touching raw data.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
                   valueCol: Column, p: Int = HllP): DataFrame =
    df.select(groupCols.map(col) :+ hash60(valueCol).as("__h"): _*)
      .groupBy(groupCols.map(col) :+
        hllBucketFromH(col("__h"), p).as("bucket"): _*)
      .agg(max(hllRhoFromH(col("__h"), p)).cast("int").as("register"))

  /** Harmonic HLL estimate from a register table: exact integer
    * `sum_scaled = Σ_buckets 2^(55 − register)` (absent buckets count
    * as register 0 → 2^55 each), then ONE IEEE division for the raw
    * estimate. `alpha_64 = 0.709` (Flajolet et al. 2007, m = 64).
    *
    * Emits `sum_scaled` / `zero_buckets` as exact integers alongside
    * the estimate so the gate hash-checks the full sketch state, not
    * just the headline number.
    *
    * Valid range (ADVICE r8): this is the RAW harmonic estimator with
    * no small-range correction, so `hll_est` is heavily biased below
    * n ≈ 2.5·m (≈ 160 at m = 64). Callers in that regime should apply
    * linear counting from the emitted state instead:
    * `m · ln(m / zero_buckets)` when `zero_buckets > 0` — the natural
    * log is deliberately NOT computed here because libm `log` is not
    * bit-portable across engines and would break the cross-engine hash
    * gate; consumers outside the gate can apply it freely. (The
    * rationale was previously only in SketchesSpec — a caller of
    * `hll_est` alone gets biased small-n numbers without this note.)
    */
  def hllEstimate(registers: DataFrame,
                  groupCols: Seq[String], p: Int = HllP): DataFrame = {
    val m = 1L << p
    val maxReg = 61 - p
    val twoPowMax = 1L << maxReg
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        (sum(expr(s"shiftleft(1L, $maxReg - register)")) +
          (lit(m) - count(lit(1))) * twoPowMax).as("sum_scaled"),
        (lit(m) - count(lit(1))).as("zero_buckets"))
      .withColumn("hll_est",
        lit(hllAlpha(m)) * lit(m.toDouble * m.toDouble) *
          lit(twoPowMax.toDouble) / col("sum_scaled").cast("double"))
  }

  /** Count-min geometry: `CmDepth` independent hash rows × `CmWidth`
    * counters — 1024 Long cells total, mergeable by cell-wise sum.
    */
  val CmDepth = 4
  val CmWidth = 256

  /** md5 digest of a term, shared by all `CmDepth` hash rows: md5 is
    * 128 bits = 32 hex chars and depth is 4, so each row slices its own
    * disjoint 8-hex-char (32-bit) lane from ONE digest — a quarter of
    * the per-row hash cost of the former salted-per-row md5, with
    * identical portability (DuckDB replays `substring(md5(v), 1+8j, 8)`
    * the same way).
    */
  private[graft] def cmHash(term: Column): Column =
    md5(term.cast("string").cast("binary"))

  /** Column index under hash row `j` of a precomputed [[cmHash]]:
    * lane j's 32-bit hex slice mod width (non-negative — conv of 8 hex
    * chars stays below 2^32).
    */
  private[graft] def cmLane(h: Column, j: Int,
                            width: Int = CmWidth): Column =
    (conv(substring(h, 1 + 8 * j, 8), 16, 10).cast("long") % width)
      .cast("int")

  /** Build a count-min sketch over one string column: one md5 per item
    * (lane-sliced across the depth rows), one explode + ONE
    * partial-aggregated groupBy — the shuffle carries at most
    * depth × width = 1024 combined rows per map task no matter the
    * corpus size. Output: (`row`, `col`, `cnt`).
    */
  def countMinBuild(items: DataFrame, termCol: Column,
                    width: Int = CmWidth): DataFrame =
    // deliberately NOT rebalanced (measured, r11): exchanging the raw
    // key strings to parallelize the md5 cost as much as it saved
    // (profile_join_estimate 2.6→3.8 s sf0.1 WITH the rebalance) — the
    // partial-aggregated groupBy already collapses to ≤1024 rows per
    // map task, so the scan task is the only stage and md5 is cheaper
    // than a corpus-keys exchange.
    items
      .select(cmHash(termCol).as("__h"))
      .select(explode(array((0 until CmDepth).map(j =>
        struct(lit(j).as("row"), cmLane(col("__h"), j, width).as("col"))): _*))
        .as("__cell"))
      .select(col("__cell.row").as("row"), col("__cell.col").as("col"))
      .groupBy("row", "col")
      .agg(count(lit(1)).as("cnt"))

  /** Join-cardinality estimate from two count-min sketches (AGMS /
    * Rusu–Dobra): |A ⋈_k B| = Σ_v fA(v)·fB(v) ≤ Σ_cols cmA[j,·]·cmB[j,·]
    * for EVERY hash row j (collisions only add cross-mass), so the min
    * over rows is still a provable upper bound — the optimizer
    * statistic that decides join strategies without touching either
    * table's rows twice. Emits one row per estimated pair:
    * (`pair`, `cm_join_est`, `exact_join`).
    *
    * Scale shape: each side collapses to its ≤ depth×width = 1024-cell
    * sketch behind ONE partial-aggregated groupBy; the inner product
    * joins two 1024-row tables. The exact side (emitted for the gate's
    * benefit and for calibration runs) is the frequency-vector join —
    * distinct keys only, never rows. Both sums ACCUMULATE in
    * DECIMAL(38,0): cell products reach ~(rows/width)², which overflows
    * Long near 10¹² rows per side, and an overflowed negative estimate
    * would silently win the min — the decimal path keeps the bound
    * exact to 10³⁸ internally. The EMITTED columns are BIGINT: the two
    * decimal-typed gate rounds (r10, r11) were the only entries in the
    * whole suite whose driver hash went red with rows/schema green, on
    * two engines whose decimal surface representations differ — casting
    * the final scalars back to long (exact below 9.2·10¹⁸, far above
    * any real join size; null past it under non-ANSI rather than a
    * wrapped value) restores the r9 cross-engine-stable signature while
    * keeping the overflow-proof accumulation.
    */
  def countMinJoinEstimate(a: DataFrame, aKey: Column,
                           b: DataFrame, bKey: Column,
                           label: String,
                           width: Int = CmWidth): DataFrame = {
    val sa = countMinBuild(a.select(aKey.cast("string").as("k")), col("k"),
      width)
    val sb = countMinBuild(b.select(bKey.cast("string").as("k")), col("k"),
      width)
      .withColumnRenamed("cnt", "cnt_b")
    val perRow = sa.join(sb, Seq("row", "col"))
      .groupBy("row").agg(sum(col("cnt").cast("decimal(19,0)") *
        col("cnt_b").cast("decimal(19,0)")).as("est"))
    // a hash row with ZERO shared cells proves the join is empty — it
    // must enter the min as 0, not drop out of it (low-overlap inputs
    // would otherwise report the overlapping rows' estimate)
    val allRows = a.sparkSession.range(CmDepth)
      .select(col("id").cast("int").as("row"))
    val est = allRows.join(perRow, Seq("row"), "left")
      .agg(min(coalesce(col("est"), lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("cm_join_est"))
    val fa = a.select(aKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("fa"))
    val fb = b.select(bKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, "k")
      .agg(coalesce(sum(col("fa").cast("decimal(19,0)") *
          col("fb").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("exact_join"))
    est.crossJoin(exact)
      .select(lit(label).as("pair"),
        col("cm_join_est").cast("long").as("cm_join_est"),
        col("exact_join").cast("long").as("exact_join"))
  }

  /** Point-frequency estimates: for each query term, min over the
    * depth rows of its counter — the classic CM upper bound (estimate
    * >= true count always; equality unless another term collided in
    * every row). The sketch side is <= 1024 rows, broadcast-joined.
    */
  def countMinQuery(sketch: DataFrame, queryTerms: DataFrame,
                    termCol: String): DataFrame = {
    val probes = queryTerms
      .select(col(termCol).as("term"))
      .select(col("term"), cmHash(col("term")).as("__h"))
      .select(col("term"), explode(array((0 until CmDepth).map(j =>
        struct(lit(j).as("row"), cmLane(col("__h"), j).as("col"))): _*))
        .as("__cell"))
      .select(col("term"), col("__cell.row").as("row"),
        col("__cell.col").as("col"))
    probes.join(broadcast(sketch), Seq("row", "col"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }
}
