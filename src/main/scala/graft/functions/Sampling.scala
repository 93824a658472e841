package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Random `df.sample`
  * is seed-stable only for a fixed partitioning; these are *content*-keyed,
  * so membership survives repartitioning, incremental reruns, and
  * cross-engine replication — the property a reproducible data pipeline
  * actually needs.
  */
object Sampling {

  /** Keep rows whose key hashes into the lowest `fraction` of hash space.
    * Membership is a pure function of (key, seed): stable across runs,
    * partitionings, and cluster sizes; composable (a 1% sample is a subset
    * of the 10% sample with the same seed).
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    val cut = (fraction * (1L << 32).toDouble).toLong
    df.where(pmod(xxhash64(col(keyCol), lit(seed)), lit(1L << 32)) < cut)
  }

  // ------------------------------------------------- cross-engine portable

  /** `floor(fraction · 16^8)` as 8 lowercase hex digits — the membership
    * cut for [[portableHashSample]]. Lexicographic comparison of
    * fixed-width lowercase hex strings equals numeric comparison, so the
    * same literal works in any engine.
    */
  def hexCut(fraction: Double): String =
    f"${(fraction * (1L << 32).toDouble).toLong.min((1L << 32) - 1)}%08x"

  /** First 8 hex chars of md5 of the key rendered as a string — the
    * portable bucket value. Matches `substring(md5(CAST(k AS VARCHAR)),1,8)`
    * in DuckDB/PostgreSQL exactly (md5 over UTF-8 bytes, lowercase hex).
    */
  def portableBucket(key: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 8)

  /** Hash sampling whose membership ANY md5-capable engine reproduces
    * bit-for-bit (DuckDB, PostgreSQL, Spark): keep rows whose md5-hex
    * prefix sorts below `hexCut(fraction)`. Same determinism/composability
    * contract as [[hashSample]] at ~md5 cost per row — use the xxhash64
    * form when membership only ever needs computing inside Spark.
    */
  def portableHashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    if (fraction >= 1) df
    else df.where(portableBucket(col(keyCol)) < lit(hexCut(fraction)))
  }

  /** Per-stratum portable sampling; unlisted strata drop. */
  def portableStratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                               fractions: Map[String, Double]): DataFrame = {
    val cutExpr = fractions.foldLeft(lit("00000000")) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(hexCut(f))).otherwise(acc)
    }
    df.where(portableBucket(col(keyCol)) < cutExpr)
  }

  /** The portable md5 prefix as a 32-bit integer — the numeric form of
    * [[portableBucket]], for schemes that need a uniform NUMBER rather
    * than an ordered string. `('0x'||substring(md5(k),1,8))::UBIGINT`
    * in DuckDB reproduces it exactly.
    */
  def portableBucketInt(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic WEIGHTED sampling without replacement: priority
    * sampling (Duffield, Lund & Thorup, JACM 54(6), 2007). Each row gets
    * priority `q = w / u` with `u` uniform in (0,1); the sample is the
    * top-k priorities. Selection probability rises with weight (a row
    * with weight ≥ the k-th largest is kept almost surely), and the
    * threshold estimator `Σ max(w, τ)` over the top-k (τ = the (k+1)-th
    * priority) is an unbiased subset-sum estimator — the standard way to
    * downsample ∝ quality/length scores while keeping totals estimable.
    *
    * Portability is why priority sampling over exponential-key A-Res
    * (Efraimidis–Spirakis): A-Res ranks by `u^(1/w)`, and `pow`/`ln` are
    * not correctly-rounded, so engines can disagree in the last ulp at
    * the selection boundary. Here `u = (H + 0.5) / 2³²` is EXACT (H
    * integral ≤ 2³², the halving and the 2³² scale are exponent-only),
    * and `w/u` is one IEEE-correctly-rounded division — any engine
    * computes bit-identical priorities from the same (key, weight).
    *
    * Scale shape: one projection + top-k (TakeOrderedAndProject: each
    * partition keeps k rows, the driver merges nPartitions·k) — no
    * shuffle of the corpus, no global sort. Zero-weight rows get
    * priority 0 and are only taken after every positive-weight row.
    */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val u = (portableBucketInt(col(keyCol)).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    df.withColumn("priority", col(weightCol).cast("double") / u)
      .orderBy(col("priority").desc, col(keyCol))
      .limit(k)
  }

  /** DSIR-shaped importance weights for target-aware data selection
    * (Xie et al., NeurIPS 2023: hashed n-gram features scored against a
    * small TARGET corpus vs the raw pool), in this repo's log-free,
    * bit-portable form. Features are adjacent word bigrams hashed into
    * `nBuckets` md5 buckets (Weinberger-style feature hashing — the
    * portable twin of DSIR's hashed n-grams); a document's weight is
    * the ratio of its add-one-smoothed evidence sums
    *
    *   w(d) = (Σ_f c_f·(t_f+1) + 1) / (Σ_f c_f·(s_f+1) + 1)
    *
    * with t_f/s_f the bucket counts in target/pool. The inner-product
    * evidence form replaces DSIR's product-of-ratios so every term stays
    * an exact integer and the weight is ONE IEEE division — engines
    * reproduce it bit-for-bit, where a log-space Σ c_f·(ln t̂_f − ln ŝ_f)
    * inherits libm's ulp drift. Monotone in the same per-feature
    * evidence; the outer +1 keeps featureless (≤1-token) docs at a
    * well-defined weight instead of 0/0. Feed the result straight to
    * [[prioritySample]] for the resampling step.
    *
    * Scale shape: one bigram explode over the pool (one over the small
    * target), partial-aggregated per (doc, bucket); both bucket tables
    * are ≤ nBuckets rows — broadcast by construction, never
    * vocabulary-sized. At 100 TB the per-doc feature table is the thing
    * to persist; the bucket stats re-derive from it in one narrow pass.
    */
  def importanceWeights(pool: DataFrame, target: DataFrame,
                        textCol: String, idCol: String,
                        nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    def feats(d: DataFrame): DataFrame = d
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(graft.functions.Dedup.normalizeText(col(textCol)), " ")
          .as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => pmod(portableBucketInt(concat(
          element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1))), lit(nBuckets.toLong))))
        .as("feat"))
    val docFeat = feats(pool).groupBy("doc_id", "feat")
      .agg(count(lit(1)).as("c_f"))
    val tf_ = feats(target).groupBy("feat").agg(count(lit(1)).as("t_f"))
    val sf_ = docFeat.groupBy("feat").agg(sum(col("c_f")).as("s_f"))
    val sums = docFeat
      .join(broadcast(tf_), Seq("feat"), "left")
      .join(broadcast(sf_), Seq("feat"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c_f") * (coalesce(col("t_f"), lit(0L)) + 1L))
        .as("tsum"),
        sum(col("c_f") * (coalesce(col("s_f"), lit(0L)) + 1L))
          .as("ssum"))
    pool.select(col(idCol).as("doc_id")).join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        ((coalesce(col("tsum"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("ssum"), lit(0L)) + lit(1L)).cast("double"))
          .as("weight"))
  }

  /** Deterministic train/val/test (or any n-way) split: each row gets
    * the first label whose cumulative md5-bucket cut its key hashes
    * below — the standard reproducible dataset split (membership is a
    * pure function of the key: stable across runs, engines, layouts,
    * and incremental reruns; fractions must sum to ≤ 1, remainder rows
    * get the last label). One projection, no shuffle.
    */
  def portableSplit(df: DataFrame, keyCol: String,
                    splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "splits must not be empty")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val b = portableBucket(col(keyCol))
    // ascending when-chain: first cumulative cut the hash falls under
    // wins; remainder rows take the last label
    val splitCol = splits.map(_._1).zip(cuts).dropRight(1)
      .foldLeft(Option.empty[Column]) { case (accOpt, (name, cut)) =>
        Some(accOpt match {
          case None => when(b < lit(hexCut(cut)), name)
          case Some(acc) => acc.when(b < lit(hexCut(cut)), name)
        })
      }
      .map(_.otherwise(lit(splits.last._1)))
      .getOrElse(lit(splits.last._1))
    df.withColumn("split", splitCol)
  }

  /** Leakage-safe n-way split: membership is decided per DUPLICATE GROUP
    * (all copies of the same normalized text inherit one verdict), so a
    * document can never appear in train while its duplicate sits in
    * test — the eval-contamination failure mode of a naive per-doc
    * split. Group key is the min id per normalized text
    * ([[Dedup.exactGroups]] semantics); the split is
    * [[portableSplit]] of that group key, so it stays a pure function of
    * content: stable across runs, engines, and incremental reruns.
    *
    * For NEAR-dup awareness, feed [[leakSafeSplitBy]] the component
    * labels of `Components.connectedComponents` over any near-dup pair
    * graph — the split rule is identical, only the grouping changes.
    *
    * Scale shape: one exact-dedup aggregation (shuffle carries
    * (norm-text, min-id) — at 100 TB key by `xxhash64(norm)` as in
    * [[Dedup.exactGroups]]) + a join back, then a pure projection.
    *
    * Output: (doc_id, group_id, split).
    */
  def leakSafeSplit(df: DataFrame, textCol: String, idCol: String,
                    splits: Seq[(String, Double)]): DataFrame = {
    // NULL-text docs must still receive a split verdict: a plain join on
    // the normalized text never matches NULL keys, so without the
    // coalesce those rows would silently vanish from the output (and all
    // NULL texts are the same "document" for leakage purposes anyway).
    val norm = coalesce(Dedup.normalizeText(col(textCol)), lit(""))
    val groups = df.groupBy(norm.as("__norm"))
      .agg(min(col(idCol)).as("group_id"))
    val keyed = df.select(col(idCol).as("doc_id"), norm.as("__norm"))
      .join(groups, "__norm")
      .select("doc_id", "group_id")
    leakSafeSplitBy(keyed, "group_id", splits)
  }

  /** [[leakSafeSplit]] with a caller-supplied group label (e.g. near-dup
    * component ids): every row of a group gets the group key's portable
    * split verdict.
    */
  def leakSafeSplitBy(df: DataFrame, groupCol: String,
                      splits: Seq[(String, Double)]): DataFrame =
    portableSplit(df, groupCol, splits)

  /** Per-stratum [[prioritySample]]: the top-`k` priorities WITHIN each
    * stratum — quality- or length-weighted sampling that still respects
    * a domain/language mix (k docs per group, heavier rows favored
    * inside each group). Same bit-portable priorities; the per-group
    * top-k is a rank window partitioned by the stratum, so state per
    * partition is one group's run, not the corpus.
    */
  def stratifiedPrioritySample(df: DataFrame, keyCol: String,
                               weightCol: String, strataCol: String,
                               k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val u = (portableBucketInt(col(keyCol)).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("priority").desc, col(keyCol))
    df.withColumn("priority", col(weightCol).cast("double") / u)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Domain-mix REBALANCING: deterministically downsample so the surviving
    * corpus matches target group `weights` (web/code/books, languages, …)
    * as closely as downsampling allows. With group counts n_g and weights
    * w_g, the largest achievable total is `T = min_g n_g/w_g`; each group
    * keeps fraction `f_g = min(1, w_g·T/n_g)` (the binding group survives
    * whole, everything else is cut down to proportion — never upsampled).
    * Membership is the same portable md5 keep as [[portableHashSample]]:
    * a pure function of the key, reproducible in any engine. Groups
    * missing from `weights` (or weighted 0) drop.
    *
    * Scale shape: group counts and cuts are two aggregates over nGroups
    * rows (domains are few by definition) broadcast back to the scan —
    * the corpus sees one filter pass, nothing collects to the driver, and
    * the whole mix recipe stays inside the plan.
    */
  def rebalanceMix(df: DataFrame, keyCol: String, groupCol: String,
                   weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    require(weights.values.forall(_ >= 0), "weights must be >= 0")
    val counts = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weights.foldLeft(lit(0.0)) { case (acc, (g, w)) =>
        when(col("__g") === g, lit(w)).otherwise(acc) })
      .where(col("__w") > 0)
    val cap = counts.agg(min(col("__n") / col("__w")).as("__cap"))
    val cuts = counts.crossJoin(broadcast(cap))
      .withColumn("__f",
        least(lit(1.0), col("__w") * col("__cap") / col("__n")))
      // same clamp as hexCut: floor(f·2³²) capped at 2³²−1, 8 hex digits
      .select(col("__g"), format_string("%08x",
        least(floor(col("__f") * lit(4294967296.0)), lit(4294967295.0))
          .cast("long")).as("__cut"))
    df.join(broadcast(cuts), col(groupCol) === col("__g"))
      .where(portableBucket(col(keyCol)) < col("__cut"))
      .drop("__g", "__cut")
  }
}
