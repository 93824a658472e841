package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each designed
  * around Spark's shuffle model:
  *
  *  - exact dedup: one hash-partitioned `groupBy` with map-side partial
  *    aggregation — the minimum possible shuffle (key+min+count only).
  *  - MinHash + LSH near-dup: shingle → signature (pure projection) →
  *    band explode → bucket groupBy → candidate pairs → exact-Jaccard
  *    verify. Only signatures and id pairs shuffle, never document text;
  *    candidate generation is linear in corpus size, not quadratic.
  *  - SimHash: 64-bit signature per doc (projection), banded bucketing for
  *    candidates, Hamming-distance verify via `bit_count(a ^ b)`.
  *  - exact n-gram Jaccard: explode-join on shingles — exact but heavier;
  *    used as the verifier and as the small-scale oracle-checkable path.
  *  - embedding cosine near-dup: see [[Similarity]]; pairs with cosine ≥ t.
  */
object Dedup {

  /** Whitespace/case-normalized text — the exact-dup equality key. */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact duplicate groups: normalized text → representative (min id) +
    * copy count. Partial aggregation makes the shuffle carry one row per
    * distinct text per map task; at 100 TB, group keys are the (short)
    * normalized-text hash, so consider `xxhash64(norm)` as the key to keep
    * shuffle rows narrow (kept as full text here so the oracle can verify).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(normalizeText(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row (min id) per normalized text. Aggregate-then-
    * semi-join keeps the shuffle narrow (hash of text + id), unlike a
    * window over the full rows.
    */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .groupBy(xxhash64(normalizeText(col(textCol))).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Distinct xxhash64 values of the word k-shingles of text — the native
    * one-pass form ([[graft.plans.WordShingleHashes]]): normalization is a
    * single regex pass, then every shingle is hashed as a contiguous byte
    * range of the normalized string. Values are identical to
    * `transform(shingles(c, k), s => xxhash64(s))` (asserted in DedupSpec)
    * at a fraction of the cost — this is the form every dedup operator
    * below consumes, so documents shuffle as arrays of 8-byte hashes,
    * never as shingle strings.
    */
  def shingleHashes(c: Column, k: Int): Column =
    graft.plans.ShingleExpressions.wordShingleHashes(normalizeText(c), k)

  /** Distinct word k-shingles of normalized text, as strings. Documents
    * shorter than k tokens yield their full token span as one shingle.
    * Kept as the readable reference formulation; the hot paths use
    * [[shingleHashes]].
    */
  def shingles(c: Column, k: Int): Column = {
    val toks = split(normalizeText(c), " ")
    // bind the token array once (single-element-array trick): a raw `toks`
    // reference inside the position lambda would re-split the whole text
    // for every shingle position — O(len²) per row
    element_at(transform(array(toks), ts =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(ts) - lit(k - 1), lit(1))),
        i => concat_ws(" ", slice(ts, i, lit(k)))))), 1)
  }

  // ---------------------------------------------------------------- MinHash

  /** MinHash signature (array of nPerm Longs) over a shingle array —
    * one projection, no shuffle. Delegates to the native Catalyst
    * expression ([[graft.plans.MinHashSig]]): one tight loop per row vs
    * ~nPerm×|shingles| interpreted lambda steps for the builtin-HOF form
    * (the specs' `ReferenceForms.minhashSignatureHof`; both produce
    * identical signatures).
    */
  def minhashSignature(shingleCol: Column, nPerm: Int = 64, seed: Long = 42L): Column =
    graft.plans.SignatureExpressions.minhashSig(shingleCol, nPerm, seed)

  /** Choose (bands, rowsPerBand) for an `nPerm`-permutation signature so
    * the LSH S-curve threshold lands nearest the target Jaccard threshold.
    *
    * With b bands of r rows (b·r = nPerm), a pair with Jaccard s becomes a
    * candidate with probability 1 − (1 − s^r)^b — an S-curve whose
    * inflection sits at ≈ (1/b)^(1/r). More bands (smaller r) pushes the
    * threshold DOWN: higher recall below the target but more false
    * candidates to verify; fewer bands (larger r) pushes it UP: cheaper
    * verification, more misses near the threshold. Picking the divisor
    * pair whose inflection is closest to the requested threshold is the
    * standard tuning (Mining of Massive Datasets §3.4.3); exact Jaccard
    * verification downstream then removes the false positives, so the
    * choice trades recall against candidate-verify cost only.
    */
  def lshParams(nPerm: Int, threshold: Double): (Int, Int) = {
    require(nPerm >= 2, s"nPerm must be >= 2, got $nPerm")
    val candidates = (2 to nPerm).filter(nPerm % _ == 0).map(b => (b, nPerm / b))
    candidates.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** LSH band keys: the signature split into `bands` bands of
    * `nPerm/bands` rows, each hashed with its band index. Equal band key →
    * candidate pair. With nPerm=64, bands=16 (r=4), the S-curve threshold
    * is ≈ (1/16)^(1/4) ≈ 0.5 Jaccard.
    */
  def lshBandKeys(sigCol: Column, nPerm: Int, bands: Int): Column = {
    val r = nPerm / bands
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",",
        transform(slice(sigCol, b * r + 1, r), x => x.cast("string"))))
    }: _*)
  }

  /** Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.
    *
    * Plan shape (the part that matters at 100 TB):
    *   1. per-doc signature: projection only;
    *   2. explode band keys → `groupBy(bandKey)` — shuffles (bandKey, id)
    *      pairs only (~bands × 8 bytes per doc, NOT the text);
    *   3. buckets → candidate id pairs (i<j), `distinct` to dedup across
    *      bands;
    *   4. verify: join candidate ids back to shingle sets (two hash joins
    *      on id) and compute exact Jaccard; filter ≥ threshold.
    * Hot buckets (boilerplate docs) are capped at `maxBucket` ids to bound
    * the quadratic pair blowup — the standard guardrail for skew.
    *
    * `bands = 0` (the default) derives the band count from the Jaccard
    * `threshold` via [[lshParams]], so callers state intent (the
    * similarity cutoff) and the S-curve is tuned for them.
    */
  def minhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 3, nPerm: Int = 64, bands: Int = 0,
                      threshold: Double = 0.5, seed: Long = 42L,
                      maxBucket: Int = 1000): DataFrame = {
    val nBands = if (bands > 0) bands else lshParams(nPerm, threshold)._1
    // shingle HASHES (array<long>), not strings: signatures are identical
    // (MinHashSig hashes strings to exactly these values first) and the
    // verify join shuffles 8-byte elements instead of shingle text
    val withShingles = rebalance(df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), k).as("sh")))
    val sigs = withShingles.select(col("id"),
      minhashSignature(col("sh"), nPerm, seed).as("sig"))

    val banded = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), nPerm, nBands)).as("band"))
    // bounded bottom-k aggregate caps bucket membership (k smallest ids —
    // identical to the row_number-window cap) in ONE aggregation with O(k)
    // buffers: no extra sort stage, and a pathological hot bucket never
    // materializes beyond k ids in any partial buffer. The native
    // aggregate is Long-specialized; other id types take the window cap.
    val idIsLong =
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    val buckets = (if (idIsLong)
      banded.groupBy("band")
        .agg(graft.plans.BottomKLongs.bottomK(col("id"), maxBucket).as("ids"))
    else {
      val bandW = org.apache.spark.sql.expressions.Window
        .partitionBy("band").orderBy("id")
      banded.withColumn("__rn", row_number().over(bandW))
        .where(col("__rn") <= maxBucket)
        .groupBy("band")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
    }).where(size(col("ids")) > 1)
    if (idIsLong) {
      // Bucket-LOCAL verification (same redesign as
      // [[graft.functions.Similarity.cosineDupPairsBucketed]], measured
      // there first): gather each capped bucket's (id, shingle-set)
      // members once and verify all member pairs with a sorted-merge
      // intersection in a tight local loop, emitting ONLY pairs at or
      // above the threshold. The candidate-pair stream — millions of rows
      // each re-joining two KB-sized shingle arrays — never materializes;
      // shuffle volume is the bucket contents (N·bands·|sh|·8 bytes).
      // Cross-band duplicate pairs are re-verified locally (a merge scan
      // each) instead of paying a global distinct over all candidates;
      // the final distinct touches only verified output. collect_list is
      // BOUNDED by maxBucket (bottom-k ran first), so the aggregation
      // buffer is ≤ maxBucket·|sh|·8 bytes — the documented skew bound.
      val spark = df.sparkSession
      import spark.implicits._
      val members = buckets
        .select(col("band"), explode(col("ids")).as("id"))
        .join(withShingles, "id")
        .groupBy("band")
        .agg(collect_list(struct(col("id"), col("sh"))).as("ms"))
        .select("ms").as[Seq[(Long, Seq[Long])]]
      val thr = threshold
      members.flatMap { ms =>
        val ids = ms.map(_._1).toArray
        // sort each shingle set once: pairwise |A∩B| becomes a linear
        // merge; |A∪B| = |A|+|B|−|A∩B| (sets are distinct by
        // construction — WordShingleHashes dedups)
        val shs = ms.map(m => { val a = m._2.toArray; java.util.Arrays.sort(a); a }).toArray
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) {
            val a = shs(i); val b = shs(j)
            var x = 0; var y = 0; var inter = 0
            while (x < a.length && y < b.length) {
              if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
              else if (a(x) < b(y)) x += 1
              else y += 1
            }
            val union = a.length + b.length - inter
            val jac = if (union == 0) 0.0 else inter.toDouble / union.toDouble
            if (jac >= thr && ids(i) != ids(j)) {
              if (ids(i) < ids(j)) out += ((ids(i), ids(j), jac))
              else out += ((ids(j), ids(i), jac))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }.toDF("id_a", "id_b", "jaccard").distinct()
    } else {
      // generic-id fallback: explode candidates, verify via joins back to
      // the shingle sets
      val candidates = buckets
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .where(col("id_a") < col("id_b"))
        .distinct()

      val shA = withShingles.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val shB = withShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
      candidates.join(shA, "id_a").join(shB, "id_b")
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
        .where(col("jaccard") >= threshold)
    }
  }

  /** Stop-shingle doc-frequency cap bounds, ACTIVE by default in
    * [[ngramJaccardPairs]] via the corpus-derived formula
    * `clamp(ceil(0.5% · nDocs), 100, 10000)`:
    *
    *  - each shingle with doc frequency df contributes df² candidate
    *    pairs, so capping df at D bounds total pairs by D · Σdf — linear
    *    in corpus size. The absolute ceiling (10k) keeps posting lists
    *    joinable on any executor no matter how large the corpus;
    *  - the 0.5%-of-corpus term catches the small-vocabulary regime the
    *    ceiling misses: measured on the synthetic fixtures scaled 10×
    *    (SCALING.md), every trigram's df grew ~10× under a fixed cap and
    *    the self-join went ~100× (53× wall clock) — corpus-relative
    *    pruning restores linear scaling, and a shingle in >0.5% of a
    *    large corpus carries no dedup signal anyway;
    *  - the floor (100) keeps tiny/test corpora un-pruned.
    */
  val MaxDocFreqCeiling = 10000
  val MinDocFreqFloor = 100
  val HotShingleFraction = 0.005

  /** Sentinel `maxDocFreq` value: derive the cap from corpus size. */
  val AutoMaxDocFreq = 0

  /** Exact n-gram Jaccard similarity pairs via explode-join — the exact
    * (no-false-negative) near-dup path, O(sum of posting-list²) in shared
    * shingles. Shingles with doc frequency above the cap are removed from
    * every document's set — from both intersection AND union, i.e. as if
    * the boilerplate never existed — before the self-join.
    * `maxDocFreq`: `Some(AutoMaxDocFreq)` (default) derives the cap from
    * corpus size (see [[HotShingleFraction]]); `Some(n)` uses an explicit
    * cap; `None` disables pruning (full-set semantics; only safe at
    * oracle scales).
    */
  /** Rebalance a narrow-source projection to the session's shuffle
    * parallelism: a single-file parquet scan otherwise leaves per-row
    * signature work on one core. The exchanged rows are ids + hash arrays
    * (never text), so the shuffle is cheap; inputs that already have
    * enough splits pass through untouched.
    */
  private[graft] def rebalance(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // inputFiles inspects the source relations without converting the
    // plan to an RDD (which would bypass AQE and plan the query twice);
    // sources with at least `target` files already scan in parallel.
    // Non-file sources (empty list — checkpoint scans, in-memory
    // relations) pass through: their parallelism was set upstream, and
    // a blind repartition would re-exchange corpus-sized text.
    val files = df.inputFiles.length
    if (files > 0 && files < target) df.repartition(target) else df
  }

  /** [[rebalance]] applied to the RAW columns a downstream computation
    * needs — the exchange then carries source rows and the expensive
    * per-row work (normalization regexps, shingle hashing, chunking)
    * runs AFTER it on every core, instead of inside the single scan
    * task of a one-file source. Catalyst keeps projections where they
    * are written, so computing the heavy expressions on the rebalanced
    * side is load-bearing, not style (the previous form
    * `rebalance(df.select(heavy))` left the heavy projection BELOW the
    * exchange, measured single-task on the fixtures). No-op at
    * production file counts, like [[rebalance]].
    */
  private[graft] def rebalanceRaw(df: DataFrame, cols: Column*): DataFrame =
    rebalance(df.select(cols: _*))

  /** Shared pruned-postings construction for the exact set-overlap
    * family ([[ngramJaccardPairs]], [[ngramContainmentPairs]]): one
    * (id, sz, sh) row per surviving shingle hash, with the stop-shingle
    * cap applied and per-doc PRUNED sizes computed by subtraction.
    */
  private def prunedShinglePostings(df: DataFrame, textCol: String,
                                    idCol: String, k: Int,
                                    maxDocFreq: Option[Int]): DataFrame = {
    // explode 64-bit shingle hashes, not strings: the self-join shuffle
    // then carries (8-byte key, id) rows; collision odds over N distinct
    // shingles are ~N²/2^65 — immaterial against a 64-bit space.
    // Each doc's set size rides along the exploded rows (+4 bytes/row) and
    // is recovered with first() after the pair groupBy — no per-doc sizes
    // table, no extra joins, nothing that would need broadcasting a
    // billion-doc side at scale.
    // The hash projection deliberately sits BELOW the rebalance exchange
    // (measured, r11): this subtree re-executes per consumer (two join
    // sides × three prune branches), so hashing above the exchange would
    // run the raw-text exchange + hashing six times over — the compact
    // per-doc hash ARRAYS are the cheaper thing to exchange. Contrast
    // [[shingleTfCosinePairs]], whose single checkpoint makes the
    // hash-above-exchange form pay.
    val base = rebalance(df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), k).as("shs")))
    maxDocFreq match {
      case Some(maxDf) =>
        // stop-shingle prune: doc-frequency aggregate over the exploded
        // postings (narrow 8-byte keys), anti-join the hot set out (tiny
        // by construction: ≤ Σdf/maxDf shingles — Spark broadcasts it).
        // Pruned per-doc sizes come from SUBTRACTION (full size minus the
        // doc's hot-shingle count) rather than a re-count window: the
        // usual no-hot-shingles case then costs only the df aggregate —
        // AQE sees the empty hot side and collapses both joins (the
        // anti-join to a pass-through, the hot-count join to empty)
        // instead of paying a full shuffle-by-id sort.
        val sh0 = base.select(col("id"), size(col("shs")).as("sz_full"),
          explode(col("shs")).as("sh"))
        // AutoMaxDocFreq: cap = clamp(ceil(0.5% · nDocs), floor, ceiling),
        // computed from a one-row count aggregate (no collect)
        val capCol =
          if (maxDf == AutoMaxDocFreq)
            least(lit(MaxDocFreqCeiling.toLong),
              greatest(lit(MinDocFreqFloor.toLong),
                ceil(col("__n") * HotShingleFraction)))
          else lit(maxDf.toLong)
        val dfCounts = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
        val hot = (if (maxDf == AutoMaxDocFreq)
          dfCounts.crossJoin(base.select(count(lit(1)).as("__n")))
        else dfCounts.withColumn("__n", lit(0L)))
          .where(col("df") > capCol).select("sh")
        val hotPerDoc = sh0.join(hot, Seq("sh"))
          .groupBy("id").agg(count(lit(1)).as("__nhot"))
        sh0.join(hot, Seq("sh"), "left_anti")
          .join(hotPerDoc, Seq("id"), "left")
          .select(col("id"),
            (col("sz_full") - coalesce(col("__nhot"), lit(0L))).as("sz"),
            col("sh"))
      case None =>
        base.select(col("id"), size(col("shs")).as("sz"),
          explode(col("shs")).as("sh"))
    }
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Option[Int] = Some(AutoMaxDocFreq)
                       ): DataFrame = {
    // NOT checkpointed (measured): the self-join does re-run the pruned
    // postings build per side, but with the rebalanced scan that is
    // parallel linear work, while materializing the postings-sized table
    // cost more than it saved (jaccard 3.9→6.2 s at 10× WITH the
    // checkpoint in the isolated r11 A/B). Contrast shingleTfCosinePairs,
    // whose (id, h, tf)-aggregated table IS worth one materialization.
    val sh = prunedShinglePostings(df, textCol, idCol, k, maxDocFreq)
    sh.as("x").join(sh.as("y"), "sh")
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("x.sz")).as("sz_a"), first(col("y.sz")).as("sz_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact DIRECTED n-gram containment pairs: `C(sub → sup) =
    * |sub ∩ sup| / |sub|` — the asymmetric overlap Jaccard structurally
    * misses. A 50-shingle quote embedded in a 5000-shingle article has
    * Jaccard ≈ 0.01 (never crosses any sane threshold) but containment
    * 1.0; this is the detector for quotes, excerpts, syndicated
    * fragments, and page-within-site duplication. One row per DIRECTION
    * that clears the threshold (a near-identical pair emits both).
    *
    * Same machinery as [[ngramJaccardPairs]] — shared pruned postings,
    * one self-join, one pair aggregation; both directions derive from
    * the single undirected `n_common` (no second join), so the cost is
    * identical to the Jaccard pass. The stop-shingle cap applies to
    * sets AND sizes symmetrically (as if boilerplate never existed).
    */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 3, threshold: Double = 0.8,
                            maxDocFreq: Option[Int] = Some(AutoMaxDocFreq)
                           ): DataFrame = {
    // postings NOT checkpointed — same measured rationale as
    // [[ngramJaccardPairs]]. The PAIR AGGREGATE is: it fans into the two
    // direction projections (ab/ba), is pair-count-sized (post-groupBy,
    // narrow longs), and without it the whole postings self-join runs
    // twice.
    val sh = prunedShinglePostings(df, textCol, idCol, k, maxDocFreq)
    val pairs = sh.as("x").join(sh.as("y"), "sh")
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("x.sz")).as("sz_a"), first(col("y.sz")).as("sz_b"))
      .localCheckpoint(true)
    val ab = pairs.select(col("id_a").as("id_sub"), col("id_b").as("id_sup"),
      (col("n_common").cast("double") / col("sz_a").cast("double"))
        .as("containment"))
    val ba = pairs.select(col("id_b").as("id_sub"), col("id_a").as("id_sup"),
      (col("n_common").cast("double") / col("sz_b").cast("double"))
        .as("containment"))
    ab.unionAll(ba).where(col("containment") >= threshold)
  }

  /** ALL word k-shingle hashes of normalized text, WITH multiplicity —
    * the term stream for TF-weighted sparse similarity (unlike
    * [[shingleHashes]], which dedups for set semantics). Short docs yield
    * their full token span as one shingle. Native one-pass byte-range
    * form ([[graft.plans.WordShingleHashesAll]]); bit-equality with the
    * HOF reference (`ReferenceForms.shingleHashesAllHof`) is spec-pinned.
    */
  def shingleHashesAll(c: Column, k: Int): Column =
    graft.plans.ShingleExpressions.wordShingleHashesAll(normalizeText(c), k)

  /** ExactSubstr-style duplicate-SPAN detection at ARBITRARY token
    * offsets: every maximal token span of length ≥ `minLen` whose text
    * occurs at two or more (doc, position) locations corpus-wide — the
    * "Deduplicating Training Data Makes Language Models Better"
    * construction, re-expressed relationally instead of via a suffix
    * array. Unlike [[graft.functions.Curation.spanDedup]]'s fixed
    * 16-token grid, spans here start anywhere: a paragraph pasted mid-doc
    * is found at its true boundaries.
    *
    * Why windows are equivalent to suffix-array spans: a shared substring
    * of m ≥ L tokens contains exactly m−L+1 shared L-token windows at
    * consecutive start positions, and conversely any position covered by
    * some shared L-window lies inside a shared span ≥ L. So flagging
    * duplicated L-windows and merging runs of starts (gap ≤ L) recovers
    * precisely the maximal duplicated spans.
    *
    * Scale shape (vs the reference's single-node suffix automaton):
    *  1. candidate pass — one positional window hash per token
    *     ([[graft.plans.WordShingleHashesAll]]: O(n) bytes hashed per
    *     doc), partial-aggregated per partition, then ONE exchange of
    *     8-byte keys; window hashes seen at ≥ 2 positions form the HOT
    *     set, which is small by definition (only duplicated content).
    *  2. verify pass — positions semi-join the hot set (AQE broadcasts
    *     it when small), and only those positions re-materialize their
    *     actual window text (token-slice join back to the doc) for an
    *     EXACT string group-count: a 64-bit hash collision can therefore
    *     never produce a false span.
    *  3. merge — flagged starts sort per doc (bounded by doc length) and
    *     runs with gap ≤ L coalesce via one gaps-and-islands window.
    * Documents shorter than `minLen` tokens cannot contain a window and
    * are dropped up front, so the explode never amplifies them.
    *
    * Output: one row per maximal duplicated span —
    * (doc_id, span_start, span_len, span_text), span_start 1-based in
    * normalized-token coordinates.
    */
  /** Shared candidate/verify pipeline of the ExactSubstr operators:
    * normalized docs, token arrays (docs ≥ L tokens only — shorter docs
    * cannot contain an L-window, so they never explode), and the EXACT
    * window texts of every position whose 64-bit window hash occurs ≥ 2
    * times corpus-wide.
    */
  /** Normalized docs, token arrays (docs ≥ L tokens only — shorter docs
    * cannot contain an L-window, so they never explode), and the
    * positional window-hash rows (doc_id, p, h), p 1-based.
    */
  private def tokenizedPositions(df: DataFrame, textCol: String,
                                 idCol: String, L: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(L >= 1, s"minLen must be >= 1, got $L")
    // rebalance the raw rows first: normalization, token split, and the
    // window-hash explode below all run post-exchange on every core
    // instead of inside a one-file source's single scan task
    val normAll = rebalanceRaw(df,
        col(idCol).as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"), normalizeText(col("__t")).as("__nt"))
    val norm = normAll.where(size(split(col("__nt"), " ")) >= L)
    val toks = norm.select(col("doc_id"), split(col("__nt"), " ").as("toks"))
    val pos = norm.select(col("doc_id"),
        posexplode(graft.plans.ShingleExpressions.wordShingleHashesAll(
          col("__nt"), L)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))
    (normAll, toks, pos)
  }

  /** Rebuild the exact window text for candidate position rows
    * (doc_id, p) — the verify step that makes hash collisions harmless.
    */
  private def windowTexts(cand: DataFrame, toks: DataFrame,
                          L: Int): DataFrame =
    cand.join(toks, "doc_id")
      .select(col("doc_id"), col("p"),
        concat_ws(" ", slice(col("toks"), col("p"), lit(L))).as("wtxt"))

  /** Merge flagged window starts (doc_id, p) into maximal spans — runs of
    * starts with gap ≤ L coalesce (adjacent windows cover contiguous
    * tokens). Returns (doc_id, span_start, span_len).
    */
  private def mergeWindowStarts(flagged: DataFrame, L: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    flagged
      .withColumn("__new",
        when(col("p") - lag(col("p"), 1).over(w) > L, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy("doc_id", "__island")
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) - min(col("p")) + L).as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** `checkpointHot`: materialize the repeated-hash set once. It is
    * aggregated (one row per repeated hash) and narrow (one long
    * column), and sits inside the windows subtree callers re-execute
    * per consumer — but whether paying the upfront materialization
    * wins is EMPIRICAL per call site (measured, r11 fresh-JVM 10×):
    * the standalone apply entry improved 11.8-14.9 → 9.2-9.5 s WITH
    * it, while duplicateSpans (5.4-5.6 → 7.2 s) and the composed
    * pretrain pipeline (3.2 → 17-18.6 s — the checkpointed set's
    * missing stats interact badly with the downstream persist/joins)
    * got WORSE. Default off; opt in only with a measurement.
    */
  private def substrWindows(df: DataFrame, textCol: String, idCol: String,
                            L: Int, checkpointHot: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val (normAll, toks, pos) = tokenizedPositions(df, textCol, idCol, L)
    // hot = window hashes at >= 2 positions corpus-wide
    val hot0 = pos.groupBy("h").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select("h")
    val hot = if (checkpointHot) hot0.localCheckpoint(true) else hot0
    // NOT checkpointed (measured): `windows` does fan into two consumers,
    // but it carries rebuilt window STRINGS and — on a low-entropy corpus
    // where most window hashes repeat — approaches corpus-position size;
    // materializing it lost 6.5 s at 10× on dedup_exact_substr while the
    // rebalanced recompute is parallel scan work (isolated A/B r11).
    val windows = windowTexts(pos.join(hot, Seq("h"), "left_semi"), toks, L)
    (normAll, toks, windows)
  }

  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     minLen: Int): DataFrame = {
    val L = minLen
    val (_, _, windows) = substrWindows(df, textCol, idCol, L)
    val dupW = windows.groupBy("wtxt").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).select("wtxt")
    val flagged = windows.join(dupW, Seq("wtxt"), "left_semi")
      .select("doc_id", "p")
    // pass 3: merge window starts with gap <= L into maximal spans
    spansFromFlagged(flagged, df, textCol, idCol, L)
  }

  /** All L-token window STRINGS of normalized text at every position —
    * the streaming form's term stream (the state key is the exact
    * window text). HOF formulation; the hashed candidate pass of the
    * batch operator is the scale route.
    */
  def windowStrings(c: Column, k: Int): Column = {
    val toks = split(normalizeText(c), " ")
    // bind the token array once (single-element-array trick) — see shingles()
    element_at(transform(array(toks), ts =>
      transform(sequence(lit(1), greatest(size(ts) - lit(k - 1), lit(1))),
        i => concat_ws(" ", slice(ts, i, lit(k))))), 1)
  }

  /** Assemble maximal spans from flagged window starts (doc_id, p):
    * islands with gap ≤ L merge, span text rebuilds from the doc's
    * normalized tokens. Shared tail of [[duplicateSpans]] and the
    * streaming flagging form
    * ([[graft.streaming.EventStream.duplicateWindowStream]]).
    */
  def spansFromFlagged(flagged: DataFrame, df: DataFrame, textCol: String,
                       idCol: String, minLen: Int): DataFrame = {
    val L = minLen
    val toks = df.select(col(idCol).as("doc_id"),
      split(normalizeText(col(textCol)), " ").as("toks"))
    mergeWindowStarts(flagged, L).join(toks, "doc_id")
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_len").cast("int").as("span_len"),
        concat_ws(" ",
          slice(col("toks"), col("span_start"), col("span_len"))).as("span_text"))
  }

  /** SPAN-LEVEL benchmark decontamination: maximal token spans ≥ `minLen`
    * of a candidate document whose text occurs ANYWHERE in the benchmark
    * corpus (arbitrary offsets on both sides) — the contamination the
    * whole-doc k-gram count ([[Curation.decontaminate]]) can flag but not
    * locate, found with the [[duplicateSpans]] window machinery across
    * two corpora instead of within one.
    *
    * Scale shape: the benchmark is small by definition (MBs against a TB
    * corpus), so its DISTINCT window-hash set — and, at verify, its
    * distinct window TEXTS — broadcast; the candidate side streams
    * through hash-probe semi-joins and only benchmark-hash-matching
    * positions rebuild window strings for the exact compare. Candidate
    * text never shuffles; flagged positions merge per doc exactly as in
    * [[duplicateSpans]].
    *
    * Output: (doc_id, span_start, span_len, span_text) per contaminated
    * maximal span of the candidate corpus.
    */
  def decontaminateSpans(candidates: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String,
                         minLen: Int): DataFrame = {
    val L = minLen
    val (_, candToks, candPos) =
      tokenizedPositions(candidates, textCol, idCol, L)
    val (_, benchToks, benchPos) =
      tokenizedPositions(benchmark, textCol, idCol, L)

    // candidate positions whose hash appears in the benchmark. No forced
    // broadcast hints: benchmarks are small by convention, but a forced
    // broadcast() of an unexpectedly large one OOMs the driver with no
    // guard — AQE measures the actual built size at runtime and picks
    // broadcast when it fits, sort-merge when it doesn't. Same output,
    // same plan in the expected (small-benchmark) regime.
    val benchHashes = benchPos.select("h").distinct()
    val suspect = candPos.join(benchHashes, Seq("h"), "left_semi")
    // exact verify: candidate window text ∈ benchmark window-text set;
    // only benchmark windows whose hash actually matched rebuild text
    val matchedHashes = suspect.select("h").distinct()
    val benchW = windowTexts(
      benchPos.join(matchedHashes, Seq("h"), "left_semi"),
      benchToks, L).select("wtxt").distinct()
    val flagged = windowTexts(suspect, candToks, L)
      .join(benchW, Seq("wtxt"), "left_semi")
      .select("doc_id", "p")
    spansFromFlagged(flagged, candidates, textCol, idCol, L)
  }

  /** Per-document duplicated-token fraction — the quality SIGNAL view of
    * [[duplicateSpans]] (the Gopher/FineWeb "fraction of doc in
    * duplicate n-grams" feature, here exact): maximal spans are disjoint
    * by construction, so their length sum IS the covered-token count,
    * and the fraction is ONE IEEE division of exact integers
    * (bit-portable). Docs with no duplicated window report 0.
    *
    * Output: (doc_id, n_tokens, dup_tokens, dup_fraction) for EVERY doc.
    */
  def duplicatedTokenFraction(df: DataFrame, textCol: String,
                              idCol: String, minLen: Int): DataFrame = {
    val covered = duplicateSpans(df, textCol, idCol, minLen)
      .groupBy("doc_id")
      .agg(sum(col("span_len")).cast("long").as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        size(split(normalizeText(col(textCol)), " ")).cast("long")
          .as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_fraction"))
  }

  /** Window index over a CORPUS — the build-once side of incremental
    * span dedup: one row per DISTINCT L-token window, `(h, wtxt)`. The
    * window TEXT rides along because the probe's exactness contract
    * (hash collisions never mint a false span) needs a string compare;
    * the storage cost is therefore ≈ L tokens per distinct window — the
    * honest price of exact spans, called out in ROADMAP. At scale,
    * persist `bucketBy(h)` (the [[minhashBandIndex]] pattern): later
    * probes then join exchange-free, and appending an accepted batch is
    * a partition-local distinct-merge, not a corpus rebuild.
    */
  def buildSubstrIndex(corpus: DataFrame, textCol: String, idCol: String,
                       minLen: Int): DataFrame = {
    val L = minLen
    val (_, toks, pos) = tokenizedPositions(corpus, textCol, idCol, L)
    pos.join(toks, "doc_id")
      .select(col("h"),
        concat_ws(" ", slice(col("toks"), col("p"), lit(L))).as("wtxt"))
      .distinct()
  }

  /** Incremental ExactSubstr probe: maximal spans ≥ L of a NEW batch
    * whose text occurs in the INDEXED corpus ([[buildSubstrIndex]]) —
    * the cross-run form of [[duplicateSpans]]: the existing corpus is
    * never rescanned. Batch-internal duplication is [[duplicateSpans]]'
    * job on the batch itself; this operator answers only "already in
    * the corpus?".
    *
    * Scale shape: batch positions semi-join the index on the 8-byte
    * hash, then verify by string equality against the index rows of the
    * MATCHING hashes only — both joins key on `h`, so a `bucketBy(h)`-
    * persisted index probes without shuffling itself. The batch side is
    * the small side by construction (a day's intake vs the corpus).
    */
  /** Append an accepted batch's windows to a persisted substr index
    * without rebuild: the batch's DISTINCT `(h, wtxt)` windows write as
    * new files beside the existing ones. Cross-file duplicates against
    * the old index are harmless — every probe consumes the index through
    * semi-joins ([[probeSubstrIndex]]), which are set-semantics; a slow
    * re-compaction cadence (rebuild) reclaims the duplicate storage.
    */
  def appendSubstrIndex(batch: DataFrame, textCol: String, idCol: String,
                        minLen: Int, path: String): Unit =
    buildSubstrIndex(batch, textCol, idCol, minLen)
      .write.mode("append").parquet(path)

  def probeSubstrIndex(batch: DataFrame, index: DataFrame,
                       textCol: String, idCol: String,
                       minLen: Int): DataFrame = {
    val L = minLen
    val (_, toks, pos) = tokenizedPositions(batch, textCol, idCol, L)
    val suspect = pos.join(index.select("h").distinct(), Seq("h"), "left_semi")
    val wts = suspect.join(toks, "doc_id")
      .select(col("h"), col("doc_id"), col("p"),
        concat_ws(" ", slice(col("toks"), col("p"), lit(L))).as("wtxt"))
    // exact verify keyed on h (narrow), equality on the ridden text
    val flagged = wts.join(index.withColumnRenamed("wtxt", "__iw"), Seq("h"))
      .where(col("wtxt") === col("__iw"))
      .select("doc_id", "p").distinct()
    spansFromFlagged(flagged, batch, textCol, idCol, L)
  }

  /** ExactSubstr REMOVAL — the apply form of [[duplicateSpans]]: every
    * token covered only by non-first occurrences of duplicated L-windows
    * is struck; the corpus-FIRST occurrence (min (doc_id, position)) of
    * each duplicated window keeps its tokens, so exactly one copy of
    * duplicated content survives (the Lee et al. keep-one semantic,
    * decided per token so differently-merged overlaps stay well-defined).
    * Documents return whitespace/case-normalized with drop counts.
    *
    * Scale shape: only FLAGGED windows explode to their L covered
    * positions, and only AFFECTED documents (≥ 1 dropped token — by
    * definition a small slice once boilerplate is concentrated)
    * re-tokenize for reassembly; every untouched document passes through
    * as one projected row, never exploded. The per-doc reassembly
    * aggregates (pos, token) structs — bounded by doc length.
    *
    * Output: (doc_id, n_tokens, n_dropped, text_clean).
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           minLen: Int,
                           checkpointHot: Boolean = false): DataFrame = {
    val L = minLen
    val (normAll, toks, windows) =
      substrWindows(df, textCol, idCol, L, checkpointHot)

    // duplicated windows + their corpus-first occurrence
    val dupFirst = windows.groupBy("wtxt")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("p"))).as("__first"))
      .where(col("__n") > 1)
    val flaggedW = windows.join(dupFirst, "wtxt")
      .select(col("doc_id"), col("p"),
        when(struct(col("doc_id"), col("p")) === col("__first"), 1)
          .otherwise(0).as("is_first"))

    // covered token positions; a position survives if ANY covering
    // window is the first occurrence
    val cover = flaggedW
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(L - 1))).as("tp"),
        col("is_first"))
      .groupBy("doc_id", "tp")
      .agg(max(col("is_first")).as("__keep"))

    val affected = cover.where(col("__keep") === 0)
      .select("doc_id").distinct()

    // rebuild only affected docs from their kept tokens (position order)
    val allTok = toks.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("tp0", "tok")))
      .select(col("doc_id"), (col("tp0") + 1).as("tp"), col("tok"))
    val rebuilt = allTok
      .join(cover, Seq("doc_id", "tp"), "left")
      .withColumn("__drop", coalesce(col("__keep"), lit(1)) === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("__drop"), 1).otherwise(0)).cast("int").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("tp"), col("tok"))))),
          x => x.getField("tok")), " ").as("text_clean"))

    val untouched = normAll.join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(split(col("__nt"), " ")).cast("int").as("n_tokens"),
        lit(0).as("n_dropped"),
        col("__nt").as("text_clean"))
    rebuilt.unionByName(untouched)
  }

  /** TF-weighted shingle COSINE pairs — sparse bag-of-shingles similarity
    * (the IR-style sibling of [[ngramJaccardPairs]]' set semantics): each
    * document is the sparse vector of its k-shingle counts, and pairs with
    * cosine ≥ threshold are emitted with the exact integer dot product and
    * the cosine value.
    *
    * Exactness across engines is by construction: tf, Σtf² and Σtf_a·tf_b
    * are INTEGERS (hash-grouped counts — no float accumulation anywhere),
    * the threshold test compares `dot² ≥ t²·sq_a·sq_b` in fixed-order
    * double arithmetic (products of exact integers: IEEE-identical in any
    * engine), and the reported cosine divides by a correctly-rounded sqrt
    * — so the DuckDB oracle reproduces every value bit-for-bit.
    *
    * Plan shape = [[ngramJaccardPairs]]: postings self-join on 8-byte
    * shingle hashes, narrow rows, with the same corpus-derived
    * stop-shingle cap (a shingle in more than `clamp(0.5%·N, 100, 10k)`
    * docs carries no similarity signal and would contribute df² join
    * rows); per-doc Σtf² is computed AFTER the prune so both sides of the
    * threshold see the same pruned vectors.
    */
  def shingleTfCosinePairs(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 3, threshold: Double = 0.5,
                           maxDocFreq: Option[Int] = Some(AutoMaxDocFreq)
                          ): DataFrame = {
    val base = rebalanceRaw(df, col(idCol).as("id"), col(textCol).as("__t"))
      .select(col("id"), shingleHashesAll(col("__t"), k).as("shs"))
    val p0 = base.select(col("id"), explode(col("shs")).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("tf"))
    val p = maxDocFreq match {
      case Some(maxDf) =>
        // doc frequency = one row per (id, h) in p0; hot set is tiny by
        // construction and broadcast into the anti-join (AQE collapses
        // the usual empty-hot case)
        val capCol =
          if (maxDf == AutoMaxDocFreq)
            least(lit(MaxDocFreqCeiling.toLong),
              greatest(lit(MinDocFreqFloor.toLong),
                ceil(col("__n") * HotShingleFraction)))
          else lit(maxDf.toLong)
        val dfCounts = p0.groupBy("h").agg(count(lit(1)).as("df"))
        val hot = (if (maxDf == AutoMaxDocFreq)
          dfCounts.crossJoin(base.select(count(lit(1)).as("__n")))
        else dfCounts.withColumn("__n", lit(0L)))
          .where(col("df") > capCol).select("h")
        p0.join(hot, Seq("h"), "left_anti")
      case None => p0
    }
    // materialized ONCE: `p` has three consumers (the Σtf² aggregate and
    // both self-join sides), each of which otherwise re-runs the scan +
    // shingle explode + (id, h) aggregate + stop-shingle prune — see the
    // [[ngramJaccardPairs]] note.
    val pm = p.localCheckpoint(true)
    val sq = pm.groupBy("id").agg(sum(col("tf") * col("tf")).as("sq"))
    val dots = pm.as("x").join(pm.as("y"), "h")
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
    val t2 = threshold * threshold
    dots
      .join(sq.select(col("id").as("id_a"), col("sq").as("__sqa")), "id_a")
      .join(sq.select(col("id").as("id_b"), col("sq").as("__sqb")), "id_b")
      .where(col("dot").cast("double") * col("dot").cast("double") >=
        lit(t2) * (col("__sqa").cast("double") * col("__sqb").cast("double")))
      .select(col("id_a"), col("id_b"), col("dot"),
        round(col("dot").cast("double") /
          sqrt(col("__sqa").cast("double") * col("__sqb").cast("double")), 6)
          .as("sim"))
  }

  // ---------------------------------------------------------------- SimHash

  /** Number of SimHash bits. 63 (not 64) keeps every power of two inside a
    * positive Long, so the signature arithmetic needs no unsigned tricks.
    */
  val SimhashBits = 63

  /** 63-bit SimHash over whitespace tokens: per-token xxhash64, each bit
    * votes ±1, sign of the vote sum becomes the signature bit. Native
    * Catalyst expression ([[graft.plans.SimHash64]]); the specs pin the
    * builtin-HOF form (`ReferenceForms.simhashHof`) to identical output.
    */
  def simhash(c: Column): Column =
    graft.plans.SignatureExpressions.simhash64(split(normalizeText(c), " "))

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 63 bits into `bands` chunks (docs
    * within `maxDist` differing bits agree on at least one chunk when
    * bands > maxDist — pigeonhole), bucket-join on chunk value, verify
    * with exact Hamming distance. Same shuffle shape as MinHash LSH:
    * only (chunkKey, id, sig) rows move.
    */
  /** Band keys for SimHash pigeonhole bucketing: the 63 bits split into
    * `bands` chunks (last band takes the remainder bits), each tagged with
    * its band index so chunks never collide across bands.
    */
  private def simhashBandKeys(sigCol: Column, bands: Int): Column = {
    val width = SimhashBits / bands // bits per band (last band takes remainder)
    array((0 until bands).map { b =>
      val shifted = shiftright(sigCol, b * width)
      val masked = if (b == bands - 1) shifted
        else shifted.bitwiseAND(lit((1L << width) - 1))
      struct(lit(b).as("band"), masked.as("chunk"))
    }: _*)
  }

  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      bands: Int = 4, maxDist: Int = 3,
                      maxBucket: Int = 1000): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      explode(simhashBandKeys(col("sig"), bands)).as("key"))
    // bounded bottom-k pair aggregate caps bucket membership (k smallest
    // ids, each carrying its signature) in one aggregation with O(k)
    // buffers — same rationale as minhashDupPairs; non-bigint ids take
    // the window cap
    val idIsLong =
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    val buckets = (if (idIsLong)
      banded.groupBy(col("key"))
        .agg(graft.plans.BottomKPairs.bottomKPairs(col("id"), col("sig"), maxBucket)
          .as("members"))
    else {
      val keyW = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy("id")
      banded.withColumn("__rn", row_number().over(keyW))
        .where(col("__rn") <= maxBucket)
        .groupBy(col("key"))
        .agg(sort_array(collect_list(
          struct(col("id"), col("sig").as("payload")))).as("members"))
    }).where(size(col("members")) > 1)
    // Hamming-filter BEFORE the cross-band distinct: the xor+popcount on
    // two in-row longs is nearly free, and it is massively selective — so
    // the dedup shuffle carries only pairs within maxDist instead of
    // every bucket pair (same output set: dist is deterministic per pair)
    buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.payload"), col("b.payload")).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
  }

  /** SimHash near-dup pairs annotated with their EXACT word-k-gram Jaccard,
    * verified BUCKET-LOCALLY — the gate entry's form.
    *
    * Same generalization of the bucket-local redesign proven on
    * [[graft.functions.Similarity.cosineDupPairsBucketed]] and
    * [[minhashDupPairs]]: instead of exploding candidate pairs and joining
    * each back to its shingle array twice (a pair stream that re-shuffles
    * two KB-sized arrays per candidate), each capped bucket gathers its
    * members once — (id, sig, shingle hashes) — and a tight local loop
    * Hamming-filters pairs (xor+popcount, nearly free) and computes the
    * exact Jaccard with a sorted-merge intersection only for survivors.
    * Shuffle volume is the bucket contents (N·bands·(|sh|+2)·8 bytes);
    * the aggregation buffer is bounded by `maxBucket` members because the
    * bottom-k cap runs FIRST. Output is identical to
    * `simhashDupPairs(...)` joined back to shingle sets (bit-equality in
    * DedupSpec): the Jaccard division is the same int-to-double divide the
    * `array_intersect/array_union` form produces.
    *
    * Non-bigint ids take the join-back fallback (the native bottom-k
    * aggregates are Long-specialized).
    */
  def simhashDupPairsVerified(df: DataFrame, textCol: String, idCol: String,
                              bands: Int = 4, maxDist: Int = 3,
                              maxBucket: Int = 1000, k: Int = 3): DataFrame = {
    val idIsLong =
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    if (!idIsLong) {
      val pairs = simhashDupPairs(df, textCol, idCol, bands, maxDist, maxBucket)
      val sh = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), k).as("sh"))
      pairs
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("dist"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
            .as("jaccard"))
    } else {
      val withShingles = rebalance(df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), k).as("sh")))
      val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      val banded = sigs.select(col("id"), col("sig"),
        explode(simhashBandKeys(col("sig"), bands)).as("key"))
      val buckets = banded.groupBy(col("key"))
        .agg(graft.plans.BottomKPairs.bottomKPairs(col("id"), col("sig"), maxBucket)
          .as("members"))
        .where(size(col("members")) > 1)
      val spark = df.sparkSession
      import spark.implicits._
      val members = buckets
        .select(col("key"), explode(col("members")).as("m"))
        .select(col("key"), col("m.id").as("id"), col("m.payload").as("sig"))
        .join(withShingles, "id")
        .groupBy("key")
        .agg(collect_list(struct(col("id"), col("sig"), col("sh"))).as("ms"))
        .select("ms").as[Seq[(Long, Long, Seq[Long])]]
      val md = maxDist
      members.flatMap { ms =>
        val arr = ms.toArray
        // sort each shingle set once: pairwise |A∩B| becomes a linear merge
        val shs = arr.map(m => { val a = m._3.toArray; java.util.Arrays.sort(a); a })
        val out = Seq.newBuilder[(Long, Long, Int, Double)]
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val d = java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2)
            if (d <= md && arr(i)._1 != arr(j)._1) {
              val a = shs(i); val b = shs(j)
              var x = 0; var y = 0; var inter = 0
              while (x < a.length && y < b.length) {
                if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
                else if (a(x) < b(y)) x += 1
                else y += 1
              }
              val union = a.length + b.length - inter
              // plain division (0/0 → NaN) matches the join form's
              // int-cast divide exactly — bit-equality pinned in DedupSpec
              val jac = inter.toDouble / union.toDouble
              if (arr(i)._1 < arr(j)._1) out += ((arr(i)._1, arr(j)._1, d, jac))
              else out += ((arr(j)._1, arr(i)._1, d, jac))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }.toDF("id_a", "id_b", "dist", "jaccard").distinct()
    }
  }

  // ------------------------------------------- cross-corpus (incremental)

  /** MinHash band index over a CORPUS — the build-once side of
    * incremental dedup. One row per (band key, member doc):
    * `(band, id_c, sh_c, bands_c)` where `sh_c` is the doc's shingle-hash
    * set and `bands_c` its full band-key array with the positions the doc
    * was CAPPED OUT of nulled (hot buckets keep only their `maxBucket`
    * smallest ids, the same skew guardrail as [[minhashDupPairs]]).
    * Keeping the array positional — rather than storing the surviving
    * keys as a set — is what lets the matcher's exactly-once filter be a
    * positional `zip_with` comparison (straight-line codegen) instead of
    * a per-row hash-set intersection: band keys hash their band index, so
    * two docs can only share a key at the same position.
    *
    * Build cost is corpus-once: three narrow shuffles (band groupBy with
    * an O(maxBucket) bottom-k buffer, kept-band groupBy bounded by the
    * band count, one hash join back to the shingle sets). At scale,
    * persist the result `bucketBy(band)` — every later incremental run
    * then probes it exchange-free, and appending a day's accepted docs is
    * a partition-local merge, not a corpus rebuild.
    */
  def minhashBandIndex(corpus: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, nPerm: Int = 64, bands: Int = 0,
                       threshold: Double = 0.5, seed: Long = 42L,
                       maxBucket: Int = 1000): DataFrame = {
    val nBands = if (bands > 0) bands else lshParams(nPerm, threshold)._1
    val base = rebalance(corpus.select(col(idCol).cast("long").as("id_c"),
      shingleHashes(col(textCol), k).as("sh_c")))
    val sigs = base.select(col("id_c"), col("sh_c"),
      lshBandKeys(minhashSignature(col("sh_c"), nPerm, seed), nPerm, nBands)
        .as("__allb"))
    val capped = sigs.select(col("id_c"), explode(col("__allb")).as("band"))
      .groupBy("band")
      .agg(graft.plans.BottomKLongs.bottomK(col("id_c"), maxBucket).as("__ids"))
      .select(col("band"), explode(col("__ids")).as("id_c"))
    val kept = capped.groupBy("id_c")
      .agg(collect_list(col("band")).as("__kept"))
    capped.join(kept, "id_c").join(sigs, "id_c")
      .select(col("band"), col("id_c"), col("sh_c"),
        transform(col("__allb"),
          b => when(array_contains(col("__kept"), b), b)).as("bands_c"))
  }

  /** Incremental (cross-corpus) near-dup: match INCOMING docs against an
    * existing corpus's [[minhashBandIndex]], emitting
    * `(id_corpus, id_new, jaccard)` for every cross pair with exact
    * Jaccard ≥ threshold. Corpus×corpus and incoming×incoming pairs are
    * never formed — the daily-crawl shape: the 100 TB corpus is indexed
    * once, each new batch shuffles only itself.
    *
    * The plan is a single stateless equi-join on the band key: incoming
    * docs are banded (pure projection), joined to the index, and each
    * joined row verifies exact Jaccard inline via `array_intersect` over
    * the two shingle-hash sets — candidate pairs never materialize as a
    * separate stream needing re-joins. A pair sharing several bands would
    * join once per shared band; the `band = min(shared kept bands)`
    * filter keeps exactly one of those rows with NO distinct/aggregation
    * — which is also why `incoming` may be a STREAMING DataFrame: the
    * whole query is a stateless stream-static join, exactly-once under
    * any microbatch split (gate entry `dedup_incremental_stream`).
    */
  def crossCorpusDupPairs(index: DataFrame, incoming: DataFrame,
                          textCol: String, idCol: String,
                          k: Int = 3, nPerm: Int = 64, bands: Int = 0,
                          threshold: Double = 0.5,
                          seed: Long = 42L): DataFrame = {
    val nBands = if (bands > 0) bands else lshParams(nPerm, threshold)._1
    val inn = incoming.select(col(idCol).cast("long").as("id_new"),
        shingleHashes(col(textCol), k).as("sh_n"))
      .select(col("id_new"), col("sh_n"),
        lshBandKeys(minhashSignature(col("sh_n"), nPerm, seed), nPerm, nBands)
          .as("__bn"))
      .select(col("id_new"), col("sh_n"), col("__bn"),
        explode(col("__bn")).as("band"))
    // exactly-once across multi-band agreement: keep only the joined row
    // whose band is the FIRST position where the two band arrays agree.
    // Positional zip_with (band keys embed their index, so equal keys ⇒
    // same position; capped-out index positions are null and never match)
    // keeps this a straight-line comparison per row — no per-row hash-set
    // intersection on the fat pre-filter join output.
    val firstShared = get(org.apache.spark.sql.functions.filter(
      zip_with(col("__bn"), col("bands_c"), (x, y) => when(x === y, x)),
      e => e.isNotNull), lit(0))
    val joined = inn.join(index, "band")
      .where(col("id_new") =!= col("id_c"))
      .where(col("band") === firstShared)
    val inter = size(array_intersect(col("sh_n"), col("sh_c")))
    val uni = size(col("sh_n")) + size(col("sh_c")) - inter
    joined.select(col("id_c").as("id_corpus"), col("id_new"),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------- Winnowing

  /** Winnowing fingerprint overlap — the MOSS local-fingerprinting scheme
    * (Schleimer, Wilkerson & Aiken, SIGMOD 2003): positional token
    * `k`-gram hashes, then each sliding window of `w` consecutive grams
    * SELECTS its rightmost-minimum hash; the union of selections is the
    * document's fingerprint set. The guarantee that makes this different
    * from MinHash: any shared substring of ≥ `w + k − 1` tokens yields at
    * least one shared fingerprint (detection is POSITIONAL, not
    * bag-of-shingles), at an expected density of 2/(w+1) of the grams.
    * Pairs sharing ≥ `minShared` fingerprints emit with their
    * fingerprint-set Jaccard (integer counts, ONE IEEE division —
    * bit-portable).
    *
    * Hashes are portable md5 hex prefixes (not xxhash64) so the DuckDB
    * oracle replays selection exactly; the rightmost-min rule is the
    * lexicographic `min(struct(h, −p))` over the doc-local window frame
    * `[current, w−1 following]`, evaluated only at full-window starts
    * (`p ≤ max(G−w+1, 1)`; a doc with fewer than `w` grams winnows its
    * single partial window so every doc keeps ≥ 1 fingerprint).
    *
    * Scale shape: the only corpus-sized shuffles are doc-local (the
    * per-doc window sort) and the fingerprint-postings self-join, whose
    * density winnowing already cut ~2/(w+1)× and whose hot keys the
    * `maxDf` document-frequency cap prunes (boilerplate shared by every
    * corpus — the same linear pair bound as the stop-shingle cap). No
    * all-pairs form anywhere.
    */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 4, w: Int = 4, minShared: Int = 2,
                  maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && minShared >= 1 && maxDf >= 1,
      s"bad winnow params: k=$k w=$w minShared=$minShared maxDf=$maxDf")
    import org.apache.spark.sql.expressions.Window
    val toks = split(normalizeText(col(textCol)), " ")
    val grams = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), toks.as("__t"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), greatest(size(col("__t")) - lit(k - 1), lit(1))),
        i => concat_ws(" ", slice(col("__t"), i, lit(k))))).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        substring(md5(col("g").cast("binary")), 1, 16).as("h"))
    val byDoc = Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("p").rowsBetween(0, w - 1)
    val sel = grams
      .withColumn("__rm", min(struct(col("h"), (-col("p")).as("negp")))
        .over(frame))
      .withColumn("__g", count(lit(1)).over(byDoc))
      .where(col("p") <= greatest(col("__g") - lit(w - 1), lit(1)))
    val fp0 = sel.select(col("doc_id"), col("__rm.h").as("h")).distinct()
    val hot = fp0.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("h")
    val fp = fp0.join(hot, Seq("h"), "left_anti")
    val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val co = fp.select(col("doc_id").as("id_a"), col("h"))
      .join(fp.select(col("doc_id").as("id_b"), col("h")), "h")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    co.join(sz.select(col("doc_id").as("id_a"), col("sz").as("__sa")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("sz").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("__sa") + col("__sb") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }
}
