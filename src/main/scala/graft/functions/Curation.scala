package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators that go beyond per-row expressions: context
  * chunking (doc → training-window rows) and benchmark decontamination
  * (n-gram overlap against a held-out set). Companions to
  * [[TextAnalysis]] (per-row signals) and [[Dedup]] (near-dup removal)
  * in the training-data pipeline.
  */
object Curation {

  /** Sliding token-window chunking: each document becomes
    * `1 + ceil(max(n − window, 0) / stride)` rows covering token ranges
    * `[i·stride, i·stride + window)` — the standard context-window
    * preparation step (overlap = window − stride tokens). Blank docs
    * chunk to nothing; every token of a non-blank doc is covered; only
    * the last chunk may be short.
    *
    * Scale shape: tokenize → explode chunk indices → slice. Pure
    * projection + generate, no shuffle, stays in whole-stage codegen;
    * output rows ≈ input tokens / stride regardless of document-length
    * skew (a 10⁹-token doc becomes rows, never a buffer).
    */
  def chunkByTokens(df: DataFrame, textCol: String, idCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be > 0, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window], got $stride")
    val toks = TextAnalysis.tokens(col(textCol))
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("__toks"), size(toks).as("__n"))
      // integer ceil via double floor — token counts sit far inside
      // double's exact-integer range
      .withColumn("__nc", (lit(1) + floor(
        (greatest(col("__n") - window, lit(0)) + lit(stride - 1)) /
          lit(stride.toDouble))).cast("int"))
      .select(col(idCol),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_id"),
        col("__toks"), col("__n"))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_id") * stride + 1, lit(window)))
          .as("chunk_text"),
        (least(col("chunk_id") * stride + window, col("__n")) -
          col("chunk_id") * stride).cast("int").as("n_tokens"))
  }

  /** Sequence packing, pretraining style: the corpus is one token stream
    * in doc_id order, sliced into fixed `seqLen`-token training
    * sequences; each doc emits one row per sequence it intersects with
    * its local [tok_start, tok_end) span — the concat-and-slice packing
    * every pretraining data loader performs, as a relational operator
    * (blank docs drop; docs split across sequence boundaries).
    *
    * Scale shape: the global token offset is a TWO-PHASE prefix sum —
    * a within-bucket running sum (window PARTITIONED by a doc_id-range
    * bucket, state bounded by bucket size) plus broadcast bucket-prefix
    * offsets (one tiny nBuckets-row cumsum). No `Window.orderBy` over
    * the whole corpus, which would funnel 100 TB through one partition —
    * the classic global-sort scale-killer this formulation avoids.
    */
  def packTokenSpans(df: DataFrame, textCol: String, idCol: String,
                     seqLen: Int, bucketSize: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, s"seqLen must be > 0, got $seqLen")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("__bkt", floor(col("doc_id") / bucketSize))
    val w = Window.partitionBy("__bkt").orderBy("doc_id")
    val inBkt = base.withColumn("__local_off",
      coalesce(sum(col("n_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val bktSums = base.groupBy("__bkt").agg(sum(col("n_tokens")).as("__bsum"))
    // nBuckets rows: this single-partition window runs over the tiny
    // aggregate, never over the corpus. The always-zero partition key
    // (non-foldable, so Catalyst keeps it) states that deliberately and
    // keeps WindowExec's all-data-to-one-partition warning out of logs,
    // where it would read as a data-sized funnel.
    val bw = Window.partitionBy(pmod(col("__bkt"), lit(1))).orderBy("__bkt")
    val prefixes = bktSums.withColumn("__prefix",
        coalesce(sum(col("__bsum"))
          .over(bw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bkt", "__prefix")
    inBkt.join(broadcast(prefixes), "__bkt")
      .withColumn("__off", col("__prefix") + col("__local_off"))
      .withColumn("seq_id", explode(sequence(
        floor(col("__off") / seqLen),
        floor((col("__off") + col("n_tokens") - 1) / seqLen))))
      .select(col("doc_id"), col("seq_id"),
        (greatest(col("__off"), col("seq_id") * seqLen) - col("__off"))
          .cast("int").as("tok_start"),
        (least(col("__off") + col("n_tokens"), (col("seq_id") + 1) * seqLen)
          - col("__off")).cast("int").as("tok_end"))
  }

  /** Greedy NEXT-FIT bin packing of whole documents under a token
    * budget — the non-splitting sibling of [[packTokenSpans]] (batching
    * docs into training sequences without cutting any doc; a doc larger
    * than the budget gets a bin alone). Docs are walked in doc_id order
    * within independent doc_id-range buckets; a doc that would overflow
    * the current bin opens the next one. Returns one row per doc:
    * (doc_id, n_tokens, bucket, bin_idx, bin_start).
    *
    * Scale shape: bin assignment is a genuinely SEQUENTIAL fold (the
    * boundary depends on the full prefix), so it cannot be a prefix sum —
    * bounding the fold to doc_id-range buckets makes the groups
    * independent and parallel, and `flatMapSortedGroups` streams each
    * group through O(1) state (two counters; the iterator is never
    * materialized). One hash shuffle on the bucket key; bins never cross
    * buckets, so the only packing loss is ≤ one underfull bin per
    * bucket. This is the justified typed-API seam: no window, no
    * collect, no per-group array.
    */
  def packBinsNextFit(df: DataFrame, textCol: String, idCol: String,
                      budget: Long, bucketSize: Long = 1L << 20): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(bucketSize > 0, s"bucketSize must be > 0, got $bucketSize")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).cast("int").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("bucket", floor(col("doc_id") / bucketSize))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapSortedGroups(col("doc_id")) { (bucket: Long, rows: Iterator[(Long, Int, Long)]) =>
        var binIdx = 0L
        var fill = 0L
        var first = true
        rows.map { case (docId, n, _) =>
          val start =
            if (first) { first = false; fill = n.toLong; 0L }
            else if (fill + n > budget) { binIdx += 1; fill = n.toLong; 0L }
            else { val s = fill; fill += n; s }
          (docId, n, bucket, binIdx, start)
        }
      }
      .toDF("doc_id", "n_tokens", "bucket", "bin_idx", "bin_start")
  }

  /** Exact duplicate-SPAN removal across the corpus — the relational,
    * fixed-boundary form of exact-substring training-data dedup (the
    * suffix-array formulation drops any repeated 50-token substring;
    * aligning on fixed k-token spans makes the same boilerplate signal a
    * pure groupBy/join). Every k-token span whose text appeared earlier
    * in corpus order — (doc_id, span_idx) — is dropped, the first
    * occurrence kept, and each doc's cleaned text reassembled from its
    * surviving spans. Returns (doc_id, n_spans, n_kept, text_dedup).
    *
    * Scale shape: explode to (doc, span_idx, span_text); the FIRST
    * occurrence per span is a groupBy-min over (doc_id, span_idx)
    * structs — partial aggregation absorbs boilerplate-span skew
    * map-side (a span repeated 10⁷× reduces to one row per map
    * partition; no window over hot span keys, no collect anywhere);
    * hash join back on the span key; per-doc reassembly aggregates the
    * kept spans sorted by index, state O(one document) — the unit every
    * text operator already holds.
    */
  /** One row per aligned k-token span: (doc_id, span_idx, span_text).
    * Stateless projections only, so it applies to streaming inputs
    * unchanged (the streaming first-occurrence entry reuses it).
    */
  private[graft] def spanRows(df: DataFrame, textCol: String, idCol: String,
                              span: Int): DataFrame = {
    require(span > 0, s"span must be > 0, got $span")
    val toks = TextAnalysis.tokens(col(textCol))
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), toks.as("__toks"),
        size(toks).as("__n"))
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(sequence(lit(0),
          ceil(col("__n") / lit(span.toDouble)).cast("int") - 1))
          .as("span_idx"))
      .select(col("doc_id"), col("span_idx"),
        concat_ws(" ", slice(col("__toks"), col("span_idx") * span + 1,
          lit(span))).as("span_text"))
  }

  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                span: Int): DataFrame = {
    val spans = spanRows(df, textCol, idCol, span)
    val first = spans.groupBy("span_text")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("__first"))
    spans.join(first, "span_text")
      .withColumn("__keep",
        struct(col("doc_id"), col("span_idx")) === col("__first"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("__keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("span_idx"), col("span_text"))))),
          x => x.getField("span_text")), " ").as("text_dedup"))
  }

  /** Benchmark decontamination by k-gram overlap (the GPT-3/appendix-C
    * shape): a candidate document is contaminated if it shares at least
    * one word k-gram with the benchmark corpus. Returns one row per
    * candidate doc with the shared-gram count.
    *
    * Scale shape: both sides explode to distinct (doc, gram) rows; the
    * benchmark gram SET (small: benchmarks are MBs, the corpus is TBs)
    * broadcasts, so the corpus side never shuffles — each partition
    * hash-probes locally and aggregates per doc. With a larger benchmark
    * set the same plan degrades gracefully to a shuffled semi-join on
    * the gram key. Grams here are normalized word k-grams as STRINGS so
    * the result is engine-portable; swap in [[Dedup.shingleHashes]] for
    * 8-byte keys at production scale.
    */
  def decontaminate(candidates: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, k: Int): DataFrame = {
    val candGrams = candidates.select(col(idCol),
        explode(Dedup.shingles(col(textCol), k)).as("__g"))
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(textCol), k)).as("__g"))
      .distinct()
    val hits = candGrams.join(broadcast(benchGrams), "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__hits"))
    candidates.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hits"), lit(0L)).as("n_shared"),
        (coalesce(col("__hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** CCNet-style common-line removal: lines (here period-delimited
    * segments — the fixture's line analog) whose DOCUMENT frequency
    * exceeds `maxDocFreq` are boilerplate (cookie banners, footers,
    * license blurbs) and are struck from every document; rarer repeats
    * stay. This is the standard web-corpus cleanup pass that runs
    * before near-dup dedup — removing shared boilerplate so docs don't
    * cluster on their chrome instead of their content. Cleaned text is
    * rebuilt from the NORMALIZED kept lines in original order, joined
    * ". "; documents whose every line was boilerplate come back empty.
    *
    * Scale shape: line doc-frequency partial-aggregates per partition
    * before one (line-hash) exchange; the HOT set is small by
    * definition (only lines in > maxDocFreq docs) so the removal join
    * back is a broadcast anti-join — the corpus-sized line stream never
    * shuffles for it. Reassembly groups each doc's own lines
    * (collect_list bounded by doc size) under one exchange on the id.
    */
  def dropCommonLines(df: DataFrame, textCol: String, idCol: String,
                      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val segs = df.select(col(idCol),
      posexplode(split(col(textCol), "\\.")).as(Seq("pos", "line")))
    val withNorm = segs
      .withColumn("ln", regexp_replace(lower(trim(col("line"))), "\\s+", " "))
      .where(length(col("ln")) > 0)
      .select(col(idCol), col("pos"), col("ln"))
    val hot = withNorm.select(col(idCol), col("ln")).distinct()
      .groupBy("ln").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)
    val kept = withNorm.join(broadcast(hot.select("ln")), Seq("ln"), "left_anti")
    val reassembled = kept.groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ln")))),
          x => x.getField("ln")), ". ").as("cleaned_text"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"))
  }

  /** [[decontaminate]] with a Bloom prefilter on the corpus side — the
    * 100 TB shape. The exact form broadcasts the full benchmark gram
    * SET; once the benchmark suite grows past broadcast size (tens of
    * millions of grams → GBs as an exact hash set), the right plan is a
    * shuffled join — but shuffling every corpus gram to meet it is the
    * bottleneck. A Bloom filter over the benchmark grams is ~1.2
    * bytes/gram at 1% FPP (MBs, ships to every executor as a plan
    * constant), and pruning with it FIRST means only true hits plus an
    * fpp-fraction of the corpus grams enter the exact verify join. No
    * false negatives by the Bloom property; false positives die in the
    * verify join — the output is bit-identical to [[decontaminate]]
    * (spec-pinned), so the prefilter is pure plan optimization.
    *
    * Mechanics: grams hash through Spark's codegen'd `xxhash64`; the
    * filter is built distributed (mergeable sketch aggregate, one
    * benchmark pass) by `DataFrameStatFunctions.bloomFilter` and probed
    * by Spark's own codegen'd [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * — the same expression pair Spark's runtime row-level filtering
    * (`InjectRuntimeFilter`) uses, here applied as an explicit operator.
    * The verify join carries no broadcast hint: at benchmark sizes AQE
    * broadcasts it anyway, at suite sizes it becomes the shuffled join
    * over the pruned survivor set — exactly the degradation you want.
    */
  def decontaminateBloom(candidates: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String, k: Int,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(textCol), k)).as("__g"))
      .distinct()
    val nGrams = math.max(benchGrams.count(), 1L) // benchmark-sized
    val bloom = benchGrams.select(xxhash64(col("__g")).as("__h"))
      .stat.bloomFilter("__h", nGrams, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal.create(bos.toByteArray, BinaryType),
      GraftBridge.expression(xxhash64(col("__g")))))
    val candGrams = candidates
      .select(col(idCol), explode(Dedup.shingles(col(textCol), k)).as("__g"))
      .where(mightContain)
    val hits = candGrams.join(benchGrams, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__hits"))
    candidates.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hits"), lit(0L)).as("n_shared"),
        (coalesce(col("__hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic training-shard assignment: every doc gets a `shard`
    * (portable md5 bucket of its id, mod `nShards`) and a 1-based `pos`
    * within the shard (md5 order, id tie-break). Shard membership AND
    * intra-shard order are pure functions of the id — the run is
    * reproducible across engines, cluster sizes, and reruns, and the md5
    * ordering doubles as the global example shuffle (hash order ≈ random
    * order, which is what shuffled training shards want).
    *
    * Scale shape: assignment is a projection; `pos` is a window per
    * shard — one hash-partition-by-shard exchange and a per-shard sort,
    * which is the exact physical layout a shard writer needs anyway
    * (`repartition(shard) → sortWithinPartitions → write`), so the
    * numbering costs nothing beyond the write path it feeds. One shard
    * must fit one task's spillable sort — at 100 TB pick nShards
    * accordingly (e.g. 100k shards of ~1 GB).
    */
  def shardAssignments(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val ord = md5(col(idCol).cast("string").cast("binary"))
    val shard = conv(substring(ord, 1, 8), 16, 10).cast("long") % nShards
    val w = Window.partitionBy(col("shard")).orderBy(col("__ord"), col(idCol))
    df.withColumn("shard", shard)
      .withColumn("__ord", ord)
      .withColumn("pos", row_number().over(w))
      .drop("__ord")
  }

  /** Deterministic weighted interleave of sources into ONE global
    * training order — stride scheduling (the WFQ virtual-clock rule,
    * which is how pretraining mixtures are actually served): example
    * `r` (1-based, md5-shuffled within its source) of source `s` is
    * scheduled at virtual time `(r − 0.5) / w_s`, and the schedule is
    * the ascending (vtime, source, id) order. Every prefix of the
    * schedule then holds sources in proportion to their weights to
    * within one example (the low-discrepancy property a round-robin or
    * random interleave does not give), which is what makes loss curves
    * comparable across mixture tweaks.
    *
    * `weightOf` maps the source column to a positive weight
    * (deterministic expression, so the oracle can mirror it).
    *
    * Scale shape — NO corpus-wide window anywhere:
    *   1. per-source rank: two-phase over md5-prefix buckets (windows
    *      partitioned by (source, bucket), bucket-count cumsum is
    *      nSources × nBuckets rows, broadcast back). A plain
    *      `Window.partitionBy(source)` would funnel each source's full
    *      history through one task — with few, large sources that is
    *      the corpus through a handful of tasks.
    *   2. global position: vtime is bucketed by whole scheduling
    *      rounds (one round ≈ Σw examples, so round buckets are
    *      uniform BY CONSTRUCTION whatever the source skew); rank
    *      within round-bucket + tiny bucket-prefix cumsum, same
    *      two-phase.
    *
    * Arithmetic is oracle-portable: rank→double is exact, `r − 0.5`
    * exact below 2⁵³, one IEEE division per row, comparisons exact.
    */
  def interleaveBySource(df: DataFrame, idCol: String, srcCol: String,
                         weightOf: Column => Column,
                         ordBuckets: Int = 256,
                         roundsPerBucket: Int = 64): DataFrame = {
    require(ordBuckets > 0 && roundsPerBucket > 0,
      s"bucket params must be > 0, got $ordBuckets/$roundsPerBucket")
    import org.apache.spark.sql.expressions.Window
    // md5-prefix buckets are contiguous ranges of the (ord, id) rank
    // order, so bucket-local ranks + bucket offsets compose exactly
    val base = df.select(col(idCol).as("__id"), col(srcCol).as("__src"))
      .withColumn("__ord", md5(col("__id").cast("string").cast("binary")))
      .withColumn("__b",
        (conv(substring(col("__ord"), 1, 4), 16, 10).cast("int") * ordBuckets
          / 65536).cast("int"))
    val wLocal = Window.partitionBy(col("__src"), col("__b"))
      .orderBy(col("__ord"), col("__id"))
    val local = base.withColumn("__rn", row_number().over(wLocal).cast("long"))
    val cnts = base.groupBy("__src", "__b").agg(count(lit(1)).as("__c"))
    // nSources × ordBuckets rows — the deliberate tiny single-source
    // window (non-foldable constant key idiom, see packTokenSpans)
    val wPre = Window.partitionBy(col("__src")).orderBy(col("__b"))
    val offs = cnts.withColumn("__off",
        coalesce(sum(col("__c")).over(wPre.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__src"), col("__b"), col("__off"))
    val ranked = local.join(broadcast(offs), Seq("__src", "__b"))
      .withColumn("__r", col("__off") + col("__rn"))
      .withColumn("__w", weightOf(col("__src")).cast("double"))
      .withColumn("vtime",
        (col("__r").cast("double") - lit(0.5)) / col("__w"))
    // phase 2: global rank over (vtime, src, id) via round buckets
    val g = ranked.withColumn("__gb",
      floor(col("vtime") / roundsPerBucket).cast("long"))
    val wgLocal = Window.partitionBy(col("__gb"))
      .orderBy(col("vtime"), col("__src"), col("__id"))
    val gLocal = g.withColumn("__grn", row_number().over(wgLocal).cast("long"))
    val gCnts = g.groupBy("__gb").agg(count(lit(1)).as("__gc"))
    val wgPre = Window.partitionBy(pmod(col("__gb"), lit(1))).orderBy(col("__gb"))
    val gOffs = gCnts.withColumn("__goff",
        coalesce(sum(col("__gc")).over(wgPre.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gb"), col("__goff"))
    gLocal.join(broadcast(gOffs), Seq("__gb"))
      .select(col("__id").as(idCol), col("__src").as(srcCol),
        col("vtime"), (col("__goff") + col("__grn")).as("pos"))
  }

  /** Deterministic repeat-factor upsampling — the "epochs per source"
    * half of a pretraining mixture (weight 1.9 ⇒ every doc appears
    * once and 90 % of docs twice; weight 0.5 ⇒ half the docs appear at
    * all). The fractional epoch membership is the portable md5 uniform
    * (same `u` as the sampling family), so the replica set is a pure
    * function of the id: stable across runs, engines, layouts, and —
    * the property that matters operationally — across incremental
    * reruns over a growing corpus. Pure projection + generate, no
    * shuffle.
    */
  def epochRepeat(df: DataFrame, idCol: String, srcCol: String,
                  weightOf: Column => Column): DataFrame = {
    val w = weightOf(col(srcCol)).cast("double")
    val u = (Sampling.portableBucketInt(col(idCol)).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val nrep = (floor(w) +
      when(u < w - floor(w), lit(1)).otherwise(lit(0))).cast("int")
    df.select(col(idCol), col(srcCol)).withColumn("__n", nrep)
      .where(col("__n") >= 1)
      .withColumn("epoch", explode(sequence(lit(1), col("__n"))))
      .drop("__n")
  }

  /** Character-split of one word into the space-joined token string
    * char-level BPE starts from: each codepoint its own token, the
    * word-end `marker` glued onto the LAST char ("cat" → "c a t</w>") —
    * the classic formulation, so merges can distinguish word-final
    * units. Assumes no word contains the marker string itself.
    */
  private def charTokens(w: Column, marker: String): Column =
    concat(concat_ws(" ", transform(
      sequence(lit(1), length(w)),
      i => w.substr(i, lit(1)))), lit(marker))

  /** CHARACTER-level BPE vocabulary induction — real tokenizer-training
    * granularity, and the classic weighted-vocab formulation: ONE corpus
    * pass builds the word histogram (the only corpus-sized shuffle),
    * then all `k` merge iterations run over the tiny weighted vocab —
    * pair counts weighted by word frequency, argmax (count desc, then
    * lexicographic (a, b)), fuse via the same space-doubled literal
    * replace as [[bpeMergeStep]] with an EMPTY joiner (chars
    * concatenate: "t"+"h" → "th"). This is why char BPE scales where
    * the word-level demo form doesn't: at 100 TB the per-iteration cost
    * is a vocab-sized job (MBs–GBs), not a corpus pass; the merge table
    * (k rows) is the only driver-side data.
    *
    * Pairs never span the word-end marker (the marker token is
    * word-final, so it is never the LEFT element of a within-word
    * pair) — which is what makes [[bpeCharApply]]'s whole-doc stream
    * application exact.
    */
  def bpeCharVocab(df: DataFrame, textCol: String, k: Int,
                   marker: String = "</w>"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    var cur = df.where(length(trim(col(textCol))) > 0)
      .select(explode(split(norm, " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(charTokens(col("w"), marker).as("t"), col("n"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var step = 1
      var done = false
      while (step <= k && !done) {
        // project the split ONCE (lambda-recompute trap, see bpeMergeTable)
        val topOpt = cur
          .select(split(col("t"), " ").as("toks"), col("n"))
          .where(size(col("toks")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("a"),
              element_at(col("toks"), (i + lit(1)).cast("int")).as("b"))))
            .as("p"), col("n"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .collect().headOption
        topOpt match {
          case None => done = true
          case Some(r) =>
            val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
            merges += ((step, a, b, n))
            val doubled = concat(lit(" "),
              regexp_replace(col("t"), " ", "  "), lit(" "))
            val next = cur.select(trim(replace(
                replace(doubled, lit(s" $a  $b "), lit(s" $a$b ")),
                lit("  "), lit(" "))).as("t"), col("n"))
              .persist()
            next.count() // materialize before dropping the parent
            cur.unpersist()
            cur = next
        }
        step += 1
      }
    } finally cur.unpersist()
    merges.toSeq.toDF("step", "a", "b", "n")
  }

  /** Char-level BPE ENCODE: char-split every document (word by word,
    * marker on word-final chars) into one token stream and fold the
    * merge table over it in order — each merge the same greedy literal
    * replace the induction used. Applying at the DOC level is exact
    * because no merge pair can match across a word boundary: every
    * left element `a` of a learned pair is marker-free (the marker
    * token is word-final, so any token containing it is word-final and
    * never the left of a within-word pair), while the token left of a
    * word boundary always carries the marker. One per-row projection
    * chain — no shuffle; blank documents encode to the empty string.
    * Emits (id, encoded, n_pieces): the encoded stream and its token
    * count — the REAL tokens-per-doc number a budget planner wants,
    * as opposed to the whitespace proxy.
    */
  def bpeCharApply(df: DataFrame, textCol: String, idCol: String,
                   merges: Seq[(String, String)],
                   marker: String = "</w>"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val stream0 = concat_ws(" ", transform(
      split(norm, " "), w => charTokens(w, marker)))
    val fusedAll = merges.foldLeft(stream0) { case (t, (a, b)) =>
      trim(replace(
        replace(concat(lit(" "), regexp_replace(t, " ", "  "), lit(" ")),
          lit(s" $a  $b "), lit(s" $a$b ")),
        lit("  "), lit(" ")))
    }
    val blank = length(trim(col(textCol))) === 0
    df.select(col(idCol),
        when(blank, lit("")).otherwise(fusedAll).as("encoded"))
      .withColumn("n_pieces",
        when(col("encoded") === "", lit(0L))
          .otherwise(size(split(col("encoded"), " ")).cast("long")))
  }

  /** Production-shape char-BPE ENCODE: encode each DISTINCT word once —
    * the k-merge fold runs over the VOCABULARY, not the corpus — then
    * documents re-encode by mapping their words through the
    * word → pieces table. Output identical to [[bpeCharApply]]
    * (spec-pinned bit-equality); the difference is pure plan shape, and
    * it is the one that survives a real tokenizer: with tens of
    * thousands of merges, a per-document replace chain is k full corpus
    * passes, while this is k passes over the vocab (MBs) plus ONE join.
    *
    * Scale shape: docs explode to (id, pos, word) rows and hash-join
    * the encoded vocab — broadcast at dictionary sizes, shuffled-join
    * degradation beyond; reassembly groups each doc's own pieces under
    * one exchange on the id (collect_list bounded by doc length).
    */
  def bpeCharApplyVocab(df: DataFrame, textCol: String, idCol: String,
                        merges: Seq[(String, String)],
                        marker: String = "</w>"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val words = df.where(length(trim(col(textCol))) > 0)
      .select(explode(split(norm, " ")).as("w"))
      .where(length(col("w")) > 0).distinct()
    val encWord = merges.foldLeft(charTokens(col("w"), marker)) {
      case (t, (a, b)) =>
        trim(replace(
          replace(concat(lit(" "), regexp_replace(t, " ", "  "), lit(" ")),
            lit(s" $a  $b "), lit(s" $a$b ")),
          lit("  "), lit(" ")))
    }
    val enc = words.select(col("w"), encWord.as("t"))
    val exploded = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(split(norm, " ")).as(Seq("pos", "w")))
    val reassembled = exploded.join(enc, "w")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        x => x.getField("t")), " ").as("encoded"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("encoded"), lit("")).as("encoded"))
      .withColumn("n_pieces",
        when(col("encoded") === "", lit(0L))
          .otherwise(size(split(col("encoded"), " ")).cast("long")))
  }

  /** WordPiece initial tokenization of one word: first char plain,
    * every later char `##`-prefixed ("cat" → "c ##a ##t") — the BERT
    * convention, where the prefix marks continuation-of-word so merged
    * pieces keep their word-position class. Assumes the corpus alphabet
    * contains no literal `#` (true of the fixture; a production caller
    * would escape it in normalization).
    */
  private def wpInitTokens(w: Column): Column =
    concat_ws(" ", transform(
      sequence(lit(1), length(w)),
      i => when(i === 1, w.substr(i, lit(1)))
        .otherwise(concat(lit("##"), w.substr(i, lit(1))))))

  /** WordPiece merge fusion: the joined piece keeps the LEFT element's
    * word-position class, so the continuation marker of the right
    * element is absorbed ("c"+"##a" → "ca", "##a"+"##t" → "##at").
    */
  private def wpFuse(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** WordPiece vocabulary induction — BPE's iteration machinery with the
    * WordPiece LIKELIHOOD objective: each step merges the adjacent pair
    * maximizing `count(a,b) / (count(a)·count(b))` (the unigram-LM
    * likelihood-gain approximation of Wu et al. 2016 §3.1 / the BERT
    * training recipe), not the raw pair count. The score is compared on
    * the exact integer plane: `score_fp = (cnt·10¹⁸) div (cnt_a·cnt_b)`
    * — one fixed-point truncating division (Spark's decimal `div` and
    * DuckDB's `//` truncate identically), so the argmax and the emitted
    * score are bit-portable across engines; ties break lexicographically
    * on (a, b). Emits one row per merge:
    * (step, a, b, cnt_ab, cnt_a, cnt_b, score_fp).
    *
    * Scale shape — identical to [[bpeCharVocab]]: ONE corpus pass builds
    * the word histogram; all `k` iterations run over the weighted vocab
    * (pair counts AND token counts are vocab-sized aggregates), so the
    * per-iteration cost at 100 TB is a MB-scale job and the merge table
    * is the only driver-side data. The fixed-point scale bounds: counts
    * ≤ ~10¹³ keep `cnt·10¹⁸` inside DECIMAL(38,0) exactly.
    */
  def wordpieceVocab(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    var cur = df.where(length(trim(col(textCol))) > 0)
      .select(explode(split(norm, " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(wpInitTokens(col("w")).as("t"), col("n"))
      .persist()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long, Long, Long)]
    try {
      var step = 1
      var done = false
      while (step <= k && !done) {
        // project the split ONCE (lambda-recompute trap, see bpeMergeTable)
        val toksed = cur.select(split(col("t"), " ").as("toks"), col("n"))
        val tokCnt = toksed
          .select(explode(col("toks")).as("tok"), col("n"))
          .groupBy("tok").agg(sum(col("n")).as("c"))
        val pairs = toksed.where(size(col("toks")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("a"),
              element_at(col("toks"), (i + lit(1)).cast("int")).as("b"))))
            .as("p"), col("n"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).as("cnt"))
        val topOpt = pairs
          .join(tokCnt.select(col("tok").as("a"), col("c").as("ca")), Seq("a"))
          .join(tokCnt.select(col("tok").as("b"), col("c").as("cb")), Seq("b"))
          .withColumn("score_fp", expr(
            "CAST(cnt AS DECIMAL(38,0)) * 1000000000000000000 div " +
              "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)))"))
          .orderBy(col("score_fp").desc, col("a"), col("b")).limit(1)
          .collect().headOption
        topOpt match {
          case None => done = true
          case Some(r) =>
            val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
            val cnt = r.getAs[Long]("cnt")
            val ca = r.getAs[Long]("ca")
            val cb = r.getAs[Long]("cb")
            val fp = r.getAs[Long]("score_fp")
            merges += ((step, a, b, cnt, ca, cb, fp))
            val doubled = concat(lit(" "),
              regexp_replace(col("t"), " ", "  "), lit(" "))
            val next = cur.select(trim(replace(
                replace(doubled, lit(s" $a  $b "), lit(s" ${wpFuse(a, b)} ")),
                lit("  "), lit(" "))).as("t"), col("n"))
              .persist()
            next.count() // materialize before dropping the parent
            cur.unpersist()
            cur = next
        }
        step += 1
      }
    } finally cur.unpersist()
    merges.toSeq.toDF("step", "a", "b", "cnt_ab", "cnt_a", "cnt_b", "score_fp")
  }

  /** The final WordPiece piece inventory: the corpus ALPHABET (every
    * word-initial char plain, every continuation char `##`-prefixed —
    * the base vocabulary induction starts from) plus the `k` merged
    * pieces. Alphabet collection is charset-bounded metadata (≤ 2×
    * distinct codepoints), the same driver-size contract as the PQ
    * codebooks.
    */
  def wordpieceFinalVocab(df: DataFrame, textCol: String,
                          merges: Seq[(String, String)]): Seq[String] = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val alpha = df.where(length(trim(col(textCol))) > 0)
      .select(explode(split(norm, " ")).as("w"))
      .where(length(col("w")) > 0)
      .select(explode(split(wpInitTokens(col("w")), " ")).as("p"))
      .distinct().collect().map(_.getString(0)).toSeq
    alpha ++ merges.map { case (a, b) => wpFuse(a, b) }
  }

  /** WordPiece ENCODE — greedy longest-match-first inference (the BERT
    * rule) over the final piece inventory. Encodes each DISTINCT word
    * once through the native [[graft.plans.WordPieceEncodeF]] kernel
    * (O(len·maxPiece) per word, whole-stage codegen), then documents
    * re-encode by one word → pieces join — the [[bpeCharApplyVocab]]
    * plan shape, which is the one that survives a 30k-piece production
    * vocabulary: vocabulary-sized encode work plus ONE corpus join, no
    * per-merge corpus passes at all. A word with an unmatchable
    * position encodes to `[UNK]` (cannot happen when the vocabulary was
    * induced on the same corpus: the alphabet covers every char).
    * Emits (id, encoded, n_pieces); blank documents encode to "".
    */
  def wordpieceApply(df: DataFrame, textCol: String, idCol: String,
                     pieces: Seq[String]): DataFrame = {
    val vocab = new graft.plans.WordPieceVocab(pieces)
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val words = df.where(length(trim(col(textCol))) > 0)
      .select(explode(split(norm, " ")).as("w"))
      .where(length(col("w")) > 0).distinct()
    val enc = words.select(col("w"),
      graft.plans.WordPieceEncodeF.wordpieceEncode(col("w"), vocab).as("t"))
    val exploded = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(split(norm, " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
    val reassembled = exploded.join(enc, "w")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        x => x.getField("t")), " ").as("encoded"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("encoded"), lit("")).as("encoded"))
      .withColumn("n_pieces",
        when(col("encoded") === "", lit(0L))
          .otherwise(size(split(col("encoded"), " ")).cast("long")))
  }

  /** Per-OCCURRENCE WordPiece encode: the greedy kernel runs inside a
    * `transform` over each document's token array — one stateless
    * projection, no join, no shuffle. Output identical to
    * [[wordpieceApply]] (spec-pinned); the join form amortizes encode
    * work across repeated words, this form is the STREAMING shape: a
    * pure row-local map that is exactly-once under any microbatch
    * split, with the trained piece inventory shipped as task metadata.
    */
  def wordpieceApplyPerRow(df: DataFrame, textCol: String, idCol: String,
                           pieces: Seq[String]): DataFrame = {
    val vocab = new graft.plans.WordPieceVocab(pieces)
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val blank = length(trim(col(textCol))) === 0
    val encoded = when(blank, lit("")).otherwise(
      concat_ws(" ", transform(split(norm, " "),
        w => graft.plans.WordPieceEncodeF.wordpieceEncode(w, vocab))))
    df.select(col(idCol), encoded.as("encoded"))
      .withColumn("n_pieces",
        when(col("encoded") === "", lit(0L))
          .otherwise(size(split(col("encoded"), " ")).cast("long")))
  }

  /** Quality-prioritized token-budget fill: admit documents in
    * (quality desc, id) order while the INCLUSIVE running token total
    * stays within `budget` — "the best N tokens", the selection rule a
    * fixed-compute pretraining run applies to an over-collected corpus.
    * Emits the admitted docs with their running totals (the manifest a
    * budget report needs).
    *
    * Scale shape: the global cumsum follows the two-phase pattern —
    * quality lives in [0,1], so fixed-width value buckets
    * (`floor((1−q)·nBuckets)`) are contiguous ranges of the sort order
    * by construction; within-bucket running sums window on the bucket
    * key, bucket totals cumsum on an nBuckets-row aggregate, broadcast
    * back. No corpus-wide ordered window.
    */
  def tokenBudgetFill(df: DataFrame, textCol: String, idCol: String,
                      budget: Long, nBuckets: Int = 256): DataFrame = {
    require(budget >= 0 && nBuckets > 0, s"bad budget/buckets: $budget/$nBuckets")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("__s", TextAnalysis.stats(col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextAnalysis.qualityScoreFromStats(col("__s")).as("quality"),
        col("__s.n_tokens").cast("long").as("n_tokens"))
      .withColumn("__b",
        floor((lit(1.0) - col("quality")) * nBuckets).cast("long"))
    val wLocal = Window.partitionBy(col("__b"))
      .orderBy(col("quality").desc, col("doc_id"))
    val local = base.withColumn("__cum",
      sum(col("n_tokens")).over(wLocal.rowsBetween(
        Window.unboundedPreceding, 0)))
    val bSums = base.groupBy("__b").agg(sum(col("n_tokens")).as("__bs"))
    val wPre = Window.partitionBy(pmod(col("__b"), lit(1))).orderBy(col("__b"))
    val offs = bSums.withColumn("__off",
        coalesce(sum(col("__bs")).over(wPre.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    local.join(broadcast(offs), Seq("__b"))
      .withColumn("cum_tokens", col("__off") + col("__cum"))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
  }

  /** One BPE-style merge iteration over the corpus, word-level: count
    * adjacent token pairs corpus-wide, pick the most frequent (ties →
    * lexicographically smallest), and fuse every non-overlapping
    * left-to-right occurrence into one `a+b` token — exactly the
    * greedy apply rule byte-pair encoding uses per iteration (vocab
    * induction is this step in a loop; each iteration is one
    * Spark job over the corpus plus a one-row argmax).
    *
    * The fuse is pure LITERAL string replacement (no regex, so no
    * metacharacter escaping and identical semantics in any engine):
    * the single-space-normalized text is space-doubled so every token
    * carries its own leading/trailing space, then ` a  b ` →
    * ` a+b ` replaces left-to-right non-overlapping — the "a a a"
    * corner fuses once, as BPE specifies.
    *
    * Scale shape: bigram counts partial-aggregate before their
    * exchange; the argmax is TakeOrderedAndProject(1); the chosen pair
    * (one row) broadcasts back into a per-row projection. No other
    * shuffle.
    */
  def bpeMergeStep(df: DataFrame, textCol: String, idCol: String,
                   joiner: String = "+"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    // project the split ONCE (see bpeMergeTable: inlined split
    // re-evaluates per element reference inside transform)
    val pairs = df
      .where(length(trim(col(textCol))) > 0)
      .select(split(norm, " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), (i + lit(1)).cast("int")).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
    val topOpt = pairs
      .orderBy(col("n").desc, col("a"), col("b")).limit(1)
      .collect().headOption
    val base = df.select(col(idCol), col(textCol))
    topOpt match {
      case None => // no doc has two tokens: nothing to merge
        base.select(col(idCol), norm.as("merged_text"),
          lit("").as("pair"), lit(0L).as("pair_count"))
      case Some(top) =>
        val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
        // space-double so every token owns its boundary spaces, fuse the
        // pair with a LITERAL replace (left-to-right non-overlapping, the
        // BPE apply rule; "a a a" fuses once), then collapse back
        val doubled = concat(lit(" "),
          regexp_replace(norm, " ", "  "), lit(" "))
        val fused = trim(replace(
          replace(doubled, lit(s" $a  $b "), lit(s" $a$joiner$b ")),
          lit("  "), lit(" ")))
        base.select(col(idCol),
          when(length(trim(col(textCol))) === 0, lit(""))
            .otherwise(fused).as("merged_text"),
          lit(s"$a $b").as("pair"), lit(n).as("pair_count"))
    }
  }

  /** BPE vocabulary induction: [[bpeMergeStep]] iterated k times,
    * emitting the merge table (step, a, b, count) — THE artifact a
    * tokenizer trainer produces, as k corpus passes. Each iteration is
    * one partial-aggregated pair count + a one-row argmax + a literal
    * per-row fuse; the evolving corpus is persisted and the previous
    * iteration released, so lineage stays one projection deep. The
    * merge table itself (k rows) is the only driver-side data.
    *
    * The argmax rule matches bpeMergeStep: highest count, ties to the
    * lexicographically smallest (a, b). Merged tokens join with `+`,
    * so later steps can (and do) merge previously-fused tokens —
    * real BPE behavior.
    */
  def bpeMergeTable(df: DataFrame, textCol: String,
                    k: Int, joiner: String = "+"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    var cur = df.where(length(trim(col(textCol))) > 0)
      .select(regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("t"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var step = 1
      var done = false
      while (step <= k && !done) {
        // project the split ONCE: an inlined `split` gets re-evaluated
        // per element reference inside transform() (the
        // lambda-recompute trap); a multiply-referenced non-cheap
        // alias survives CollapseProject
        val topOpt = cur
          .select(split(col("t"), " ").as("toks"))
          .where(size(col("toks")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("a"),
              element_at(col("toks"), (i + lit(1)).cast("int")).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a"), col("b")).limit(1)
          .collect().headOption
        topOpt match {
          case None => done = true
          case Some(r) =>
            val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
            merges += ((step, a, b, n))
            val doubled = concat(lit(" "),
              regexp_replace(col("t"), " ", "  "), lit(" "))
            val next = cur.select(trim(replace(
              replace(doubled, lit(s" $a  $b "), lit(s" $a$joiner$b ")),
              lit("  "), lit(" "))).as("t")).persist()
            next.count() // materialize before dropping the parent
            cur.unpersist()
            cur = next
        }
        step += 1
      }
    } finally cur.unpersist()
    merges.toSeq.toDF("step", "a", "b", "n")
  }

  /** Apply a BPE merge table to a corpus — the tokenizer ENCODE step:
    * each merge (in table order) fuses its pair everywhere with the
    * same greedy literal-replace rule the induction used, so later
    * merges see earlier fusions exactly as [[bpeMergeTable]]'s evolving
    * corpus did. The merge table is tiny (k rows, collected) and the
    * application is one per-row projection chain — no shuffle at all;
    * blank documents encode to the empty string.
    */
  def bpeApply(df: DataFrame, textCol: String, idCol: String,
               merges: Seq[(String, String)],
               joiner: String = "+"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val fusedAll = merges.foldLeft(norm) { case (t, (a, b)) =>
      trim(replace(
        replace(concat(lit(" "), regexp_replace(t, " ", "  "), lit(" ")),
          lit(s" $a  $b "), lit(s" $a$joiner$b ")),
        lit("  "), lit(" ")))
    }
    df.select(col(idCol),
      when(length(trim(col(textCol))) === 0, lit(""))
        .otherwise(fusedAll).as("merged_text"))
  }

  /** Per-source quality percentile calibration: each document's quality
    * re-expressed as its percentile rank WITHIN its source
    * (`(rank − 1) / (n − 1)`, 0.5 for singleton sources) — the
    * per-domain normalization applied before a global threshold, so a
    * uniformly-mediocre source doesn't drown out a high-variance one
    * (a quality cut at 0.6 means something different per domain; a cut
    * at the 60th percentile doesn't).
    *
    * Scale shape: rank within source is the same two-phase
    * (source, quality-value bucket) pattern as [[tokenBudgetFill]] —
    * quality buckets are contiguous in the (quality asc, id) sort
    * order, so bucket-local row_numbers + per-source bucket-count
    * offsets compose exactly; per-source totals broadcast back. No
    * per-source corpus-wide window.
    */
  def qualityPercentiles(df: DataFrame, textCol: String, idCol: String,
                         srcCol: String, nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("__s", TextAnalysis.stats(col(textCol)))
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        TextAnalysis.qualityScoreFromStats(col("__s")).as("quality"))
      .withColumn("__b", floor(col("quality") * nBuckets).cast("long"))
    val wLocal = Window.partitionBy(col("source"), col("__b"))
      .orderBy(col("quality"), col("doc_id"))
    val local = base.withColumn("__rn", row_number().over(wLocal).cast("long"))
    val cnts = base.groupBy("source", "__b").agg(count(lit(1)).as("__c"))
    val wPre = Window.partitionBy(col("source")).orderBy(col("__b"))
    val offs = cnts.withColumn("__off",
        coalesce(sum(col("__c")).over(wPre.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("__b"), col("__off"))
    val totals = cnts.groupBy("source").agg(sum(col("__c")).as("__n"))
    local.join(broadcast(offs), Seq("source", "__b"))
      .join(broadcast(totals), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"),
        when(col("__n") === 1, lit(0.5)).otherwise(
          (col("__off") + col("__rn") - lit(1)).cast("double") /
            (col("__n") - lit(1)).cast("double")).as("quality_pct"))
  }

  /** Per-source document cap: keep at most `cap` documents from each
    * source, the best first — (quality desc, id asc) — with their final
    * 1-based rank. The anti-monopoly rule web-scale curation applies
    * before mixing: no single domain/crawl may contribute more than its
    * cap, however large it is, and WHICH docs survive is the
    * deterministic quality argmax, not arrival luck.
    *
    * Scale shape: a bare `row_number() over (partition by source)`
    * hash-partitions the full corpus by source — a handful of sources ⇒
    * a handful of tasks holding terabytes. Instead, salted two-phase
    * top-N: phase 1 ranks within (source, salt) — salt = portable md5
    * bucket of the id mod `nSalts`, so every partition is ~1/nSalts of
    * a source and the salting is layout-independent — and keeps `cap`
    * rows per salt; phase 2 re-ranks the ≤ cap·nSalts survivors per
    * source (tiny by construction). The global top-cap of a source is
    * always contained in the union of its per-salt top-caps, so the
    * composition is exact. Both windows sort bounded partitions; the
    * second phase's input fits one task by construction.
    */
  def sourceCap(df: DataFrame, textCol: String, idCol: String,
                srcCol: String, cap: Int, nSalts: Int = 32): DataFrame = {
    require(cap > 0, s"cap must be > 0, got $cap")
    require(nSalts > 0, s"nSalts must be > 0, got $nSalts")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("__s", TextAnalysis.stats(col(textCol)))
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        TextAnalysis.qualityScoreFromStats(col("__s")).as("quality"))
      .withColumn("__salt",
        pmod(Sampling.portableBucketInt(col(idCol)), lit(nSalts.toLong)))
    val wSalt = Window.partitionBy(col("source"), col("__salt"))
      .orderBy(col("quality").desc, col("doc_id"))
    val survivors = base
      .withColumn("__rn", row_number().over(wSalt))
      .where(col("__rn") <= cap)
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    survivors
      .withColumn("rank", row_number().over(wSrc).cast("long"))
      .where(col("rank") <= cap)
      .select(col("doc_id"), col("source"), col("quality"), col("rank"))
  }

  // ---------------------------------------------------------- scrubbing

  /** Markup tag pattern — same Java-regex/RE2 common subset contract as
    * [[TextAnalysis.PiiPatterns]].
    */
  val TagRe: String = "<[^>]+>"

  /** Strip markup: tags become spaces, the common entities unescape
    * (&lt; &gt; &nbsp; first, &amp; LAST so "&amp;lt;" single-unescapes
    * to the literal "&lt;" — the standard non-double-unescape order),
    * then whitespace renormalizes. The WET-extraction step of a web
    * corpus, as one codegen'd projection.
    */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, TagRe, " ")
    val unescaped =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&lt;", "<"),
            "&gt;", ">"),
          "&nbsp;", " "),
        "&amp;", "&")
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Corpus snapshot diff — dataset versioning's core primitive: compare
    * two corpus versions by content digest and classify every id as
    * added / removed / changed / unchanged. Emits
    * (id, status, old_digest, new_digest); the digest of a missing side
    * is NULL.
    *
    * 100 TB shape: each side projects to (id, 16-byte digest) BEFORE the
    * full-outer hash join — document payloads never shuffle, the
    * exchange carries two narrow columns per side. That is the only
    * affordable diff shape at corpus scale; a text-comparing join would
    * move both corpora.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, contentCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("__oid"),
      md5(col(contentCol)).as("old_digest"))
    val n = newSnap.select(col(idCol).as("__nid"),
      md5(col(contentCol)).as("new_digest"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as(idCol),
        when(col("__oid").isNull, lit("added"))
          .when(col("__nid").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_digest"), col("new_digest"))
  }

  /** Cross-source duplicate-overlap matrix: for every source pair
    * (a < b), the number of distinct normalized texts each source holds
    * and how many they share — the multi-source acquisition diagnostic
    * (is CommonCrawl-B mostly a re-crawl of CommonCrawl-A?). Counts are
    * exact integers; Jaccard/containment are one division away and left
    * to the caller so the output stays bit-portable.
    *
    * 100 TB shape: text never crosses an exchange — the corpus collapses
    * to distinct (xxhash64(norm_text), source) rows first, the self-join
    * runs on the 8-byte hash, and the full pair matrix comes from
    * crossing the per-source totals (sources are metadata-sized, so that
    * join broadcasts) with absent overlaps coalesced to 0.
    */
  def sourceOverlap(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val ds = docs
      .select(xxhash64(Dedup.normalizeText(col(textCol))).as("__h"),
        col(sourceCol).as("__s"))
      .distinct()
    val perSource = ds.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val shared = ds.as("a")
      .join(ds.as("b"),
        col("a.__h") === col("b.__h") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("source_a"), col("b.__s").as("source_b"))
      .agg(count(lit(1)).as("__sh"))
    perSource.select(col("__s").as("source_a"), col("__n").as("n_a"))
      .join(perSource.select(col("__s").as("source_b"), col("__n").as("n_b")),
        col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("__sh"), lit(0L)).as("n_shared"))
  }

  /** Balanced-mix downsampling: compute each source's token budget share
    * and admit documents by portable hash so every source contributes
    * ~the same token mass as the smallest source (the anti-dominance
    * pre-mixing rule; the DoReMi-style generalization is the same shape
    * with externally supplied target shares). `rate_ppm = min_avail·1e6
    * div avail_s` — exact integer; admission replays in any md5-capable
    * engine via [[Sampling.portableBucketInt]] mod 1e6.
    *
    * 100 TB shape: one partial-agg token sum per source (metadata-sized,
    * broadcast back), one 1-row minimum, then a pure projection over the
    * corpus — no shuffle of document rows at all. The ppm product
    * assumes `min_avail·1e6 < 2⁶³` (~9·10¹² tokens); past that, divide
    * before scaling.
    */
  def mixToTarget(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame =
    applyMixRates(
      docs.select(col(idCol), col(sourceCol).as("source"),
        tokenCountCol(col(textCol)).as("n_tokens")),
      idCol, mixRates(docs, textCol, sourceCol))

  /** The per-source rate table alone: (source, avail_tokens, rate_ppm).
    * Metadata-sized — one row per source — so a continuous intake stream
    * can join it statelessly (the search_ingest pattern: stats live
    * OUTSIDE the stream and are refreshed by re-running this, never
    * frozen into per-arrival state).
    */
  def mixRates(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val avail = docs
      .select(col(sourceCol).as("source"),
        tokenCountCol(col(textCol)).as("__t"))
      .groupBy(col("source")).agg(sum(col("__t")).as("avail_tokens"))
    avail.crossJoin(broadcast(
        avail.agg(min(col("avail_tokens")).as("__min_avail"))))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("__min_avail * 1000000 div avail_tokens")))
      .select(col("source"), col("avail_tokens"), col("rate_ppm"))
  }

  /** Stateless admission of (id, source, n_tokens) rows against a rate
    * table — a broadcast join + projection, usable identically on a
    * static corpus or a stream-static join.
    */
  def applyMixRates(d: DataFrame, idCol: String,
      rates: DataFrame): DataFrame =
    d.join(broadcast(rates), Seq("source"))
      .withColumn("admitted",
        pmod(Sampling.portableBucketInt(col(idCol)), lit(1000000L)) <
          col("rate_ppm"))
      .select(col(idCol), col("source"), col("n_tokens"),
        col("avail_tokens"), col("rate_ppm"), col("admitted"))

  /** Whitespace token count as `\S+` runs — 0 for empty text, no guard
    * column needed; identical under Java regex and RE2.
    */
  private def tokenCountCol(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("long")

  /** Temperature-scaled mixture weights at tau = 1/2 (UniMax/multilingual-
    * sampling shape): each source's sampling weight is n^tau, flattening
    * the head and boosting the tail. tau = 1/2 specifically because
    * sqrt is IEEE-correctly-rounded everywhere while pow/exp are
    * libm-dependent — the one tau where temperature sampling is
    * bit-portable. The share denominator folds over the SOURCE-SORTED
    * weight list (sources are metadata-sized by contract), so the one
    * float sum has a fixed association order on every engine.
    */
  /** Per-GROUP token-budget fill — [[tokenBudgetFill]] with the budget
    * split across groups (languages, sources): each group admits its
    * own highest-quality documents until ITS budget is spent. `budgets`
    * is (`groupCol`, `budget`) — group-count-sized, broadcast. Same
    * two-phase bucketed prefix-sum shape as the global form (windows
    * partition by (group, quality bucket) — state bounded by bucket
    * size, never a corpus-wide single partition); the effective
    * admission order within a group is exactly (quality desc, doc_id)
    * because the bucket index is monotone in quality.
    */
  def tokenBudgetFillBy(df: DataFrame, textCol: String, idCol: String,
                        groupCol: String, budgets: DataFrame,
                        nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("__s", TextAnalysis.stats(col(textCol)))
      .select(col(groupCol).as("__g"), col(idCol).as("doc_id"),
        TextAnalysis.qualityScoreFromStats(col("__s")).as("quality"),
        col("__s.n_tokens").cast("long").as("n_tokens"))
      .withColumn("__b",
        floor((lit(1.0) - col("quality")) * nBuckets).cast("long"))
    val wLocal = Window.partitionBy(col("__g"), col("__b"))
      .orderBy(col("quality").desc, col("doc_id"))
    val local = base.withColumn("__cum",
      sum(col("n_tokens")).over(wLocal.rowsBetween(
        Window.unboundedPreceding, 0)))
    val bSums = base.groupBy("__g", "__b").agg(sum(col("n_tokens")).as("__bs"))
    val wPre = Window.partitionBy(col("__g")).orderBy(col("__b"))
    val offs = bSums.withColumn("__off",
        coalesce(sum(col("__bs")).over(wPre.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__g"), col("__b"), col("__off"))
    local.join(broadcast(offs), Seq("__g", "__b"))
      .withColumn("cum_tokens", col("__off") + col("__cum"))
      .join(broadcast(budgets.select(col(groupCol).as("__g"),
        col("budget"))), Seq("__g"))
      .where(col("cum_tokens") <= col("budget"))
      .select(col("__g").as(groupCol), col("doc_id"), col("quality"),
        col("n_tokens"), col("cum_tokens"), col("budget"))
  }

  def temperatureShares(df: DataFrame, srcCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n"))
    counts
      .agg(array_sort(collect_list(struct(col("source"), col("n"))))
        .as("arr"))
      .select(explode(col("arr")).as("e"),
        aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + sqrt(x.getField("n").cast("double")))
          .as("denom"))
      .select(col("e.source").as("source"), col("e.n").as("n"),
        sqrt(col("e.n").cast("double")).as("w"),
        (sqrt(col("e.n").cast("double")) / col("denom")).as("share"))
  }
}
