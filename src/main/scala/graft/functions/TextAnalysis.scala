package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting.
  *
  * Everything here is a pure per-row `Column` expression built from
  * `org.apache.spark.sql.functions` — no UDFs, no shuffles: each operator
  * stays inside whole-stage codegen and scales embarrassingly parallel
  * (a 100 TB corpus is just more partitions; no skew concern because
  * nothing groups).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count (0 for empty/blank text). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(tokens(c)))

  /** BPE-ish subword count: letter runs, single digits, and single
    * non-alphanumeric marks each count as one token — a cheap, deterministic
    * proxy for a real BPE tokenizer's token count.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0)))

  def charCount(c: Column): Column = length(c)

  /** Fraction of characters that are common punctuation. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def digitRatio(c: Column): Column =
    length(regexp_replace(c, "[^0-9]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
      "was", "for", "on", "with", "as", "by", "at", "it", "that", "this")

  /** Fraction of whitespace tokens that are (English) stopwords. */
  def stopwordRatio(c: Column): Column = {
    val stops = EnglishStopwords.map(lit(_))
    val hits = size(filter(tokens(c), t => t.isin(stops: _*)))
    hits.cast("double") / greatest(tokenCount(c), lit(1)).cast("double")
  }

  def meanTokenLength(c: Column): Column =
    aggregate(transform(tokens(c), t => length(t).cast("long")), lit(0L), (acc, x) => acc + x)
      .cast("double") / greatest(tokenCount(c), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards reasonable length, a healthy
    * stopword ratio (natural-language-ness), and low digit/punct noise.
    * Weights are heuristic; the shape (bounded, monotone in each signal)
    * is what matters for filtering.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(tokenCount(c).cast("double") / lit(100.0), lit(1.0))
    val stopScore = least(stopwordRatio(c) * lit(4.0), lit(1.0))
    val noise = punctRatio(c) + digitRatio(c)
    val noiseScore = greatest(lit(1.0) - noise * lit(2.0), lit(0.0))
    // no rounding: the raw IEEE combination is deterministic and
    // oracle-comparable; rounding near dyadic halves is not
    lenScore * lit(0.4) + stopScore * lit(0.3) + noiseScore * lit(0.3)
  }

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Tie-break is deterministic: first language in this order
    * wins at equal score; a document with no marker hits is "und".
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "de", "y", "que", "en", "un", "una", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "für"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"))

  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers.map(lit(_)): _*)))

  /** Predicted language code via marker-word argmax. Scores are packed into
    * one array and the winner picked with array_max/array_position (first
    * max wins — deterministic tie-break in LangMarkers order). A naive
    * when-chain that repeats `greatest(scores…)` per branch duplicates the
    * tokenize+filter subtree ~35×, which sends Catalyst optimization time
    * through the roof — this form keeps each score subtree to a couple of
    * occurrences.
    */
  def langId(c: Column): Column = {
    val scores = array(LangMarkers.map { case (_, m) => langScore(c, m) }: _*)
    val names = array(LangMarkers.map { case (lang, _) => lit(lang) }: _*)
    val mx = array_max(scores)
    when(mx === 0, lit("und"))
      .otherwise(element_at(names, array_position(scores, mx).cast("int")))
  }

  // ------------------------------------------------- native one-pass forms

  /** One-pass native stats struct ([[graft.plans.TextStatsExpr]]): every
    * counter the HOF forms above derive from ~6 regex/split passes, in a
    * single scan. Field-level equality with the HOF forms is asserted in
    * TextStatsExprSpec.
    */
  def stats(c: Column): Column = graft.plans.TextStatsExpr.textStats(c)

  /** [[qualityScore]] derived from the one-pass stats struct — identical
    * arithmetic, so oracle-compatible. Project the struct to a named
    * column first; Catalyst keeps a multiply-referenced non-cheap alias
    * un-collapsed, so the scan happens once per row.
    */
  def qualityScoreFromStats(s: Column): Column = {
    val d = (x: Column) => x.cast("double")
    val lenScore = least(d(s.getField("n_tokens")) / lit(100.0), lit(1.0))
    val stopRatio = d(s.getField("n_stop")) / d(greatest(s.getField("n_tokens"), lit(1)))
    val stopScore = least(stopRatio * lit(4.0), lit(1.0))
    val noise =
      d(s.getField("n_punct")) / d(greatest(s.getField("char_len"), lit(1))) +
        d(s.getField("n_digit")) / d(greatest(s.getField("char_len"), lit(1)))
    val noiseScore = greatest(lit(1.0) - noise * lit(2.0), lit(0.0))
    lenScore * lit(0.4) + stopScore * lit(0.3) + noiseScore * lit(0.3)
  }

  /** Native one-pass [[langId]] ([[graft.plans.LangScores]] counts all
    * languages' marker hits in one tokenization): same argmax + tie-break.
    * The scores array is bound once via the single-element-array trick so
    * the pass runs once per row, not once per reference.
    */
  def langIdNative(c: Column): Column = {
    val names = array(LangMarkers.map { case (lang, _) => lit(lang) }: _*)
    element_at(
      transform(array(graft.plans.ShingleExpressions.langScores(c)), sc => {
        val mx = array_max(sc)
        when(mx === 0, lit("und"))
          .otherwise(element_at(names, array_position(sc, mx).cast("int")))
      }), 1)
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * §A1.1 — the repetition filters of a large-scale training-data
    * pipeline): per document,
    *
    *  - `dup_bigram_frac` / `dup_trigram_frac`: fraction of word k-grams
    *    that are repeats of an earlier k-gram, `1 − distinct/total` —
    *    the distinct count is ONE native
    *    [[graft.plans.WordShingleHashes]] pass per k (no per-position
    *    string allocation);
    *  - `top_bigram_frac`: occurrences of the most frequent bigram over
    *    total bigrams — multiplicity needs a count per (doc, bigram), a
    *    two-phase aggregation whose shuffle carries (doc_id, bigram)
    *    pairs; partial map-side aggregation collapses each document's
    *    repeats before the exchange.
    *
    * Documents with fewer than k tokens score 0.0 (no k-grams to repeat).
    * Reference behavior: quality filtering of the curation surface
    * (SURVEY §7.2 step 8); oracle-checked per row vs DuckDB in the
    * `text_repetition` gate entry.
    */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String): org.apache.spark.sql.DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val base = df.select(col(idCol).as("doc_id"), norm.as("t"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    def dupFrac(k: Int) =
      when(col("n_tokens") >= k,
        lit(1.0) -
          size(graft.plans.ShingleExpressions.wordShingleHashes(col("t"), k))
            .cast("double") /
          (col("n_tokens") - (k - 1)).cast("double"))
        .otherwise(0.0)
    val sig = base.select(col("doc_id"), col("n_tokens"),
      dupFrac(2).as("dup_bigram_frac"), dupFrac(3).as("dup_trigram_frac"))
    val top = base.where(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"), split(col("t"), " ").as("tk"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr(
          "transform(sequence(0, cast(n_tokens as int) - 2)," +
            " i -> concat(tk[i], ' ', tk[i + 1]))")).as("bg"))
      .groupBy("doc_id", "bg").count()
      .groupBy("doc_id").agg(max("count").as("top_cnt"))
    sig.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        col("dup_bigram_frac"), col("dup_trigram_frac"),
        coalesce(col("top_cnt").cast("double") /
          (col("n_tokens") - 1).cast("double"), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03):
    * hash all character k-grams, take the min hash of each sliding window
    * of `w` k-grams, and collapse the distinct mins into one 64-bit value.
    * Near-identical documents share most window-min hashes, so this is a
    * robust per-document signature for shingle-level dedup at scale —
    * still a single codegen'd projection per row.
    */
  def fingerprint(c: Column, k: Int = 8, w: Int = 4): Column = {
    val t = regexp_replace(lower(trim(c)), "\\s+", " ")
    val nGrams = greatest(length(t) - lit(k - 1), lit(1))
    val grams = transform(sequence(lit(1), nGrams), i => xxhash64(t.substr(i, lit(k))))
    // Bind `grams` to a lambda variable (single-element-array trick) so the
    // k-gram hash array is computed ONCE per row. Referencing the raw
    // expression inside the window lambda would re-evaluate all ~n gram
    // hashes for every window position — O(n²·k) per row instead of O(n·k).
    val mins = element_at(
      transform(array(grams), g =>
        transform(sequence(lit(1), greatest(size(g) - lit(w - 1), lit(1))),
          j => array_min(slice(g, j, lit(w))))), 1)
    xxhash64(concat_ws(",", transform(array_sort(array_distinct(mins)), x => x.cast("string"))))
  }

  // ----------------------------------------------------------- PII redaction

  /** PII patterns in application order, each `(name, regex, replacement)`.
    * The regexes stay inside the Java-regex/RE2 common subset (character
    * classes, bounded repeats, ASCII `\b`; no lookaround, no backrefs) so
    * the exact same pattern strings drive the engine and any
    * RE2-family validator — drift between redaction and audit tooling is
    * a compliance bug, not just a test nuisance.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d[\\d-]{5,}\\d", "<PHONE>"))

  /** Sequential PII redaction: for each pattern in [[PiiPatterns]] order,
    * count matches in the text AS THE PREVIOUS REDACTIONS LEFT IT, then
    * replace them — sequencing makes the output well-defined even where
    * category patterns could overlap (an IP inside an already-redacted
    * email is never double-counted). Output: `(id, redacted, n_email,
    * n_ip, n_phone)`. Pure per-row projection — codegen'd regex work,
    * no shuffle, applies unchanged to streaming input.
    */
  def redactPii(df: org.apache.spark.sql.DataFrame, textCol: String,
                idCol: String): org.apache.spark.sql.DataFrame = {
    val init = df.select(col(idCol), col(textCol).as("__t"))
    val out = PiiPatterns.foldLeft(init) { case (d, (name, pat, repl)) =>
      d.withColumn(s"n_$name",
          size(regexp_extract_all(col("__t"), lit(pat), lit(0))).cast("long"))
        .withColumn("__t", regexp_replace(col("__t"), pat, repl))
    }
    out.withColumnRenamed("__t", "redacted")
  }

  /** Canonical text normalization — the cleanup pass run BEFORE hashing,
    * dedup, or tokenization: strip C0/DEL control characters, Unicode
    * NFC-compose (é as e+U+0301 and é as U+00E9 must hash identically),
    * collapse whitespace runs, trim. Pure per-row projection (native NFC
    * expression + builtin regexps), stays in whole-stage codegen.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      graft.plans.NfcNormalizeF.nfcNormalize(
        regexp_replace(c, "[\\x00-\\x1F\\x7F]", "")),
      "\\s+", " "))

  /** Hashed linear text-classifier scoring — the fastText/DCLM-style
    * quality-classifier APPLY step: every token hashes into a bucket of
    * a weight table and the document's margin is the mean bucket weight,
    * `(Σ w(token)) / n_tokens`. Here the table is derived
    * deterministically from md5 (bucket − nBuckets/2 ∈ [−n/2, n/2));
    * a TRAINED table plugs into the same seam as a broadcast array
    * lookup. The numerator accumulates EXACT integers, so the margin is
    * ONE IEEE division of exact operands — bit-portable across engines,
    * partitionings, and accumulation orders. Pure projection: no
    * shuffle, stays in whole-stage codegen; at 100 TB this scores at
    * scan speed, which is exactly what a corpus-wide quality cut needs.
    */
  def linearScore(c: Column, nBuckets: Int = 512): Column = {
    require(nBuckets >= 2 && nBuckets % 2 == 0,
      s"nBuckets must be even >= 2, got $nBuckets")
    when(length(trim(c)) === 0, lit(0.0))
      .otherwise(graft.plans.LinearScoreF.linearScore(c, nBuckets))
  }

  /** Character-bigram novelty — the garbled-text detector: the fraction
    * of a document's DISTINCT char bigrams whose corpus document
    * frequency falls below `rarePct`% of the corpus (mojibake, binary
    * spill, ROT-ed text, and encoding damage are made of bigrams clean
    * text never produces; clean docs score 0). The character-level
    * complement of the token-level quality signals ([[stats]],
    * [[repetitionSignals]], [[linearScore]]).
    *
    * Everything is exact integer arithmetic until the final division:
    * the threshold is the integer ceil `(N·rarePct + 99) / 100` (no
    * IEEE product that could round differently across engines), and
    * novelty = n_rare / n_bigrams is one division of exact counts —
    * bit-portable.
    *
    * Scale shape: the per-doc distinct-bigram ARRAY is computed once and
    * persisted (id + a ≤alphabet²-element array per doc — far smaller
    * than the text); `n_bigrams` is `size(arr)` (no per-doc shuffle at
    * all), the doc-frequency table is ONE explode + partial-agg to at
    * most alphabet² rows, and the rare set — bounded by alphabet², a
    * few KB — comes back as a broadcast single-row array so `n_rare` is
    * `size(array_intersect(...))`, another pure projection. Net: one
    * explode and one aggregation where the naive form pays three
    * explodes and three shuffles. Docs too short for a bigram (or
    * blank) emit zeros.
    */
  def bigramNovelty(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, rarePct: Int = 5): org.apache.spark.sql.DataFrame = {
    require(rarePct >= 1 && rarePct <= 100, s"rarePct in [1,100], got $rarePct")
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    // the length guard must precede bigram extraction: sequence(1, L-1)
    // in the HOF twin DESCENDS for L < 2 and would fabricate bigrams
    // from 1-char docs. DistinctCharBigramsF is the fused one-pass form
    // (bit-equality spec vs the transform+substr+array_distinct twin)
    val base = df.select(col(idCol).as("doc_id"), norm.as("t"))
      .where(length(col("t")) >= 2)
      .select(col("doc_id"),
        graft.plans.DistinctCharBigramsF.distinctCharBigrams(col("t")).as("arr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = base.select(count(lit(1)).as("__n"))
    val dfc = base.select(explode(col("arr")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("__df"))
    val rare = dfc.crossJoin(total)
      .where(col("__df") <
        ((col("__n") * rarePct + lit(99)) / lit(100)).cast("long"))
      .agg(coalesce(collect_list(col("b")),
        array().cast("array<string>")).as("rare_arr"))
    val counted = base.crossJoin(broadcast(rare))
      .select(col("doc_id"),
        size(col("arr")).cast("long").as("n_bigrams"),
        size(array_intersect(col("arr"), col("rare_arr")))
          .cast("long").as("n_rare"))
    df.select(col(idCol).as("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_rare"), lit(0L)).cast("double") /
            col("n_bigrams").cast("double")).as("novelty"))
  }

  /** The Gopher rule set (Rae et al. 2021, §A1.1 "quality filtering") as
    * one declarative projection — the canonical pre-training document
    * filter: word count in [50, 100 000], mean word length in [3, 10],
    * symbol-to-word ratio ('#' or ellipsis) ≤ 0.1, ≤ 90% of lines
    * starting with a bullet, ≤ 30% ending with an ellipsis, ≥ 80% of
    * words containing an alphabetic character, and ≥ 2 of the paper's
    * eight English stop words present. Emits every rule verdict plus the
    * conjunction so downstream can audit WHICH rule rejected a doc.
    *
    * Every threshold is evaluated in EXACT INTEGER arithmetic
    * (`10·syms ≤ words` instead of `syms/words ≤ 0.1`) — zero IEEE
    * divisions, so the verdicts are bit-portable across engines by
    * construction. Token/length counts ride the one-pass native
    * [[stats]] struct; line/word rules are codegen'd HOF filters over
    * the split arrays. Pure per-row projection — scores at scan speed,
    * no shuffle, trivially 100 TB-safe.
    */
  def gopherRules(df: org.apache.spark.sql.DataFrame, textCol: String,
                  idCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
      stats(col(textCol)).as("__s"))
    val t = col("__t")
    val toks = split(trim(t), "\\s+")
    val lines = split(t, "\n")
    val nTok = col("__s.n_tokens")
    val tls = col("__s.tok_len_sum")
    val occ = (needle: String) =>
      (length(t) - length(replace(t, lit(needle), lit("")))).cast("long")
    val nSym = occ("#") + occ("…") + (occ("...") / 3).cast("long")
    val nLines = size(lines).cast("long")
    val isBullet = (l: Column) =>
      startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* ")) ||
        startswith(ltrim(l), lit("• "))
    val nBullet = size(filter(lines, isBullet)).cast("long")
    val nEll = size(filter(lines, l =>
      endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
      .cast("long")
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopSet = typedLit(Seq("the", "be", "to", "of", "and", "that",
      "have", "with"))
    val nStopSet = size(filter(stopSet, w => array_contains(toks, w)))
      .cast("long")
    base.select(col("doc_id"), nTok.as("n_tokens"),
        tls.as("__tls"), nSym.as("__sym"), nLines.as("__nl"),
        nBullet.as("__nb"), nEll.as("__ne"), nAlpha.as("__na"),
        nStopSet.as("__ns"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_tokens").between(50L, 100000L).as("word_count_ok"),
        (col("__tls") >= col("n_tokens") * 3 &&
          col("__tls") <= col("n_tokens") * 10).as("mean_len_ok"),
        (col("__sym") * 10 <= col("n_tokens")).as("symbol_ok"),
        (col("__nb") * 10 <= col("__nl") * 9).as("bullet_ok"),
        (col("__ne") * 10 <= col("__nl") * 3).as("ellipsis_ok"),
        (col("__na") * 5 >= col("n_tokens") * 4).as("alpha_ok"),
        (col("__ns") >= 2).as("stop_ok"))
      .withColumn("keep",
        col("word_count_ok") && col("mean_len_ok") && col("symbol_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
          col("stop_ok"))
  }

  /** Gopher-style compression-ratio quality signal:
    * `deflate_bytes / n_bytes` over the raw UTF-8 text. Templated and
    * repetitive documents compress hard (low ratio), natural prose sits
    * in a predictable band, and high-entropy garble barely compresses
    * (ratio near or above 1) — one number that separates all three
    * regimes, complementing the explicit k-gram fractions of
    * [[repetitionSignals]]. Pure projection over the native
    * [[graft.plans.DeflateSizeF]] expression — scores at scan speed,
    * no shuffle. Ratio is one IEEE division of exact byte counts;
    * empty docs score 0.
    */
  def compressionSignal(df: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes"),
        graft.plans.DeflateSizeF.deflateSize(col(textCol)).as("deflate_bytes"))
      .withColumn("ratio",
        when(col("n_bytes") === 0, lit(0.0))
          .otherwise(col("deflate_bytes").cast("double") /
            col("n_bytes").cast("double")))

  /** Corpus-wide top-k word 3-grams by DOCUMENT frequency — the
    * boilerplate/stop-phrase detector (the measured form of the
    * corpus-derived stop-shingle cap the dedup family applies).
    *
    * Scale shape: per-doc distinct shingles explode into (gram) rows;
    * partial count before the exchange means the shuffle carries one
    * (gram, count) row per distinct gram per partition; the final top-k
    * is TakeOrderedAndProject. For a bounded-memory alternative whose
    * shuffle does NOT scale with vocabulary size, see
    * [[graft.plans.MisraGries]] (estimate; spec-verified error bound).
    */
  def topNgramsByDocFreq(df: org.apache.spark.sql.DataFrame, textCol: String,
                         k: Int): org.apache.spark.sql.DataFrame = {
    // native fused shingle pass (distinct built in); the specs' HOF twin
    // `ReferenceForms.wordShingles` + array_distinct is the bit-equality
    // reference
    val toks = split(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), " ")
    df.select(explode(
        graft.plans.ShingleStringsF.shingleStrings(toks, 3)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(k)
  }

  /** Collocation mining by pointwise lift — the phrase-discovery pass a
    * tokenizer/vocab pipeline runs before merging multi-word units
    * (AutoPhrase/Mikolov-style `p(xy)/(p(x)p(y))`, kept as the RAW lift
    * ratio rather than its log: ÷ and × are IEEE-exact, `ln` is
    * libm-dependent — so the scores are bit-portable and the oracle can
    * hash-compare them; ordering is identical since ln is monotone).
    * `minCount` is the standard support cut (kills one-off pairs whose
    * lift is huge but meaningless).
    *
    * Scale shape: one token explode for unigram counts, one positional
    * bigram explode, both partial-aggregated; the unigram table joins
    * the bigram table by each side's word (shuffle joins — the unigram
    * table is vocab-sized, NOT broadcast); totals are one-row broadcast
    * scalars; final top-k is TakeOrderedAndProject (never a full sort),
    * with rank assigned over the k survivors only.
    */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                   minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val d = (x: Column) => x.cast("double")
    val toksDf = df.where(length(trim(col(textCol))) > 0)
      .select(split(Dedup.normalizeText(col(textCol)), " ").as("toks"))
    val uni = toksDf.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // totals off the token-ARRAY scan (sum of sizes) — aggregating the
    // exploded streams again would recompute each explode a second time
    val tUni = toksDf
      .select(size(col("toks")).cast("long").as("nw"))
      .agg(sum(col("nw")).as("t_uni"))
    val tBi = toksDf.where(size(col("toks")) >= 2)
      .select((size(col("toks")) - 1).cast("long").as("nb"))
      .agg(sum(col("nb")).as("t_bi"))
    val bc = toksDf.where(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("x"),
          element_at(col("toks"), i + 1).as("y")))).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
    val joined = bc
      .join(uni.select(col("w").as("x"), col("c").as("cx")), "x")
      .join(uni.select(col("w").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(tUni)).crossJoin(broadcast(tBi))
    val lift = (d(col("c_xy")) / d(col("t_bi"))) /
      ((d(col("cx")) / d(col("t_uni"))) * (d(col("cy")) / d(col("t_uni"))))
    val top = joined.select(col("x"), col("y"), col("c_xy"),
        lift.as("lift"))
      .orderBy(col("lift").desc, col("x"), col("y")).limit(k)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("lift").desc, col("x"), col("y"))))
  }

  /** Class-evidence lexicon from labeled documents: per normalized token,
    * the DOCUMENT frequency in positive vs negative docs (distinct per
    * doc — one vote per document, the Naive-Bayes convention). The table
    * this trains is exactly what [[lexiconScore]] applies — and what
    * [[ModelIO.saveLexicon]]/`loadLexicon` round-trip, so an externally
    * trained lexicon plugs into the same scoring plan.
    */
  def buildLexicon(df: org.apache.spark.sql.DataFrame, textCol: String,
                   isPos: Column): org.apache.spark.sql.DataFrame =
    df.select(isPos.as("__pos"),
        explode(array_distinct(
          split(Dedup.normalizeText(col(textCol)), " "))).as("token"))
      .groupBy("token")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("n_neg"))

  /** Apply a class-evidence lexicon: per document, the add-one-smoothed
    * positive-evidence score
    *   score = Σ_t (n_pos(t)+1) / Σ_t (n_pos(t)+n_neg(t)+2)
    * over the doc's token OCCURRENCES (OOV tokens contribute the 1/2
    * prior). Both sums are exact integers, so the score is ONE IEEE
    * division — bit-portable across engines (the corpus_profile rule).
    *
    * Scale shape: tokens explode, the lexicon broadcasts (a vocabulary
    * is MBs against a TB corpus), and the per-doc aggregation partial-
    * combines before its single exchange — no skew concern beyond doc
    * length, which the explode already bounds per row.
    */
  def lexiconScore(df: org.apache.spark.sql.DataFrame, textCol: String,
                   idCol: String,
                   lexicon: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(Dedup.normalizeText(col(textCol)), " ")).as("token"))
      .join(broadcast(lexicon), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n_pos").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        (sum(coalesce(col("n_pos"), lit(0L)) + 1L).cast("double") /
          sum(coalesce(col("n_pos"), lit(0L)) +
            coalesce(col("n_neg"), lit(0L)) + 2L).cast("double"))
          .as("score"))

  /** Bigram language-model counts trained from a reference corpus — the
    * TRAIN step of a CCNet-style LM quality filter. Three tables:
    * `contexts` (w1, c1) unigram context counts, `bigrams` (w1, w2, c2)
    * bigram counts, and `vocab` (one, vsize) the vocabulary size keyed
    * by a constant so the APPLY step can attach it with a plain
    * equi-join (works identically for batch and stream-static plans,
    * where a crossJoin would need a nested-loop stream join).
    *
    * Scale shape: two vocabulary-bounded partial aggregations over the
    * reference corpus — the shuffles carry one row per distinct
    * unigram/bigram per map task, never the corpus.
    */
  case class BigramLm(contexts: org.apache.spark.sql.DataFrame,
                      bigrams: org.apache.spark.sql.DataFrame,
                      vocab: org.apache.spark.sql.DataFrame)

  def buildBigramLm(df: org.apache.spark.sql.DataFrame,
                    textCol: String): BigramLm = {
    val t = split(Dedup.normalizeText(col(textCol)), " ")
    val uni = df.select(explode(t).as("w1"))
    val contexts = uni.groupBy("w1").agg(count(lit(1)).as("c1"))
    // |vocab| = |contexts|: counting the vocabulary-sized context table
    // replaces a second explode + distinct aggregation over the corpus
    val vocab = contexts.agg(count(lit(1)).as("vsize"))
      .withColumn("one", lit(1))
    val bigrams = df.select(t.as("__t")).where(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    BigramLm(contexts, bigrams, vocab)
  }

  /** APPLY step of the bigram LM filter: each document's pooled add-one
    * conditional-likelihood score over its bigram OCCURRENCES,
    *   score = Σ_i (c(w1_i,w2_i)+1)  /  Σ_i (c(w1_i)+V)
    * (OOV contexts contribute the 1/V prior). This is the log-free
    * pooled form of the CCNet perplexity cut — perplexity exponentiates
    * a mean of ln p, and ln is libm-dependent while integer sums plus
    * ONE IEEE division are bit-portable across engines (the same rule
    * as [[lexiconScore]] and the DSIR weights). Emits per doc:
    * n_bigrams, n_known (bigrams seen in the reference), score.
    *
    * Scale shape: bigrams explode; the count tables join back — the
    * context table is vocabulary-sized and the bigram table
    * vocabulary²-bounded (MBs–GBs against a TB corpus), so AQE
    * broadcasts them when small and falls back to a shuffle join when
    * a real reference corpus outgrows the threshold (no forced
    * broadcast: the train corpus is caller-supplied). The per-doc
    * aggregation partial-combines before its single exchange. Works
    * unchanged on a streaming input: both joins are stream-static
    * equi-joins, the aggregation runs in Update mode.
    */
  def lmScore(df: org.apache.spark.sql.DataFrame, textCol: String,
              idCol: String, lm: BigramLm,
              hotK: Int = 65536): org.apache.spark.sql.DataFrame = {
    // token array MATERIALIZED in its own projection before the bigram
    // lambda: inlining it re-runs normalize+split (two regexes) for
    // every element_at call — measured 2.4× on the whole entry at sf0.1
    val t = split(Dedup.normalizeText(col(textCol)), " ")
    val b = df.select(col(idCol).as("doc_id"), t.as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("w1"),
            element_at(col("__t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // Skew-proof count attach (VERDICT r8 item 5): the (w1, w2) and
    // (w1) join keys are stop-word-skewed in any natural-language
    // corpus, so a plain shuffle join collapses onto the hot keys at
    // scale. Split each count table into a frequency-capped HOT head
    // (top-hotK by count — bounded broadcast regardless of reference-
    // corpus size) and the TAIL (shuffle join whose keys are uniform
    // once the hot heads are gone). Exactness is preserved: every
    // bigram occurrence gets the same count through either route, the
    // per-doc sums are integer, and the union feeds one partial-
    // aggregated groupBy. hotK <= 0 restores the plain two-join plan.
    // All joins stay stream-static, so the streaming twin shares it.
    val scored =
      if (hotK <= 0)
        b.join(lm.bigrams, Seq("w1", "w2"), "left")
          .join(lm.contexts, Seq("w1"), "left")
      else {
        val hotB = lm.bigrams
          .orderBy(col("c2").desc, col("w1"), col("w2")).limit(hotK)
        val hotC = lm.contexts.orderBy(col("c1").desc, col("w1")).limit(hotK)
        val tailB = lm.bigrams.join(broadcast(hotB.select("w1", "w2")),
          Seq("w1", "w2"), "left_anti")
        val tailC = lm.contexts.join(broadcast(hotC.select("w1")),
          Seq("w1"), "left_anti")
        val withB = b.join(broadcast(hotB), Seq("w1", "w2"), "left")
        val bAll = withB.where(col("c2").isNotNull).unionByName(
          withB.where(col("c2").isNull).drop("c2")
            .join(tailB, Seq("w1", "w2"), "left"))
        val withC = bAll.join(broadcast(hotC), Seq("w1"), "left")
        withC.where(col("c1").isNotNull).unionByName(
          withC.where(col("c1").isNull).drop("c1")
            .join(tailC, Seq("w1"), "left"))
      }
    scored
      .withColumn("one", lit(1))
      .join(lm.vocab, Seq("one"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_known"),
        (sum(coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
          sum(coalesce(col("c1"), lit(0L)) + col("vsize")).cast("double"))
          .as("score"))
  }

  /** Sentence segmentation: split each document on terminal punctuation
    * (`.` `!` `?`), keeping the terminator attached to its sentence. The
    * pattern `[^.!?]+[.!?]*` is deliberately lookbehind-free (identical
    * semantics under Java regex and RE2), segments are space-trimmed, and
    * empties dropped; `seg_idx` is the segment's position in the raw
    * split, so downstream windows can reconstruct document order. Pure
    * projection + generator — no shuffle, stays in codegen.
    */
  /** Flesch-style readability on the exact integer plane: words = `\S+`
    * runs, sentences = `[.!?]+` runs (min 1), syllables approximated as
    * lowercase vowel-group (`[aeiouy]+`) runs — the standard heuristic.
    * `flesch_x1000 = 206835 − 1015·words div sentences − 84600·syllables
    * div words` (truncating integer division, all operands non-negative)
    * — bit-portable, no float. Pure projection; stays in codegen.
    */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))),
          lit(1)).cast("long").as("n_sentences"),
        size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .withColumn("flesch_x1000",
        lit(206835L) - expr("(1015 * n_words) div n_sentences") -
          expr("(84600 * n_syllables) div greatest(n_words, 1)"))

  /** Hashing-trick feature index of a token: first 8 md5 hex digits →
    * integer mod `nFeatures` — the engine-portable hash the repo's
    * samplers use, so any SQL engine replays the bucket exactly.
    */
  private def featureIdx(term: Column, nFeatures: Int): Column =
    (conv(substring(md5(term.cast("binary")), 1, 8), 16, 10)
      .cast("long") % nFeatures).cast("int")

  /** Hashing-trick featurization (Weinberger et al. 2009): lowercase
    * whitespace tokens hashed into a fixed `nFeatures`-bucket space,
    * emitted as SPARSE (id, feature, tf) rows — the fixed-width,
    * vocabulary-free text representation quality classifiers train on
    * (no vocab table to build, ship, or keep consistent across a
    * 100 TB corpus).
    *
    * Scale shape: explode + ONE partial-aggregated groupBy on
    * (id, feature) — combine happens map-side inside each doc's tokens,
    * so the shuffle carries at most nFeatures rows per doc.
    */
  def hashedFeatures(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, nFeatures: Int): org.apache.spark.sql.DataFrame = {
    require(nFeatures >= 2, s"nFeatures must be >= 2, got $nFeatures")
    df.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("__term"))
      .where(length(col("__term")) > 0)
      .select(col(idCol), featureIdx(col("__term"), nFeatures).as("feature"))
      .groupBy(col(idCol), col("feature"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Row-local form of [[hashedFeatures]] — identical output, computed
    * entirely inside the row (HOF histogram over the token array, no
    * shuffle at all), so it runs as a STATELESS streaming projection
    * (Append mode, no state store) and as the map-only path when the
    * id is already unique per row. Bit-equality with the groupBy form
    * is spec-checked.
    */
  def hashedFeaturesPerRow(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, nFeatures: Int): org.apache.spark.sql.DataFrame = {
    require(nFeatures >= 2, s"nFeatures must be >= 2, got $nFeatures")
    val feats = transform(
      filter(tokens(lower(col(textCol))), t => length(t) > 0),
      t => featureIdx(t, nFeatures))
    df.select(col(idCol), feats.as("__f"))
      .select(col(idCol), col("__f"),
        explode(array_distinct(col("__f"))).as("feature"))
      .select(col(idCol), col("feature"),
        size(filter(col("__f"), x => x === col("feature")))
          .cast("long").as("tf"))
  }

  def sentences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        posexplode(expr(s"regexp_extract_all($textCol, '[^.!?]+[.!?]*', 0)")))
      .toDF(idCol, "seg_idx", "__seg")
      .select(col(idCol), col("seg_idx").cast("int"),
        trim(col("__seg")).as("sentence"))
      .where(length(col("sentence")) > 0)
      .withColumn("n_chars", length(col("sentence")).cast("long"))
}
