package graft.queries

import graft.Tables
import graft.functions.{Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SqlFragments.{boilerTokenCtes, crossSpanOracle, htmlWrappedSql,
  langFromScores, markerScores, plantedTokenCtes, qualityCtes, qualityRatios,
  qualityScore, shingleCtes, spanIslandCtes, stripMarkupSql, tokenWindowCtes,
  wsTokenCols}
import Fixtures.{boilerDocs, htmlWrapped, plantedDocs, riverbank,
  streamWithSentinel}

/** Text-analysis entries: normalization, quality scoring, tokenizer
  * induction and encoding (BPE, WordPiece, unigram LM), n-gram and
  * sketch statistics, decontamination, packing and sharding.
  */
object TextQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    entry("text_stats", (spark, dir) => {
      val t = col("text")
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        TextAnalysis.bpeishTokenCount(t).cast("long").as("n_bpeish"),
        TextAnalysis.charCount(t).cast("long").as("char_len"),
        TextAnalysis.punctRatio(t).as("punct_ratio"),
        TextAnalysis.digitRatio(t).as("digit_ratio"),
        TextAnalysis.stopwordRatio(t).as("stopword_ratio"),
        TextAnalysis.meanTokenLength(t).as("mean_tok_len"),
        TextAnalysis.qualityScore(t).as("quality"))
    },
      textStatsOracle),

    // The canonical Gopher document filter as one projection: every rule
    // verdict plus the conjunction, all thresholds in exact integer
    // arithmetic (no IEEE ratio anywhere) so the DuckDB replay matches
    // bit-for-bit by construction.
    entry("text_gopher_rules", (spark, dir) =>
      TextAnalysis.gopherRules(
        Tables.read(spark, dir, "documents"), "text", "doc_id"),
      raw"""
      |WITH t AS (SELECT doc_id, text,
      |  string_split_regex(trim(text), '\s+') AS toks,
      |  string_split(text, chr(10)) AS lines,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
      |  FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(ntok AS BIGINT) AS n_tokens,
      |  CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS tls,
      |  CAST(len(lines) AS BIGINT) AS nl,
      |  CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
      |    OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• '))) AS BIGINT) AS nb,
      |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
      |    OR ends_with(rtrim(l), '…'))) AS BIGINT) AS ne,
      |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na,
      |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
      |    w -> list_contains(toks, w))) AS BIGINT) AS ns,
      |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |    + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
      |    + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS nsym
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  n_tokens BETWEEN 50 AND 100000 AS word_count_ok,
      |  (tls >= n_tokens * 3 AND tls <= n_tokens * 10) AS mean_len_ok,
      |  nsym * 10 <= n_tokens AS symbol_ok,
      |  nb * 10 <= nl * 9 AS bullet_ok,
      |  ne * 10 <= nl * 3 AS ellipsis_ok,
      |  na * 5 >= n_tokens * 4 AS alpha_ok,
      |  ns >= 2 AS stop_ok,
      |  ((n_tokens BETWEEN 50 AND 100000)
      |    AND tls >= n_tokens * 3 AND tls <= n_tokens * 10
      |    AND nsym * 10 <= n_tokens AND nb * 10 <= nl * 9
      |    AND ne * 10 <= nl * 3 AND na * 5 >= n_tokens * 4
      |    AND ns >= 2) AS keep
      |FROM m""".stripMargin),

    // Same metrics as text_stats from the single-pass native expression
    // (plans/TextStatsExpr): one string scan instead of ~6 regex passes.
    // Per-row equality with the HOF form is proven in TextStatsExprSpec,
    // so it shares text_stats' oracle.
    entry("text_stats_native", (spark, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          graft.plans.TextStatsExpr.textStats(col("text")).as("s"))
        .select(col("doc_id"),
          col("s.n_tokens").as("n_tokens"),
          col("s.n_bpeish").as("n_bpeish"),
          col("s.char_len").as("char_len"),
          (d(col("s.n_punct")) / d(greatest(col("s.char_len"), lit(1)))).as("punct_ratio"),
          (d(col("s.n_digit")) / d(greatest(col("s.char_len"), lit(1)))).as("digit_ratio"),
          (d(col("s.n_stop")) / d(greatest(col("s.n_tokens"), lit(1)))).as("stopword_ratio"),
          (d(col("s.tok_len_sum")) / d(greatest(col("s.n_tokens"), lit(1)))).as("mean_tok_len"))
        .withColumn("quality",
          least(d(col("n_tokens")) / lit(100.0), lit(1.0)) * lit(0.4) +
            least(col("stopword_ratio") * lit(4.0), lit(1.0)) * lit(0.3) +
            greatest(lit(1.0) - (col("punct_ratio") + col("digit_ratio")) * lit(2.0),
              lit(0.0)) * lit(0.3))
    },
      textStatsOracle),

    entry("text_langid", (spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")),
      s"""
        |WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |$markerScores
        |  FROM t)
        |SELECT doc_id, CASE
        |${langFromScores}lang_pred
        |FROM s""".stripMargin),

    // Char-bigram novelty over deterministically garbled fixture text
    // (every 13th doc gets an md5-hex suffix — bigrams clean text never
    // mints): rare = df below the integer-ceil 5% threshold; novelty =
    // one division of exact counts. Clean docs score 0.
    entry("text_bigram_novelty", (spark, dir) =>
      TextAnalysis.bigramNovelty(
        Tables.read(spark, dir, "documents")
          .withColumn("text", when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" "),
              substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8)))
            .otherwise(col("text"))),
        "text", "doc_id"),
      // novelty replay: same garble, same distinct char bigrams, same
      // integer-ceil threshold, one division of exact counts
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0
        |       THEN text || ' ' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |       ELSE text END AS text
        |  FROM documents),
        |n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM aug),
        |base AS (SELECT doc_id, t FROM n WHERE length(t) >= 2),
        |bg AS (SELECT DISTINCT doc_id, t[i:i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM base)),
        |tot AS (SELECT count(*) AS n FROM base),
        |dfc AS (SELECT b, count(*) AS df FROM bg GROUP BY b),
        |rare AS (SELECT b FROM dfc, tot WHERE df < (n * 5 + 99) // 100),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams FROM bg GROUP BY doc_id),
        |rd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rare
        |  FROM bg JOIN rare USING (b) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(rd.n_rare, 0) AS n_rare,
        |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(COALESCE(rd.n_rare, 0) AS DOUBLE) /
        |            CAST(pd.n_bigrams AS DOUBLE) END AS novelty
        |FROM documents d
        |LEFT JOIN pd USING (doc_id) LEFT JOIN rd USING (doc_id)""".stripMargin),

    // Compression-ratio quality signal (Gopher-style): deflate size /
    // byte size per doc. The deflate count is a per-run signal and
    // passes through the oracle (q_tdigest pattern); n_bytes and the
    // ratio division are value-checked exactly.
    entry("text_compression", (spark, dir) =>
      TextAnalysis.compressionSignal(
        Tables.read(spark, dir, "documents"), "text", "doc_id"),
      // deflate count passes through; byte size recomputed exactly and
      // the ratio re-derived from the two ints (any drift in either, or
      // in the division, breaks the hash)
      """WITH o AS (SELECT doc_id, deflate_bytes
        |  FROM read_parquet('__OUT__/text_compression/*.parquet')),
        |n AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT o.doc_id, n.n_bytes, o.deflate_bytes,
        |  CASE WHEN n.n_bytes = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(o.deflate_bytes AS DOUBLE) / CAST(n.n_bytes AS DOUBLE)
        |  END AS ratio
        |FROM o JOIN n USING (doc_id)""".stripMargin),

    // Hashed linear classifier scoring (fastText-style apply): margin =
    // exact integer weight sum / n_tokens, one IEEE division — scores
    // at scan speed, no shuffle. The md5-derived table is the seam a
    // trained weight vector plugs into.
    entry("text_score_linear", (spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.linearScore(col("text")).as("margin"))
        .withColumn("admitted", col("margin") > 0),
      // linear-classifier replay: same md5 bucket weights, exact integer
      // sum, ONE division — margins hash-compare bit-for-bit
      """WITH t AS (SELECT doc_id, text, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(list_sum(list_transform(toks, w ->
        |         ('0x' || substring(md5(w), 1, 8))::BIGINT % 512 - 256))
        |         AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |  END AS margin
        |  FROM t)
        |SELECT doc_id, margin, margin > 0 AS admitted FROM m""".stripMargin),

    // Gopher-style repetition quality signals (dup k-gram fractions via
    // one native shingle pass per k; top-bigram multiplicity via a
    // two-phase (doc, bigram) aggregation)
    entry("text_repetition", (spark, dir) =>
      TextAnalysis.repetitionSignals(
        Tables.read(spark, dir, "documents"), "text", "doc_id"),
      // distinct-count parity: the engine counts distinct k-grams by 64-bit
      // xxhash (WordShingleHashes), the oracle by the strings themselves —
      // equal unless xxhash64 collides within one document (~n²/2⁶⁵)
      """
        |WITH base AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |tk AS (SELECT doc_id, n_tokens, string_split(t, ' ') AS tks
        |  FROM base WHERE n_tokens >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, n_tokens::BIGINT),
        |  i -> tks[i] || ' ' || tks[i + 1])) AS g FROM tk),
        |top AS (SELECT doc_id, max(c) AS top_cnt FROM
        |  (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |d2 AS (SELECT doc_id, len(list_distinct(list_transform(
        |  range(1, n_tokens::BIGINT), i -> tks[i] || ' ' || tks[i + 1]))) AS d
        |  FROM tk),
        |d3 AS (SELECT doc_id, len(list_distinct(list_transform(
        |  range(1, (n_tokens - 1)::BIGINT),
        |  i -> tks[i] || ' ' || tks[i + 1] || ' ' || tks[i + 2]))) AS d
        |  FROM tk WHERE n_tokens >= 3)
        |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  COALESCE(CAST(1 AS DOUBLE) -
        |    CAST(d2.d AS DOUBLE) / CAST(b.n_tokens - 1 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS dup_bigram_frac,
        |  COALESCE(CAST(1 AS DOUBLE) -
        |    CAST(d3.d AS DOUBLE) / CAST(b.n_tokens - 2 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS dup_trigram_frac,
        |  COALESCE(CAST(top.top_cnt AS DOUBLE) /
        |    CAST(b.n_tokens - 1 AS DOUBLE),
        |    CAST(0 AS DOUBLE)) AS top_bigram_frac
        |FROM base b
        |LEFT JOIN d2 ON b.doc_id = d2.doc_id
        |LEFT JOIN d3 ON b.doc_id = d3.doc_id
        |LEFT JOIN top ON b.doc_id = top.doc_id""".stripMargin),

    // Canonical normalization over deterministically unicode-augmented
    // fixture text (the synthetic corpus is pure ASCII, so each doc gets
    // decomposed accents, a control char, and doubled whitespace derived
    // from its own id — the oracle performs the IDENTICAL augmentation,
    // then DuckDB's utf8proc NFC must agree byte-for-byte with the
    // JDK normalizer under the same strip → compose → collapse order).
    entry("text_normalize", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"),
        // DECOMPOSED accents (base letter + combining mark) so NFC has
        // real composition work; BEL is the stripped control char
        concat(col("text"), lit("  cafe\u0301"),
          when(col("doc_id") % 3 === 0, lit(" man\u0303ana"))
            .when(col("doc_id") % 3 === 1, lit(" u\u0308ber"))
            .otherwise(lit(" fiance\u0301e")),
          lit("\u0007\t "), col("source")).as("t"))
      aug.select(col("doc_id"),
        TextAnalysis.normalizeText(col("t")).as("normalized"))
    },
      // identical augmentation via chr() codepoints (769=U+0301, 771=U+0303,
      // 776=U+0308, 7=BEL), then the identical strip → NFC → collapse order;
      // utf8proc's NFC and the JDK normalizer must agree byte-for-byte
      """WITH aug AS (SELECT doc_id,
        |  text || '  cafe' || chr(769) ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' man' || chr(771) || 'ana'
        |       WHEN doc_id % 3 = 1 THEN ' u' || chr(776) || 'ber'
        |       ELSE ' fiance' || chr(769) || 'e' END ||
        |  chr(7) || chr(9) || ' ' || source AS t
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    nfc_normalize(regexp_replace(t, '[\x00-\x1f\x7f]', '', 'g')),
        |    '\s+', ' ', 'g')) AS normalized
        |FROM aug""".stripMargin),

    // Collocation mining: top-50 adjacent bigrams by pointwise lift
    // (raw p(xy)/(p(x)p(y)) ratio — IEEE-exact ÷/× only, no ln — with
    // a min-support cut), ties broken lexicographically.
    entry("text_collocations", (spark, dir) =>
      TextAnalysis.collocations(Tables.read(spark, dir, "documents"),
        "text", minCount = 5L, k = 50),
      // collocation replay: same counts, same IEEE association for the
      // lift ratio, same (lift desc, x, y) order
      """WITH t AS (SELECT string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |tu AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t_uni FROM t),
        |tb AS (SELECT CAST(sum(len(toks) - 1) AS BIGINT) AS t_bi
        |  FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[CAST(i AS INT)] AS x, toks[CAST(i + 1 AS INT)] AS y
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM b GROUP BY x, y HAVING count(*) >= 5),
        |j AS (SELECT bc.x, bc.y, bc.c_xy,
        |    (CAST(bc.c_xy AS DOUBLE) / CAST(tb.t_bi AS DOUBLE)) /
        |    ((CAST(ux.c AS DOUBLE) / CAST(tu.t_uni AS DOUBLE)) *
        |     (CAST(uy.c AS DOUBLE) / CAST(tu.t_uni AS DOUBLE))) AS lift
        |  FROM bc JOIN uc ux ON bc.x = ux.w JOIN uc uy ON bc.y = uy.w
        |  CROSS JOIN tu CROSS JOIN tb),
        |r AS (SELECT x, y, c_xy, lift,
        |    row_number() OVER (ORDER BY lift DESC, x, y) AS rank FROM j)
        |SELECT x, y, c_xy, lift, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 50""".stripMargin),

    // Corpus boilerplate detector: top-50 word-3-grams by document
    // frequency (exact; the bounded-shuffle estimate is the MisraGries
    // sketch, spec-verified against its n/(m+1) error bound)
    entry("text_topk_ngrams", (spark, dir) =>
      TextAnalysis.topNgramsByDocFreq(
        Tables.read(spark, dir, "documents"), "text", k = 50),
      topkNgramsOracle),

    // The SAME top-50 through the Misra-Gries sketch run in its exact
    // regime: capacity 2¹⁹ ≥ corpus 3-gram vocabulary (27k at sf0.1,
    // ~272k at the 10× scale-up whose per-replica token permutation
    // mints fresh shingles), so no counter is ever decremented and
    // every estimate IS the true document frequency — the sketch
    // becomes hash-gatable against the exact oracle. The shuffle
    // carries one bounded sketch per partition (≤ capacity entries)
    // instead of one row per distinct gram, which is the 100 TB shape:
    // shuffle volume is a constant, not vocabulary-sized. (At real
    // scale capacity ≪ vocab and the sketch is the spec-verified
    // estimate; this entry pins the exact-mode contract at every gate
    // scale.)
    entry("text_topk_sketch", (spark, dir) => {
      val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
      Tables.read(spark, dir, "documents")
        .select(explode(
          graft.plans.ShingleStringsF.shingleStrings(toks, 3)).as("ngram"))
        .agg(graft.plans.MisraGries.sketch(col("ngram"), 1 << 19).as("sk"))
        .select(explode(slice(col("sk"), 1, 50)).as("e"))
        .select(col("e.item").as("ngram"), col("e.est").as("doc_freq"))
    },
      // identical construction: in exact mode the sketch must reproduce
      // the true top-50 (same tie-break: freq desc, gram asc)
      topkNgramsOracle),

    // PII redaction over deterministically PII-augmented fixture text
    // (the synthetic corpus carries no addresses, so each doc gets an
    // email/IP/phone derived from its own id and source — the oracle
    // performs the IDENTICAL augmentation, then the identical sequential
    // count-and-replace with the same pattern strings).
    entry("text_redact", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" reach "), col("source"),
          lit("@example.com or 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" tel +1-555-"),
          lpad(col("doc_id").cast("string"), 7, "0")).as("text"))
      TextAnalysis.redactPii(aug, "text", "doc_id")
    },
      // same augmentation, same patterns, same sequential count-then-replace
      // order as the entry; DuckDB's RE2 and Spark's Java regex agree on the
      // shared pattern subset (documented on TextAnalysis.PiiPatterns)
      """
        |WITH aug AS (SELECT doc_id,
        |  text || ' reach ' || source || '@example.com or 10.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |  CAST(doc_id * 7 % 256 AS VARCHAR) || ' tel +1-555-' ||
        |  lpad(CAST(doc_id AS VARCHAR), 7, '0') AS t FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t FROM aug),
        |s2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |    '<IP>', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, n_email, n_ip,
        |  CAST(len(regexp_extract_all(t, '\+\d[\d-]{5,}\d')) AS BIGINT)
        |    AS n_phone,
        |  regexp_replace(t, '\+\d[\d-]{5,}\d', '<PHONE>', 'g') AS t FROM s2)
        |SELECT doc_id, t AS redacted, n_email, n_ip, n_phone FROM s3""".stripMargin),

    // Markup stripping over deterministically HTML-augmented fixture
    // text (the synthetic corpus is plain text, so docs get wrapped in
    // tags + entities derived from their ids): tags → spaces, entities
    // unescape in the fixed non-double-unescape order, whitespace
    // renormalizes — the WET-extraction pass as one codegen'd
    // projection, mirrored verbatim by the oracle.
    entry("text_strip_markup", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val aug = docs.select(col("doc_id"), htmlWrapped.as("t"))
      aug.select(col("doc_id"),
        size(regexp_extract_all(col("t"),
          lit(graft.functions.Curation.TagRe), lit(0)))
          .cast("long").as("n_tags"),
        graft.functions.Curation.stripMarkup(col("t")).as("clean"))
    },
      // markup replay: identical wrap/entity augmentation, tag regex →
      // space, replace() entity chain in the same order, '\s+' collapse
      raw"""WITH aug AS (SELECT doc_id,
        |$htmlWrappedSql
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '<[^>]+>')) AS BIGINT) AS n_tags,
        |$stripMarkupSql
        |FROM aug""".stripMargin),

    // Winnowing fingerprint + simhash are xxhash64-based (engine-specific,
    // spec-verified; they ride through the oracle from the output file);
    // fp_exact (md5 of normalized text) and fp_min (min md5-prefix over
    // 3-shingles — a 1-permutation minhash) are portable and recomputed
    // by the oracle per doc, so the entry is hash-checked.
    entry("text_fingerprint", (spark, dir) =>
      Tables.read(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        Dedup.simhash(col("text")).as("simhash"),
        md5(Dedup.normalizeText(col("text")).cast("binary")).as("fp_exact"),
        array_min(transform(Dedup.shingles(col("text"), 3),
          s => substring(md5(s.cast("binary")), 1, 16))).as("fp_min")),
      s"""
        |WITH o AS (SELECT doc_id, fp, simhash
        |  FROM read_parquet('__OUT__/text_fingerprint/*.parquet')),
        |norms AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        |  FROM documents),
        |$shingleCtes
        |SELECT o.doc_id, o.fp, o.simhash, md5(n.norm) AS fp_exact,
        |  list_min(list_transform(sh.s, g -> substring(md5(g), 1, 16))) AS fp_min
        |FROM o JOIN norms n ON o.doc_id = n.doc_id
        |JOIN sh ON o.doc_id = sh.doc_id""".stripMargin),

    // Context-window chunking: every doc becomes sliding 16-token windows
    // at stride 8 (50% overlap) — the training-sequence preparation step.
    // Pure generate+projection, no shuffle; chunk boundaries and the short
    // tail chunk are pinned by the oracle.
    entry("text_chunk", (spark, dir) =>
      graft.functions.Curation.chunkByTokens(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        window = 16, stride = 8),
      // chunk boundaries: [i*stride, i*stride+window) over whitespace
      // tokens; 1 + ceil(max(n-window,0)/stride) chunks per doc
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks, n, unnest(range(0,
        |  1 + CAST(floor((greatest(n - 16, 0) + 7) / 8.0) AS BIGINT))) AS cid
        |  FROM n)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  array_to_string(toks[(cid*8+1):least(cid*8+16, n)], ' ') AS chunk_text,
        |  CAST(least(cid*8+16, n) - cid*8 AS INT) AS n_tokens
        |FROM c""".stripMargin),

    // Deterministic training-shard assignment: portable md5 shard + the
    // md5-ordered position inside each shard (the global example
    // shuffle). Both columns are pure functions of doc_id, so the oracle
    // recomputes the whole layout independently.
    entry("text_shard", (spark, dir) =>
      graft.functions.Curation.shardAssignments(
          Tables.read(spark, dir, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos")),
      // full independent recomputation: DuckDB derives shard AND in-shard
      // position from doc_id alone (md5 prefix as hex → bigint, full md5 as
      // the order key) — any drift in hashing, modulo, or ordering breaks
      // every row
      """WITH a AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
        |    AS shard,
        |  md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents)
        |SELECT doc_id, shard, CAST(row_number() OVER (
        |  PARTITION BY shard ORDER BY ord, doc_id) AS INT) AS pos
        |FROM a""".stripMargin),

    // Per-source quality percentile calibration: quality re-expressed
    // as the within-source percentile ((rank−1)/(n−1), row_number
    // tie-break by id; 0.5 for singleton sources) — per-domain
    // normalization before a global threshold. Two-phase bucketed
    // ranking, totals broadcast.
    entry("text_quality_pct", (spark, dir) =>
      graft.functions.Curation.qualityPercentiles(
        Tables.read(spark, dir, "documents"), "text", "doc_id", "source"),
      // percentile replay: mirrored quality + the same row_number
      // tie-break ((rank−1)/(n−1), singleton → 0.5)
      s"""
        |WITH t AS (SELECT doc_id, source, text,
        |$wsTokenCols
        |  FROM documents),
        |${qualityCtes("source, ", " source,")},
        |r AS (SELECT doc_id, source, quality,
        |  row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT doc_id, source, quality,
        |  CASE WHEN n = 1 THEN 0.5
        |       ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END
        |    AS quality_pct
        |FROM r""".stripMargin),

    // BPE vocabulary induction: six merge iterations over the corpus,
    // emitting the merge table a tokenizer trainer produces. The
    // oracle replays ALL six iterations — counts, tie-breaks, and the
    // evolving corpus — in one recursive CTE.
    entry("text_bpe_vocab", (spark, dir) =>
      graft.functions.Curation.bpeMergeTable(
        Tables.read(spark, dir, "documents"), "text", k = 6),
      // six-iteration replay: the recursive CTE carries the evolving
      // corpus as a list and re-derives each step's argmax with the
      // min(struct(-n, a, b)) trick (max count, then smallest pair)
      raw"""WITH RECURSIVE it AS (
        |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
        |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS n,
        |    (SELECT list(struct_pack(d := doc_id,
        |       t := regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |     FROM documents WHERE length(trim(text)) > 0) AS corpus
        |  UNION ALL
        |  SELECT g.step + 1,
        |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
        |    -struct_extract(g.m, 'negn'),
        |$bpeWordStep
        |)
        |SELECT step, a, b, n FROM it WHERE step >= 1""".stripMargin),

    // The tokenizer ENCODE step: induce the 6-merge table, then apply
    // it to every document (later merges see earlier fusions). The
    // oracle is the recursive induction CTE's FINAL corpus state —
    // table and application verified together, end-to-end.
    entry("text_bpe_apply", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeMergeTable(docs, "text", k = 6)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeApply(docs, "text", "doc_id", merges)
    },
      // the induction CTE's final corpus IS the encoded output; blank
      // docs (dropped from the evolving corpus) come back as ''
      raw"""WITH RECURSIVE it AS (
        |  SELECT 0 AS step,
        |    (SELECT list(struct_pack(d := doc_id,
        |       t := regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |     FROM documents WHERE length(trim(text)) > 0) AS corpus
        |  UNION ALL
        |  SELECT g.step + 1,
        |$bpeWordStep
        |),
        |fin AS (SELECT struct_extract(e3, 'd') AS doc_id,
        |  struct_extract(e3, 't') AS merged_text
        |  FROM (SELECT corpus FROM it
        |        WHERE step = (SELECT max(step) FROM it)),
        |    unnest(corpus) AS w(e3))
        |SELECT d.doc_id, COALESCE(f.merged_text, '') AS merged_text
        |FROM documents d LEFT JOIN fin f USING (doc_id)""".stripMargin),

    // CHARACTER-level BPE induction, the classic weighted-vocab
    // formulation: ONE corpus pass builds the word histogram; all 8
    // merge iterations run over the tiny weighted vocab (pair counts
    // weighted by word frequency, empty joiner — chars concatenate,
    // "</w>" word-end marker). The oracle replays every iteration over
    // the same histogram in one recursive CTE.
    entry("text_bpe_char_vocab", (spark, dir) =>
      graft.functions.Curation.bpeCharVocab(
        Tables.read(spark, dir, "documents"), "text", k = 8),
      // char-level replay: the recursion carries the WEIGHTED vocab (word
      // histogram, char-split with the '</w>' marker); pair counts are
      // frequency-weighted sums, fuse concatenates (empty joiner)
      raw"""WITH RECURSIVE it AS (
        |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
        |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS n,
        |    (SELECT list(struct_pack(t := array_to_string(
        |        list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ')
        |        || '</w>', n := cnt))
        |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(string_split(
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |        FROM documents WHERE length(trim(text)) > 0) u
        |      WHERE length(w) > 0 GROUP BY w)) AS vocab
        |  UNION ALL
        |  SELECT g.step + 1,
        |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),
        |    -struct_extract(g.m, 'negn'),
        |    list_transform(g.vocab, e -> struct_pack(
        |$charBpeStep
        |)
        |SELECT step, a, b, n FROM it WHERE step >= 1""".stripMargin),

    // The char-level ENCODE: induce the 8-merge table, then fold it
    // over every document's char stream (doc-level apply is exact —
    // merge pairs cannot span the word-end marker). n_pieces is the
    // REAL tokens-per-doc count, vs the whitespace proxy.
    entry("text_bpe_char_apply", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeCharApply(docs, "text", "doc_id", merges)
    },
      // encode replay: the same recursion also carries each word, so the
      // final state is the word → encoded-stream map; documents re-encode
      // by positional join over their word lists
      bpeCharApplyOracle),

    // The PRODUCTION encode shape: fold the merges over the VOCABULARY
    // (k vocab passes, not k corpus passes), re-encode docs by one
    // word → pieces join. Same output, same oracle — the plan is the
    // one that survives a 50k-merge tokenizer.
    entry("text_bpe_char_apply_vocab", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Curation.bpeCharApplyVocab(docs, "text", "doc_id", merges)
    },
      // the vocab-join encode is pure plan shape — same output, same oracle
      bpeCharApplyOracle),

    // WordPiece vocabulary induction (BERT recipe): BPE's histogram
    // machinery with the LIKELIHOOD objective — merge the pair
    // maximizing cnt(a,b)/(cnt(a)·cnt(b)), compared on the exact
    // fixed-point integer plane (score_fp = cnt·10^18 div ca·cb; Spark
    // decimal `div` and DuckDB `//` truncate identically) so the argmax
    // and the emitted score hash-match across engines.
    entry("text_wordpiece_vocab", (spark, dir) =>
      graft.functions.Curation.wordpieceVocab(
        Tables.read(spark, dir, "documents"), "text", k = 8),
      // WordPiece replay: likelihood-scored merges on the exact
      // fixed-point plane, then greedy longest-match encode per word
      wordpieceVocabOracle),

    // WordPiece ENCODE: greedy longest-match-first (the BERT inference
    // rule) via the native per-word kernel over the final piece
    // inventory (alphabet + merges), documents re-encoded by ONE
    // word → pieces join. Oracle: the induction replay CTE plus a
    // greedy-match recursion per distinct word.
    entry("text_wordpiece_apply", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .wordpieceVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      val pieces = graft.functions.Curation
        .wordpieceFinalVocab(docs, "text", merges)
      graft.functions.Curation.wordpieceApply(docs, "text", "doc_id", pieces)
    },
      wordpieceApplyOracle),

    // Streaming WordPiece encode (twin of text_wordpiece_apply): the
    // piece inventory trains batch-side, then documents arrive as a
    // stream and encode through the per-row greedy kernel — a STATELESS
    // projection (no join, no aggregation, Append mode), exactly-once
    // under any microbatch split, SAME oracle as the batch entry.
    entry("text_wordpiece_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val merges = graft.functions.Curation
        .wordpieceVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      val pieces = graft.functions.Curation
        .wordpieceFinalVocab(docs, "text", merges)
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val enc = graft.functions.Curation.wordpieceApplyPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "text", "doc_id", pieces)
      graft.streaming.EventStream.runToMemory(
        enc, "text_wordpiece_stream_out", OutputMode.Append())
      spark.table("text_wordpiece_stream_out")
        .where(col("doc_id") =!= -1L)
    },
      // the drained stream's per-row encodes fold to the identical table
      wordpieceApplyOracle),

    // Hashing-trick featurization: lowercase whitespace tokens hashed
    // (portable md5-prefix) into 256 buckets, sparse (doc, feature, tf)
    // rows — the vocabulary-free representation quality classifiers
    // train on. One explode + one partial-aggregated groupBy.
    entry("text_hashed_features", (spark, dir) =>
      graft.functions.TextAnalysis.hashedFeatures(
        Tables.read(spark, dir, "documents"), "doc_id", "text",
        nFeatures = 256),
      // portable md5-prefix bucket replay of the hashing trick; shared by
      // the batch groupBy form and the row-local streaming twin
      hashedFeaturesOracle),

    // Streaming twin #27 — the row-local HOF form of the same
    // featurization as a STATELESS Append-mode projection (no state
    // store, no watermark dependency): per-doc histograms computed
    // inside the row, hash-checked against the same oracle as the
    // batch groupBy form.
    entry("text_hashed_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val out = graft.functions.TextAnalysis.hashedFeaturesPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "doc_id", "text", nFeatures = 256)
      graft.streaming.EventStream.runToMemory(
        out, "text_hashed_stream_out", OutputMode.Append())
      spark.table("text_hashed_stream_out")
        .where(col("doc_id") =!= -1L)
    },
      hashedFeaturesOracle),

    // Count-min frequency sketch over the corpus token stream: 4×256
    // counter cells from ONE md5 per term lane-sliced across the 4
    // hash rows (the shuffle carries at most 1024 combined rows per
    // map task regardless of corpus size), probed
    // for the exact top-20 terms — estimate is provably >= truth, and
    // the overcount column exposes the collision error directly.
    entry("text_countmin", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val terms = docs
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .where(length(col("term")) > 0)
      val sketch = graft.functions.Sketches.countMinBuild(terms, col("term"))
      val top = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      graft.functions.Sketches.countMinQuery(sketch, top, "term")
        .join(broadcast(top), "term")
        .select(col("term"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
    },
      // count-min replay: ONE md5 per term lane-sliced per hash row
      // (substring(md5(term), 1+8j, 8)), same top-20 term suite (count
      // desc, term tie-break), min over the 4 rows
      """WITH t AS (SELECT unnest(regexp_split_to_array(
        |      trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |f AS (SELECT term FROM t WHERE length(term) > 0),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM f GROUP BY 1),
        |top AS (SELECT term, exact_cnt FROM (
        |    SELECT term, exact_cnt,
        |      row_number() OVER (ORDER BY exact_cnt DESC, term) AS rn
        |    FROM ex) WHERE rn <= 20),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (SELECT j,
        |    CAST(('0x' || substring(md5(term),
        |      1 + 8 * j, 8))::BIGINT % 256 AS INTEGER) AS c
        |  FROM f CROSS JOIN js),
        |sk AS (SELECT j, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |probe AS (SELECT term, exact_cnt, j,
        |    CAST(('0x' || substring(md5(term),
        |      1 + 8 * j, 8))::BIGINT % 256 AS INTEGER) AS c
        |  FROM top CROSS JOIN js),
        |est AS (SELECT term, min(exact_cnt) AS exact_cnt,
        |    CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cm_est
        |  FROM probe LEFT JOIN sk USING (j, c) GROUP BY term)
        |SELECT term, exact_cnt, cm_est,
        |  CAST(cm_est - exact_cnt AS BIGINT) AS overcount
        |FROM est""".stripMargin),

    // Pretrained-tokenizer plug-in seam: the merge table induced on the
    // %5 slice round-trips through parquet (ModelIO.saveMerges →
    // loadMerges — the entry point where a REAL GPT-2/SentencePiece
    // ranked-merge list trained elsewhere enters the same encode plan)
    // and then drives the word-join encode. Oracle: the induce+apply
    // replay restricted to the slice.
    entry("text_bpe_pretrained", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .where(col("doc_id") % 5 === 0)
      val merges = graft.functions.Curation
        .bpeCharVocab(docs, "text", k = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tmp = graft.tools.Scratch.dir("graft_bpe_model")
      graft.functions.ModelIO.saveMerges(spark, merges, s"$tmp/merges")
      val loaded = graft.functions.ModelIO.loadMerges(spark, s"$tmp/merges")
      graft.functions.Curation.bpeCharApplyVocab(docs, "text", "doc_id", loaded)
    },
      bpeCharApplyOracleWhere("doc_id % 5 = 0")),

    // Pretrained-classifier plug-in seam: a Naive-Bayes-style class-
    // evidence lexicon (token doc-frequency in even- vs odd-id benchmark
    // docs) round-trips through parquet and scores the candidate corpus
    // with add-one smoothing — both sums exact integers, the score ONE
    // IEEE division (bit-portable).
    entry("text_score_lexicon", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val tmp = graft.tools.Scratch.dir("graft_lexicon")
      graft.functions.ModelIO.saveLexicon(lex, s"$tmp/lex")
      val loaded = graft.functions.ModelIO.loadLexicon(spark, s"$tmp/lex")
      TextAnalysis.lexiconScore(
        docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", loaded)
    },
      // lexicon replay: distinct-per-doc token doc-frequencies on the
      // benchmark slice split even/odd, then per-occurrence add-one sums
      lexiconScoreOracle),

    // Classifier calibration audit (reliability diagram): the lexicon
    // scorer's candidates bucketed by decile, each bin's observed
    // positive rate in exact ppm — the is-my-quality-filter-honest
    // check every scored pipeline needs. Binning rides the scorer's
    // bit-portable score; everything after is integer.
    entry("text_score_calibration", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      TextAnalysis.lexiconScore(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", lex)
        .select(least(floor(col("score") * 10), lit(9.0)).cast("int")
          .as("bin"),
          (col("doc_id") % 2 === 0).as("is_pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_ppm", expr("(n_pos * 1000000) div n_docs"))
    },
      // calibration replay: the full lexicon-score replay as a derived
      // table, decile bins on the identical score double, integer ppm
      s"""WITH s AS (SELECT * FROM ($lexiconScoreOracle)),
        |b AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS pos FROM s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_ppm
        |FROM b GROUP BY 1""".stripMargin),

    // Inter-rater agreement (Cohen's kappa) between two admission
    // rules — evidence score >= 0.5 vs token coverage >= 50% — as one
    // exact contingency aggregate; kappa in ppm via the all-integer
    // rational form (N·agree − Σ marginal products) / (N² − Σ...).
    // The do-my-filters-agree-beyond-chance audit.
    entry("text_classifier_agreement", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val m = TextAnalysis.lexiconScore(
          docs.where(col("doc_id") % 97 =!= 0), "text", "doc_id", lex)
        .select((col("score") >= 0.5).as("a"),
          (col("n_hits") * 2 >= col("n_tokens")).as("b"))
        .agg(sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      m.select(col("n11"), col("n10"), col("n01"), col("n00"),
        expr("""CASE WHEN (n11+n10+n01+n00)*(n11+n10+n01+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) <> 0
          THEN (((n11+n10+n01+n00)*(n11+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00)) * 1000000)
            div ((n11+n10+n01+n00)*(n11+n10+n01+n00)
            - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00))
          ELSE NULL END""").as("kappa_ppm"))
    },
      // kappa replay: same contingency counts; the ppm division is
      // sign-split so DuckDB's floor // matches Spark's truncating div
      // when kappa is negative
      s"""WITH s AS (SELECT * FROM ($lexiconScoreOracle)),
        |r AS (SELECT (score >= 0.5) AS a,
        |    (n_hits * 2 >= n_tokens) AS b FROM s),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM r),
        |k AS (SELECT n11, n10, n01, n00,
        |    (n11+n10+n01+n00)*(n11+n00)
        |      - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) AS num,
        |    (n11+n10+n01+n00)*(n11+n10+n01+n00)
        |      - (n11+n10)*(n11+n01) - (n01+n00)*(n10+n00) AS den
        |  FROM m)
        |SELECT n11, n10, n01, n00,
        |  CASE WHEN den <> 0 THEN
        |    CASE WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
        |      ELSE -CAST(((-num) * 1000000) // den AS BIGINT) END
        |  ELSE NULL END AS kappa_ppm
        |FROM k""".stripMargin),

    // CCNet-style LM quality filter: bigram counts trained on the %3
    // reference slice, every doc scored by its pooled add-one
    // conditional likelihood (integer sums, ONE division — the log-free
    // bit-portable form of the perplexity cut).
    entry("text_lm_score", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .where(length(trim(col("text"))) > 0)
      val lm = TextAnalysis.buildBigramLm(
        docs.where(col("doc_id") % 3 === 0), "text")
      val tmp = graft.tools.Scratch.dir("graft_bigram_lm")
      graft.functions.ModelIO.saveBigramLm(lm, s"$tmp/lm")
      val loaded = graft.functions.ModelIO.loadBigramLm(spark, s"$tmp/lm")
      TextAnalysis.lmScore(docs, "text", "doc_id", loaded)
    },
      // bigram-LM replay: reference counts, pooled add-one likelihood —
      // integer sums and one division, so the doubles hash-match exactly
      lmScoreOracle),

    // STREAMING twin: the frozen LM counts are stream-static join
    // sides; arrivals score in Update mode and each doc finalizes
    // within its microbatch (all its bigrams arrive in one row), so the
    // post-drain max-collapse is the identity — SAME oracle as batch.
    entry("text_lm_score_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
        .where(length(trim(col("text"))) > 0)
      // persisted counts, not the live aggregation plan: a streaming
      // query re-evaluates its static sides every micro-batch, so the
      // model must be a file scan (also the production train/apply split)
      val tmp = graft.tools.Scratch.dir("graft_bigram_lm_s")
      graft.functions.ModelIO.saveBigramLm(TextAnalysis.buildBigramLm(
        docs.where(col("doc_id") % 3 === 0), "text"), s"$tmp/lm")
      val lm = graft.functions.ModelIO.loadBigramLm(spark, s"$tmp/lm")
      val feed = docs
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val scored = TextAnalysis.lmScore(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L),
        "text", "doc_id", lm)
      graft.streaming.EventStream.runToMemory(
        scored, "text_lm_score_stream_out", OutputMode.Update())
      spark.table("text_lm_score_stream_out")
        .where(col("doc_id") =!= -1L)
        .groupBy("doc_id")
        .agg(max(col("n_bigrams")).as("n_bigrams"),
          max(col("n_known")).as("n_known"),
          max(col("score")).as("score"))
    },
      // stream-static twin folds to the identical per-doc rows
      lmScoreOracle),

    // One BPE merge iteration, word-level: corpus-wide adjacent-pair
    // counts → (count desc, pair asc) argmax → literal left-to-right
    // fuse of every non-overlapping occurrence. The oracle replays the
    // count, the tie-break, AND the greedy apply on every document.
    entry("text_bpe_step", (spark, dir) =>
      graft.functions.Curation.bpeMergeStep(
        Tables.read(spark, dir, "documents"), "text", "doc_id"),
      // full replay: same normalization, same pair counts and tie-break,
      // same space-doubling literal fuse (DuckDB replace() is the same
      // left-to-right non-overlapping rule as Spark's)
      """WITH t AS (SELECT doc_id, text,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM t
        |  WHERE length(trim(text)) > 0),
        |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |  i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS p
        |  FROM tk WHERE len(toks) >= 2),
        |cnt AS (SELECT p.a AS a, p.b AS b, count(*) AS n FROM bg
        |  GROUP BY 1, 2),
        |top AS (SELECT a, b, n FROM cnt ORDER BY n DESC, a, b LIMIT 1)
        |SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN '' ELSE
        |    trim(replace(replace(
        |      ' ' || replace(norm, ' ', '  ') || ' ',
        |      ' ' || top.a || '  ' || top.b || ' ',
        |      ' ' || top.a || '+' || top.b || ' '),
        |      '  ', ' ')) END AS merged_text,
        |  top.a || ' ' || top.b AS pair, top.n AS pair_count
        |FROM t, top""".stripMargin),

    // Per-shard manifest over the same assignment: doc count and total
    // characters per shard — what a shard writer records next to its
    // files for audit/resume.
    entry("text_shard_manifest", (spark, dir) =>
      graft.functions.Curation.shardAssignments(
          Tables.read(spark, dir, "documents"), "doc_id", nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars")),
      // n_chars: DuckDB sum(INTEGER) yields HUGEINT (→ float in pandas);
      // cast to BIGINT so both engines emit identical int64 values
      """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 8 AS shard,
        |  count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // Benchmark decontamination: docs sharing any normalized word 4-gram
    // with the held-out "benchmark" slice (doc_id % 97 == 0) are flagged,
    // with the shared-gram count. Broadcast gram-set semi-join — the
    // corpus side never shuffles.
    entry("text_decontaminate", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      graft.functions.Curation.decontaminate(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 4)
    },
      // shared normalized 4-grams against the doc_id%97 benchmark slice;
      // grams per doc are DISTINCT (list_distinct mirrors array_distinct)
      decontaminateOracle),

    // CCNet-style common-line removal over deterministically augmented
    // fixture text (the synthetic corpus has no repeated lines, so docs
    // get boilerplate injected: a license line on every 3rd doc, a
    // per-residue signature on even docs). Lines in > 10 docs drop; the
    // ~2-3-doc signature variants stay — both directions exercised.
    entry("text_dedup_lines", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(". all rights reserved")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(". sig "), (col("doc_id") % 100).cast("string")))
            .otherwise(lit(""))))
      graft.functions.Curation.dropCommonLines(
        docs, "text", "doc_id", maxDocFreq = 10L)
    },
      // line-removal replay: same augmentation, same normalization, same
      // doc-frequency threshold, positional reassembly
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN '. all rights reserved' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '. sig ' || CAST(doc_id % 100 AS VARCHAR)
        |         ELSE '' END AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, '.') AS parts FROM aug),
        |pos AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM p),
        |l AS (SELECT doc_id, i,
        |    regexp_replace(lower(trim(parts[i])), '\s+', ' ', 'g') AS ln
        |  FROM pos),
        |nz AS (SELECT doc_id, i, ln FROM l WHERE length(ln) > 0),
        |hot AS (SELECT ln FROM (
        |    SELECT ln, count(*) AS df FROM (SELECT DISTINCT doc_id, ln FROM nz) d
        |    GROUP BY ln) f WHERE df > 10),
        |kept AS (SELECT doc_id, i, ln FROM nz WHERE ln NOT IN (SELECT ln FROM hot)),
        |re AS (SELECT doc_id, array_to_string(list(ln ORDER BY i), '. ') AS cleaned_text,
        |    CAST(count(*) AS BIGINT) AS n_lines_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(re.cleaned_text, '') AS cleaned_text,
        |  COALESCE(re.n_lines_kept, 0) AS n_lines_kept
        |FROM documents d LEFT JOIN re USING (doc_id)""".stripMargin),

    // The same decontamination behind a Bloom prefilter — the plan that
    // survives a benchmark suite too big to broadcast exactly: corpus
    // grams prune against a ~1.2 B/gram sketch before any join. Output
    // bit-identical to text_decontaminate; SAME oracle.
    entry("text_decontaminate_bloom", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      graft.functions.Curation.decontaminateBloom(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 4)
    },
      // Bloom prefilter is pure plan optimization — identical exact result
      decontaminateOracle),

    // SPAN-LEVEL decontamination: maximal >= 8-token spans of candidate
    // docs that occur anywhere in the %97 benchmark slice — located, not
    // just counted. Augmentation plants one benchmark sentence as a
    // PREFIX of even benchmark docs and a SUFFIX of %13 candidates
    // (cross-corpus, different offsets); natural fixture overlaps fire
    // too. Oracle replays windows + islands on real substrings.
    entry("text_decontaminate_spans", (spark, dir) => {
      val docs = plantedDocs(spark, dir, riverbank,
        col("doc_id") % 97 === 0 && col("doc_id") % 2 === 0,
        col("doc_id") % 97 =!= 0 && col("doc_id") % 13 === 0)
      Dedup.decontaminateSpans(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", minLen = 8)
    },
      // cross-corpus window replay: candidate windows IN benchmark window
      // set, islands merged per candidate doc, span text from token array
      crossSpanOracle(plantedTokenCtes(riverbank,
          "doc_id % 97 = 0 AND doc_id % 2 = 0",
          "doc_id % 97 <> 0 AND doc_id % 13 = 0"),
        "doc_id % 97 <> 0", "doc_id % 97 = 0")),

    // Per-doc duplicated-token fraction (Gopher-style quality signal,
    // exact): disjoint maximal spans sum to the covered-token count;
    // the fraction is one IEEE division of exact integers. Same plant
    // as dedup_exact_substr so the signal is non-trivial on the fixture.
    entry("text_dup_fraction", (spark, dir) => {
      val docs = boilerDocs(spark, dir)
      Dedup.duplicatedTokenFraction(docs, "text", "doc_id", minLen = 8)
    },
      // span replay + disjoint-span length sum per doc, every doc reported
      raw"""$boilerTokenCtes
        |$tokenWindowCtes
        |dup AS (SELECT wtxt FROM w GROUP BY wtxt HAVING count(*) > 1),
        |f AS (SELECT doc_id, p FROM w WHERE wtxt IN (SELECT wtxt FROM dup)),
        |$spanIslandCtes,
        |cov AS (SELECT doc_id, sum(ln) AS dup_tokens FROM sp GROUP BY doc_id),
        |alln AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
        |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) /
        |    CAST(a.n_tokens AS DOUBLE) AS dup_fraction
        |FROM alln a LEFT JOIN cov c USING (doc_id)""".stripMargin),

    // Greedy next-fit bin packing (whole docs, 256-token budget, 64-id
    // buckets): the sequential fold runs per independent bucket via
    // flatMapSortedGroups with O(1) state; the oracle replays the same
    // fold as a DuckDB recursive CTE.
    entry("text_pack_bins", (spark, dir) =>
      graft.functions.Curation.packBinsNextFit(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        budget = 256L, bucketSize = 64L),
      // the same per-bucket next-fit fold, replayed one rank at a time by
      // a recursive CTE (oracle-scale sequentiality is fine in DuckDB)
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CAST(floor(doc_id / 64) AS BIGINT) AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n,
        |    row_number() OVER (PARTITION BY floor(doc_id / 64)
        |      ORDER BY doc_id) AS rn
        |  FROM documents WHERE length(trim(text)) > 0),
        |fold AS (
        |  SELECT bucket, rn, doc_id, n,
        |    CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_start,
        |    CAST(n AS BIGINT) AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.bucket, t.rn, t.doc_id, t.n,
        |    CASE WHEN f.fill + t.n > 256 THEN f.bin_idx + 1 ELSE f.bin_idx END,
        |    CASE WHEN f.fill + t.n > 256 THEN 0 ELSE f.fill END,
        |    CASE WHEN f.fill + t.n > 256 THEN CAST(t.n AS BIGINT) ELSE f.fill + t.n END
        |  FROM fold f JOIN t ON t.bucket = f.bucket AND t.rn = f.rn + 1)
        |SELECT doc_id, n AS n_tokens, bucket, bin_idx, bin_start
        |FROM fold""".stripMargin),

    // Pretraining sequence packing: the doc_id-ordered token stream
    // sliced into 128-token sequences, one row per (doc × sequence)
    // intersection. The global offset is a two-phase prefix sum — no
    // corpus-wide single-partition window.
    entry("text_pack", (spark, dir) =>
      graft.functions.Curation.packTokenSpans(
        Tables.read(spark, dir, "documents"), "text", "doc_id",
        seqLen = 128, bucketSize = 64L),
      // packing oracle: one flat cumsum in doc_id order (the oracle can
      // afford the global window; the engine must not) and the same span
      // intersection arithmetic
      """WITH n AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM documents),
        |p AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
        |  COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM n WHERE nt > 0),
        |s AS (SELECT doc_id, nt, off,
        |  unnest(range(CAST(off // 128 AS BIGINT),
        |    CAST((off + nt - 1) // 128 + 1 AS BIGINT))) AS seq_id
        |  FROM p)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(off, seq_id * 128) - off AS INT) AS tok_start,
        |  CAST(least(off + nt, (seq_id + 1) * 128) - off AS INT) AS tok_end
        |FROM s""".stripMargin),

    // STREAMING classifier-on-arrival: the same lexicon scoring as
    // text_score_lexicon run over the file stream — the lexicon is a
    // static broadcast side, scoring is explode + join + one Update-mode
    // aggregation. A document's tokens all arrive in its single row, so
    // each doc finalizes within its microbatch and the post-drain
    // max-collapse is the identity — batch ≡ stream under the SAME
    // oracle.
    entry("text_score_lexicon_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val lex = TextAnalysis.buildLexicon(
        docs.where(col("doc_id") % 97 === 0), "text",
        col("doc_id") % 2 === 0)
      val cand = docs.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val marker = "\u0000sentinel"
      val sentinel = Seq((-1L, marker,
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val scored = TextAnalysis.lexiconScore(
        streamWithSentinel(spark, cand, sentinel, delaySec = 3600L),
        "text", "doc_id", lex)
      graft.streaming.EventStream.runToMemory(
        scored, "text_score_lexicon_stream_out", OutputMode.Update())
      spark.table("text_score_lexicon_stream_out")
        .where(col("doc_id") =!= -1L)
        .groupBy("doc_id")
        .agg(max(col("n_tokens")).as("n_tokens"),
          max(col("n_hits")).as("n_hits"),
          max(col("score")).as("score"))
    },
      // identical semantics through the stream — same replay
      lexiconScoreOracle),

    // Sentence segmentation — lookbehind-free terminal-punctuation split
    // (identical under Java regex and RE2), trimmed, empties dropped;
    // pure projection + generator, no shuffle.
    entry("text_sentences", (spark, dir) =>
      graft.functions.TextAnalysis.sentences(
        Tables.read(spark, dir, "documents").select("doc_id", "text"),
        "doc_id", "text"),
      // the same lookbehind-free pattern under RE2; list index is 1-based
      """WITH a AS (SELECT doc_id,
        |    regexp_extract_all(text, '[^.!?]+[.!?]*') AS segs
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, len(segs))) AS i, segs FROM a),
        |s AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
        |    trim(segs[CAST(i AS INT) + 1]) AS sentence FROM e)
        |SELECT doc_id, seg_idx, sentence,
        |  CAST(length(sentence) AS BIGINT) AS n_chars
        |FROM s WHERE length(sentence) > 0""".stripMargin),

    // Flesch-style readability — exact-integer vowel-group heuristic,
    // pure projection (scan speed).
    entry("text_readability", (spark, dir) =>
      graft.functions.TextAnalysis.readability(
        Tables.read(spark, dir, "documents").select("doc_id", "text"),
        "doc_id", "text"),
      // vowel-group syllable heuristic replayed under RE2; all-integer
      // truncating division (operands non-negative)
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206835 - (1015 * n_words) // n_sentences -
        |    (84600 * n_syllables) // greatest(n_words, 1) AS flesch_x1000
        |FROM m""".stripMargin),

    // Per-doc keyword extraction: top-3 terms by integer TF-IDF-ish
    // score (tf·10⁶ div df — the rational idf ordering without a
    // partition-order-dependent ln sum). Token explode → two partial-
    // aggregated counts (tf keyed by doc, df by term), one term-keyed
    // hash join back, one doc-keyed bounded window. Ties: higher tf,
    // then lexicographically smaller term.
    entry("text_keywords", (spark, dir) => {
      val toks = Tables.read(spark, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(length(col("term")) >= 5)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tf").desc, col("term"))
      tf.join(df_, "term")
        .withColumn("score", expr("(tf * 1000000L) div df"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("score"),
          col("rk"))
    },
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE length(term) >= 5 GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    (tf.tf * 1000000) // df.df AS score
        |  FROM tf JOIN df USING (term)),
        |r AS (SELECT doc_id, term, tf, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tf DESC, term) AS INT) AS rk
        |  FROM s)
        |SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 3""".stripMargin),

    // Unigram-LM (SentencePiece-style) vocabulary induction — the third
    // tokenizer family member next to BPE and WordPiece: every corpus
    // character plus the top-24 bounded substrings by the seed score
    // freq×len, each carrying its ×2^20 fixed-point log2 probability
    // (the bit-portable Viterbi cost plane — integer sums downstream,
    // one deterministic scalar log per vocab entry).
    entry("text_unigram_vocab", (spark, dir) =>
      graft.functions.Unigram.unigramVocab(
        Tables.read(spark, dir, "documents"), "text", k = 24),
      unigramVocabOracle),

    // Unigram-LM ENCODE: Viterbi-best segmentation of each DISTINCT
    // word under the fixed-point cost table (max Σ cost_fp, exact ties
    // on the lexicographically smallest path — a total order both
    // engines replay), documents re-encoded by ONE word → pieces join.
    // The oracle unrolls the same DP position-by-position.
    entry("text_unigram_apply", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      graft.functions.Unigram.unigramApply(docs, "text", "doc_id",
        graft.functions.Unigram.costTable(vocab))
    },
      unigramApplyOracle),

    // One hard-EM refinement round (the SentencePiece M-step): re-count
    // every piece by its USES in the corpus' Viterbi segmentation and
    // rebuild the cost plane; pieces the decoder never picks prune out
    // — the vocabulary-shrinking step of unigram-LM training, exactly
    // replayed by the oracle's recount over the same DP.
    entry("text_unigram_em", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      graft.functions.Unigram.unigramEmRecount(docs, "text",
        graft.functions.Unigram.costTable(vocab))
    },
      unigramEmOracle),

    // Large-vocabulary encode path (VERDICT r10 item 3): the SAME
    // Viterbi segmentation with the vocabulary as a broadcast-joined
    // TABLE instead of a plan-literal map — the form a 100k-piece
    // production vocab needs (a literal map is linearly scanned per
    // lookup and risks codegen constant limits). The induced k=24
    // vocab is padded with 50k pieces LONGER than MaxPieceLen — they
    // can never match a candidate substring, so the cost plane (and
    // hence the oracle, reused verbatim) is unchanged, while the
    // vocab size forces unigramApplyVocab onto the join route.
    entry("text_unigram_apply_big", (spark, dir) => {
      val docs = Tables.read(spark, dir, "documents")
      val vocab = graft.functions.Unigram.unigramVocab(docs, "text", k = 24)
      val pad = spark.range(50000).select(
        format_string("zzpadpiece%07d", col("id")).as("piece"),
        lit(-999999999L).as("cost_fp"),
        lit(0L).as("cnt"), lit(false).as("is_char"))
      graft.functions.Unigram.unigramApplyVocab(docs, "text", "doc_id",
        vocab.unionByName(pad, allowMissingColumns = false))
    },
      // pad pieces are longer than MaxPieceLen (unmatchable), so the
      // big-vocab join path replays the identical oracle
      unigramApplyOracle),

    // Streaming unigram encode (twin of text_unigram_apply): the cost
    // table trains batch-side, then documents arrive as a stream and
    // every word segments inline through the per-row Viterbi fold — a
    // STATELESS projection (no join, no state store, Append mode),
    // exactly-once under any microbatch split, SAME oracle as the
    // batch entry.
    entry("text_unigram_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Tables.read(spark, dir, "documents")
      val costs = graft.functions.Unigram.costTable(
        graft.functions.Unigram.unigramVocab(docs, "text", k = 24))
      val feed = docs.select(col("doc_id"), col("text"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "text", "ts")
      val enc = graft.functions.Unigram.unigramApplyPerRow(
        streamWithSentinel(spark, feed, sentinel, delaySec = 3600L,
          rebalanceFeed = true),
        "text", "doc_id", costs)
      graft.streaming.EventStream.runToMemory(
        enc, "text_unigram_stream_out", OutputMode.Append())
      spark.table("text_unigram_stream_out")
        .where(col("doc_id") =!= -1L)
    },
      unigramApplyOracle))

  /** Hashing-trick replay: lowercase whitespace tokens, first-8-hex-md5
    * bucket mod 256, per-doc counts — one oracle for the batch groupBy
    * form and the row-local streaming form.
    */
  private val hashedFeaturesOracle: String =
    """WITH t AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |f AS (SELECT doc_id,
      |    CAST(('0x' || substring(md5(term), 1, 8))::BIGINT % 256
      |      AS INTEGER) AS feature
      |  FROM t WHERE length(term) > 0)
      |SELECT doc_id, feature, count(*) AS tf
      |FROM f GROUP BY 1, 2""".stripMargin

  /** Bigram-LM scoring replay: unigram/bigram counts over the %3
    * reference slice, then every ≥2-token doc's pooled add-one
    * conditional likelihood Σ(c2+1)/Σ(c1+V) — numerator and denominator
    * are exact integer sums so the single division hash-matches the
    * engine bit-for-bit.
    */
  private val lmScoreOracle: String =
    """WITH t AS (SELECT doc_id, string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |ref AS (SELECT * FROM t WHERE doc_id % 3 = 0),
      |runi AS (SELECT unnest(toks) AS w1 FROM ref),
      |v AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS vsize FROM runi),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM runi
      |  GROUP BY w1),
      |rp AS (SELECT toks, unnest(range(1, len(toks))) AS p FROM ref
      |  WHERE len(toks) >= 2),
      |c2 AS (SELECT toks[CAST(p AS INT)] AS w1,
      |    toks[CAST(p + 1 AS INT)] AS w2,
      |    CAST(count(*) AS BIGINT) AS c2
      |  FROM rp GROUP BY 1, 2),
      |dp AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p FROM t
      |  WHERE len(toks) >= 2),
      |db AS (SELECT doc_id, toks[CAST(p AS INT)] AS w1,
      |    toks[CAST(p + 1 AS INT)] AS w2 FROM dp),
      |j AS (SELECT db.doc_id, coalesce(c2.c2, 0) + 1 AS num_i,
      |    coalesce(c1.c1, 0) + v.vsize AS den_i,
      |    CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END AS known
      |  FROM db LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(known) AS BIGINT) AS n_known,
      |  CAST(sum(num_i) AS DOUBLE) / CAST(sum(den_i) AS DOUBLE) AS score
      |FROM j GROUP BY doc_id""".stripMargin

  private val lexiconScoreOracle: String =
    """WITH bt AS (SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |    FROM documents WHERE doc_id % 97 = 0) u),
      |lex AS (SELECT tok,
      |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS np,
      |    sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS nn
      |  FROM bt GROUP BY tok),
      |cand AS (SELECT doc_id, unnest(string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM documents WHERE doc_id % 97 <> 0),
      |j AS (SELECT c.doc_id, l.np, l.nn
      |  FROM cand c LEFT JOIN lex l ON c.tok = l.tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN np IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hits,
      |  CAST(sum(coalesce(np, 0) + 1) AS DOUBLE) /
      |  CAST(sum(coalesce(np, 0) + coalesce(nn, 0) + 2) AS DOUBLE) AS score
      |FROM j GROUP BY doc_id""".stripMargin

  private val bpeCharApplyOracle: String = bpeCharApplyOracleWhere("TRUE")

  /** The char-BPE induce+apply replay restricted to the docs matching
    * `pred` — shared by the full-corpus entries (pred=TRUE) and the
    * pretrained save/load round-trip entry (slice predicate).
    */
  private def bpeCharApplyOracleWhere(pred: String): String =
      raw"""WITH RECURSIVE it AS (
        |  SELECT 0 AS step,
        |    (SELECT list(struct_pack(w := w,
        |        t := array_to_string(
        |          list_transform(range(1, length(w) + 1), i -> w[i:i]), ' ')
        |          || '</w>', n := cnt))
        |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |        SELECT unnest(string_split(
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |        FROM documents WHERE length(trim(text)) > 0 AND ($pred)) u
        |      WHERE length(w) > 0 GROUP BY w)) AS vocab
        |  UNION ALL
        |  SELECT g.step + 1,
        |    list_transform(g.vocab, e -> struct_pack(
        |      w := struct_extract(e, 'w'),
        |$charBpeStep
        |),
        |enc AS (SELECT struct_extract(e3, 'w') AS w,
        |    struct_extract(e3, 't') AS t
        |  FROM (SELECT vocab FROM it
        |        WHERE step = (SELECT max(step) FROM it)),
        |    unnest(vocab) AS x(e3)),
        |dws AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents WHERE length(trim(text)) > 0 AND ($pred)),
        |pos AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM dws),
        |wx AS (SELECT doc_id, i, ws[i] AS w FROM pos),
        |j AS (SELECT wx.doc_id, wx.i, enc.t FROM wx JOIN enc USING (w)),
        |encoded AS (SELECT doc_id,
        |    array_to_string(list(t ORDER BY i), ' ') AS encoded
        |  FROM j GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(e.encoded, '') AS encoded,
        |  CASE WHEN COALESCE(e.encoded, '') = '' THEN 0
        |       ELSE CAST(len(string_split(e.encoded, ' ')) AS BIGINT)
        |  END AS n_pieces
        |FROM documents d LEFT JOIN encoded e USING (doc_id)
        |WHERE ($pred)""".stripMargin

  /** WordPiece induction replay: the same recursion shape as the BPE
    * vocab oracle, but each iteration also aggregates TOKEN counts from
    * the vocab state and scores pairs on the exact fixed-point plane —
    * `(cnt·10¹⁸) // (ca·cb)` in HUGEINT, the identical truncating
    * division Spark's decimal `div` performs — so argmax, fusion (`##`
    * absorbed from the right element), and the emitted score replay
    * bit-for-bit.
    */
  private val wordpieceVocabOracle: String =
    raw"""WITH RECURSIVE it AS (
      |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
      |    CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS cnt_ab,
      |    CAST(NULL AS BIGINT) AS cnt_a, CAST(NULL AS BIGINT) AS cnt_b,
      |    CAST(NULL AS BIGINT) AS score_fp,
      |$wpSeed
      |    struct_extract(g.m, 'cnt'), struct_extract(g.m, 'ca'),
      |    struct_extract(g.m, 'cb'), -struct_extract(g.m, 'negfp'),
      |$wpFuse
      |      min(struct_pack(negfp := -c.fp, a := c.a, b := c.b,
      |        cnt := c.cnt, ca := c.ca, cb := c.cb)) AS m
      |    FROM it, LATERAL (
      |      SELECT pc.a AS a, pc.b AS b, pc.cnt AS cnt,
      |        ta.c AS ca, tb.c AS cb,
      |$wpScoredPairs
      |)
      |SELECT step, a, b, cnt_ab, cnt_a, cnt_b, score_fp
      |FROM it WHERE step >= 1""".stripMargin

  /** WordPiece encode replay: the induction recursion above feeds the
    * final piece inventory (alphabet ∪ fused merges); a second
    * recursion walks each DISTINCT word with the greedy
    * longest-match-first rule (min over (−len, piece) at each
    * position — single deterministic chain per word); documents
    * re-encode by positional join, the BPE apply oracle's reassembly.
    */
  private val wordpieceApplyOracle: String =
    raw"""WITH RECURSIVE it AS (
      |  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS a,
      |    CAST(NULL AS VARCHAR) AS b,
      |$wpSeed
      |$wpFuse
      |      min(struct_pack(negfp := -c.fp, a := c.a, b := c.b)) AS m
      |    FROM it, LATERAL (
      |      SELECT pc.a AS a, pc.b AS b,
      |$wpScoredPairs
      |),
      |words AS (SELECT DISTINCT w FROM (
      |    SELECT unnest(string_split(
      |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      |    FROM documents WHERE length(trim(text)) > 0) u
      |  WHERE length(w) > 0),
      |alpha AS (SELECT DISTINCT
      |    CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END AS piece
      |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM words) z),
      |mp AS (SELECT a || CASE WHEN b LIKE '##%' THEN b[3:] ELSE b END AS piece
      |  FROM it WHERE step >= 1),
      |vocab2 AS (SELECT piece,
      |    CASE WHEN piece LIKE '##%' THEN piece[3:] ELSE piece END AS raw,
      |    (piece LIKE '##%') AS cont
      |  FROM (SELECT DISTINCT piece FROM (
      |    SELECT piece FROM alpha UNION ALL SELECT piece FROM mp) vv) v),
      |gw AS (
      |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc
      |  FROM words
      |  UNION ALL
      |  SELECT s.w, s.pos + length(struct_extract(s.m, 'raw')),
      |    CASE WHEN s.acc = '' THEN struct_extract(s.m, 'piece')
      |         ELSE s.acc || ' ' || struct_extract(s.m, 'piece') END
      |  FROM (SELECT gw.w, gw.pos, gw.acc,
      |      min(struct_pack(neglen := -length(v.raw), piece := v.piece,
      |        raw := v.raw)) AS m
      |    FROM gw JOIN vocab2 v ON v.cont = (gw.pos > 1)
      |      AND substr(gw.w, CAST(gw.pos AS INT), length(v.raw)) = v.raw
      |    WHERE gw.pos <= length(gw.w)
      |    GROUP BY gw.w, gw.pos, gw.acc) s),
      |encw AS (SELECT words.w AS w, coalesce(d.acc, '[UNK]') AS t
      |  FROM words LEFT JOIN (SELECT w, acc FROM gw
      |    WHERE pos = length(w) + 1) d USING (w)),
      |dws AS (SELECT doc_id, string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM dws),
      |wx AS (SELECT doc_id, i, ws[i] AS w FROM pos WHERE length(ws[i]) > 0),
      |j AS (SELECT wx.doc_id, wx.i, encw.t FROM wx JOIN encw USING (w)),
      |encoded AS (SELECT doc_id,
      |    array_to_string(list(t ORDER BY i), ' ') AS encoded
      |  FROM j GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(e.encoded, '') AS encoded,
      |  CASE WHEN COALESCE(e.encoded, '') = '' THEN 0
      |       ELSE CAST(len(string_split(e.encoded, ' ')) AS BIGINT)
      |  END AS n_pieces
      |FROM documents d LEFT JOIN encoded e USING (doc_id)""".stripMargin

  private lazy val textStatsOracle: String = s"""
        |WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
        |  CAST(length(text) AS BIGINT) AS char_len,
        |$qualityRatios,
        |  CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS mean_tok_len
        |  FROM t)
        |SELECT doc_id, n_tokens, n_bpeish, char_len, punct_ratio, digit_ratio,
        |  stopword_ratio, mean_tok_len,
        |$qualityScore
        |FROM m""".stripMargin

  /** Unigram-LM shared CTE prefix: word histogram → bounded substring
    * candidates → vocabulary (all chars + top-k multi by freq×len) →
    * the ×2^20 fixed-point log2 cost plane. The division is pinned to
    * ln 2's exact IEEE literal (Scala shortest-round-trip repr — the
    * same double `Unigram.Ln2` the Spark side multiplies by), so the
    * one floating step per vocab entry evaluates from identical inputs.
    */
  private def unigramVocabCtes(k: Int): String =
    s"""WITH wh AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents) WHERE length(w) > 0 GROUP BY w),
       |upos AS (SELECT w, n, unnest(range(1, length(w) + 1)) AS i FROM wh),
       |cand AS MATERIALIZED (
       |  SELECT substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece,
       |    CAST(sum(n) AS BIGINT) AS cnt
       |  FROM (SELECT w, n, i,
       |      unnest(range(1, least(${graft.functions.Unigram.MaxPieceLen},
       |        length(w) - i + 1) + 1)) AS l FROM upos)
       |  GROUP BY 1),
       |uchars AS (SELECT piece, cnt, true AS is_char FROM cand
       |  WHERE length(piece) = 1),
       |umulti AS (SELECT piece, cnt, false AS is_char FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt * length(piece) DESC, piece) AS rn
       |    FROM cand WHERE length(piece) > 1) WHERE rn <= $k),
       |uvocab AS (SELECT * FROM uchars UNION ALL SELECT * FROM umulti),
       |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uvocab),
       |costs AS MATERIALIZED (
       |  SELECT piece, cnt, is_char,
       |    CAST(round(1048576.0 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |      / ${graft.functions.Unigram.Ln2}) AS BIGINT) AS cost_fp
       |  FROM uvocab CROSS JOIN utot)""".stripMargin

  /** The unrolled Viterbi DP over distinct words: dp_i holds the best
    * (max Σ cost_fp, tie → lexicographically smallest path) state
    * ending at char i, reached from dp_j through piece w[j+1..i] for
    * the ≤ MaxPieceLen predecessors — `rounds past a word's length are
    * vacuous (WHERE length(w) >= i)`. MATERIALIZED is load-bearing as
    * in the k-core replay: each dp_i is referenced by up to MaxPieceLen
    * later steps, and DuckDB inlines plain CTEs per reference.
    */
  private def unigramDpCtes: String = {
    val maxW = graft.functions.Unigram.MaxWordLen
    val maxP = graft.functions.Unigram.MaxPieceLen
    val steps = (1 to maxW).map { i =>
      val branches = (math.max(0, i - maxP) until i).map { j =>
        s"""SELECT d.w, d.c + v.cost_fp AS c,
           |      d.p || ' ' || substring(d.w, ${j + 1}, ${i - j}) AS p
           |    FROM dp$j d JOIN costs v
           |      ON v.piece = substring(d.w, ${j + 1}, ${i - j})
           |    WHERE length(d.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s""",
         |dp$i AS MATERIALIZED (SELECT w, c, p FROM (
         |  SELECT w, c, p,
         |    row_number() OVER (PARTITION BY w ORDER BY c DESC, p) AS rn
         |  FROM ($branches)) WHERE rn = 1)""".stripMargin
    }.mkString
    s""",
       |uwords AS (SELECT DISTINCT w FROM wh),
       |dp0 AS (SELECT w, CAST(0 AS BIGINT) AS c, '' AS p FROM uwords)""".stripMargin +
      steps +
      s""",
         |dpall AS (${(1 to maxW)
          .map(i => s"SELECT w, $i AS i, p FROM dp$i")
          .mkString("\n  UNION ALL ")}),
         |segw AS MATERIALIZED (SELECT w, ltrim(p) AS seg FROM dpall
         |  WHERE i = length(w))""".stripMargin
  }

  private def unigramVocabOracle: String =
    unigramVocabCtes(24) +
      "\nSELECT piece, cnt, is_char, cost_fp FROM costs"

  private def unigramApplyOracle: String =
    unigramVocabCtes(24) + unigramDpCtes +
      s""",
         |t AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |  FROM documents WHERE length(trim(text)) > 0),
         |tw AS (SELECT doc_id, pos, toks[CAST(pos AS INTEGER)] AS w FROM (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
         |  FROM t)),
         |enc AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS encoded,
         |    CAST(sum(len(string_split(seg, ' '))) AS BIGINT) AS n_pieces
         |  FROM tw JOIN segw USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.encoded, '') AS encoded,
         |  CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces
         |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin

  private def unigramEmOracle: String =
    unigramVocabCtes(24) + unigramDpCtes +
      s""",
         |emc AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(s.seg, ' ')) AS piece, wh.n
         |    FROM wh JOIN segw s USING (w))
         |  GROUP BY 1),
         |emt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM emc)
         |SELECT piece, cnt, length(piece) = 1 AS is_char,
         |  CAST(round(1048576.0 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
         |    / ${graft.functions.Unigram.Ln2}) AS BIGINT) AS cost_fp
         |FROM emc CROSS JOIN emt""".stripMargin

  /** One word-level BPE step over the evolving `corpus`: rewrite every
    * doc by the argmax pair `g.m`, re-derived with min(struct(-n, a, b))
    * (max count, then smallest pair); six steps.
    */
  private lazy val bpeWordStep: String =
    """    list_transform(g.corpus, e -> struct_pack(
      |      d := struct_extract(e, 'd'),
      |      t := trim(replace(replace(
      |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '  ' ||
      |          struct_extract(g.m, 'b') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '+' ||
      |          struct_extract(g.m, 'b') || ' '),
      |        '  ', ' '))))
      |  FROM (
      |    SELECT it.step, it.corpus,
      |      min(struct_pack(negn := -c.n, a := c.a, b := c.b)) AS m
      |    FROM it, LATERAL (
      |      SELECT p.a AS a, p.b AS b, count(*) AS n FROM (
      |        SELECT unnest(list_transform(range(1, len(tk.toks)),
      |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p
      |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks
      |              FROM unnest(it.corpus) AS u(e2)) tk
      |        WHERE len(tk.toks) >= 2) bp
      |      GROUP BY 1, 2) c
      |    WHERE it.step < 6
      |    GROUP BY it.step, it.corpus
      |  ) g""".stripMargin

  /** One char-level BPE step over the weighted `vocab`: fuse the argmax
    * pair `g.m` (empty joiner), then re-derive it from frequency-weighted
    * pair counts by min(struct(-cnt, a, b)); eight steps.
    */
  private lazy val charBpeStep: String =
    """      t := trim(replace(replace(
      |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '  ' ||
      |          struct_extract(g.m, 'b') || ' ',
      |        ' ' || struct_extract(g.m, 'a') ||
      |          struct_extract(g.m, 'b') || ' '),
      |        '  ', ' ')),
      |      n := struct_extract(e, 'n')))
      |  FROM (
      |    SELECT it.step, it.vocab,
      |      min(struct_pack(negn := -c.cnt, a := c.a, b := c.b)) AS m
      |    FROM it, LATERAL (
      |      SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt FROM (
      |        SELECT unnest(list_transform(range(1, len(tk.toks)),
      |          i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
      |          tk.n AS pn
      |        FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
      |              struct_extract(e2, 'n') AS n
      |              FROM unnest(it.vocab) AS u(e2)) tk
      |        WHERE len(tk.toks) >= 2) bp
      |      GROUP BY 1, 2) c
      |    WHERE it.step < 8
      |    GROUP BY it.step, it.vocab
      |  ) g""".stripMargin

  /** WordPiece seed: each corpus word as its char pieces (`##` marks a
    * continuation), weighted by its count, as the recursion's first row.
    */
  private lazy val wpSeed: String =
    raw"""    (SELECT list(struct_pack(t := array_to_string(
         |        list_transform(range(1, length(w) + 1),
         |          i -> CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END),
         |        ' '), n := cnt))
         |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |        SELECT unnest(string_split(
         |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
         |        FROM documents WHERE length(trim(text)) > 0) u
         |      WHERE length(w) > 0 GROUP BY w)) AS vocab
         |  UNION ALL
         |  SELECT g.step + 1,
         |    struct_extract(g.m, 'a'), struct_extract(g.m, 'b'),""".stripMargin

  /** The WordPiece rewrite of the vocab by the argmax pair `g.m`: `##`
    * absorbed from the right element.
    */
  private lazy val wpFuse: String =
    """    list_transform(g.vocab, e -> struct_pack(
      |      t := trim(replace(replace(
      |        ' ' || replace(struct_extract(e, 't'), ' ', '  ') || ' ',
      |        ' ' || struct_extract(g.m, 'a') || '  ' ||
      |          struct_extract(g.m, 'b') || ' ',
      |        ' ' || struct_extract(g.m, 'a') ||
      |          CASE WHEN struct_extract(g.m, 'b') LIKE '##%'
      |               THEN struct_extract(g.m, 'b')[3:]
      |               ELSE struct_extract(g.m, 'b') END || ' '),
      |        '  ', ' ')),
      |      n := struct_extract(e, 'n')))
      |  FROM (
      |    SELECT it.step, it.vocab,""".stripMargin

  /** WordPiece pair scores on the exact fixed-point plane,
    * `(cnt·10¹⁸) // (ca·cb)` in HUGEINT; eight steps.
    */
  private lazy val wpScoredPairs: String =
    """        CAST((CAST(pc.cnt AS HUGEINT) * 1000000000000000000) //
      |             (CAST(ta.c AS HUGEINT) * CAST(tb.c AS HUGEINT))
      |          AS BIGINT) AS fp
      |      FROM (SELECT p.a AS a, p.b AS b, CAST(sum(pn) AS BIGINT) AS cnt
      |        FROM (
      |          SELECT unnest(list_transform(range(1, len(tk.toks)),
      |            i -> struct_pack(a := tk.toks[i], b := tk.toks[i + 1]))) AS p,
      |            tk.n AS pn
      |          FROM (SELECT string_split(struct_extract(e2, 't'), ' ') AS toks,
      |                struct_extract(e2, 'n') AS n
      |                FROM unnest(it.vocab) AS u(e2)) tk
      |          WHERE len(tk.toks) >= 2) bp
      |        GROUP BY 1, 2) pc
      |      JOIN (SELECT tok, CAST(sum(n2) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e3, 't'), ' ')) AS tok,
      |              struct_extract(e3, 'n') AS n2
      |            FROM unnest(it.vocab) AS u2(e3)) tt
      |          GROUP BY tok) ta ON ta.tok = pc.a
      |      JOIN (SELECT tok, CAST(sum(n3) AS BIGINT) AS c FROM (
      |            SELECT unnest(string_split(struct_extract(e4, 't'), ' ')) AS tok,
      |              struct_extract(e4, 'n') AS n3
      |            FROM unnest(it.vocab) AS u3(e4)) tt2
      |          GROUP BY tok) tb ON tb.tok = pc.b
      |      ) c
      |    WHERE it.step < 8
      |    GROUP BY it.step, it.vocab
      |  ) g""".stripMargin

  /** The oracle shared by text_topk_ngrams, text_topk_sketch. */
  private lazy val topkNgramsOracle: String =
    s"""
        |WITH $shingleCtes,
        |u AS (SELECT unnest(s) AS ngram FROM sh)
        |SELECT ngram, count(*) AS doc_freq FROM u
        |GROUP BY ngram ORDER BY doc_freq DESC, ngram LIMIT 50""".stripMargin

  /** The oracle shared by text_decontaminate, text_decontaminate_bloom. */
  private lazy val decontaminateOracle: String =
    """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(t) - 3, 1) + 1),
        |  i -> array_to_string(t[i:i+3], ' '))) AS s FROM toks),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 97 = 0),
        |cand AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT doc_id, COUNT(*) AS n FROM cand
        |  JOIN bench USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared,
        |  COALESCE(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 97 <> 0""".stripMargin
}
