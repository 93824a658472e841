package graft.queries

import graft.functions.TextAnalysis

/** Oracle SQL fragments shared by several families. */
private[queries] object SqlFragments {

  /** DuckDB CTEs building each document's distinct word-3-shingle set —
    * the same construction the (hash-matching) dedup_ngram_jaccard oracle
    * uses, shared by the pair-Jaccard recompute oracles.
    */
  private[queries] val shingleCtes: String =
    """toks AS (SELECT doc_id,
      |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(t) - 2, 1) + 1),
      |  i -> array_to_string(t[i:i+2], ' '))) AS s FROM toks)""".stripMargin

  private[queries] val stopList =
    TextAnalysis.EnglishStopwords.map(s => s"'$s'").mkString("[", ",", "]")

  private def markerList(lang: String): String =
    TextAnalysis.LangMarkers.toMap.apply(lang).map(s => s"'$s'").mkString("[", ",", "]")

  /** The quality-formula ratios of [[TextAnalysis.stats]] over `text`, its
    * whitespace tokens `toks` and their count `ntok`, as select items.
    */
  private[queries] val qualityRatios: String =
    s"""  CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
       |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio""".stripMargin

  /** [[TextAnalysis.qualityScoreFromStats]] over `n_tokens` and the three
    * [[qualityRatios]], as a select item named `quality`.
    */
  private[queries] val qualityScore: String =
    s"""  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
       |  least(stopword_ratio * 4.0, 1.0) * 0.3 +
       |  greatest(1.0 - (punct_ratio + digit_ratio) * 2.0, 0.0) * 0.3 AS quality""".stripMargin

  /** `m` (the [[qualityRatios]] and `n_tokens` per doc of `t`) and `q`
    * (their [[qualityScore]]), each carrying the extra columns `mCols`
    * resp. `qCols` through.
    */
  private[queries] def qualityCtes(mCols: String, qCols: String): String =
    s"""m AS (SELECT doc_id, ${mCols}CAST(ntok AS BIGINT) AS n_tokens,
       |$qualityRatios
       |  FROM t),
       |q AS (SELECT doc_id,$qCols
       |$qualityScore
       |  FROM m)""".stripMargin

  /** `aug`, the documents with `sentence` planted as a prefix where
    * `prefix` holds and as a suffix where any of `suffix` holds (the SQL
    * twin of [[Fixtures.plantedDocs]]), then their normalized tokens `t`
    * and the docs `n` long enough for an 8-token window.
    */
  private[queries] def plantedTokenCtes(sentence: String, prefix: String,
                                        suffix: String*): String = {
    val whens = suffix.map(c => s"WHEN $c\n      THEN ' $sentence'")
      .mkString("\n      ")
    s"""WITH aug AS (SELECT doc_id,
       |    CASE WHEN $prefix
       |      THEN '$sentence '
       |      ELSE '' END || text ||
       |    CASE $whens
       |      ELSE '' END AS text
       |  FROM documents),
       |t AS (SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM aug),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),""".stripMargin
  }

  /** [[plantedTokenCtes]] for [[Fixtures.boilerDocs]]. */
  private[queries] lazy val boilerTokenCtes: String =
    plantedTokenCtes(Fixtures.quickFox, "doc_id % 7 = 0", "doc_id % 11 = 0")

  /** The 8-token windows `w(doc_id, p, wtxt)` of the docs `n`. */
  private[queries] lazy val tokenWindowCtes: String =
    """pos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p FROM n),
      |w AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt FROM pos),""".stripMargin

  /** Gaps-and-islands over the flagged window starts `f(doc_id, p)`:
    * windows closer than 8 tokens merge into one maximal span `sp(doc_id,
    * s, ln)`.
    */
  private[queries] lazy val spanIslandCtes: String =
    """g AS (SELECT doc_id, p,
      |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM f),
      |isl AS (SELECT doc_id, p,
      |    sum(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY p) AS island FROM g),
      |sp AS (SELECT doc_id, min(p) AS s, max(p) - min(p) + 8 AS ln
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** The span rows of `sp`, span text rebuilt from the token array. */
  private[queries] lazy val spanRows: String =
    """SELECT sp.doc_id, CAST(s AS INT) AS span_start,
      |  CAST(ln AS INT) AS span_len,
      |  array_to_string(n.toks[s:s+ln-1], ' ') AS span_text
      |FROM sp JOIN n USING (doc_id)""".stripMargin

  /** Cross-slice span replay over `plants` ([[plantedTokenCtes]]): windows
    * of the docs matching `probe` found in the window set of the docs
    * matching `indexed`, merged into spans per probe doc.
    */
  private[queries] def crossSpanOracle(plants: String, probe: String,
                                       indexed: String): String =
    s"""$plants
       |cpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
       |  FROM n WHERE $probe),
       |cw AS (SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS wtxt
       |  FROM cpos),
       |bpos AS (SELECT doc_id, toks, unnest(range(1, n - 8 + 2)) AS p
       |  FROM n WHERE $indexed),
       |bw AS (SELECT DISTINCT array_to_string(toks[p:p+7], ' ') AS wtxt
       |  FROM bpos),
       |f AS (SELECT doc_id, p FROM cw WHERE wtxt IN (SELECT wtxt FROM bw)),
       |$spanIslandCtes
       |$spanRows""".stripMargin

  /** The MMR recursion's first row per query: the candidate of `sl` with
    * the best 0.5·rel score (no selection yet to be diverse from), seeding
    * the selected ids, vectors and norms.
    */
  private[queries] lazy val mmrFirstPick: String =
    """  SELECT query_id, 1 AS step,
      |    -struct_extract(m, 'nid') AS doc_id,
      |    struct_extract(m, 'rel') AS rel,
      |    struct_extract(m, 's') AS score,
      |    [-struct_extract(m, 'nid')] AS sids,
      |    [struct_extract(m, 'v')] AS svecs,
      |    [struct_extract(m, 'nrm')] AS snrms
      |  FROM (SELECT query_id,
      |      max(struct_pack(
      |        s := CAST(0.5 AS DOUBLE) * rel -
      |          CAST(0.5 AS DOUBLE) * CAST(0.0 AS DOUBLE),
      |        nid := -doc_id, rel := rel, v := cv, nrm := cn)) AS m
      |    FROM sl GROUP BY query_id)
      |  UNION ALL""".stripMargin

  /** The whitespace tokens `toks` of `text` and their count `ntok`, as
    * select items.
    */
  private[queries] lazy val wsTokenCols: String =
    raw"""  string_split_regex(trim(text), '\s+') AS toks,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok""".stripMargin

  /** Per-language marker-word hits `s_en` … `s_zh` over `toks`, as select
    * items (TextAnalysis.langId's scores).
    */
  private[queries] lazy val markerScores: String =
    raw"""  len(list_filter(toks, x -> list_contains(${markerList("en")}, x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(${markerList("fr")}, x))) AS s_fr,
         |  len(list_filter(toks, x -> list_contains(${markerList("es")}, x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(${markerList("de")}, x))) AS s_de,
         |  len(list_filter(toks, x -> list_contains(${markerList("zh")}, x))) AS s_zh""".stripMargin

  /** TextAnalysis.langId's argmax over the marker scores (no hit → `und`,
    * ties to the first language), closed by the caller's `AS` alias.
    */
  private[queries] lazy val langFromScores: String =
    """  WHEN greatest(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
      |  WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
      |  WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
      |  WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
      |  WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
      |  WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
      |  ELSE 'und' END AS """.stripMargin

  /** The recursive closure over the id pairs an entry emitted (`__OUT__`
    * output `out`): `reach(u, r)` pairs every paired id with every id it
    * reaches. Needs `WITH RECURSIVE`.
    */
  private[queries] def closureCtes(out: String): String =
    s"""p AS (SELECT id_a, id_b
       |  FROM read_parquet('__OUT__/$out/*.parquet')),
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e)
       |  UNION
       |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),""".stripMargin

  /** Connected components of the dedup_minhash pairs: `comp(doc_id, rep)`
    * labels each paired doc with its component's minimum id.
    */
  private[queries] lazy val minhashComponentCtes: String =
    s"""${closureCtes("dedup_minhash")}
       |comp AS (SELECT u AS doc_id, MIN(r) AS rep FROM reach GROUP BY u)""".stripMargin

  /** [[qCosine]] for the query vector `qe.qv`. */
  private[queries] lazy val qeCosine: String =
    """  round(
      |   list_sum(list_transform(range(1, len(qe.qv)+1),
      |     i -> qe.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
      |   (sqrt(list_sum(list_transform(range(1, len(qe.qv)+1),
      |     i -> qe.qv[i]::DOUBLE * qe.qv[i]::DOUBLE))) *
      |    sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)""".stripMargin

  /** The SQL twin of [[Fixtures.htmlWrapped]], as a select item `t`. */
  private[queries] lazy val htmlWrappedSql: String =
    """  CASE WHEN doc_id % 2 = 0
      |    THEN '<html><body class="page"><p>' ELSE '' END ||
      |  text ||
      |  CASE WHEN doc_id % 3 = 0
      |    THEN ' <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>'
      |    ELSE '' END ||
      |  CASE WHEN doc_id % 2 = 0 THEN '</p></body></html>' ELSE '' END
      |    AS t""".stripMargin

  /** Curation.stripMarkup over `t` in SQL: tags → spaces, entities in the
    * fixed non-double-unescape order, whitespace collapsed; item `clean`.
    */
  private[queries] lazy val stripMarkupSql: String =
    raw"""  trim(regexp_replace(
         |    replace(replace(replace(replace(
         |      regexp_replace(t, '<[^>]+>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
         |    '\s+', ' ', 'g')) AS clean""".stripMargin

  /** Retrieval.rrfFuse's integer RRF score (k = 60, 10⁹ fixed point) of
    * the union `u` over the ranked `lex` and `vec` lists, as select item
    * `rrf` and the joins that feed it.
    */
  private[queries] lazy val rrfScore: String =
    """    CAST((CASE WHEN l.rank IS NULL THEN 0
      |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + l.rank AS BIGINT)
      |      END) +
      |      (CASE WHEN v.rank IS NULL THEN 0
      |        ELSE CAST(1000000000 AS BIGINT) // CAST(60 + v.rank AS BIGINT)
      |      END) AS BIGINT) AS rrf
      |  FROM u LEFT JOIN lex l USING (query_id, doc_id)
      |  LEFT JOIN vec v USING (query_id, doc_id))""".stripMargin
}
