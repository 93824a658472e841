package graft.queries

import graft.Tables
import graft.functions.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.streamWithSentinel

/** Web and multimodal entries: URL canonicalization, domain statistics
  * and caps, image hashes and multimodal column plumbing.
  */
object WebQueries extends QueryFamily {

  lazy val entries: Seq[Entry] = Seq(

    entry("multimodal_ingest", (spark, dir) =>
      Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
        .select(col("doc_id"),
          col("meta.size_bytes").cast("long").as("size_bytes"),
          col("meta.magic").as("magic"),
          // real magic-byte parse; text payloads classify as "unknown"
          Multimodal.mediaHeader(col("content")).getField("format")
            .as("media_format")),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        |hex(encode(substring(text, 1, 4))) AS magic,
        |'unknown' AS media_format FROM documents""".stripMargin),

    // Per-frame PCM energy (silence detection / loudness audit): the
    // payload bytes decode as 16-bit little-endian samples entirely
    // inside the row — hex-plane sample decode, signed conversion,
    // exact Σs² fold; only (id, frame, energy) scalars leave the row.
    entry("multimodal_pcm_energy", (spark, dir) =>
      Multimodal.pcmFrameEnergy(
        Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
          .select(col("doc_id"), col("content")),
        "doc_id", "content", frameSamples = 64),
      // byte-bucket histogram recomputed from the UTF-8 payload via
      // hex-nibble decode (bucket 0 = byte positions ≡ 0 mod 16)
      // PCM energy replay: same hex-nibble byte decode, little-endian
      // sample assembly, signed conversion, exact square-sum per frame
      """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, hx, unnest(range(0, n // 128)) AS frame
        |  FROM h WHERE n >= 128),
        |s AS (SELECT doc_id, CAST(frame AS INTEGER) AS frame_idx,
        |    list_transform(range(0, 64), i ->
        |      (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 1 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 1 AS INT)]) - 1) * 16
        |      + (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 2 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 2 AS INT)]) - 1)
        |      + 256 * ((strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 3 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 3 AS INT)]) - 1) * 16
        |      + (strpos('0123456789abcdef',
        |        hx[CAST((frame*128 + i*2)*2 + 4 AS INT)
        |          :CAST((frame*128 + i*2)*2 + 4 AS INT)]) - 1))) AS vs
        |  FROM f)
        |SELECT doc_id, frame_idx,
        |  CAST(list_sum(list_transform(vs, v ->
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT)
        |    * CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
        |      AS BIGINT))) AS BIGINT) AS energy
        |FROM s""".stripMargin),

    // Exact media dedup over deterministically planted re-uploads (every
    // doc_id % 7 == 3 doc carries the payload of doc_id − 3): group by
    // payload digest — only digests + ids shuffle, never the bytes.
    entry("multimodal_dedup", (spark, dir) => {
      val base = Tables.read(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val donor = base.select(col("doc_id").as("src_id"),
        col("text").as("src_text"))
      val planted = base
        .withColumn("src", when(col("doc_id") % 7 === 3,
          col("doc_id") - 3).otherwise(col("doc_id")))
        .join(donor, col("src") === col("src_id"))
        .select(col("doc_id"), col("src_text"))
      Multimodal.exactMediaGroups(
        Multimodal.ingest(planted, "src_text"), "content", "doc_id")
    },
      // digest-group replay: same planted re-uploads, same md5-of-bytes key
      """WITH planted AS (SELECT d.doc_id, s.text AS payload
        |  FROM documents d JOIN documents s
        |  ON s.doc_id = CASE WHEN d.doc_id % 7 = 3 THEN d.doc_id - 3
        |                     ELSE d.doc_id END),
        |g AS (SELECT md5(payload) AS dg, min(doc_id) AS group_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM planted GROUP BY 1)
        |SELECT p.doc_id, g.group_id, g.n_copies
        |FROM planted p JOIN g ON md5(p.payload) = g.dg""".stripMargin),

    // Partition-iterator decode with the integer byte-histogram codec:
    // features are bit-exact (integers inside float32's exact range), so
    // the emitted scalar summaries are hash-checked against a DuckDB
    // recompute of the byte buckets (hex-nibble decode of the payload).
    // Features stay distributed as Array[Float]; only scalar summaries
    // are emitted (driver compare can't sort array cells).
    entry("multimodal_features", (spark, dir) => {
      val withBin = Multimodal.ingest(Tables.read(spark, dir, "documents"), "text")
        .select("doc_id", "content")
      Multimodal.decodePartitions(withBin, "content",
          new Multimodal.ByteHistCodec(16))
        .select(col("doc_id"),
          size(col("features")).as("n_feats"),
          element_at(col("features"), 1).cast("long").as("f0"),
          aggregate(col("features"), lit(0L),
            (acc, x) => acc + x.cast("long")).as("feat_sum"))
    },
      """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |  octet_length(encode(text)) AS n FROM documents),
        |b AS (SELECT doc_id, n, list_transform(range(1, n + 1),
        |  i -> (strpos('0123456789abcdef', hx[2*i-1:2*i-1]) - 1) * 16 +
        |       (strpos('0123456789abcdef', hx[2*i:2*i]) - 1)) AS bytes
        |  FROM h)
        |SELECT doc_id, 16 AS n_feats,
        |  CAST(COALESCE(list_sum(list_transform(range(1, n + 1),
        |    i -> CASE WHEN (i - 1) % 16 = 0 THEN bytes[i] ELSE 0 END)), 0)
        |    AS BIGINT) AS f0,
        |  CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS feat_sum
        |FROM b""".stripMargin),

    // Frame sampling over binary media payloads: fixed-size byte frames
    // (every nth chunk — real byte slicing; only the frames-vs-chunks
    // interpretation is domain-specific). Emitted as scalar rows
    // (idx, byte length, hex) so every frame byte is value-checked;
    // trailing empty frames filter out, so kept indices stay aligned
    // with the original frame grid. Pure projection + posexplode — the
    // payload never shuffles.
    entry("multimodal_framesample", (spark, dir) => {
      val withBin = Multimodal.ingest(
          Tables.read(spark, dir, "documents"), "text")
        .select(col("doc_id"), col("content"))
      withBin
        .select(col("doc_id"),
          posexplode(Multimodal.frameSample(col("content"),
            nFrames = 4, frameBytes = 32)).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          hex(col("frame")).as("frame_hex"))
    },
      // byte-exact frame replay on the hex plane (2 hex chars per byte —
      // character substring on VARCHAR would split multi-byte UTF-8)
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, 4)) AS i, h FROM b),
        |s AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  substring(h, CAST(i * 64 + 1 AS INT), 64) AS frame_hex FROM f)
        |SELECT doc_id, frame_idx,
        |  CAST(length(frame_hex) // 2 AS BIGINT) AS frame_len, frame_hex
        |FROM s WHERE length(frame_hex) > 0""".stripMargin),

    // Perceptual near-duplicate media (dHash): planted one-byte-flipped
    // re-uploads (%23=4 takes its donor's payload with byte 10 set to
    // 0xFF) must surface with tiny Hamming distance while unrelated
    // payloads (≈28/56 bits apart) stay silent. Signature + banded LSH +
    // exact verify — the simhash shape on the media byte plane; payloads
    // never shuffle, only 8-byte signatures.
    entry("multimodal_phash", (spark, dir) => {
      Multimodal.phashPairs(plantedMedia(spark, dir), "doc_id", col("h"))
    },
      // full pipeline replay: planted flips, hex-plane signatures, band
      // candidates, Hamming verify — engine and oracle must agree on the
      // exact pair set AND distances
      s"""
        |$plantedMediaCtes
        |f AS (SELECT doc_id, h, length(h) // 2 AS nb FROM pl
        |  WHERE length(h) >= 128),
        |s AS (SELECT doc_id, ${duckDHash56("h", "nb")} AS sig FROM f),
        |bt AS (SELECT doc_id, sig, unnest(range(0, 4)) AS k FROM s),
        |bv AS (SELECT doc_id, sig, k,
        |    (sig >> (CAST(k AS INT) * 14)) & 16383 AS v FROM bt),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bv a JOIN bv b
        |    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM p WHERE bit_count(xor(sa, sb)) <= 5""".stripMargin),

    // Frame-level near-dup across media (clip detection): sample each
    // payload's fixed-size frames, dHash+LSH pair FRAMES across
    // different parents, aggregate to parent pairs with matching-frame
    // counts — how shared segments surface even when whole-file hashes
    // differ. The %23 plant flips one byte inside frame 0, so planted
    // pairs show the signature mix: 3 frames at hamming 0 + frame 0 at
    // a small positive hamming.
    entry("multimodal_frame_neardup", (spark, dir) => {
      val planted = plantedMedia(spark, dir)
      val frames = planted
        .select(col("doc_id"),
          posexplode(Multimodal.frameSample(unhex(col("h")),
            nFrames = 4, frameBytes = 64)).as(Seq("fidx", "frame")))
        .where(length(col("frame")) === 64)
        .select((col("doc_id") * lit(100L) + col("fidx")).as("fkey"),
          hex(col("frame")).as("fh"))
      Multimodal.phashPairs(frames, "fkey", col("fh"))
        .where(expr("id_a div 100") =!= expr("id_b div 100"))
        .groupBy(expr("id_a div 100").as("vid_a"),
          expr("id_b div 100").as("vid_b"))
        .agg(count(lit(1)).as("n_frames"),
          min(col("hamming")).as("min_hamming"),
          max(col("hamming")).as("max_hamming"))
    },
      // frame replay: same plant, 64-byte hex slices as frame keys
      // (doc*100+idx), the identical dHash/band/verify, parent rollup
      s"""
        |$plantedMediaCtes
        |fr AS (SELECT doc_id, unnest(range(0, 4)) AS i, h FROM pl),
        |fx AS (SELECT doc_id * 100 + i AS fkey,
        |    substring(h, CAST(i * 128 + 1 AS INT), 128) AS fh
        |  FROM fr),
        |f AS (SELECT fkey, fh AS h, 64 AS nb FROM fx
        |  WHERE length(fh) = 128),
        |s AS (SELECT fkey, ${duckDHash56("h", "nb")} AS sig FROM f),
        |bt AS (SELECT fkey, sig, unnest(range(0, 4)) AS k FROM s),
        |bv AS (SELECT fkey, sig, k,
        |    (sig >> (CAST(k AS INT) * 14)) & 16383 AS v FROM bt),
        |p AS (SELECT DISTINCT a.fkey AS id_a, b.fkey AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bv a JOIN bv b
        |    ON a.k = b.k AND a.v = b.v AND a.fkey < b.fkey),
        |pr AS (SELECT id_a, id_b,
        |    CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |  FROM p WHERE bit_count(xor(sa, sb)) <= 5)
        |SELECT id_a // 100 AS vid_a, id_b // 100 AS vid_b,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(min(hamming) AS INT) AS min_hamming,
        |  CAST(max(hamming) AS INT) AS max_hamming
        |FROM pr WHERE id_a // 100 <> id_b // 100
        |GROUP BY 1, 2""".stripMargin),

    // URL canonicalization + canonical-URL dedup — the crawl pipeline's
    // front door (C4/RefinedWeb/FineWeb all dedup at the URL level
    // before any content pass). The synthetic URL derives from the SAME
    // SQL snippet on both sides (the erRecords pattern): doc_id % 11
    // fixes the URL's IDENTITY (subdomain, path, params, kept port),
    // doc_id itself injects only canonicalization NOISE (scheme/host
    // case, www., default ports, tracking params, param order,
    // fragments, trailing slash), so dup groups form across documents
    // and every rule is load-bearing in the hash.
    entry("web_url_canon", (spark, dir) =>
      graft.functions.WebOps.urlDedup(webDocs(spark, dir), "url", "doc_id"),
      // URL canonicalization replay (webCanonCte) + keep = group-min id
      s"""$webCanonCte
         |SELECT doc_id, url, canon_url,
         |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS keep
         |FROM canon""".stripMargin),

    // Per-registered-domain corpus stats over canonical hosts (the
    // blocklist / per-site-cap decision table): eTLD+1 via the
    // documented two-level-suffix subset, counts + exact size sum only.
    entry("web_domain_stats", (spark, dir) =>
      graft.functions.WebOps.domainStats(webDocs(spark, dir), "url",
        "n_chars"),
      s"""$webCanonCte
         |SELECT $webRegDomainSql AS domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT chost) AS BIGINT) AS n_hosts,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_size
         |FROM canon GROUP BY 1""".stripMargin),

    // Per-domain keep cap (sourceCap with the key DERIVED from the
    // URL): smallest 8 doc_ids per registered domain survive.
    entry("web_domain_cap", (spark, dir) =>
      graft.functions.WebOps.domainCap(webDocs(spark, dir), "url",
        "doc_id", maxPerDomain = 8),
      s"""$webCanonCte
         |SELECT doc_id, domain,
         |  row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 8
         |    AS keep
         |FROM (SELECT doc_id, $webRegDomainSql AS domain FROM canon)
         |  t""".stripMargin),

    // STREAMING canonical-URL dedup (twin #41): canonicalization is a
    // stateless projection, the keep verdict is (min id, count) per
    // canonical group — SET properties, so the streamed result equals
    // batch under any microbatch split; state is O(1) per group.
    entry("web_url_canon_stream", (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.OutputMode
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = webDocs(spark, dir)
        .select(col("doc_id"), col("url"), lit(t0).as("ts"))
      val sentinel = Seq((-1L, "\u0000sentinel",
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("doc_id", "url", "ts")
      val agg = streamWithSentinel(spark, docs, sentinel, delaySec = 3600L)
        .groupBy(graft.functions.WebOps.canonicalizeUrl(col("url"))
          .as("canon_url"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
      graft.streaming.EventStream.runToMemory(
        agg, "web_url_canon_stream_out", OutputMode.Update())
      spark.table("web_url_canon_stream_out")
        .groupBy("canon_url")
        .agg(min(col("keep_id")).as("keep_id"),
          max(col("n_copies")).as("n_copies"))
        .where(col("keep_id") >= 0) // drop the sentinel group
    },
      // group-level replay: streamed (min id, count) per canonical group
      // must equal the batch grouping bit-for-bit
      s"""$webCanonCte
         |SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM canon GROUP BY canon_url""".stripMargin))

  /** Deterministic synthetic URL per document, built from the SAME SQL
    * snippets on both sides (Spark `expr` here, DuckDB oracle below) —
    * the erRecords pattern. `doc_id % 11` ("page") drives URL identity;
    * raw `doc_id` residues drive only noise the canonicalizer must
    * collapse. Shared snippets are dialect-common SQL: concat / case /
    * cast(.. as string) / upper / `%` behave identically.
    */
  private val webQCoreSql: String =
    "case when doc_id % 11 = 9 then '' else case when doc_id % 2 = 0 " +
      "then concat('a=', lang, '&b=', cast(doc_id % 11 as string)) " +
      "else concat('b=', cast(doc_id % 11 as string), '&a=', lang) end end"

  private val webQTrackSql: String =
    "concat(" +
      "case when doc_id % 3 = 0 then concat('&utm_source=', source) else '' end, " +
      "case when doc_id % 5 = 1 then '&gclid=zz1' else '' end, " +
      "case when doc_id % 7 = 3 then '&ref=fp' else '' end)"

  /** URL body; expects a column `qq` = webQCoreSql ++ webQTrackSql. */
  private val webUrlSql: String =
    """concat(
      |  case when (doc_id % 11) % 2 = 0
      |    then (case when doc_id % 5 = 0 then 'HTTPS' else 'https' end)
      |    else (case when doc_id % 5 = 0 then 'HTTP' else 'http' end) end,
      |  '://',
      |  case when doc_id % 2 = 1
      |    then (case when doc_id % 10 = 1 then 'WWW.' else 'www.' end)
      |    else '' end,
      |  case when (doc_id % 11) % 3 = 0 then 'm.'
      |       when (doc_id % 11) % 3 = 1 then 'blog.' else '' end,
      |  case when doc_id % 3 = 0 then upper(source) else source end,
      |  '.',
      |  case when lang = 'en' then 'co.uk' when lang = 'fr' then 'fr'
      |       when lang = 'es' then 'com.mx' when lang = 'de' then 'de'
      |       else 'com.cn' end,
      |  case when doc_id % 11 = 7 then ':8080'
      |       when doc_id % 7 = 0 then
      |         (case when (doc_id % 11) % 2 = 0 then ':443' else ':80' end)
      |       else '' end,
      |  case when doc_id % 11 = 5 then ''
      |       else concat('/', source, '/p', cast(doc_id % 11 as string),
      |         case when doc_id % 4 = 0 then '/' else '' end) end,
      |  case when qq = '' then '' else concat('?', qq) end,
      |  case when doc_id % 6 = 0 then concat('#s', cast(doc_id % 4 as string))
      |       else '' end)""".stripMargin

  private[graft] def webDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")
      .withColumn("qq", expr(s"concat($webQCoreSql, $webQTrackSql)"))
      .withColumn("url", expr(webUrlSql))
      .select("doc_id", "url", "n_chars")

  /** Oracle CTE producing `canon(doc_id, n_chars, url, canon_url,
    * chost)` — the DuckDB replay of [[graft.functions.WebOps]]'s rules
    * over the same synthetic URLs. `coalesce(array_to_string(...),'')`
    * papers over DuckDB returning NULL for an empty list where Spark's
    * array_join returns ''.
    */
  private lazy val webCanonCte: String =
    s"""WITH q0 AS (SELECT doc_id, lang, source, n_chars,
       |    concat($webQCoreSql, $webQTrackSql) AS qq FROM documents),
       |u AS (SELECT doc_id, n_chars, $webUrlSql AS url
       |  FROM q0),
       |c1 AS (SELECT doc_id, n_chars, url,
       |    split_part(url, '#', 1) AS nofrag FROM u),
       |c2 AS (SELECT *, split_part(nofrag, '?', 1) AS base,
       |    CASE WHEN instr(nofrag, '?') > 0
       |      THEN substring(nofrag,
       |        length(split_part(nofrag, '?', 1)) + 2, 1073741823)
       |      ELSE '' END AS query FROM c1),
       |c3 AS (SELECT *, lower(split_part(base, '://', 1)) AS scheme,
       |    CASE WHEN instr(base, '://') > 0
       |      THEN substring(base,
       |        length(split_part(base, '://', 1)) + 4, 1073741823)
       |      ELSE base END AS rest FROM c2),
       |c4 AS (SELECT *, lower(split_part(rest, '/', 1)) AS hostport,
       |    substring(rest,
       |      length(split_part(rest, '/', 1)) + 1, 1073741823) AS path0
       |  FROM c3),
       |c5 AS (SELECT *,
       |    CASE WHEN scheme = 'http' THEN regexp_replace(
       |        regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
       |      WHEN scheme = 'https' THEN regexp_replace(
       |        regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
       |      ELSE regexp_replace(hostport, '^www\\.', '') END AS host2,
       |    regexp_replace(path0, '/$$', '') AS path1,
       |    coalesce(array_to_string(list_sort(list_filter(
       |      string_split(query, '&'),
       |      p -> NOT starts_with(p, 'utm_')
       |        AND split_part(p, '=', 1)
       |          NOT IN ('gclid','fbclid','msclkid','ref')
       |        AND p <> '')), '&'), '') AS q1 FROM c4),
       |canon AS (SELECT doc_id, n_chars, url,
       |    concat(scheme, '://', host2, path1,
       |      CASE WHEN q1 = '' THEN '' ELSE concat('?', q1) END)
       |      AS canon_url,
       |    regexp_replace(host2, ':[0-9]+$$', '') AS chost FROM c5)""".stripMargin

  /** eTLD+1 over a host column named `chost` (two-level-suffix subset
    * mirroring WebOps.TwoLevelSuffixes).
    */
  private lazy val webRegDomainSql: String =
    "CASE WHEN len(string_split(chost, '.')) <= 2 THEN chost " +
      "WHEN concat(string_split(chost, '.')[-2], '.', " +
      "string_split(chost, '.')[-1]) IN " +
      "('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp'," +
      "'com.au','net.au','org.au','com.br','com.cn','com.mx','co.in'," +
      "'co.kr','co.za','github.io','blogspot.com','herokuapp.com') " +
      "THEN concat(string_split(chost, '.')[-3], '.', " +
      "string_split(chost, '.')[-2], '.', string_split(chost, '.')[-1]) " +
      "ELSE concat(string_split(chost, '.')[-2], '.', " +
      "string_split(chost, '.')[-1]) END"

  /** DuckDB replay of [[Multimodal.dHash56Sql]] — same sampled positions,
    * same comparisons, same shift weights, on the same hex plane.
    */
  private def duckDHash56(h: String, nb: String): String = {
    def b(i: Int): String =
      s"(('0x' || substring($h, (($i * $nb) // 64) * 2 + 1, 2))::BIGINT)"
    (for (r <- 0 until 8; c <- 0 until 7) yield
      s"(CASE WHEN ${b(r * 8 + c)} > ${b(r * 8 + c + 1)} THEN ${1L << (r * 7 + c)} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  /** The documents' hex payloads `h`, with the %23 = 4 docs re-uploading
    * their donor's (id − 4) payload with byte 10 flipped to 0xFF.
    */
  private def plantedMedia(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.read(spark, dir, "documents")
      .select(col("doc_id"), hex(col("text").cast("binary")).as("h"))
    val donor = raw.select(col("doc_id").as("__sid"), col("h").as("__sh"))
    raw
      .join(donor,
        col("doc_id") % 23 === 4 && col("__sid") === col("doc_id") - 4,
        "left")
      .select(col("doc_id"),
        when(col("__sh").isNotNull,
          concat(expr("substring(__sh, 1, 20)"), lit("FF"),
            expr("substring(__sh, 23)")))
          .otherwise(col("h")).as("h"))
  }

  /** The SQL twin of [[plantedMedia]]: `pl(doc_id, h)`. */
  private lazy val plantedMediaCtes: String =
    """WITH raw AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
      |pl AS (SELECT r.doc_id,
      |    CASE WHEN d.h IS NOT NULL
      |      THEN substring(d.h, 1, 20) || 'FF' || substring(d.h, 23)
      |      ELSE r.h END AS h
      |  FROM raw r LEFT JOIN raw d
      |    ON r.doc_id % 23 = 4 AND d.doc_id = r.doc_id - 4),""".stripMargin
}
