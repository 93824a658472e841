package graft.sources

import graft.types.TypeMapper
import java.util.regex.Matcher.quoteReplacement
import org.apache.spark.sql.types._
import scala.util.matching.Regex

/** PostgreSQL → Spark SQL dialect preprocessing (SURVEY §7.3).
  *
  * The reference ships stream SQL verbatim to PostgreSQL
  * (reference: tap_rawpostgresql/client.py:300-304); the native path runs
  * the same text through Spark's parser, so [[rewrite]] turns the PG-isms
  * of real configs into Spark SQL at the string level, with no SQL parser.
  *
  * Lexical rule: one forward pass ([[Lexed]]) gives every character its
  * class — code, a `'…'` literal (`''` escapes a quote; no backslash
  * escape, as under PG's standard_conforming_strings), a `"…"` identifier
  * (`""` escapes), a backtick identifier, a `--` comment, or a `/* … */`
  * comment (nested as PG nests them) — and pairs the code parens. Every
  * rewrite matches only in code and splits arguments only at code commas
  * and parens. [[rewrite]] first turns each comment into one space (a
  * `/*+ … */` hint, which Spark reads, stays as written) and each `"…"`
  * identifier into a backtick identifier, so no rewrite sees or splices a
  * comment. `E'…'` and `$$…$$` strings are not lexed; Spark's parser
  * rejects them and an `auto` stream pushes the original SQL down.
  *
  * The rewrites, in the order [[rewrite]] applies them:
  *   - `SELECT DISTINCT ON (k) …`, top level or nested → row_number window
  *   - `array_to_string(a, d)` → `array_join` with the element cast;
  *     `array_agg(x ORDER BY k)` → struct sort; `string_agg` → `listagg`
  *   - `ts AT TIME ZONE 'z'` → `from_utc_timestamp` / `to_utc_timestamp`
  *   - `OPERATOR(pg_catalog.op)` unwrapped; `~~`, `~~*`, `!~~`, `!~~*` →
  *     [NOT] LIKE / ILIKE; COLLATE clauses dropped
  *   - `= ANY` / `<> ALL` over array literals → IN / NOT IN;
  *     `'{…}'::type[]` → `array(…)`
  *   - `[NOT] SIMILAR TO 'p'` → anchored RLIKE; `(a, b) OVERLAPS (c, d)` →
  *     comparisons; `'…'::interval` → `INTERVAL '…'`
  *   - `timestamptz '…'`, `timestamp with[out] time zone '…'` → `TIMESTAMP '…'`
  *   - `~`, `~*`, `!~`, `!~*` → [NOT] RLIKE
  *   - EXTRACT and date_trunc fields Spark lacks; `to_char` → `DATE_FORMAT`
  *     or `pg_to_char_num`; numeric `trunc` → floor/ceil toward zero
  *   - `x::type`, `(…)::type` → `CAST(… AS TYPE)` (TypeMapper's names)
  *   - `->`, `->>`, `#>`, `#>>` → `get_json_object`
  *
  * [[bindRepKeyVal]] then binds `:rep_key_val` as a typed literal (Spark
  * SQL has no bind parameters; rendering through the declared column type
  * also guards against injection — reference: client.py:283,298).
  */
object SqlDialect {

  private final val Code: Byte = 0
  private final val Literal: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3

  /** One forward pass over `sql`: the lexical class of every character
    * and the partner of every code paren.
    */
  private final class Lexed(val sql: String) {
    private val n = sql.length
    private val kind = new Array[Byte](n)
    // first index of the literal, identifier or comment holding a character
    private val first = new Array[Int](n)
    // code-paren depth: a paren pair and the text around it share a value
    private val depth = new Array[Int](n)
    private val partner = Array.fill(n)(-1)
    // (start, end, kind) of every token; adjacent code characters form one
    private val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Byte)]

    locally {
      var opens = List.empty[Int]
      var d = 0
      var i = 0
      while (i < n) {
        val c = sql.charAt(i)
        val (k, end) =
          if (c == '\'') (Literal, quotedEnd(i))
          else if (c == '"' || c == '`') (Ident, quotedEnd(i))
          else if (sql.startsWith("--", i)) (Comment, lineEnd(i))
          else if (sql.startsWith("/*", i)) (Comment, blockEnd(i))
          else (Code, i + 1)
        if (k == Code && c == ')') {
          d -= 1
          opens match {
            case o :: rest => partner(o) = i; partner(i) = o; opens = rest
            case Nil =>
          }
        }
        var j = i
        while (j < end) { kind(j) = k; first(j) = i; depth(j) = d; j += 1 }
        if (k == Code && c == '(') { d += 1; opens ::= i }
        if (k == Code && spans.nonEmpty && spans.last._3 == Code)
          spans(spans.length - 1) = (spans.last._1, end, Code)
        else spans += ((i, end, k))
        i = end
      }
    }

    /** End of the quoted token opening at `i`; a doubled quote is an
      * escaped one.
      */
    private def quotedEnd(i: Int): Int = {
      val q = sql.charAt(i)
      var j = i + 1
      while (j < n) {
        if (sql.charAt(j) != q) j += 1
        else if (j + 1 < n && sql.charAt(j + 1) == q) j += 2
        else return j + 1
      }
      n
    }

    private def lineEnd(i: Int): Int = {
      val j = sql.indexWhere(c => c == '\n' || c == '\r', i)
      if (j < 0) n else j
    }

    private def blockEnd(i: Int): Int = {
      var nest = 0
      var j = i
      while (j < n) {
        if (sql.startsWith("/*", j)) { nest += 1; j += 2 }
        else if (sql.startsWith("*/", j)) {
          nest -= 1; j += 2
          if (nest == 0) return j
        } else j += 1
      }
      n
    }

    def code(i: Int): Boolean = kind(i) == Code

    /** A match may start at `i`: in code, or at a literal's opening quote. */
    def outside(i: Int): Boolean = code(i) || (kind(i) == Literal && first(i) == i)

    /** Start of the literal or quoted identifier holding `i`, or -1. */
    def quotedStart(i: Int): Int =
      if (kind(i) == Literal || kind(i) == Ident) first(i) else -1

    /** The `)` balancing a code `(` at `open`, or -1. */
    def close(open: Int): Int = if (sql.charAt(open) == '(') partner(open) else -1

    /** The `(` balancing a code `)` at `close`, or -1. */
    def open(close: Int): Int = if (sql.charAt(close) == ')') partner(close) else -1

    private def topLevel(from: Int, to: Int): Iterator[Int] = {
      val d = if (from < n) depth(from) else 0
      Iterator.range(from, to).filter(i => code(i) && depth(i) == d)
    }

    /** Code commas in `[from, to)` outside the parens that open there. */
    def commas(from: Int, to: Int): Seq[Int] =
      topLevel(from, to).filter(sql.charAt(_) == ',').toSeq

    /** The comma-separated arguments of the balanced group at `open`. */
    def args(open: Int): Seq[String] = {
      val cuts = open +: commas(open + 1, close(open)) :+ close(open)
      cuts.zip(cuts.tail).map { case (a, b) => sql.substring(a + 1, b) }
    }

    /** First whole-word `kw` in code in `[from, to)` outside the parens
      * that open there, or -1.
      */
    def keyword(from: Int, to: Int, kw: String): Int = {
      def word(i: Int) = i >= 0 && i < n && sql.charAt(i).isLetterOrDigit
      topLevel(from, to).find(i => sql.regionMatches(true, i, kw, 0, kw.length) &&
        !word(i - 1) && !word(i + kw.length)).getOrElse(-1)
    }

    /** The matches of `re` that start where [[outside]] holds. */
    def matches(re: Regex): Iterator[Regex.Match] =
      re.findAllMatchIn(sql).filter(m => outside(m.start))

    /** `f` applied to every run of code; other tokens stay as written. */
    def mapCode(f: String => String): String = spans.map { case (s, e, k) =>
      if (k == Code) f(sql.substring(s, e)) else sql.substring(s, e)
    }.mkString

    /** Every comment as one space (a hint as written), every `"…"`
      * identifier as a backtick one.
      */
    def normalized: String = spans.map { case (s, e, k) =>
      val t = sql.substring(s, e)
      if (k == Comment) { if (t.startsWith("/*+")) t else " " }
      else if (k == Ident && t.length >= 2 && t.head == '"' && t.last == '"')
        "`" + t.substring(1, t.length - 1).replace("\"\"", "\"")
          .replace("`", "``") + "`"
      else t
    }.mkString
  }

  /** `sql` with `f`'s text in place of each match of `re` that starts
    * where [[Lexed.outside]] holds; None keeps the match.
    */
  private def replaceCode(sql: String, re: Regex)(
      f: Regex.Match => Option[String]): String = {
    val lex = new Lexed(sql)
    re.replaceSomeIn(sql, m =>
      if (lex.outside(m.start)) f(m).map(quoteReplacement) else None)
  }

  /** The statement `f` makes of the first code match of `re` it rewrites,
    * rewritten again until no match is left that `f` rewrites.
    */
  private def rewriteFirst(sql: String, re: Regex)(
      f: (Lexed, Regex.Match) => Option[String]): String = {
    val lex = new Lexed(sql)
    lex.matches(re).flatMap(f(lex, _)).nextOption()
      .fold(sql)(rewriteFirst(_, re)(f))
  }

  /** [[rewriteFirst]] for a pattern ending in a call's `(`: `f` gets the
    * balanced `(`/`)` and gives the text for the whole call.
    */
  private def rewriteCalls(sql: String, re: Regex)(
      f: (Lexed, Int, Int) => Option[String]): String =
    rewriteFirst(sql, re) { (lex, m) =>
      val close = lex.close(m.end - 1)
      if (close < 0) None
      else f(lex, m.end - 1, close).map(r =>
        lex.sql.substring(0, m.start) + r + lex.sql.substring(close + 1))
    }

  private def isNameChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Start of the function name (if any) just left of `i`. */
  private def nameStart(s: String, i: Int): Int =
    s.lastIndexWhere(!isNameChar(_), i - 1) + 1

  /** `[start, end)` of the operand ending just left of `opStart`: a
    * parenthesized span with the function name before it, a literal or
    * quoted identifier, or a (qualified) name.
    */
  private def leftOperand(lex: Lexed, opStart: Int): Option[(Int, Int)] = {
    val s = lex.sql
    val i = s.lastIndexWhere(!_.isWhitespace, opStart - 1)
    if (i < 0) None
    else if (s.charAt(i) == ')')
      Some(lex.open(i)).filter(_ >= 0).map(o => (nameStart(s, o), i + 1))
    else if (lex.quotedStart(i) >= 0) Some((lex.quotedStart(i), i + 1))
    else if (isNameChar(s.charAt(i)))
      Some((s.lastIndexWhere(c => !isNameChar(c) && c != '.', i) + 1, i + 1))
    else None
  }

  private val rewrites: Seq[String => String] = Seq(
    rewriteDistinctOn, rewriteNestedDistinctOn, rewriteArrayToString,
    rewriteArrayAgg, rewriteStringAgg, rewriteAtTimeZone,
    // OPERATOR()/LIKE family before the regex-operator rewrites, whose
    // guards would misread the multi-char `~~` forms
    rewriteOperatorSyntax,
    // ANY/ALL first (its pattern consumes an optional ::type[] suffix),
    // then standalone array-literal casts — both before the scalar casts,
    // which would turn `'{a,b}'::text[]` into `CAST('{a,b}' AS STRING)[]`
    rewriteAnyAll, rewriteArrayCast, rewriteSimilarTo, rewriteOverlaps,
    rewriteIntervalCast, rewriteTimestampLiterals, rewriteRegexOps,
    rewriteExtract, rewriteDateTrunc, rewriteToChar, rewriteNumericTrunc,
    rewriteCasts, rewriteJsonOps)

  /** Rewrite PostgreSQL-flavored SQL into Spark-parseable SQL. */
  def rewrite(sql: String): String =
    rewrites.foldLeft(new Lexed(sql).normalized)((s, f) => f(s))

  // ---- casts ------------------------------------------------------------

  // operand: quoted literal, identifier, or an UNSIGNED numeric literal
  // (PG allows `1::numeric/3`; the sign is excluded so `a -1::int` keeps
  // its binary minus). Type: optional (p[,s]) args ride along so
  // `::numeric(10,2)` / `::varchar(255)` map through TypeMapper instead
  // of leaving the parenthesized args dangling after the CAST.
  private val castRe =
    """('(?:[^']|'')*'|[A-Za-z_][A-Za-z0-9_\.]*|(?<![A-Za-z0-9_.'])\d+(?:\.\d+)?)\s*::\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?(?:\s+with(?:out)?\s+time\s+zone)?)""".r
  private val parenCastRe =
    """\)\s*::\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""".r

  /** `x::type` casts (a chain casts its first operand here), then every
    * `(…)::type` / `fn(…)::type` cast, which completes the chains.
    */
  private def rewriteCasts(sql: String): String = {
    val simple = replaceCode(sql, castRe)(m =>
      Some(s"CAST(${m.group(1)} AS ${sparkTypeName(m.group(2))})"))
    rewriteFirst(simple, parenCastRe) { (lex, m) =>
      val s = lex.sql
      Some(lex.open(m.start)).filter(_ >= 0).map { open =>
        val start = nameStart(s, open)
        s.substring(0, start) +
          s"CAST(${s.substring(start, m.start + 1)} AS ${sparkTypeName(m.group(1))})" +
          s.substring(m.end)
      }
    }
  }

  private val tstzLitRe = """(?i)\btimestamptz\s*'""".r
  private val tsLitRe = """(?i)\btimestamp\s+with(?:out)?\s+time\s+zone\s*'""".r

  private def rewriteTimestampLiterals(sql: String): String =
    replaceCode(replaceCode(sql, tstzLitRe)(_ => Some("TIMESTAMP '")),
      tsLitRe)(_ => Some("TIMESTAMP '"))

  // ---- posix-regex match operators ---------------------------------------

  // the case-insensitive forms fold the (?i) flag into the pattern literal
  private val ciNotMatchRe = """!~\*\s*('(?:[^']|'')*')""".r
  private val ciMatchRe = """~\*\s*('(?:[^']|'')*')""".r

  /** `'pat'` → `'(?i)pat'` (single-quoted literal in, literal out). */
  private def foldCaseFlag(lit: String): String =
    "'(?i)" + lit.substring(1)

  /** `~*` / `!~*` (longest first, so `!~*` is not eaten by `~*`), then
    * `!~` / `~`.
    */
  private def rewriteRegexOps(sql: String): String = {
    val folded = replaceCode(
      replaceCode(sql, ciNotMatchRe)(m => Some("NOT RLIKE " + foldCaseFlag(m.group(1)))),
      ciMatchRe)(m => Some("RLIKE " + foldCaseFlag(m.group(1))))
    new Lexed(folded).mapCode(_.replaceAll("""!~(?![\*~])""", " NOT RLIKE ")
      .replaceAll("""(?<![!<>=~])~(?![~*=])""", " RLIKE "))
  }

  // ---- AT TIME ZONE --------------------------------------------------------

  // operand AT TIME ZONE 'zone' — typed literal (timestamp '…'),
  // identifier/qualified name, or parenthesized expression; literal zone
  private val atTimeZoneRe =
    ("""(?i)((?:[A-Za-z_][A-Za-z0-9_]*\s*)?'(?:[^']|'')*'""" +
      """|[A-Za-z_][A-Za-z0-9_\.]*|\([^()]*\))\s+at\s+time\s+zone\s+('(?:[^']|'')*')""").r

  /** Rewrite PG `ts AT TIME ZONE 'Zone'`, honoring PG's double meaning:
    *
    *  - `timestamptz` operand (typed `timestamptz '…'` literal, or any
    *    identifier/parenthesized expression — the engine stores instants
    *    UTC, the reference's convention): render the instant in the zone →
    *    `from_utc_timestamp(ts, 'Zone')`.
    *  - NAIVE operand (typed `timestamp '…'` literal): PG interprets the
    *    wall-clock value as zone-local and yields the UTC instant — the
    *    inverse direction → `to_utc_timestamp(ts, 'Zone')`.
    *
    * Naive-typed COLUMNS cannot be detected from the SQL text alone and
    * keep the timestamptz reading; configs needing the naive-column form
    * should call to_utc_timestamp explicitly.
    */
  def rewriteAtTimeZone(sql: String): String =
    replaceCode(sql, atTimeZoneRe) { m =>
      val operand = m.group(1)
      val naiveLiteral = "(?is)^timestamp\\s*'.*".r.matches(operand.trim)
      val fn = if (naiveLiteral) "TO_UTC_TIMESTAMP" else "FROM_UTC_TIMESTAMP"
      Some(s"$fn($operand, ${m.group(2)})")
    }

  // ---- ordered aggregates --------------------------------------------------

  private val stringAggRe = """(?i)\bstring_agg\s*\(""".r
  private val arrayAggRe = """(?i)\barray_agg\s*\(""".r
  private val arrayToStringRe = """(?i)\barray_to_string\s*\(""".r

  /** Rewrite PG `string_agg(expr, delim [ORDER BY …])` to Spark 4's
    * `listagg(expr, delim) [WITHIN GROUP (ORDER BY …)]`.
    */
  def rewriteStringAgg(sql: String): String =
    rewriteCalls(sql, stringAggRe) { (lex, open, close) =>
      val s = lex.sql
      val order = lex.keyword(open + 1, close, "ORDER")
      Some(
        if (order < 0) s"listagg(${s.substring(open + 1, close)})"
        else s"listagg(${s.substring(open + 1, order).trim.stripSuffix(",").trim})" +
          s" WITHIN GROUP (${s.substring(order, close).trim})")
    }

  /** Rewrite PG `array_agg(expr ORDER BY key [ASC|DESC])` — Spark's
    * `array_agg` exists but takes no ORDER BY — to the struct-sort form
    * `transform(array_sort(array_agg(named_struct('o', key, 'v', expr))),
    * s -> s.v)` (wrapped in `reverse` for DESC). Only the single-key
    * form rewrites (equal keys additionally tie-break on the value,
    * which PG leaves unspecified anyway); multi-key ORDER BY is left
    * untouched and rides the `auto` pushdown fallback. Plain
    * `array_agg(x)` passes through — Spark has it natively.
    */
  def rewriteArrayAgg(sql: String): String =
    rewriteCalls(sql, arrayAggRe) { (lex, open, close) =>
      val s = lex.sql
      val order = lex.keyword(open + 1, close, "ORDER")
      val core = s.substring(open + 1, if (order < 0) close else order)
        .trim.stripSuffix(",").trim
      if (order < 0 || lex.commas(order, close).nonEmpty ||
        core.toUpperCase.startsWith("DISTINCT")) None
      else {
        val key = s.substring(order, close).trim
          .replaceFirst("""(?i)^ORDER\s+BY\s+""", "").trim
        val sorted = "transform(array_sort(array_agg(named_struct('o', " +
          s"${key.replaceFirst("""(?i)\s+(ASC|DESC)$""", "").trim}, 'v', $core))), s -> s.v)"
        Some(if (key.toUpperCase.endsWith(" DESC")) s"reverse($sorted)" else sorted)
      }
    }

  /** PG `array_to_string(arr, delim)` → Spark
    * `array_join(transform(arr, __x -> CAST(__x AS STRING)), delim)` —
    * PG casts elements implicitly, Spark's array_join demands strings,
    * so the rewrite injects the element cast. Both skip NULL elements.
    * The 3-argument form (explicit null replacement) is left untouched
    * for the pushdown fallback.
    */
  def rewriteArrayToString(sql: String): String =
    rewriteCalls(sql, arrayToStringRe) { (lex, open, _) =>
      lex.args(open).map(_.trim) match {
        case Seq(arr, delim) =>
          Some(s"array_join(transform($arr, __x -> CAST(__x AS STRING)), $delim)")
        case _ => None
      }
    }

  // ---- `OPERATOR(pg_catalog.op)` explicit-operator syntax + the LIKE
  // operator family (`~~` = LIKE, `~~*` = ILIKE, negations) + COLLATE ----

  private val operatorSynRe =
    """(?i)\s*OPERATOR\s*\(\s*(?:pg_catalog\s*\.\s*)?([~!<>=#@^|&+*/%-]+)\s*\)\s*""".r
  // an expression COLLATE "en_US.utf8" / COLLATE c — collation is a PG
  // comparison detail with no Spark counterpart; dropping it preserves
  // semantics for the byte-wise collations real stream SQL pins ("C").
  // The name may be a `"…"` identifier or, after [[rewrite]]'s first
  // step, a backtick one.
  private val collateRe = {
    val name = """(?:"(?:[^"]|"")*"|`(?:[^`]|``)*`|[A-Za-z_][\w$]*)"""
    s"""(?i)\\s+COLLATE\\s+$name(?:\\.$name)?""".r
  }

  /** Unwrap PG's explicit-operator syntax (`x OPERATOR(pg_catalog.~~) y`
    * → `x ~~ y`), rewrite the LIKE-family operators to keywords, and
    * strip COLLATE clauses — all in code.
    */
  def rewriteOperatorSyntax(sql: String): String =
    new Lexed(replaceCode(sql, collateRe)(_ => Some(""))).mapCode { code =>
      operatorSynRe.replaceAllIn(code, m => quoteReplacement(" " + m.group(1) + " "))
        // longest first so !~~* is not eaten by its prefixes; surrounding
        // whitespace is consumed so insertions never double spaces
        .replaceAll("""\s*!~~\*\s*""", " NOT ILIKE ")
        .replaceAll("""\s*!~~(?!\*)\s*""", " NOT LIKE ")
        .replaceAll("""\s*(?<!!)~~\*\s*""", " ILIKE ")
        .replaceAll("""\s*(?<![!~])~~(?![~*])\s*""", " LIKE ")
    }

  // ---- PG JSON extraction operators (`->`, `->>`, `#>`, `#>>`) ----------

  private val jsonOpRe = """#>>|#>|->>|->""".r
  // right operand: string literal (key or '{a,b}' path) or array index
  private val jsonRightRe = """\s*('(?:[^']|'')*'|-?\d+)""".r

  private def unquoteSqlLiteral(lit: String): String =
    lit.substring(1, lit.length - 1).replace("''", "'")

  /** One JSON-path segment for a PG key/index token. `quoted` preserves
    * PG's operand-type distinction: `-> 0` (integer) indexes an array,
    * `-> '0'` (text) looks up the KEY "0" — a quoted numeric token must
    * emit the bracket-quoted key form, never an index (divergence found
    * by the r10 JSON-op property corpus).
    */
  private def jsonPathSegment(tok: String, quoted: Boolean): String =
    if (!quoted && tok.matches("""\d+""")) s"[$tok]"
    else if (!quoted && tok.matches("""-\d+"""))
      throw new IllegalArgumentException(
        s"JSON rewrite: negative array index '$tok' (PG from-the-end " +
          "indexing) has no Spark get_json_object equivalent")
    else if (tok.matches("""[A-Za-z_][A-Za-z0-9_]*""")) s".$tok"
    else s"['$tok']"

  /** Spark JSON path for one PG operator application. `->`/`->>` take a
    * key literal or array index; `#>`/`#>>` take a `'{a,b,0}'` path,
    * whose elements PG resolves polymorphically at runtime (object key
    * vs array index by node type) — the static translation maps digit
    * elements to indexes, the overwhelmingly common reading.
    */
  private def jsonPathFor(op: String, right: String): String = {
    val toks: Seq[(String, Boolean)] =
      if (op.startsWith("#")) {
        val body = unquoteSqlLiteral(right).trim
          .stripPrefix("{").stripSuffix("}")
        pgArrayElements(body).map(_.getOrElse(throw
          new IllegalArgumentException("JSON rewrite: NULL in a #> path")))
          .map(t => (t, false))
      } else if (right.startsWith("'")) Seq((unquoteSqlLiteral(right), true))
      else Seq((right, false))
    "$" + toks.map { case (t, q) => jsonPathSegment(t, q) }.mkString
  }

  /** Rewrite PG JSON extraction operators to `get_json_object` calls:
    * `x -> 'k'`, `x ->> 'k'`, `x -> 0`, `x #> '{a,b}'`, `x #>> '{a,0,b}'`.
    * Chains nest naturally — the rewritten call becomes the next
    * operator's left operand, and `get_json_object` returns the JSON text
    * of object/array results, which the outer call re-parses (PG:
    * https://www.postgresql.org/docs/current/functions-json.html).
    *
    * `->` and `->>` both map to text extraction. For objects and arrays
    * the extracted JSON text matches PG's `->`; for SCALAR STRING results
    * PG's `->` keeps the JSON quotes while Spark strips them — terminal
    * `->` on string scalars is the one documented divergence (PG style
    * already prescribes `->>` for text access). Literal keys/indexes
    * only; occurrences whose operands don't parse are left for Spark's
    * parser to reject loudly.
    */
  def rewriteJsonOps(sql: String): String =
    rewriteFirst(sql, jsonOpRe) { (lex, m) =>
      val s = lex.sql
      for {
        (ls, le) <- leftOperand(lex, m.start)
        r <- jsonRightRe.findPrefixMatchOf(s.subSequence(m.end, s.length))
        if !(m.matched.startsWith("#") && !r.group(1).startsWith("'"))
      } yield s.substring(0, ls) +
        s"get_json_object(${s.substring(ls, le)}, '${escape(jsonPathFor(m.matched, r.group(1)))}')" +
        s.substring(m.end + r.end)
    }

  // ---- PG array literals and ANY/ALL ------------------------------------

  /** Elements of a PG array-literal BODY (`a,"b,c",NULL`): double-quote
    * unwrapping with backslash escapes, unquoted `NULL` → None.
    */
  private def pgArrayElements(body: String): Seq[Option[String]] = {
    val out = scala.collection.mutable.ArrayBuffer[Option[String]]()
    val cur = new StringBuilder
    var quoted = false
    var wasQuoted = false
    var i = 0
    def flush(): Unit = {
      val raw = if (wasQuoted) cur.toString else cur.toString.trim
      out += (if (!wasQuoted && raw.equalsIgnoreCase("null")) None else Some(raw))
      cur.clear(); wasQuoted = false
    }
    while (i < body.length) {
      val c = body.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < body.length) { cur.append(body.charAt(i + 1)); i += 1 }
        else if (c == '"') quoted = false
        else cur.append(c)
      } else c match {
        case '"' => quoted = true; wasQuoted = true
        case ',' => flush()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty || wasQuoted || out.nonEmpty) flush()
    out.toSeq
  }

  // `'{…}'::type[]` — a PG array literal with an element-type cast
  private val arrayCastRe =
    """'((?:[^']|'')*)'\s*::\s*([A-Za-z_][A-Za-z0-9_ ]*?)\s*\[\s*\]""".r

  /** Rewrite PG array-literal casts `'{a,b}'::text[]` to
    * `array(CAST('a' AS STRING), CAST('b' AS STRING))`; `'{}'::int[]` to
    * a typed empty array. Column-valued `col::type[]` casts (runtime
    * array-literal parsing) have no static Spark equivalent and are left
    * unchanged.
    */
  def rewriteArrayCast(sql: String): String =
    replaceCode(sql, arrayCastRe) { m =>
      val content = m.group(1).replace("''", "'").trim
      if (!(content.startsWith("{") && content.endsWith("}"))) None
      else {
        val tpe = sparkTypeName(m.group(2))
        val elems = pgArrayElements(content.substring(1, content.length - 1))
        Some(
          if (elems.isEmpty) s"CAST(array() AS ARRAY<$tpe>)"
          else elems.map {
            case Some(e) => s"CAST('${escape(e)}' AS $tpe)"
            case None => s"CAST(NULL AS $tpe)"
          }.mkString("array(", ", ", ")"))
      }
    }

  private val anyAllRe =
    ("""(?i)(=|<>|!=)\s*(ANY|ALL)\s*\(\s*(?:'((?:[^']|'')*)'""" +
      """(?:\s*::\s*([A-Za-z_][A-Za-z0-9_ ]*?)\s*\[\s*\])?""" +
      """|ARRAY\s*\[([^\[\]]*)\])\s*\)""").r

  private val numericTokRe = """-?\d+(?:\.\d+)?""".r

  /** Rewrite PG quantified comparisons over array literals to IN lists:
    * `x = ANY('{a,b}')` / `x = ANY('{1,2}'::int[])` / `x = ANY(ARRAY[…])`
    * → `x IN (…)`, and `x <> ALL(…)` / `x != ALL(…)` → `x NOT IN (…)`.
    * Untyped `'{…}'` elements render numeric tokens bare and everything
    * else as string literals (PG coerces against the left operand; the
    * IN list lets Spark do the same). Other operator/quantifier combos
    * (`<> ANY`, `= ALL`) have no IN equivalent and are left unchanged, as
    * are subquery forms (`ANY(SELECT …)` doesn't match the pattern).
    */
  def rewriteAnyAll(sql: String): String =
    replaceCode(sql, anyAllRe) { m =>
      val quant = m.group(2).toUpperCase
      val neg = m.group(1) == "<>" || m.group(1) == "!="
      // only = ANY (membership) and <>/!= ALL (non-membership) map to IN
      if ((quant == "ANY" && neg) || (quant == "ALL" && !neg)) None
      else {
        val listed: Option[String] =
          if (m.group(5) != null) // ARRAY[…] splice; empty list → leave
            Some(m.group(5).trim).filter(_.nonEmpty)
          else {
            val content = m.group(3).replace("''", "'").trim
            if (!(content.startsWith("{") && content.endsWith("}"))) None
            else {
              val tpe = Option(m.group(4)).map(sparkTypeName)
              val elems = pgArrayElements(content.substring(1, content.length - 1))
              if (elems.isEmpty) None // empty IN list is a parse error; leave
              else Some(elems.map {
                case Some(e) => tpe match {
                  case Some(t) => s"CAST('${escape(e)}' AS $t)"
                  case None if numericTokRe.matches(e) => e
                  case None => s"'${escape(e)}'"
                }
                case None => "NULL"
              }.mkString(", "))
            }
          }
        listed.map(l => s"${if (neg) "NOT IN" else "IN"} ($l)")
      }
    }

  // ---- PG SIMILAR TO ------------------------------------------------------

  private val similarToRe =
    """(?i)\b(NOT\s+)?SIMILAR\s+TO\s+('(?:[^']|'')*')""".r

  /** Translate a PG `SIMILAR TO` pattern body into a Java/Spark regex:
    * `%` → `.*`, `_` → `.` (both literal inside `[...]` classes and when
    * backslash-escaped); `.` `^` `$` are NOT metacharacters in SIMILAR TO
    * (PG docs §9.7.2) so they're escaped outside classes (inside `[...]`
    * Java already treats `.`/`$` literally and `^` keeps its POSIX
    * negation role). Everything else — the SQL-regex metacharacters
    * `| * + ? ( ) { } [ ]` PG shares with POSIX — passes through. The
    * result is wrapped `^(?:…)$` because SIMILAR TO matches the ENTIRE
    * string, unlike RLIKE's substring search.
    */
  def similarToRegex(pat: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      c match {
        case '\\' if i + 1 < pat.length =>
          val n = pat.charAt(i + 1)
          // escaped wildcard → literal char; anything else keeps its escape
          if (n == '%' || n == '_') sb.append(n)
          else sb.append('\\').append(n)
          i += 1
        case '[' if !inClass => inClass = true; sb.append(c)
        case ']' if inClass => inClass = false; sb.append(c)
        case '%' if !inClass => sb.append(".*")
        case '_' if !inClass => sb.append('.')
        case '.' | '^' | '$' if !inClass => sb.append('\\').append(c)
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Rewrite `x [NOT] SIMILAR TO '<pattern>'` (literal patterns — the
    * config-SQL case) to `x [NOT] RLIKE '^(?:<regex>)$'`. Column-valued
    * patterns are left unchanged (no static translation).
    */
  def rewriteSimilarTo(sql: String): String =
    replaceCode(sql, similarToRe) { m =>
      val neg = Option(m.group(1)).map(_ => "NOT ").getOrElse("")
      val lit = m.group(2)
      val body = lit.substring(1, lit.length - 1) // keep '' escapes as-is
      Some(s"${neg}RLIKE '^(?:${similarToRegex(body)})$$'")
    }

  // ---- PG interval casts and OVERLAPS ----------------------------------

  private val intervalCastRe =
    """('(?:[^']|'')*')\s*::\s*[Ii][Nn][Tt][Ee][Rr][Vv][Aa][Ll]\b""".r

  /** `'30 days'::interval` → `INTERVAL '30 days'` — Spark parses the
    * multi-unit interval STRING literal natively, so only the PG cast
    * spelling needs translating (before the scalar-cast pass would turn
    * it into an unresolvable CAST). Non-literal `::interval` operands
    * have no static Spark translation and are left for the `auto`
    * pushdown fallback.
    */
  def rewriteIntervalCast(sql: String): String =
    replaceCode(sql, intervalCastRe)(m => Some(s"INTERVAL ${m.group(1)}"))

  private val overlapsRe = """(?i)\boverlaps\b""".r

  /** Rewrite `(s1, e1) OVERLAPS (s2, e2)` into the SQL-standard
    * expansion over NORMALIZED bounds (PG swaps each pair so start <=
    * end, and treats start = end as a single instant — PG docs §9.9.3):
    *
    *   (S1 > S2 AND NOT (S1 >= E2 AND E1 >= E2)) OR
    *   (S2 > S1 AND NOT (S2 >= E1 AND E2 >= E1)) OR (S1 = S2)
    *
    * with S_i = LEAST(s_i, e_i), E_i = GREATEST(s_i, e_i). This stays on
    * the native Catalyst path (plain comparisons — pushable, codegen'd);
    * the repeated subexpressions are collapsed by Catalyst CSE. Anything
    * but two 2-element row constructors is left for the fallback.
    */
  def rewriteOverlaps(sql: String): String =
    rewriteFirst(sql, overlapsRe) { (lex, m) =>
      val s = lex.sql
      val ro = s.indexWhere(!_.isWhitespace, m.end)
      leftOperand(lex, m.start)
        .filter { case (ls, _) => s.charAt(ls) == '(' && ro >= 0 && lex.close(ro) >= 0 }
        .flatMap { case (ls, _) =>
          (lex.args(ls).map(_.trim), lex.args(ro).map(_.trim)) match {
            case (Seq(a, b), Seq(c, d)) =>
              val (s1, e1) = (s"LEAST($a, $b)", s"GREATEST($a, $b)")
              val (s2, e2) = (s"LEAST($c, $d)", s"GREATEST($c, $d)")
              Some(s.substring(0, ls) +
                s"(($s1 > $s2 AND NOT ($s1 >= $e2 AND $e1 >= $e2))" +
                s" OR ($s2 > $s1 AND NOT ($s2 >= $e1 AND $e2 >= $e1))" +
                s" OR $s1 = $s2)" + s.substring(lex.close(ro) + 1))
            case _ => None
          }
        }
    }

  // ---- DISTINCT ON -----------------------------------------------------

  private val distinctOnRe = """(?is)^\s*select\s+distinct\s+on\s*\(""".r
  private val nestedDistinctOnRe = """(?is)select\s+distinct\s+on\s*\(""".r
  private val qualifiedRe = """[A-Za-z_]\w*\.[A-Za-z_]""".r
  private val singleTableRe =
    """(?is)^\s*FROM\s+([A-Za-z_][\w\.]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?""".r
  private val clauseWords = Set("where", "group", "having", "order", "limit",
    "window", "qualify")

  /** Rewrite PostgreSQL `SELECT DISTINCT ON (keys) cols FROM … ORDER BY
    * keys, tiebreak` — keep the first row per key group under the ORDER BY
    * — into the Spark/ANSI row_number-window form:
    * `SELECT cols FROM (SELECT cols, row_number() OVER (PARTITION BY keys
    * ORDER BY full-order) AS __rn FROM …) WHERE __rn = 1`.
    *
    * Handles the top-level single-SELECT form (the shape stream configs
    * use); [[rewriteNestedDistinctOn]] applies it to subqueries.
    */
  def rewriteDistinctOn(sql: String): String = {
    val m = distinctOnRe.findFirstMatchIn(sql).getOrElse(return sql)
    val lex = new Lexed(sql)
    val close = lex.close(m.end - 1)
    val from = if (close < 0) -1 else lex.keyword(close + 1, sql.length, "FROM")
    if (from < 0) return sql
    val keys = sql.substring(m.end, close).trim
    val selectList = sql.substring(close + 1, from).trim
    // LIMIT may live after the ORDER BY or (with no ORDER BY) at the end
    // of the body; PG applies it AFTER dedup either way, so hoist it out
    val order = lex.keyword(from, sql.length, "ORDER")
    val limit = lex.keyword(if (order < 0) from else order, sql.length, "LIMIT")
    val orderEnd = if (limit < 0) sql.length else limit
    val bodyEnd = if (order < 0) orderEnd else order
    val body = sql.substring(from, bodyEnd).trim
    val orderBy = if (order < 0) "" else sql.substring(order, orderEnd).trim
    // PG requires ORDER BY to start with the DISTINCT ON keys; with no
    // ORDER BY the keys themselves give a deterministic (arbitrary-pick
    // replaced by first-by-key) order
    val windowOrder =
      if (orderBy.isEmpty) keys else orderBy.replaceFirst("(?is)^order\\s+by\\s+", "")
    // The hoist moves FROM into a subquery, so a table alias or the table
    // name itself (SELECT DISTINCT ON (t.id) t.id … FROM tbl t ORDER BY
    // t.id — the common PG idiom) is out of scope in the OUTER select
    // list / ORDER BY. For the single-table form, strip those qualifiers
    // there (the inner window still sees them); multi-table statements
    // with qualified outer references would silently mis-resolve, so
    // reject those loudly.
    val quals = singleTableQualifiers(lex, from, bodyEnd)
    def stripAlias(fragment: String): String =
      quals.foldLeft(fragment) { (f, a) =>
        new Lexed(f).mapCode(
          _.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(a)}\\.", ""))
      }
    def qualified(a: Int, b: Int): Boolean =
      qualifiedRe.findAllMatchIn(sql.substring(a, b)).exists(q => lex.code(a + q.start))
    if (quals.isEmpty && (qualified(close + 1, from) || (order >= 0 && qualified(order, orderEnd))))
      throw new IllegalArgumentException(
        "DISTINCT ON rewrite: qualified column references with a multi-table " +
          "FROM are not supported — qualify-free the select list/ORDER BY or " +
          "rewrite the statement as a row_number() window manually")
    // inner SELECT * keeps every base column visible, so the outer select
    // list AND an outer ORDER BY over non-projected columns (the common
    // PG latest-row-per-key idiom) both resolve
    s"SELECT ${stripAlias(selectList)} FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY $keys ORDER BY $windowOrder) AS __rn $body) " +
      s"WHERE __rn = 1" +
      (if (orderBy.nonEmpty) " " + stripAlias(orderBy) else "") +
      (if (limit >= 0) " " + sql.substring(limit).trim else "")
  }

  /** The strippable qualifier names of a simple single-table
    * `FROM tbl [AS alias] [WHERE …]` body in `[from, to)`: the table
    * name's last segment plus the alias when present — empty for
    * multi-table (JOIN or comma) bodies.
    */
  private def singleTableQualifiers(lex: Lexed, from: Int, to: Int): Seq[String] =
    if (lex.keyword(from, to, "JOIN") >= 0 || lex.commas(from, to).nonEmpty) Nil
    else singleTableRe.findFirstMatchIn(lex.sql.substring(from, to)) match {
      case Some(m) =>
        val alias = Option(m.group(2)).filterNot(a => clauseWords(a.toLowerCase))
        (m.group(1).split('.').last +: alias.toSeq).distinct
      case None => Nil
    }

  /** Rewrite DISTINCT ON occurrences NESTED inside parentheses — derived
    * tables and CTE bodies, e.g.
    * `WITH latest AS (SELECT DISTINCT ON (k) … ) SELECT …` or
    * `SELECT … FROM (SELECT DISTINCT ON (k) …) t`. Each parenthesized
    * span whose content starts with the DISTINCT ON select is itself a
    * complete single-SELECT statement, so the top-level
    * [[rewriteDistinctOn]] applies to it verbatim.
    */
  def rewriteNestedDistinctOn(sql: String): String =
    rewriteFirst(sql, nestedDistinctOnRe) { (lex, m) =>
      val s = lex.sql
      val open = s.lastIndexWhere(!_.isWhitespace, m.start - 1)
      val close = if (open < 0) -1 else lex.close(open)
      val inner = if (close < 0) "" else s.substring(open + 1, close)
      Some(rewriteDistinctOn(inner)).filter(_ != inner)
        .map(s.substring(0, open + 1) + _ + s.substring(close))
    }

  // ---- numeric trunc, EXTRACT, date_trunc, to_char ------------------------

  private val truncRe = """(?i)(?<![A-Za-z0-9_])trunc\s*\(""".r

  /** PG `trunc(x[, d])` is NUMERIC truncation toward zero — PG has no
    * bare `trunc` over dates (that is `date_trunc`, which the `\btrunc`
    * boundary never touches) — while Spark's `trunc` is DATE-only, so a
    * pass-through would cast the operand to DATE and NULL out. Rewritten
    * to the floor/ceil pair (Spark's 2-arg scale forms), which IS
    * round-toward-zero: floor for non-negative operands, ceil for
    * negative. One-arg trunc gets scale 0, matching PG.
    */
  def rewriteNumericTrunc(sql: String): String =
    rewriteCalls(sql, truncRe) { (lex, open, _) =>
      val (x, d) = lex.args(open) match {
        case Seq(x) => (x, "0")
        case x +: rest => (x, rest.mkString(","))
      }
      Some(s"(CASE WHEN ($x) >= 0 THEN FLOOR(($x), ($d)) ELSE CEIL(($x), ($d)) END)")
    }

  private val extractRe = """(?i)\bextract\s*\(""".r
  private val dateTruncRe = """(?i)\bdate_trunc\s*\(""".r
  private val fieldLiteralRe = """'([A-Za-z]+)'""".r

  /** PG `EXTRACT(field FROM expr)` fields Spark lacks or spells
    * differently (PG functions-datetime §9.9 vs Spark's DatePart):
    *   - `epoch`        → `UNIX_MICROS(CAST(x AS TIMESTAMP)) / 1e6`
    *     (PG returns numeric WITH the fractional seconds; the previous
    *     UNIX_TIMESTAMP form silently truncated microseconds, and a
    *     direct `CAST(ts AS DOUBLE)` is forbidden under ANSI)
    *   - `dow`          → `DAYOFWEEK - 1` (PG counts Sun=0…Sat=6; Spark's
    *     DOW field is dayofweek's Sun=1…Sat=7, NOT PG's — found by the
    *     PropertySpec corpus)
    *   - `isodow`       → `DAYOFWEEK_ISO` (Mon=1…Sun=7 in both)
    *   - `isoyear`      → `YEAROFWEEK`
    *   - `decade`       → `FLOOR(YEAR(x) / 10)`
    *   - `century`      → `CEIL(YEAR(x) / 100.0)` (AD years: 2000→20, 2001→21)
    *   - `millennium`   → `CEIL(YEAR(x) / 1000.0)`
    *   - `milliseconds` → `SECOND × 1000` (PG: seconds incl. fraction × 10³)
    *   - `microseconds` → `SECOND × 10⁶` cast to BIGINT
    * Every other field passes through — Spark's semantics match PG
    * (`week` = ISO week number, `second` carries the fraction as
    * DECIMAL), pinned by PropertySpec's generated corpus
    * against an independent java.time PG-rules interpreter. The
    * century/decade/millennium arithmetic assumes AD years (PG counts
    * BC centuries differently; stream configs never carry BC dates).
    * PG also allows `epoch` over INTERVAL values (total seconds) —
    * not supported here; such statements ride the pushdown fallback.
    */
  def rewriteExtract(sql: String): String =
    rewriteCalls(sql, extractRe) { (lex, open, close) =>
      val from = lex.keyword(open + 1, close, "FROM")
      if (from < 0) None
      else {
        val op = lex.sql.substring(from + 4, close).trim
        Option(lex.sql.substring(open + 1, from).trim.toLowerCase match {
          case "epoch" => s"(UNIX_MICROS(CAST($op AS TIMESTAMP)) / 1000000.0D)"
          case "dow" => s"(EXTRACT(DAYOFWEEK FROM $op) - 1)"
          case "isodow" => s"EXTRACT(DAYOFWEEK_ISO FROM $op)"
          case "isoyear" => s"EXTRACT(YEAROFWEEK FROM $op)"
          case "decade" => s"FLOOR(YEAR($op) / 10)"
          case "century" => s"CEIL(YEAR($op) / 100.0)"
          case "millennium" => s"CEIL(YEAR($op) / 1000.0)"
          case "milliseconds" => s"(EXTRACT(SECOND FROM $op) * 1000)"
          case "microseconds" => s"CAST(EXTRACT(SECOND FROM $op) * 1000000 AS BIGINT)"
          case _ => null
        })
      }
    }

  /** PG `date_trunc('field', expr)` fields Spark's `date_trunc` lacks:
    * `decade`/`century`/`millennium` become a MAKE_TIMESTAMP on the
    * period-start year (PG: decades start at y0, centuries/millennia at
    * y1 — `date_trunc('century', 2000-05-01)` → 1901-01-01), and PG's
    * plural sub-second spellings (`milliseconds`/`microseconds`, the
    * canonical PG field names) fold to Spark's singular. All other
    * fields pass through unchanged — Spark's `week` (Monday), `quarter`,
    * etc. match PG, pinned by the PropertySpec corpus.
    */
  def rewriteDateTrunc(sql: String): String =
    rewriteCalls(sql, dateTruncRe) { (lex, open, _) =>
      lex.args(open).map(_.trim) match {
        case Seq(fieldLiteralRe(field), op) =>
          val y = s"YEAR($op)"
          Option(field.toLowerCase match {
            case "decade" =>
              s"MAKE_TIMESTAMP(CAST(FLOOR($y / 10) * 10 AS INT), 1, 1, 0, 0, 0)"
            case "century" =>
              s"MAKE_TIMESTAMP(CAST((CEIL($y / 100.0) - 1) * 100 + 1 AS INT), 1, 1, 0, 0, 0)"
            case "millennium" =>
              s"MAKE_TIMESTAMP(CAST((CEIL($y / 1000.0) - 1) * 1000 + 1 AS INT), 1, 1, 0, 0, 0)"
            case "milliseconds" => s"date_trunc('MILLISECOND', $op)"
            case "microseconds" => s"date_trunc('MICROSECOND', $op)"
            case _ => null
          })
        case _ => None
      }
    }

  private val toCharRe = """(?i)\bto_char\s*\(""".r

  // PG → DateTimeFormatter tokens with EXACT output parity (longest
  // first so HH24 is not eaten by HH). Word tokens are case-sensitive
  // in PG (template case controls output case: Mon/MON/mon) — only the
  // capitalized forms map, because Java's en-US locale prints "Jan"/
  // "Mon"; numeric tokens are case-insensitive in PG, so the common
  // lowercase spellings map too.
  private val toCharTokens: Seq[(String, String)] = Seq(
    "HH24" -> "HH", "hh24" -> "HH", "HH12" -> "hh", "hh12" -> "hh",
    "YYYY" -> "yyyy", "yyyy" -> "yyyy", "DDD" -> "DDD", "ddd" -> "DDD",
    "MS" -> "SSS", "ms" -> "SSS", "US" -> "SSSSSS", "us" -> "SSSSSS",
    "Mon" -> "MMM", "Dy" -> "EEE", "AM" -> "a", "PM" -> "a",
    "YY" -> "yy", "yy" -> "yy", "MM" -> "MM", "mm" -> "MM",
    "DD" -> "dd", "dd" -> "dd", "HH" -> "hh", "hh" -> "hh",
    "MI" -> "mm", "mi" -> "mm", "SS" -> "ss", "ss" -> "ss",
    "Q" -> "Q", "q" -> "Q")

  // Template constructs with NO exact Spark equivalent: blank-padded
  // word forms (Month/Day pad to 9 chars in PG), FM/FX/TH modifiers,
  // seconds-past-midnight, ISO week/day-of-week numbers, eras, Julian
  // days, lowercase meridiem (Java prints "AM" only). A template
  // containing any of these is left untouched → execution="auto"
  // streams push the ORIGINAL SQL down to the remote.
  private val toCharUnsupported: Seq[String] = Seq(
    "SSSSS", "SSSS", "sssss", "ssss", "MONTH", "Month", "month",
    "MON", "mon", "DAY", "Day", "day", "DY", "dy", "IYYY", "IYY",
    "IY", "IW", "iw", "WW", "ww", "CC", "cc", "TZ", "tz", "OF",
    "FM", "fm", "FX", "fx", "TH", "th", "SP", "sp", "RM", "rm",
    "A.M.", "P.M.", "a.m.", "p.m.", "am", "pm", "AD", "BC", "ad",
    "bc", "A.D.", "B.C.", "J", "W", "w", "Y,YYY", "EPOCH", "FF")

  /** PG `to_char` datetime template → Spark DateTimeFormatter pattern,
    * or None when any token lacks an exact-parity translation.
    * Double-quoted template text becomes a single-quoted pattern
    * literal; plain punctuation/space separators pass through.
    */
  private def toCharPattern(tpl: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    while (i < tpl.length) {
      if (tpl.charAt(i) == '"') {
        val end = tpl.indexOf('"', i + 1)
        if (end < 0) return None
        val text = tpl.substring(i + 1, end)
        if (text.nonEmpty)
          sb.append('\'').append(text.replace("'", "''")).append('\'')
        i = end + 1
      } else {
        val rest = tpl.substring(i)
        if (toCharUnsupported.exists(rest.startsWith)) return None
        toCharTokens.find { case (pg, _) => rest.startsWith(pg) } match {
          case Some((pg, j)) => sb.append(j); i += pg.length
          case None =>
            val c = rest.head
            if (" -/:.,;()".indexOf(c.toInt) >= 0) { sb.append(c); i += 1 }
            else return None
        }
      }
    }
    Some(sb.toString)
  }

  /** Rewrite PG `to_char(expr, template)`: datetime templates translate
    * to Spark `DATE_FORMAT(expr, '<pattern>')` when exact parity holds
    * ([[toCharPattern]]); numeric templates (disjoint token set: 9/0/./,/
    * S/MI/PR vs YYYY/MM/…) go to the native PG-rules renderer
    * `pg_to_char_num` ([[graft.plans.PgNumFormat]], session-registered by
    * [[PgFunctions]]) — Spark's own `to_char` number grammar diverges
    * from PG on sign columns, separator blanking and FM. Everything
    * else is left untouched and surfaces as an AnalysisException that
    * the `auto` execution mode turns into remote pushdown. Semantics
    * pinned by PropertySpec's generated template corpora vs independent
    * PG-rules renderers (datetime AND numeric).
    */
  def rewriteToChar(sql: String): String =
    rewriteCalls(sql, toCharRe) { (lex, open, _) =>
      lex.args(open).map(_.trim) match {
        case Seq(arg, lit) if lit.length >= 2 && lit.head == '\'' && lit.last == '\'' =>
          val tpl = unquoteSqlLiteral(lit)
          toCharPattern(tpl).map(p => s"DATE_FORMAT($arg, '${escape(p)}')")
            .orElse(graft.plans.PgNumFormat.parse(tpl)
              .map(_ => s"pg_to_char_num($arg, '${escape(tpl)}')"))
        case _ => None
      }
    }

  /** Spark SQL name for a PG type string (uuid → STRING, etc.). */
  def sparkTypeName(pgType: String): String =
    TypeMapper.toDataType(pgType).sql

  /** Render a value as a typed SQL literal for the given target type.
    * Strings are single-quote escaped; timestamps/dates become typed
    * literals so comparison semantics match the declared column.
    */
  def renderLiteral(value: String, dataType: DataType): String = dataType match {
    case IntegerType | LongType | ShortType => value.trim.toLong.toString
    case FloatType | DoubleType => value.trim.toDouble.toString
    case _: DecimalType => BigDecimal(value.trim).toString
    case BooleanType => value.trim.toBoolean.toString
    case TimestampType => s"TIMESTAMP '${escape(value)}'"
    case DateType => s"DATE '${escape(value)}'"
    case _ => s"'${escape(value)}'"
  }

  private def escape(s: String): String = s.replace("'", "''")

  /** Substitute the `:rep_key_val` bind parameter with a typed literal.
    * Errors if the SQL references the parameter but no value is supplied
    * (mirrors reference: client.py:278-281 / 287-298).
    */
  def bindRepKeyVal(sql: String, value: Option[String], dataType: DataType): String = {
    val param = ":rep_key_val"
    if (!sql.contains(param)) sql
    else value match {
      case Some(v) => sql.replace(param, renderLiteral(v, dataType))
      case None =>
        throw new IllegalStateException(
          "SQL references :rep_key_val but no replication-key value is available " +
            "(no state bookmark and no replication_key_value_start)")
    }
  }
}
