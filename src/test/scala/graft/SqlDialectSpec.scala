package graft

import graft.sources.SqlDialect
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SqlDialectSpec extends AnyFunSuite {

  test("::uuid cast on a string literal (reference test SQL)") {
    val sql = "select '1441c21d-9921-4a1d-b239-9c6ea18af234'::uuid as id"
    assert(SqlDialect.rewrite(sql) ===
      "select CAST('1441c21d-9921-4a1d-b239-9c6ea18af234' AS STRING) as id")
  }

  test("timestamptz literal (reference test SQL)") {
    val sql = "select timestamptz '2021-11-22T11:45:11.062824+00:00' as t"
    assert(SqlDialect.rewrite(sql) ===
      "select TIMESTAMP '2021-11-22T11:45:11.062824+00:00' as t")
  }

  test("identifier and chained casts") {
    assert(SqlDialect.rewrite("select a.b::int from t") ===
      "select CAST(a.b AS INT) from t")
    assert(SqlDialect.rewrite("select x::text::int from t") ===
      "select CAST(CAST(x AS STRING) AS INT) from t")
  }

  test("literal with escaped quote survives") {
    assert(SqlDialect.rewrite("select 'it''s'::text") ===
      "select CAST('it''s' AS STRING)")
  }

  test("posix regex operators rewrite to RLIKE forms") {
    assert(SqlDialect.rewrite("select * from t where name ~ '^ab'") ===
      "select * from t where name  RLIKE  '^ab'")
    assert(SqlDialect.rewrite("select * from t where name ~* '^ab'") ===
      "select * from t where name RLIKE '(?i)^ab'")
    assert(SqlDialect.rewrite("select * from t where name !~ '^ab'") ===
      "select * from t where name  NOT RLIKE  '^ab'")
    assert(SqlDialect.rewrite("select * from t where name !~* '^ab'") ===
      "select * from t where name NOT RLIKE '(?i)^ab'")
    // a ~ inside a string literal is untouched
    assert(SqlDialect.rewrite("select '~tilde~' as s") === "select '~tilde~' as s")
  }

  test("extract(epoch from ts) rewrites to fractional unix micros") {
    assert(SqlDialect.rewrite("select extract(epoch from created_at) from t") ===
      "select (UNIX_MICROS(CAST(created_at AS TIMESTAMP)) / 1000000.0D) from t")
    assert(SqlDialect.rewrite("select EXTRACT(EPOCH FROM ts) > 100 from t") ===
      "select (UNIX_MICROS(CAST(ts AS TIMESTAMP)) / 1000000.0D) > 100 from t")
    // parenthesized operands resolve by balanced scan (the old regex form
    // skipped any operand containing parens)
    assert(SqlDialect.rewrite(
      "select extract(epoch from date_trunc('day', ts)) from t") ===
      "select (UNIX_MICROS(CAST(date_trunc('day', ts) AS TIMESTAMP)) / 1000000.0D) from t")
  }

  test("extract: PG-only fields rewrite; matching fields pass through") {
    assert(SqlDialect.rewrite("SELECT extract(isodow from ts) FROM t") ===
      "SELECT EXTRACT(DAYOFWEEK_ISO FROM ts) FROM t")
    assert(SqlDialect.rewrite("SELECT extract(isoyear from ts) FROM t") ===
      "SELECT EXTRACT(YEAROFWEEK FROM ts) FROM t")
    assert(SqlDialect.rewrite("SELECT extract(decade from ts) FROM t") ===
      "SELECT FLOOR(YEAR(ts) / 10) FROM t")
    assert(SqlDialect.rewrite("SELECT extract(century from ts) FROM t") ===
      "SELECT CEIL(YEAR(ts) / 100.0) FROM t")
    assert(SqlDialect.rewrite("SELECT extract(microseconds from ts) FROM t") ===
      "SELECT CAST(EXTRACT(SECOND FROM ts) * 1000000 AS BIGINT) FROM t")
    // Spark's DOW is dayofweek (Sun=1..Sat=7), NOT PG's Sun=0..Sat=6 —
    // the generated corpus caught this; the rewrite shifts it
    assert(SqlDialect.rewrite("SELECT extract(dow from ts) FROM t") ===
      "SELECT (EXTRACT(DAYOFWEEK FROM ts) - 1) FROM t")
    // week/doy/second match PG natively — untouched
    assert(SqlDialect.rewrite("SELECT extract(week from ts) FROM t") ===
      "SELECT extract(week from ts) FROM t")
    // inside a string literal — untouched
    assert(SqlDialect.rewrite("SELECT 'extract(decade from x)' FROM t") ===
      "SELECT 'extract(decade from x)' FROM t")
  }

  test("to_char: exact-parity datetime templates rewrite; the rest pass") {
    assert(SqlDialect.rewrite(
      "SELECT to_char(ts, 'YYYY-MM-DD HH24:MI:SS') FROM t") ===
      "SELECT DATE_FORMAT(ts, 'yyyy-MM-dd HH:mm:ss') FROM t")
    // quoted template text → quoted pattern literal, with the pattern's
    // inner quotes doubled for the surrounding SQL string
    assert(SqlDialect.rewrite(
      "SELECT to_char(ts, 'YYYY-MM-DD\"T\"HH24:MI') FROM t") ===
      "SELECT DATE_FORMAT(ts, 'yyyy-MM-dd''T''HH:mm') FROM t")
    assert(SqlDialect.rewrite(
      "SELECT to_char(created_at, 'Dy, DD Mon YYYY') FROM t") ===
      "SELECT DATE_FORMAT(created_at, 'EEE, dd MMM yyyy') FROM t")
    // blank-padded word form: PG pads 'Month' to 9 chars — no exact
    // Spark equivalent, left for the auto-pushdown fallback
    assert(SqlDialect.rewrite("SELECT to_char(ts, 'Month DD') FROM t") ===
      "SELECT to_char(ts, 'Month DD') FROM t")
    // FM modifier and numeric templates: untouched
    assert(SqlDialect.rewrite("SELECT to_char(ts, 'FMDD') FROM t") ===
      "SELECT to_char(ts, 'FMDD') FROM t")
    assert(SqlDialect.rewrite("SELECT to_char(amount, '999D99') FROM t") ===
      "SELECT to_char(amount, '999D99') FROM t")
    // inside a string literal: untouched
    assert(SqlDialect.rewrite("SELECT 'to_char(ts, ''YYYY'')' FROM t") ===
      "SELECT 'to_char(ts, ''YYYY'')' FROM t")
  }

  test("date_trunc: PG-only fields rewrite; matching fields pass through") {
    assert(SqlDialect.rewrite("SELECT date_trunc('decade', ts) FROM t") ===
      "SELECT MAKE_TIMESTAMP(CAST(FLOOR(YEAR(ts) / 10) * 10 AS INT), 1, 1, 0, 0, 0) FROM t")
    assert(SqlDialect.rewrite("SELECT date_trunc('century', ts) FROM t") ===
      "SELECT MAKE_TIMESTAMP(CAST((CEIL(YEAR(ts) / 100.0) - 1) * 100 + 1 AS INT), 1, 1, 0, 0, 0) FROM t")
    assert(SqlDialect.rewrite("SELECT date_trunc('milliseconds', ts) FROM t") ===
      "SELECT date_trunc('MILLISECOND', ts) FROM t")
    assert(SqlDialect.rewrite("SELECT date_trunc('week', ts) FROM t") ===
      "SELECT date_trunc('week', ts) FROM t")
  }

  test("double-quoted identifiers become backticks (PG identifier semantics)") {
    assert(SqlDialect.rewrite("""select "userId", "from" from "myTable"""") ===
      "select `userId`, `from` from `myTable`")
    // double quotes inside a string literal are untouched
    assert(SqlDialect.rewrite("""select 'he said "hi"' as s""") ===
      """select 'he said "hi"' as s""")
  }

  test("DISTINCT ON rewrites to a row_number window") {
    val got = SqlDialect.rewrite(
      "SELECT DISTINCT ON (user_id) user_id, ts, v FROM t ORDER BY user_id, ts DESC")
    assert(got ===
      "SELECT user_id, ts, v FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY user_id, ts DESC) AS __rn FROM t) " +
        "WHERE __rn = 1 ORDER BY user_id, ts DESC")
    // without ORDER BY the keys give the deterministic pick
    assert(SqlDialect.rewrite("SELECT DISTINCT ON (a) a, b FROM t") ===
      "SELECT a, b FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY a ORDER BY a) AS __rn FROM t) WHERE __rn = 1")
    // LIMIT survives after the window filter — with and without ORDER BY
    // (PG applies LIMIT after DISTINCT ON in both forms)
    val lim = SqlDialect.rewrite(
      "SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, b LIMIT 5")
    assert(lim.endsWith("WHERE __rn = 1 ORDER BY a, b LIMIT 5"))
    val limNoOrder = SqlDialect.rewrite("SELECT DISTINCT ON (a) a, b FROM t LIMIT 5")
    assert(limNoOrder ===
      "SELECT a, b FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY a ORDER BY a) AS __rn FROM t) WHERE __rn = 1 LIMIT 5")
    // non-DISTINCT-ON statements untouched
    assert(SqlDialect.rewrite("SELECT DISTINCT a FROM t") === "SELECT DISTINCT a FROM t")
  }

  test("DISTINCT ON: outer ORDER BY over a non-projected column resolves") {
    // the canonical PG latest-row-per-key idiom: order by a column that is
    // NOT in the select list
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, "old", 10), (1, "new", 20), (2, "only", 5))
      .toDF("id", "val", "updated_at").createOrReplaceTempView("don_t")
    val got = spark.sql(SqlDialect.rewrite(
      "SELECT DISTINCT ON (id) id, val FROM don_t ORDER BY id, updated_at DESC"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "new", 2 -> "only"))
    // LIMIT without ORDER BY applies AFTER dedup: 2 distinct keys → LIMIT 2
    // must return both keys, not 2 arbitrary pre-dedup rows
    val lim = spark.sql(SqlDialect.rewrite(
      "SELECT DISTINCT ON (id) id FROM don_t LIMIT 2"))
      .collect().map(_.getInt(0)).toSet
    assert(lim === Set(1, 2))
  }

  test("DISTINCT ON nested in CTEs and derived tables rewrites and runs") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, "old", 10), (1, "new", 20), (2, "only", 5))
      .toDF("id", "val", "updated_at").createOrReplaceTempView("don_nested_t")
    // CTE body
    val cte = spark.sql(SqlDialect.rewrite(
      "WITH latest AS (SELECT DISTINCT ON (id) id, val FROM don_nested_t " +
        "ORDER BY id, updated_at DESC) " +
        "SELECT val FROM latest ORDER BY id"))
      .collect().map(_.getString(0)).toSeq
    assert(cte === Seq("new", "only"))
    // derived table
    val derived = spark.sql(SqlDialect.rewrite(
      "SELECT count(*) AS n FROM (SELECT DISTINCT ON (id) id " +
        "FROM don_nested_t ORDER BY id, updated_at DESC) t"))
      .collect()(0).getLong(0)
    assert(derived === 2L)
    // the literal-guard still holds
    assert(SqlDialect.rewrite("SELECT '(select distinct on (x) x)' AS s") ===
      "SELECT '(select distinct on (x) x)' AS s")
  }

  test("keyword triggers inside string literals are untouched") {
    assert(SqlDialect.rewrite("SELECT 'extract(epoch from x)' AS note FROM t") ===
      "SELECT 'extract(epoch from x)' AS note FROM t")
    assert(SqlDialect.rewrite("SELECT 'string_agg(a, b)' AS note FROM t") ===
      "SELECT 'string_agg(a, b)' AS note FROM t")
    assert(SqlDialect.rewrite("SELECT 'a ~* ''b''' AS note FROM t") ===
      "SELECT 'a ~* ''b''' AS note FROM t")
  }

  test("AT TIME ZONE honors PG's double meaning by operand form") {
    // identifier / parenthesized operand: timestamptz reading (instant →
    // zone-local rendering)
    assert(SqlDialect.rewrite("SELECT created_at AT TIME ZONE 'America/New_York' FROM t") ===
      "SELECT FROM_UTC_TIMESTAMP(created_at, 'America/New_York') FROM t")
    assert(SqlDialect.rewrite("SELECT (ts) at time zone 'UTC' AS local FROM t") ===
      "SELECT FROM_UTC_TIMESTAMP((ts), 'UTC') AS local FROM t")
    // NAIVE typed literal: PG interprets the wall clock as zone-local and
    // yields the UTC instant — the inverse direction (ADVICE r2)
    assert(SqlDialect.rewrite(
      "SELECT timestamp '2024-06-01 12:00:00' AT TIME ZONE 'America/New_York' AS s") ===
      "SELECT TO_UTC_TIMESTAMP(timestamp '2024-06-01 12:00:00', 'America/New_York') AS s")
    // timestamptz typed literal keeps the rendering direction (the later
    // timestamptz→TIMESTAMP literal pass rewrites the operand spelling)
    assert(SqlDialect.rewrite(
      "SELECT timestamptz '2024-06-01 12:00:00+00' AT TIME ZONE 'UTC' AS s").startsWith(
      "SELECT FROM_UTC_TIMESTAMP(TIMESTAMP "))
    // inside a literal: untouched
    assert(SqlDialect.rewrite("SELECT 'x at time zone ''UTC''' AS s") ===
      "SELECT 'x at time zone ''UTC''' AS s")
    val spark = SparkTestSession.spark
    // naive literal executes with PG semantics: noon NY-local = 16:00 UTC
    val naive = spark.sql(SqlDialect.rewrite(
      "SELECT CAST(timestamp '2024-06-01 12:00:00' AT TIME ZONE 'America/New_York' AS STRING) AS s"))
      .collect()(0).getString(0)
    assert(naive === "2024-06-01 16:00:00")
    // column operand executes with the rendering semantics: UTC noon → 8am EDT
    spark.sql("SELECT timestamp '2024-06-01 12:00:00' AS created_at")
      .createOrReplaceTempView("atz_t")
    val rendered = spark.sql(SqlDialect.rewrite(
      "SELECT CAST(created_at AT TIME ZONE 'America/New_York' AS STRING) AS s FROM atz_t"))
      .collect()(0).getString(0)
    assert(rendered === "2024-06-01 08:00:00")
  }

  test("DISTINCT ON strips a single-table alias from outer references") {
    // the common PG idiom: alias-qualified keys/select/ORDER BY
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, "old", 10), (1, "new", 20), (2, "only", 5))
      .toDF("id", "val", "updated_at").createOrReplaceTempView("don_alias_t")
    val got = spark.sql(SqlDialect.rewrite(
      "SELECT DISTINCT ON (t.id) t.id, t.val FROM don_alias_t t " +
        "ORDER BY t.id, t.updated_at DESC"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "new", 2 -> "only"))
    // qualifying by the bare TABLE name (no alias) works too
    val byTable = spark.sql(SqlDialect.rewrite(
      "SELECT DISTINCT ON (don_alias_t.id) don_alias_t.id, don_alias_t.val " +
        "FROM don_alias_t ORDER BY don_alias_t.id, don_alias_t.updated_at DESC"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byTable === Map(1 -> "new", 2 -> "only"))
    // multi-table + qualified outer refs: rejected loudly, not mis-resolved
    val e = intercept[IllegalArgumentException](SqlDialect.rewrite(
      "SELECT DISTINCT ON (a.id) a.id, b.v FROM t1 a JOIN t2 b ON a.id = b.id " +
        "ORDER BY a.id, b.v"))
    assert(e.getMessage.contains("DISTINCT ON rewrite"))
  }

  test("string_agg rewrites to listagg / WITHIN GROUP") {
    assert(SqlDialect.rewrite("SELECT string_agg(name, ',') FROM t") ===
      "SELECT listagg(name, ',') FROM t")
    assert(SqlDialect.rewrite(
      "SELECT string_agg(name, ', ' ORDER BY name DESC) FROM t GROUP BY g") ===
      "SELECT listagg(name, ', ') WITHIN GROUP (ORDER BY name DESC) FROM t GROUP BY g")
    // multiple occurrences, nested function args
    assert(SqlDialect.rewrite(
      "SELECT string_agg(upper(a), ','), string_agg(b, ';' ORDER BY b) FROM t") ===
      "SELECT listagg(upper(a), ','), listagg(b, ';') WITHIN GROUP (ORDER BY b) FROM t")
  }

  test("rewritten string_agg and DISTINCT ON execute in Spark") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, "b"), (1, "a"), (2, "c"), (1, "a2")).toDF("g", "v")
      .createOrReplaceTempView("dialect_exec_t")
    val agg = spark.sql(SqlDialect.rewrite(
      "SELECT g, string_agg(v, ',' ORDER BY v) AS vs FROM dialect_exec_t GROUP BY g"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(agg === Map(1 -> "a,a2,b", 2 -> "c"))
    val first = spark.sql(SqlDialect.rewrite(
      "SELECT DISTINCT ON (g) g, v FROM dialect_exec_t ORDER BY g, v"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(first === Map(1 -> "a", 2 -> "c"))
  }

  test("rep_key_val binding renders typed literals") {
    assert(SqlDialect.bindRepKeyVal("a > :rep_key_val", Some("42"), LongType) === "a > 42")
    assert(SqlDialect.bindRepKeyVal("a > :rep_key_val", Some("2021-01-01 00:00:00"), TimestampType) ===
      "a > TIMESTAMP '2021-01-01 00:00:00'")
    assert(SqlDialect.bindRepKeyVal("a > :rep_key_val", Some("o'brien"), StringType) ===
      "a > 'o''brien'")
  }

  test("missing rep_key_val errors iff the SQL references it (client.py:278-281)") {
    assertThrows[IllegalStateException](
      SqlDialect.bindRepKeyVal("a > :rep_key_val", None, LongType))
    assert(SqlDialect.bindRepKeyVal("select 1", None, LongType) === "select 1")
  }

  test("JSON ->/->> key and index extraction") {
    assert(SqlDialect.rewrite("select props ->> 'k' from t") ===
      "select get_json_object(props, '$.k') from t")
    assert(SqlDialect.rewrite("select props -> 'k' from t") ===
      "select get_json_object(props, '$.k') from t")
    assert(SqlDialect.rewrite("select arr ->> 2 from t") ===
      "select get_json_object(arr, '$[2]') from t")
    // qualified column operand
    assert(SqlDialect.rewrite("select t.props ->> 'k' from t") ===
      "select get_json_object(t.props, '$.k') from t")
    // non-identifier key falls back to bracket notation
    assert(SqlDialect.rewrite("select props ->> 'a b' from t") ===
      "select get_json_object(props, '$[''a b'']') from t")
  }

  test("JSON operator chains nest get_json_object") {
    assert(SqlDialect.rewrite("select props -> 'a' ->> 'b' from t") ===
      "select get_json_object(get_json_object(props, '$.a'), '$.b') from t")
    assert(SqlDialect.rewrite("select (props -> 'arr') ->> 1 from t") ===
      "select get_json_object((get_json_object(props, '$.arr')), '$[1]') from t")
  }

  test("JSON #>/#>> path extraction") {
    assert(SqlDialect.rewrite("select props #>> '{a,b}' from t") ===
      "select get_json_object(props, '$.a.b') from t")
    assert(SqlDialect.rewrite("select props #> '{a,0,b}' from t") ===
      "select get_json_object(props, '$.a[0].b') from t")
  }

  test("JSON ops on cast/literal operands, after the cast pass") {
    assert(SqlDialect.rewrite("select '{\"k\": 1}'::json ->> 'k'") ===
      "select get_json_object(CAST('{\"k\": 1}' AS STRING), '$.k')")
    assert(SqlDialect.rewrite("select '{\"k\": 1}' ->> 'k'") ===
      "select get_json_object('{\"k\": 1}', '$.k')")
  }

  test("JSON-ish text inside string literals is untouched") {
    assert(SqlDialect.rewrite("select 'a ->> b' as s from t") ===
      "select 'a ->> b' as s from t")
    assert(SqlDialect.rewrite("select '#>> path' as s from t") ===
      "select '#>> path' as s from t")
  }

  test("negative JSON index errors loudly") {
    assertThrows[IllegalArgumentException](
      SqlDialect.rewrite("select arr ->> -1 from t"))
  }

  test("= ANY over array literals rewrites to IN") {
    assert(SqlDialect.rewrite("select * from t where x = ANY('{a,b}')") ===
      "select * from t where x IN ('a', 'b')")
    assert(SqlDialect.rewrite("select * from t where n = ANY('{1,2,3}')") ===
      "select * from t where n IN (1, 2, 3)")
    assert(SqlDialect.rewrite("select * from t where n = ANY('{1,2}'::int[])") ===
      "select * from t where n IN (CAST('1' AS INT), CAST('2' AS INT))")
    assert(SqlDialect.rewrite("select * from t where x = any(array['a', 'b'])") ===
      "select * from t where x IN ('a', 'b')")
    // quoted elements with embedded commas/quotes
    assert(SqlDialect.rewrite("""select * from t where x = ANY('{"a,b",c}')""") ===
      "select * from t where x IN ('a,b', 'c')")
  }

  test("<>/!= ALL rewrites to NOT IN; unmappable combos left alone") {
    assert(SqlDialect.rewrite("select * from t where x <> ALL('{a,b}')") ===
      "select * from t where x NOT IN ('a', 'b')")
    assert(SqlDialect.rewrite("select * from t where x != ALL(ARRAY[1,2])") ===
      "select * from t where x NOT IN (1,2)")
    // <> ANY / = ALL have no IN equivalent
    assert(SqlDialect.rewrite("select * from t where x <> ANY('{a,b}')") ===
      "select * from t where x <> ANY('{a,b}')")
    assert(SqlDialect.rewrite("select * from t where x = ALL('{a,b}')") ===
      "select * from t where x = ALL('{a,b}')")
    // subquery ANY is untouched
    assert(SqlDialect.rewrite("select * from t where x = ANY(select y from u)") ===
      "select * from t where x = ANY(select y from u)")
  }

  test("array-literal ::type[] casts rewrite to typed array()") {
    assert(SqlDialect.rewrite("select '{a,b}'::text[] as arr") ===
      "select array(CAST('a' AS STRING), CAST('b' AS STRING)) as arr")
    assert(SqlDialect.rewrite("select '{1,2}'::int[] as arr") ===
      "select array(CAST('1' AS INT), CAST('2' AS INT)) as arr")
    assert(SqlDialect.rewrite("select '{}'::int[] as arr") ===
      "select CAST(array() AS ARRAY<INT>) as arr")
    assert(SqlDialect.rewrite("select '{a,NULL}'::text[] as arr") ===
      "select array(CAST('a' AS STRING), CAST(NULL AS STRING)) as arr")
    // a quoted "NULL" element is the string, not SQL NULL
    assert(SqlDialect.rewrite("""select '{"NULL"}'::text[] as arr""") ===
      """select array(CAST('NULL' AS STRING)) as arr""")
  }

  test("OPERATOR() syntax, LIKE-family operators, COLLATE, regclass") {
    // explicit-operator syntax unwraps; ~~ family becomes keywords
    assert(SqlDialect.rewrite("SELECT * FROM t WHERE a OPERATOR(pg_catalog.~~) 'x%'")
      === "SELECT * FROM t WHERE a LIKE 'x%'")
    assert(SqlDialect.rewrite("WHERE a OPERATOR(pg_catalog.=) 3")
      === "WHERE a = 3")
    assert(SqlDialect.rewrite("WHERE a ~~* '%x'") === "WHERE a ILIKE '%x'")
    assert(SqlDialect.rewrite("WHERE a !~~ 'x%'") === "WHERE a NOT LIKE 'x%'")
    assert(SqlDialect.rewrite("WHERE a !~~* 'x%'") === "WHERE a NOT ILIKE 'x%'")
    // OPERATOR-wrapped regex falls through to the RLIKE rewrites (which
    // pad with spaces — compare whitespace-normalized)
    assert(SqlDialect.rewrite("WHERE a OPERATOR(pg_catalog.~) '^x'")
      .replaceAll("\\s+", " ") === "WHERE a RLIKE '^x'")
    // COLLATE clauses drop (quoted and bare collation names)
    assert(SqlDialect.rewrite("""ORDER BY n COLLATE "C" DESC""")
      === "ORDER BY n DESC")
    assert(SqlDialect.rewrite("WHERE (a COLLATE de_DE) = 'x'")
      === "WHERE (a) = 'x'")
    // regclass casts to the string form (identity on the name)
    assert(SqlDialect.rewrite("WHERE 'orders'::regclass = 'orders'")
      === "WHERE CAST('orders' AS STRING) = 'orders'")
    // triggers inside string literals are untouched
    val lit = "SELECT 'a ~~ b COLLATE \"C\"' AS s FROM t"
    assert(SqlDialect.rewrite(lit) === lit)
  }

  test("SIMILAR TO rewrites to anchored RLIKE with translated wildcards") {
    assert(SqlDialect.rewriteSimilarTo("SELECT * FROM t WHERE n SIMILAR TO '(FRA|GER)%'")
      === "SELECT * FROM t WHERE n RLIKE '^(?:(FRA|GER).*)$'")
    assert(SqlDialect.rewriteSimilarTo("WHERE x NOT SIMILAR TO '%a_b'")
      === "WHERE x NOT RLIKE '^(?:.*a.b)$'")
    // wildcards are literal inside character classes and under escapes
    assert(SqlDialect.similarToRegex("[%_]x\\%y\\_z") === "[%_]x%y_z")
    // . ^ $ are LITERAL in PG SIMILAR TO (PG docs §9.7.2) → escaped in
    // the Java regex; inside [...] classes they pass through unchanged
    // (Java treats . and $ literally there, ^ keeps POSIX negation)
    assert(SqlDialect.similarToRegex("a.b%") === "a\\.b.*")
    assert(SqlDialect.similarToRegex("x^y$") === "x\\^y\\$")
    assert(SqlDialect.similarToRegex("[a.^]%") === "[a.^].*")
    // column-valued pattern: no static translation, left unchanged
    val colPat = "WHERE x SIMILAR TO y"
    assert(SqlDialect.rewriteSimilarTo(colPat) === colPat)
    // trigger inside a string literal is untouched
    val lit = "SELECT 'a SIMILAR TO ''b''' AS s FROM t"
    assert(SqlDialect.rewriteSimilarTo(lit) === lit)
  }

  test("rewritten SIMILAR TO executes in Spark with whole-string semantics") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq("FRANCE", "GERMANY", "INDIA", "IRAN", "ALGERIA")
      .toDF("n").createOrReplaceTempView("similar_t")
    val got = spark.sql(SqlDialect.rewrite(
      """SELECT n FROM similar_t WHERE n SIMILAR TO '(FRA|GER)%'
        |OR (n SIMILAR TO '%I_' AND n NOT SIMILAR TO 'I%')
        |ORDER BY n""".stripMargin))
      .as[String].collect().toSeq
    // ALGERIA ends I+one char; INDIA excluded by the NOT; IRAN matches
    // neither (whole-string anchoring keeps 'IRAN' out of '%I_')
    assert(got === Seq("ALGERIA", "FRANCE", "GERMANY"))
    // literal-dot/dollar semantics end-to-end: 'FRA.CE' must NOT match
    // FRANCE (PG: '.' literal), 'FRANC_$' must NOT match FRANCE. The
    // emitted '\.' escape only survives Spark's parser under the
    // escapedStringLiterals conf StreamSource.native scopes per-parse.
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      val dotGot = spark.sql(SqlDialect.rewrite(
        """SELECT n FROM similar_t
          |WHERE n SIMILAR TO 'FRA.CE' OR n SIMILAR TO 'FRANC_$'""".stripMargin))
        .as[String].collect().toSeq
      assert(dotGot.isEmpty)
    } finally spark.conf.unset("spark.sql.parser.escapedStringLiterals")
  }

  test("rewritten JSON/ANY/array forms execute in Spark") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq((1, """{"k": 7, "nest": {"a": [10, 20]}}"""), (2, """{"k": 9}"""))
      .toDF("id", "props").createOrReplaceTempView("dialect_json_t")
    val got = spark.sql(SqlDialect.rewrite(
      """SELECT id, props ->> 'k' AS k_txt,
        |props #>> '{nest,a,1}' AS second,
        |(props -> 'nest') ->> 'a' AS arr_txt
        |FROM dialect_json_t WHERE id = ANY('{1,2}'::int[])
        |ORDER BY id""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got(0) === ((1, "7", "20", "[10,20]")))
    assert(got(1) === ((2, "9", null, null)))
    val arr = spark.sql(SqlDialect.rewrite(
      "SELECT cardinality('{x,y,z}'::text[]) AS n")).collect().head.getInt(0)
    assert(arr === 3)
  }

  test("interval casts rewrite to literals; native interval literal untouched") {
    val spark = SparkTestSession.spark
    assert(SqlDialect.rewriteIntervalCast("SELECT ts + '30 days'::interval") ===
      "SELECT ts + INTERVAL '30 days'")
    // inside a string literal: untouched
    assert(SqlDialect.rewriteIntervalCast("SELECT 'a::interval' AS s") ===
      "SELECT 'a::interval' AS s")
    val got = spark.sql(SqlDialect.rewrite(
      "SELECT timestamp '2021-01-01 00:00:00' + '1 day 2 hours'::interval AS t, " +
        "timestamp '2021-01-01 00:00:00' + interval '30 minutes' AS t2"))
      .collect().head
    assert(got.getTimestamp(0).toString.startsWith("2021-01-02 02:00:00"))
    assert(got.getTimestamp(1).toString.startsWith("2021-01-01 00:30:00"))
  }

  // PG OVERLAPS semantics (docs §9.9.3): half-open periods, pairs
  // normalized so start <= end, start = end is a single instant. Each
  // case executes through the rewritten SQL in Spark.
  test("OVERLAPS rewrites to the standard normalized formula with PG point semantics") {
    val spark = SparkTestSession.spark
    def ov(p1: (String, String), p2: (String, String)): Boolean =
      spark.sql(SqlDialect.rewrite(
        s"SELECT (timestamp '${p1._1}', timestamp '${p1._2}') OVERLAPS " +
          s"(timestamp '${p2._1}', timestamp '${p2._2}') AS o"))
        .collect().head.getBoolean(0)
    val (d1, d2, d3, d4) = ("2021-01-01 00:00:00", "2021-01-02 00:00:00",
      "2021-01-03 00:00:00", "2021-01-04 00:00:00")
    assert(ov((d1, d3), (d2, d4)))          // genuine overlap
    assert(!ov((d1, d2), (d2, d3)))         // adjacent half-open: no
    assert(ov((d2, d2), (d2, d3)))          // instant at period start: yes
    assert(!ov((d3, d3), (d2, d3)))         // instant at period end: no
    assert(ov((d2, d2), (d2, d2)))          // same instant twice: yes
    assert(ov((d3, d1), (d2, d4)))          // swapped pair normalizes
    // stays native: the rewritten predicate parses and analyzes in Spark
    val r = SqlDialect.rewrite(
      "SELECT 1 WHERE (a, b) OVERLAPS (c, d)")
    assert(r.contains("LEAST(a, b)") && r.contains("GREATEST(c, d)"))
    assert(!r.toLowerCase.contains("overlaps"))
  }

  test("array_agg ORDER BY rewrites to the struct-sort form") {
    val asc = SqlDialect.rewrite("SELECT array_agg(x ORDER BY y) FROM t")
    assert(asc.contains(
      "transform(array_sort(array_agg(named_struct('o', y, 'v', x))), s -> s.v)"),
      asc)
    val desc = SqlDialect.rewrite("SELECT array_agg(x ORDER BY y DESC) FROM t")
    assert(desc.startsWith("SELECT reverse(transform(array_sort("), desc)
    // plain, DISTINCT, and multi-key forms stay untouched (fallback path)
    assert(SqlDialect.rewriteArrayAgg("SELECT array_agg(x) FROM t")
      === "SELECT array_agg(x) FROM t")
    assert(SqlDialect.rewriteArrayAgg(
      "SELECT array_agg(DISTINCT x ORDER BY x) FROM t")
      === "SELECT array_agg(DISTINCT x ORDER BY x) FROM t")
    assert(SqlDialect.rewriteArrayAgg(
      "SELECT array_agg(x ORDER BY y, z) FROM t")
      === "SELECT array_agg(x ORDER BY y, z) FROM t")
    // a string literal containing the name is immune
    assert(SqlDialect.rewriteArrayAgg("SELECT 'array_agg(x ORDER BY y)'")
      === "SELECT 'array_agg(x ORDER BY y)'")
  }

  test("array_to_string rewrites to array_join with the element cast") {
    val r = SqlDialect.rewrite("SELECT array_to_string(arr, ',') FROM t")
    assert(r ===
      "SELECT array_join(transform(arr, __x -> CAST(__x AS STRING)), ',') FROM t")
    // composed: outer array_to_string over an ordered array_agg
    val c = SqlDialect.rewrite(
      "SELECT array_to_string(array_agg(a ORDER BY a), ';') FROM t")
    assert(c.contains("array_join(transform(") && c.contains("named_struct"), c)
    // 3-arg (null replacement) form left for the pushdown fallback
    assert(SqlDialect.rewriteArrayToString(
      "SELECT array_to_string(arr, ',', 'NULL') FROM t")
      === "SELECT array_to_string(arr, ',', 'NULL') FROM t")
    // delimiter containing parens/commas inside the literal is safe
    val tricky = SqlDialect.rewriteArrayToString(
      "SELECT array_to_string(f(a, b), '(,)') FROM t")
    assert(tricky ===
      "SELECT array_join(transform(f(a, b), __x -> CAST(__x AS STRING)), '(,)') FROM t")
  }

  test("ILIKE rewrite target matches PG case-folded LIKE semantics (generated)") {
    // PG `x ~~* p` = case-insensitive LIKE (% = any run, _ = any one
    // char, case folded). The rewrite maps the operator to Spark ILIKE;
    // this pins the TARGET's semantics against an independent wildcard
    // matcher over generated pairs — one batch job, not one per case.
    val spark = SparkTestSession.spark
    import spark.implicits._
    def refLike(s: List[Char], p: List[Char]): Boolean = (p, s) match {
      case (Nil, rest) => rest.isEmpty
      case ('%' :: pr, _) =>
        refLike(s, pr) || (s match {
          case _ :: cs => refLike(cs, p)
          case Nil => false
        })
      case ('_' :: pr, _ :: cs) => refLike(cs, pr)
      case ('_' :: _, Nil) => false
      case (c :: pr, d :: cs) => c.toLower == d.toLower && refLike(cs, pr)
      case (_ :: _, Nil) => false
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "aAbBcC%_"
    def randStr(maxLen: Int) =
      (0 until rnd.nextInt(maxLen + 1)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    val cases = (0 until 500).map { _ =>
      val s = randStr(8)
      // patterns over letters + wildcards only (no escape generation)
      val p = (0 until rnd.nextInt(7)).map(_ =>
        "aAbBcC%_"(rnd.nextInt(8)).toString).mkString
      (s, p, refLike(s.toList, p.toList))
    }
    val sqlOp = SqlDialect.rewriteOperatorSyntax("s ~~* p")
    assert(sqlOp.trim === "s ILIKE p")
    val got = cases.toDF("s", "p", "expected")
      .selectExpr("s", "p", "expected", s"coalesce($sqlOp, false) AS got")
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(3) === r.getBoolean(2),
        s"ILIKE '<${r.getString(0)}>' ~~* '<${r.getString(1)}>'")
    }
  }

  test("::numeric(p,s) parameterized casts and bare numeric-literal operands") {
    assert(SqlDialect.rewrite("SELECT '12.345'::numeric(6,2)") ===
      "SELECT CAST('12.345' AS DECIMAL(6,2))")
    assert(SqlDialect.rewrite("SELECT price::numeric(10, 4) FROM t") ===
      "SELECT CAST(price AS DECIMAL(10,4)) FROM t")
    // bare numeric literals cast too (PG `1::numeric / 3`)
    assert(SqlDialect.rewrite("SELECT 1::numeric") ===
      "SELECT CAST(1 AS DECIMAL(38,18))")
    assert(SqlDialect.rewrite("SELECT 2.5::int") === "SELECT CAST(2.5 AS INT)")
    // a binary minus must NOT be swallowed into the literal
    assert(SqlDialect.rewrite("SELECT a -1::int FROM t") ===
      "SELECT a -CAST(1 AS INT) FROM t")
    // parenthesized-expression casts take the args as well
    assert(SqlDialect.rewrite("SELECT (a + b)::numeric(8,3) FROM t") ===
      "SELECT CAST((a + b) AS DECIMAL(8,3)) FROM t")
  }

  test("numeric trunc rewrites toward-zero; date_trunc and literals untouched") {
    val two = SqlDialect.rewrite("SELECT trunc(x, 2) FROM t")
    assert(two ===
      "SELECT (CASE WHEN (x) >= 0 THEN FLOOR((x), ( 2)) " +
        "ELSE CEIL((x), ( 2)) END) FROM t", two)
    val one = SqlDialect.rewrite("SELECT trunc(price) FROM t")
    assert(one.contains("FLOOR((price), (0))") &&
      one.contains("CEIL((price), (0))"), one)
    // date_trunc is a DIFFERENT PG function and must pass through
    val dt = SqlDialect.rewrite("SELECT date_trunc('day', ts) FROM t")
    assert(dt === "SELECT date_trunc('day', ts) FROM t")
    // occurrences inside string literals stay verbatim
    val lit = SqlDialect.rewrite("SELECT 'use trunc(x, 1) here' FROM t")
    assert(lit === "SELECT 'use trunc(x, 1) here' FROM t")
    // nested args with their own parens/commas split at the TOP level
    val nested = SqlDialect.rewrite("SELECT trunc(coalesce(a, b), 1)")
    assert(nested.contains("FLOOR((coalesce(a, b)), ( 1))"), nested)
  }

  // Comments and quoted identifiers of any text: the lexer gives every
  // character one class, so a quote inside a comment or an identifier
  // never starts a literal, and a paren inside a literal never counts.
  test("a quote inside a comment does not hide the code after it") {
    assert(SqlDialect.rewrite("""SELECT /* it's */ "Id" FROM t""") ===
      "SELECT   `Id` FROM t")
    assert(SqlDialect.rewrite(
      "SELECT a -- don't\nFROM t WHERE a ~* 'x' AND j ->> 'k' = 'v'") ===
      "SELECT a  \nFROM t WHERE a RLIKE '(?i)x' AND get_json_object(j, '$.k') = 'v'")
    // PG nests block comments: the quote sits inside the outer comment
    assert(SqlDialect.rewrite("SELECT a /* /* */ ' */ ~ 'x' FROM t")
      .replaceAll("\\s+", " ") === "SELECT a RLIKE 'x' FROM t")
  }

  test("double-quoted identifiers of any text become backtick identifiers") {
    assert(SqlDialect.rewrite(
      "SELECT \"Order Date\", \"it's\", \"a`b\", \"say \"\"hi\"\"\" FROM t") ===
      "SELECT `Order Date`, `it's`, `a``b`, `say \"hi\"` FROM t")
    // the code after an identifier holding a quote is still rewritten
    assert(SqlDialect.rewrite("""SELECT "it's", a ~ 'x' FROM t""") ===
      "SELECT `it's`, a  RLIKE  'x' FROM t")
  }

  test("comments become one space; a /*+ hint */ stays as written") {
    assert(SqlDialect.rewrite("SELECT /*+ BROADCAST(u) */ t.a FROM t JOIN u " +
      "ON t.k = u.k /* o'clock */ WHERE t.a ~ 'x'") ===
      "SELECT /*+ BROADCAST(u) */ t.a FROM t JOIN u ON t.k = u.k   WHERE t.a  RLIKE  'x'")
  }

  test("DISTINCT ON: a line comment before ORDER BY, a paren in a literal key") {
    assert(SqlDialect.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM t -- latest per key\nORDER BY k") ===
      "SELECT k, v FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY k) " +
        "AS __rn FROM t) WHERE __rn = 1 ORDER BY k")
    assert(SqlDialect.rewrite("SELECT DISTINCT ON (coalesce(k, ')')) k, v FROM t " +
      "ORDER BY coalesce(k, ')'), v") ===
      "SELECT k, v FROM (SELECT *, row_number() OVER (PARTITION BY coalesce(k, ')') " +
        "ORDER BY coalesce(k, ')'), v) AS __rn FROM t) WHERE __rn = 1 " +
        "ORDER BY coalesce(k, ')'), v")
  }

  test("casts: a paren inside a literal operand, `::` inside a literal") {
    assert(SqlDialect.rewrite("SELECT concat(a, ')')::uuid FROM t") ===
      "SELECT CAST(concat(a, ')') AS STRING) FROM t")
    assert(SqlDialect.rewrite("SELECT 'a::int' AS s") === "SELECT 'a::int' AS s")
    val interval = "SELECT 'keep ''1 day''::interval here' AS s"
    assert(SqlDialect.rewrite(interval) === interval)
  }

  test("a quoted identifier after a comment reads the column, not a string") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    Seq("a", "b").toDF("Id").createOrReplaceTempView("dq_ident_t")
    val got = spark.sql(SqlDialect.rewrite(
      """SELECT /* it's */ "Id" FROM dq_ident_t ORDER BY 1""")).as[String].collect().toSeq
    assert(got === Seq("a", "b"))
  }
}
