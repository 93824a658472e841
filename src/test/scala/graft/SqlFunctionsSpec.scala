package graft

import graft.plans.SignatureExpressions
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-path registration of the native expressions: plain SQL can call
  * graft_minhash / graft_simhash after registration, and outputs agree
  * with the Column API and the builtin-HOF formulations.
  */
class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("registered SQL functions match the Column API and HOF forms") {
    SignatureExpressions.register(spark)
    Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text").createOrReplaceTempView("sqlfn_t")

    val sqlSig = spark.sql(
      "SELECT graft_minhash(array(text)) AS sig, graft_simhash(split(text, ' ')) AS sh FROM sqlfn_t")
      .collect()(0)
    val apiRow = spark.table("sqlfn_t").select(
      graft.functions.Dedup.minhashSignature(array(col("text"))).as("sig"),
      graft.functions.Dedup.simhash(col("text")).as("sh")).collect()(0)
    val hofRow = spark.table("sqlfn_t").select(
      ReferenceForms.minhashSignatureHof(array(col("text"))).as("sig"),
      ReferenceForms.simhashHof(col("text")).as("sh")).collect()(0)

    assert(sqlSig.getSeq[Long](0) === apiRow.getSeq[Long](0))
    assert(apiRow.getSeq[Long](0) === hofRow.getSeq[Long](0))
    assert(sqlSig.getLong(1) === apiRow.getLong(1))
    assert(apiRow.getLong(1) === hofRow.getLong(1))
  }

  // Every native expression is SQL-callable after registration (the same
  // builders GraftExtensions injects via spark.sql.extensions for
  // spark-submit deployments — a static conf, so tested via the in-process
  // registration path here).
  test("all native functions are callable from plain SQL") {
    SignatureExpressions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  size(graft_shingle_hashes('a b c d', 2)) AS n_shingles,
        |  graft_text_stats('hello there world').n_tokens AS n_tokens,
        |  graft_media_header(CAST('junk' AS BINARY)).format AS fmt,
        |  element_at(graft_lang_scores('the cat and the dog'), 1) AS en_hits,
        |  size(graft_minhash(array('x'))) AS sig_len,
        |  graft_simhash(array('a', 'b')) IS NOT NULL AS sh_ok,
        |  graft_nfc('café') AS nfc,
        |  graft_shingle_strings(array('a', 'b', 'c', 'd'), 3) AS shs,
        |  graft_adc_sum(array(0, 1), CAST(array(array(1.5, 2.0), array(3.0, 4.5)) AS ARRAY<ARRAY<DOUBLE>>)) AS adc
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 3)
    assert(r.getLong(2) === 3L)
    assert(r.getString(3) === "unknown")
    assert(r.getInt(4) === 3) // "the" ×2 + "and" in the en marker list
    assert(r.getInt(5) === 64)
    assert(r.getBoolean(6))
    assert(r.getString(7) === "café")
    assert(r.getSeq[String](8) === Seq("a b c", "b c d"))
    assert(r.getDouble(9) === 1.5 + 4.5)
  }

  test("custom aggregates are callable from plain SQL") {
    SignatureExpressions.register(spark)
    spark.range(0, 1000).selectExpr("id % 5 AS g", "id AS v",
      "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) AS d")
      .createOrReplaceTempView("sqlagg_t")
    val r = spark.sql(
      """SELECT g,
        |  graft_bottom_k(v, 3) AS bottom3,
        |  size(graft_reservoir(s, 5)) AS n_sample,
        |  element_at(graft_tdigest(d, 100), 2) AS p50
        |FROM sqlagg_t GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r.length === 5)
    assert(r(0).getSeq[Long](1) === Seq(0L, 5L, 10L))
    assert(r(1).getSeq[Long](1) === Seq(1L, 6L, 11L))
    assert(r.forall(_.getInt(2) === 5))
    // per-group median of {g, g+5, …, g+995} ≈ 497.5 + g
    r.zipWithIndex.foreach { case (row, g) =>
      assert(math.abs(row.getDouble(3) - (497.5 + g)) < 25, row.getDouble(3))
    }
  }
}
