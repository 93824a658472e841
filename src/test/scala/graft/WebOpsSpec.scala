package graft

import graft.functions.WebOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WebOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def canon(u: String): String =
    Seq(u).toDF("u").select(WebOps.canonicalizeUrl(col("u")).as("c"))
      .as[String].head()

  test("canonicalization rules, one by one") {
    // fragment dropped
    assert(canon("http://a.com/x#frag") === "http://a.com/x")
    // scheme + host lowercased, path case preserved
    assert(canon("HTTPS://WWW.Example.COM/Path/X") ===
      "https://example.com/Path/X")
    // www. stripped, incl. before a subdomain
    assert(canon("http://www.m.a.com/x") === "http://m.a.com/x")
    // default port stripped per scheme; non-default kept
    assert(canon("http://a.com:80/x") === "http://a.com/x")
    assert(canon("https://a.com:443/x") === "https://a.com/x")
    assert(canon("http://a.com:443/x") === "http://a.com:443/x")
    assert(canon("https://a.com:8080/x") === "https://a.com:8080/x")
    // tracking params out, survivors sorted, empty query drops '?'
    assert(canon("http://a.com/x?b=2&a=1") === "http://a.com/x?a=1&b=2")
    assert(canon("http://a.com/x?utm_source=s&a=1&gclid=g&ref=r&fbclid=f") ===
      "http://a.com/x?a=1")
    assert(canon("http://a.com/x?utm_campaign=c") === "http://a.com/x")
    assert(canon("http://a.com/x?&gclid=g") === "http://a.com/x")
    // trailing slash stripped (root and non-root)
    assert(canon("http://a.com/x/") === "http://a.com/x")
    assert(canon("http://a.com/") === "http://a.com")
    assert(canon("http://a.com") === "http://a.com")
  }

  test("canonicalization is idempotent on the synthetic corpus") {
    val docs = graft.queries.WebQueries
      .webDocs(spark, "/root/testdata/sf0.001")
    val twice = docs
      .select(WebOps.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"), WebOps.canonicalizeUrl(col("c1")).as("c2"))
      .where(col("c1") =!= col("c2"))
    assert(twice.count() === 0L)
  }

  test("registeredDomain honors the two-level suffix subset") {
    val cases = Seq(
      "m.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "a.b.example.com" -> "example.com",
      "example.com" -> "example.com",
      "localhost" -> "localhost",
      "user.github.io" -> "user.github.io",
      "deep.user.github.io" -> "user.github.io",
      "x.com.cn" -> "x.com.cn",
      "sub.x.com.mx" -> "x.com.mx")
    val out = cases.map(_._1).toDF("h")
      .select(col("h"), WebOps.registeredDomain(col("h")).as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (h, want) => assert(out(h) === want, h) }
  }

  test("urlDedup keeps exactly the min id per canonical group") {
    val docs = graft.queries.WebQueries
      .webDocs(spark, "/root/testdata/sf0.001")
    val out = WebOps.urlDedup(docs, "url", "doc_id").cache()
    val n = out.count()
    assert(n === docs.count())
    // exactly one keeper per canonical group, and it is the min id
    val byGroup = out.groupBy("canon_url")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"),
        min("doc_id").as("mn"),
        min(when(col("keep"), col("doc_id"))).as("kept_id"))
    assert(byGroup.where(col("keepers") =!= 1).count() === 0L)
    assert(byGroup.where(col("kept_id") =!= col("mn")).count() === 0L)
    // noise-only variants really collapse: fewer groups than rows
    val groups = out.select("canon_url").distinct().count()
    assert(groups < n)
    out.unpersist()
  }

  test("domain stats and cap agree with a recomputed flat pass") {
    val docs = graft.queries.WebQueries
      .webDocs(spark, "/root/testdata/sf0.001")
    val stats = WebOps.domainStats(docs, "url", "n_chars").cache()
    val flat = docs.select(
        WebOps.registeredDomain(
          WebOps.hostOf(WebOps.canonicalizeUrl(col("url")))).as("domain"),
        col("n_chars"))
      .groupBy("domain").agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
    val joined = stats.join(flat, "domain")
      .where(col("n_docs") =!= col("n") || col("sum_size") =!= col("s"))
    assert(joined.count() === 0L)
    assert(stats.agg(sum("n_docs")).as[Long].head() === docs.count())
    val cap = WebOps.domainCap(docs, "url", "doc_id", maxPerDomain = 8)
    val kept = cap.where(col("keep")).groupBy("domain").count()
    assert(kept.where(col("count") > 8).count() === 0L)
    // every domain with >=8 docs keeps exactly 8
    val big = stats.where(col("n_docs") >= 8).select("domain")
    assert(big.join(kept.where(col("count") === 8), "domain").count()
      === big.count())
    stats.unpersist()
  }
}
