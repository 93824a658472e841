package graft

import graft.functions.TextAnalysis
import graft.plans.MisraGries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def gramStream = Tables.read(spark, SparkTestSession.Sf, "documents")
    .select(explode(ReferenceForms.wordShingles(col("text"))).as("g"))

  test("sketch with capacity >= distinct items is exact") {
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("g")
    val got = df.agg(MisraGries.sketch(col("g"), 10).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  // The MG guarantees, on the real corpus 3-gram stream at a capacity far
  // below the vocabulary: never overestimates, underestimates by at most
  // n/(m+1), and every item heavier than n/(m+1) survives. Checked on two
  // layouts — WHICH light items survive is layout-dependent (documented),
  // the bounds are not.
  test("error bounds hold on the corpus 3-gram stream across layouts") {
    val exact = gramStream.groupBy("g").count()
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val m = 64
    val bound = n / (m + 1) + 1
    for (df <- Seq(gramStream, gramStream.repartition(13))) {
      val est = df.agg(MisraGries.sketch(col("g"), m).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.est")).as[(String, Long)].collect().toMap
      assert(est.size <= m)
      est.foreach { case (item, e) =>
        val ex = exact(item)
        assert(e <= ex, s"$item overestimated: $e > $ex")
        assert(ex - e <= bound, s"$item undercut by ${ex - e} > $bound")
      }
      exact.filter(_._2 > bound).keys.foreach { hh =>
        assert(est.contains(hh), s"heavy hitter $hh (count ${exact(hh)}) lost")
      }
    }
  }

  test("planted heavy hitter dominates the sketch at tiny capacity") {
    val df = spark.range(0, 10000)
      .select(when(col("id") % 3 === 0, "heavy")
        .otherwise(concat(lit("light_"), col("id"))).as("g"))
      .repartition(8)
    val top = df.agg(MisraGries.sketch(col("g"), 16).as("s"))
      .select(col("s")(0).getField("item")).as[String].head()
    assert(top === "heavy")
  }

  // the native fused shingle pass must produce the same SET of distinct
  // shingles, in the same first-occurrence order, as the HOF reference
  test("native shingle strings equal array_distinct(wordShingles)") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val both = docs.select(
      graft.plans.ShingleStringsF.shingleStrings(toks, 3).as("native"),
      array_distinct(ReferenceForms.wordShingles(col("text"))).as("hof"))
    assert(both.where(not(col("native") <=> col("hof"))).count() === 0)
    val edge = Seq("", "one", "two words").toDF("text")
    val toksE = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val bothE = edge.select(
      graft.plans.ShingleStringsF.shingleStrings(toksE, 3).as("native"),
      array_distinct(ReferenceForms.wordShingles(col("text"))).as("hof"))
    assert(bothE.where(not(col("native") <=> col("hof"))).count() === 0)
  }

  test("exact top-k ngrams agree with a brute-force recount") {
    val got = TextAnalysis.topNgramsByDocFreq(
      Tables.read(spark, SparkTestSession.Sf, "documents"), "text", k = 20)
      .as[(String, Long)].collect()
    val brute = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(explode(array_distinct(ReferenceForms.wordShingles(col("text")))).as("g"))
      .as[String].collect()
      .groupBy(identity).map { case (g, xs) => (g, xs.length.toLong) }
      .toSeq.sortBy { case (g, c) => (-c, g) }.take(20)
    assert(got.toSeq === brute)
  }
}
