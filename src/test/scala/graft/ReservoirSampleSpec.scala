package graft

import graft.plans.ReservoirSample
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ReservoirSampleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the xxhash64-keyed sample, as SQL's graft_reservoir(s, k) builds it
  private def reservoir(c: Column, k: Int): Column =
    GraftBridge.column(ReservoirSample(GraftBridge.expression(c), k, 42L)
      .toAggregateExpression())

  test("bottom-k reservoir is deterministic and partitioning-independent") {
    val df = spark.range(0, 5000).select(concat(lit("v"), col("id")).as("s"))
    val a = df.agg(reservoir(col("s"), 20).as("sample"))
      .collect()(0).getSeq[String](0)
    val b = df.repartition(17).agg(reservoir(col("s"), 20).as("sample"))
      .collect()(0).getSeq[String](0)
    assert(a.length === 20)
    assert(a === b) // merge-order independence
  }

  test("smaller k is a prefix of larger k (bottom-k nesting)") {
    val df = spark.range(0, 1000).select(concat(lit("x"), col("id")).as("s"))
    val k10 = df.agg(reservoir(col("s"), 10).as("r"))
      .collect()(0).getSeq[String](0)
    val k50 = df.agg(reservoir(col("s"), 50).as("r"))
      .collect()(0).getSeq[String](0)
    assert(k50.take(10) === k10)
  }

  // Pins the portable variant's ordering key against Spark's own md5:
  // the sample must be exactly the k values with the smallest
  // substring(md5(v), 1, 16) — the definition any SQL engine reproduces
  // — and partition-independent like the xxhash64 form.
  test("portable reservoir is md5-ordered and partition-independent") {
    val df = spark.range(0, 300).select(concat(lit("s"), col("id")).as("s"))
    val a = df.agg(ReservoirSample.portableReservoir(col("s"), 10).as("r"))
      .collect()(0).getSeq[String](0)
    val b = df.repartition(13)
      .agg(ReservoirSample.portableReservoir(col("s"), 10).as("r"))
      .collect()(0).getSeq[String](0)
    assert(a === b)
    val expected = df
      .select(col("s"), substring(md5(col("s").cast("binary")), 1, 16).as("h"))
      .orderBy("h").limit(10).select("s").collect().map(_.getString(0)).toSeq
    assert(a === expected) // eval order IS the md5-prefix order
  }

  test("per-group reservoirs with nulls ignored") {
    val df = Seq(("a", "x1"), ("a", "x2"), ("a", null), ("b", "y1"))
      .toDF("g", "s")
    val out = df.groupBy("g")
      .agg(reservoir(col("s"), 5).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(out("a").toSet === Set("x1", "x2"))
    assert(out("b") === Seq("y1"))
  }
}
