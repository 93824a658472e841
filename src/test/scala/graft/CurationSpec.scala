package graft

import graft.functions.{Curation, Sampling}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunking covers every token; only the tail chunk is short") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")), // 40 toks → 4 chunks
      (2L, (1 to 16).map(i => s"x$i").mkString(" ")), // exactly one window
      (3L, "just five little tokens here"),           // short → 1 chunk
      (4L, "   "),                                    // blank → 0 chunks
      (5L, "one")
    ).toDF("doc_id", "text")
    val got = Curation.chunkByTokens(docs, "text", "doc_id", 16, 8)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).length === 4)          // starts 0,8,16,24
    assert(got(1L).map(_._4).toSeq === Seq(16, 16, 16, 16))
    assert(got(1L)(1)._3.startsWith("w9 w10"))   // stride-8 overlap
    assert(got(2L).map(_._4).toSeq === Seq(16))
    assert(got(3L).map(_._4).toSeq === Seq(5))
    assert(!got.contains(4L))
    assert(got(5L).map(_._4).toSeq === Seq(1))
    // coverage: concatenating stride-slices of each chunk rebuilds the doc
    val c1 = got(1L)
    val rebuilt = (c1.init.map(_._3.split(" ").take(8)) :+
      c1.last._3.split(" ")).flatten.toSeq
    assert(rebuilt === (1 to 40).map(i => s"w$i"))
  }

  test("every chunk row's n_tokens equals its token count (fixture)") {
    val out = Curation.chunkByTokens(
      Tables.read(spark, SparkTestSession.Sf, "documents"),
      "text", "doc_id", 16, 8)
    val bad = out.where(size(split(col("chunk_text"), " ")) =!= col("n_tokens"))
    assert(bad.count() === 0)
  }

  test("packing: bucket-size invariant, covers every token exactly once") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val a = Curation.packTokenSpans(docs, "text", "doc_id", seqLen = 128,
      bucketSize = 64L).as[(Long, Long, Int, Int)].collect().toSet
    // a different bucketing must produce the identical packing — the
    // two-phase prefix sum is an implementation detail, not semantics
    val b = Curation.packTokenSpans(docs, "text", "doc_id", seqLen = 128,
      bucketSize = 7L).as[(Long, Long, Int, Int)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
    // per doc: spans are contiguous, start at 0, end at n_tokens
    val perDoc = a.groupBy(_._1)
    val nTokens = docs.select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    perDoc.foreach { case (doc, spans) =>
      val sorted = spans.toSeq.sortBy(_._2)
      assert(sorted.head._3 === 0)
      assert(sorted.last._4 === nTokens(doc))
      sorted.sliding(2).foreach {
        case Seq((_, s1, _, e1), (_, s2, st2, _)) =>
          assert(s2 === s1 + 1 && st2 === e1)
        case _ =>
      }
    }
    // per sequence: every sequence except the last holds exactly 128 tokens
    val perSeq = a.groupBy(_._2).view
      .mapValues(_.toSeq.map(s => s._4 - s._3).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (seq, total) =>
      if (seq != lastSeq) assert(total === 128, s"seq $seq holds $total")
    }
  }

  test("next-fit bin packing: sequential fold per bucket, whole docs, oversize alone") {
    def txt(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, txt(5)), (2L, txt(3)), // 5+3=8 fits budget 8 → bin 0
      (3L, txt(4)),               // opens bin 1
      (4L, txt(9)),               // oversize → bin 2 alone (fill 9 > 8)
      (5L, txt(2)),               // 9+2>8 → bin 3
      (64L, txt(7)), (65L, txt(8)) // next bucket restarts at bin 0
    ).toDF("doc_id", "text")
    val got = Curation.packBinsNextFit(docs, "text", "doc_id",
        budget = 8L, bucketSize = 64L)
      .orderBy("doc_id").as[(Long, Int, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 5, 0L, 0L, 0L), (2L, 3, 0L, 0L, 5L),
      (3L, 4, 0L, 1L, 0L), (4L, 9, 0L, 2L, 0L), (5L, 2, 0L, 3L, 0L),
      (64L, 7, 1L, 0L, 0L), (65L, 8, 1L, 1L, 0L)))
    // fixture invariants: within every (bucket, bin), docs are contiguous
    // in doc_id order, starts chain exactly, and only oversize docs
    // exceed the budget
    val fx = Curation.packBinsNextFit(
      Tables.read(spark, SparkTestSession.Sf, "documents"),
      "text", "doc_id", budget = 256L, bucketSize = 64L)
      .as[(Long, Int, Long, Long, Long)].collect()
    assert(fx.nonEmpty)
    fx.groupBy(r => (r._3, r._4)).foreach { case ((_, _), rs) =>
      val sorted = rs.sortBy(_._1)
      assert(sorted.head._5 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._5 === a._5 + a._2)
        case _ =>
      }
      val total = sorted.map(_._2.toLong).sum
      assert(total <= 256L || sorted.length == 1)
    }
  }

  test("span dedup keeps first occurrence in corpus order, reassembles docs") {
    val docs = Seq(
      (1L, "a b c d e f"), // all spans first — kept whole
      (2L, "c d a b x y"), // 'c d' and 'a b' already seen in doc 1
      (3L, "a b q r"),     // 'a b' seen; 'q r' survives
      (4L, "   ")          // blank → no row
    ).toDF("doc_id", "text")
    val got = Curation.spanDedup(docs, "text", "doc_id", span = 2)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(got === Seq(
      (1L, 3, 3, "a b c d e f"),
      (2L, 3, 1, "x y"),
      (3L, 2, 1, "q r")))
    // within-doc repeats collapse too: second 'p q' in doc 10 drops
    val self = Curation.spanDedup(
      Seq((10L, "p q p q z z")).toDF("doc_id", "text"),
      "text", "doc_id", span = 2)
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(self === Seq((10L, 3, 2, "p q z z")))
  }

  test("decontamination flags gram sharing, benchmark excluded from output") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "prefix alpha beta gamma delta suffix"), // shares the 4-gram
      (2L, "ALPHA  beta gamma DELTA tail"),         // shares mod normalization
      (3L, "no overlap with anything at all"),
      (4L, "beta gamma delta epsilon and more")     // second 4-gram of bench
    ).toDF("doc_id", "text")
    val got = Curation.decontaminate(cands, bench, "text", "doc_id", k = 4)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((1L, true)))
    assert(got(2L) === ((1L, true)))
    assert(got(3L) === ((0L, false)))
    assert(got(4L) === ((1L, true)))
    assert(got.size === 4)
  }

  test("dropCommonLines strikes hot lines, keeps rare repeats, reassembles") {
    val docs = Seq(
      (1L, "Unique Body One. COMMON Footer. rare bit"),
      (2L, "unique body two. common  footer"),
      (3L, "unique body three. common footer. RARE bit"),
      (4L, "common footer"),  // all-boilerplate doc drains to empty
      (5L, "")                // empty doc stays empty
    ).toDF("doc_id", "text")
    // footer in 4 docs > 2 → dropped; "rare bit" in 2 docs ≤ 2 → kept
    val got = Curation.dropCommonLines(docs, "text", "doc_id", maxDocFreq = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("unique body one. rare bit", 2L)))
    assert(got(2L) === (("unique body two", 1L)))
    assert(got(3L) === (("unique body three. rare bit", 2L)))
    assert(got(4L) === (("", 0L)))
    assert(got(5L) === (("", 0L)))
    // threshold above every frequency keeps all (normalized) lines
    val loose = Curation.dropCommonLines(docs, "text", "doc_id", 100)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(loose(1L) === 3L && loose(4L) === 1L && loose(5L) === 0L)
  }

  test("decontaminateBloom is bit-identical to the exact form") {
    // fixture-scale equivalence: the Bloom prefilter may pass false
    // positives into the verify join but must never change the output
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val cands = docs.where(col("doc_id") % 97 =!= 0)
    val bench = docs.where(col("doc_id") % 97 === 0)
    val exact = Curation.decontaminate(cands, bench, "text", "doc_id", k = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    // a deliberately high FPP floods the verify join with candidates —
    // the equivalence must hold regardless
    for (fpp <- Seq(0.01, 0.5)) {
      val bloomed = Curation.decontaminateBloom(
          cands, bench, "text", "doc_id", k = 4, fpp = fpp)
        .as[(Long, Long, Boolean)].collect().toSet
      assert(bloomed === exact, s"fpp=$fpp")
    }
    assert(exact.exists(_._3), "fixture should contain contamination")
    assert(exact.exists(!_._3))
  }

  test("shardAssignments: contiguous positions, full coverage, repartition-stable") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val a = Curation.shardAssignments(docs, "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Int)].collect()
    assert(a.length === docs.count())
    assert(a.map(_._2).toSet.subsetOf((0L until 8L).toSet))
    // positions are exactly 1..n within each shard
    a.groupBy(_._2).values.foreach { s =>
      assert(s.map(_._3).sorted.toSeq === (1 to s.length))
    }
    // pure function of the id: any physical layout gives the same rows
    val b = Curation.shardAssignments(docs.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Int)].collect()
    assert(b.toSet === a.toSet)
    // md5 spreads the synthetic contiguous ids: no shard is empty here
    assert(a.map(_._2).distinct.length === 8)
  }

  test("interleaveBySource: stride schedule equals the naive global sort") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val wOf = (s: org.apache.spark.sql.Column) =>
      lit(1.0) + (length(s) % 3).cast("double")
    val got = Curation.interleaveBySource(docs, "doc_id", "source", wOf)
      .select("doc_id", "source", "vtime", "pos")
      .as[(Long, String, Double, Long)].collect()
    // reference: one driver-side sort over the same (vtime, source, id) key
    val ref = got.map(r => (r._3, r._2, r._1)).sorted
      .zipWithIndex.map { case ((_, _, id), i) => id -> (i + 1L) }.toMap
    got.foreach { case (id, _, _, pos) => assert(pos === ref(id)) }
    // vtime really is (rank − 0.5) / weight for the md5 rank within source
    val bySrc = got.groupBy(_._2)
    bySrc.foreach { case (src, rows) =>
      val w = 1.0 + (src.length % 3)
      val vts = rows.map(_._3).sorted
      vts.zipWithIndex.foreach { case (vt, i) =>
        assert(vt === (i + 1 - 0.5) / w, s"source $src rank ${i + 1}")
      }
    }
    // low-discrepancy property: every schedule prefix carries each source
    // in weight proportion to within ~1 example
    val order = got.sortBy(_._4)
    val totalW = bySrc.keys.map(s => 1.0 + (s.length % 3)).sum
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    order.take(2000).zipWithIndex.foreach { case ((_, src, vt, _), i) =>
      counts(src) += 1
      val expected = (1.0 + (src.length % 3)) * vt
      assert(math.abs(counts(src) - expected) <= 1.0 + 1e-9,
        s"prefix ${i + 1}: source $src count ${counts(src)} vs vtime share $expected")
    }
    // pure function of content: physical layout cannot move anything
    val again = Curation.interleaveBySource(
        docs.repartition(13), "doc_id", "source", wOf)
      .select("doc_id", "source", "vtime", "pos")
      .as[(Long, String, Double, Long)].collect()
    assert(again.toSet === got.toSet)
  }

  test("epochRepeat: integer weights replicate exactly; fraction is the md5 uniform") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    // w = 2.0 exactly: every doc appears exactly twice, epochs 1 and 2
    val twice = Curation.epochRepeat(docs, "doc_id", "source", _ => lit(2.0))
      .select("doc_id", "epoch").as[(Long, Int)].collect()
    val n = docs.count()
    assert(twice.length === 2 * n)
    twice.groupBy(_._1).values.foreach(es =>
      assert(es.map(_._2).sorted.toSeq === Seq(1, 2)))
    // w = 1.4: everyone once, and EXACTLY the docs whose md5 uniform
    // falls under 0.4 get a second epoch — replayed driver-side
    val w14 = Curation.epochRepeat(docs, "doc_id", "source", _ => lit(1.4))
      .select("doc_id", "epoch").as[(Long, Int)].collect()
    val seconds = w14.filter(_._2 == 2).map(_._1).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
    }
    val expect2 = (0L until n).filter(id => u(id) < 1.4 - 1.0).toSet
    assert(seconds === expect2)
    // sub-1 weight drops deterministically, same membership rule
    val half = Curation.epochRepeat(docs, "doc_id", "source", _ => lit(0.4))
      .select("doc_id").as[Long].collect().toSet
    assert(half === expect2)
  }

  test("tokenBudgetFill equals the naive global-window computation") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val got = Curation.tokenBudgetFill(docs, "text", "doc_id", budget = 8000L)
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
      .as[(Long, Double, Long, Long)].collect()
    // reference: flat driver-side cumsum in (quality desc, id) order
    val all = docs
      .select(col("doc_id"),
        graft.functions.TextAnalysis.qualityScoreFromStats(
          graft.functions.TextAnalysis.stats(col("text"))).as("q"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long"))
      .as[(Long, Double, Long)].collect()
      .sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val expect = all.flatMap { case (id, q, t) =>
      cum += t
      if (cum <= 8000L) Some((id, q, t, cum)) else None
    }
    assert(got.sortBy(_._4).toSeq === expect.toSeq)
    // admission is prefix-closed: every admitted (q,id) dominates every
    // rejected one
    val ord = implicitly[Ordering[(Double, Long)]]
    val admitted = got.map(r => (-r._2, r._1)).max(ord)
    val rejected = all.map { case (id, q, _) => (-q, id) }
      .filterNot(k => got.exists(g => (-g._2, g._1) == k))
    rejected.foreach(r => assert(ord.gt(r, admitted)))
  }

  test("tokenBudgetFillBy: per-group budgets; one group ≡ global fill") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    // single constant group with the same budget must reproduce the
    // global fill row-for-row
    val one = Seq(("all", 8000L)).toDF("g", "budget")
    val grouped = Curation.tokenBudgetFillBy(
        docs.withColumn("g", lit("all")), "text", "doc_id", "g", one)
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4).toSeq
    val global = Curation.tokenBudgetFill(docs, "text", "doc_id", 8000L)
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
      .as[(Long, Double, Long, Long)].collect().sortBy(_._4).toSeq
    assert(grouped === global)
    // real groups: every group's admitted tokens stay within ITS budget
    // and admission is per-group prefix-closed in (quality desc, id)
    val budgets = Seq(("a", 3000L), ("b", 1500L)).toDF("g", "budget")
    val two = Curation.tokenBudgetFillBy(
        docs.withColumn("g",
          when(col("doc_id") % 2 === 0, "a").otherwise("b")),
        "text", "doc_id", "g", budgets)
      .select("g", "doc_id", "cum_tokens", "budget")
      .as[(String, Long, Long, Long)].collect()
    assert(two.nonEmpty)
    two.groupBy(_._1).foreach { case (g, rows) =>
      val cap = if (g == "a") 3000L else 1500L
      assert(rows.map(_._3).max <= cap)
      assert(rows.forall(_._4 === cap))
    }
  }

  test("qualityPercentiles equals the naive per-source rank; singleton → 0.5") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      // graft a singleton source to pin the n=1 branch
      .select(col("doc_id"), col("text"),
        when(col("doc_id") === 0, lit("only_one")).otherwise(col("source"))
          .as("source"))
    val got = Curation.qualityPercentiles(docs, "text", "doc_id", "source")
      .select("doc_id", "source", "quality", "quality_pct")
      .as[(Long, String, Double, Double)].collect()
    val bySrc = got.groupBy(_._2)
    bySrc.foreach { case (src, rows) =>
      if (rows.length == 1) assert(rows.head._4 === 0.5, s"singleton $src")
      else {
        val ordered = rows.sortBy(r => (r._3, r._1))
        ordered.zipWithIndex.foreach { case (r, i) =>
          assert(r._4 === i.toDouble / (rows.length - 1),
            s"source $src doc ${r._1}")
        }
      }
    }
    // pure function of content: physical layout cannot move a percentile
    val again = Curation.qualityPercentiles(
        docs.repartition(11), "text", "doc_id", "source")
      .select("doc_id", "source", "quality", "quality_pct")
      .as[(Long, String, Double, Double)].collect()
    assert(again.toSet === got.toSet)
  }

  test("sourceCap equals the naive per-source top-N; salting is invisible") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val got = Curation.sourceCap(docs, "text", "doc_id", "source",
        cap = 7, nSalts = 4)
      .select("doc_id", "source", "quality", "rank")
      .as[(Long, String, Double, Long)].collect()
    // reference: flat driver-side (quality desc, id) rank per source
    val all = docs.select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.qualityScoreFromStats(
          graft.functions.TextAnalysis.stats(col("text"))).as("q"))
      .as[(Long, String, Double)].collect()
    val expect = all.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.sortBy { case (id, _, q) => (-q, id) }.take(7).zipWithIndex
        .map { case ((id, _, q), i) => (id, src, q, i + 1L) }
    }.toSet
    assert(got.toSet === expect)
    assert(got.groupBy(_._2).values.forall(_.length <= 7))
    // the salt count and physical layout are implementation details
    val again = Curation.sourceCap(docs.repartition(13), "text", "doc_id",
        "source", cap = 7, nSalts = 11)
      .select("doc_id", "source", "quality", "rank")
      .as[(Long, String, Double, Long)].collect()
    assert(again.toSet === got.toSet)
    // a cap above the group size keeps everything, ranked
    val loose = Curation.sourceCap(docs, "text", "doc_id", "source",
      cap = 1000000, nSalts = 4)
    assert(loose.count() === docs.count())
  }

  test("bpeMergeStep: top-pair argmax, greedy overlap rule, tie-break") {
    val docs = Seq(
      (1L, "x y x y z"),     // two "x y" pairs
      (2L, "a a a"),         // overlap corner: fuses ONCE -> "a+a a"
      (3L, "x y"),           // one more "x y" -> 3 total, the winner
      (4L, "  "),            // blank -> empty output
      (5L, "solo")           // single token: no pairs
    ).toDF("doc_id", "text")
    val out = Curation.bpeMergeStep(docs, "text", "doc_id")
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._3 === "x y" && out(1L)._4 === 3L)
    assert(out(1L)._2 === "x+y x+y z")
    assert(out(2L)._2 === "a a a") // "a a" lost the count to "x y"
    assert(out(3L)._2 === "x+y")
    assert(out(4L)._2 === "")
    assert(out(5L)._2 === "solo")
    // overlap: with "a a" as the UNIQUE top pair, "a a a" fuses once
    val solo = Curation.bpeMergeStep(
        Seq((1L, "a a a")).toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, String, String, Long)].collect().head
    assert(solo._3 === "a a" && solo._2 === "a+a a")
    // tie-break: equal counts -> lexicographically smallest (a,b)
    val tie = Curation.bpeMergeStep(
        Seq((1L, "p q"), (2L, "m n")).toDF("doc_id", "text"),
        "text", "doc_id")
      .as[(Long, String, String, Long)].collect().head
    assert(tie._3 === "m n")
  }

  test("bpeMergeTable stops when no pairs remain; later steps merge fused tokens") {
    // "w w w w" supports repeated merges of fused tokens: step 1 counts
    // 3 adjacent "w w" pairs (pre-merge adjacency) and greedily fuses
    // two of them -> "w+w w+w"; step 2 fuses those; a single token
    // remains -> early stop before k
    val docs = Seq((1L, "w w w w")).toDF("doc_id", "text")
    val m = Curation.bpeMergeTable(docs, "text", k = 5)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(m.length === 2)
    assert(m(0) === ((1, "w", "w", 3L)))
    assert(m(1) === ((2, "w+w", "w+w", 1L)))
    // empty corpus -> empty merge table, correct schema
    val empty = Curation.bpeMergeTable(
      Seq((1L, "   ")).toDF("doc_id", "text"), "text", k = 3)
    assert(empty.columns.toSeq === Seq("step", "a", "b", "n"))
    assert(empty.count() === 0)
  }

  test("bpeCharVocab: frequency-weighted merges, marker stays word-final") {
    val docs = Seq((1L, "cat cat dog"), (2L, "cat")).toDF("doc_id", "text")
    // histogram cat×3, dog×1; init "c a t</w>"×3, "d o g</w>"×1.
    // step1: (c,a)=3 ties (a,t</w>)=3 → lexicographic smallest left
    // wins: (a, t</w>). Then (c,at</w>)=3, (d,o)=1, (do,g</w>)=1; the
    // table stops when no pairs remain.
    val m = Curation.bpeCharVocab(docs, "text", k = 10)
      .orderBy("step").as[(Int, String, String, Long)].collect()
    assert(m.toSeq === Seq(
      (1, "a", "t</w>", 3L), (2, "c", "at</w>", 3L),
      (3, "d", "o", 1L), (4, "do", "g</w>", 1L)))
  }

  test("bpeCharApply: doc-level stream apply equals per-word replay") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val merges = Curation.bpeCharVocab(docs, "text", k = 8)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(t => (t._2, t._3)).toSeq
    val got = Curation.bpeCharApply(docs, "text", "doc_id", merges)
      .select("doc_id", "encoded", "n_pieces")
      .as[(Long, String, Long)].collect()
      .map { case (id, enc, n) => id -> ((enc, n)) }.toMap
    // driver replay: encode each word independently (merges cannot span
    // the word-end marker), reassemble per doc
    def fuse(t: String, a: String, b: String): String =
      (" " + t.replace(" ", "  ") + " ")
        .replace(s" $a  $b ", s" $a$b ").replace("  ", " ").trim
    def encodeWord(w: String): String = {
      val init = w.map(_.toString).mkString(" ") + "</w>"
      merges.foldLeft(init) { case (t, (a, b)) => fuse(t, a, b) }
    }
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val expect =
        if (norm.isEmpty) "" else norm.split(" ").map(encodeWord).mkString(" ")
      val (gotEnc, gotN) = got(id)
      assert(gotEnc === expect, s"doc $id")
      val expectN = if (expect.isEmpty) 0L else expect.split(" ").length.toLong
      assert(gotN === expectN, s"doc $id n_pieces")
    }
    // merges actually compress: pieces < raw char count somewhere
    assert(got.values.exists(_._2 > 0))
  }

  test("bpeCharApplyVocab is bit-equal to the replace-chain encode") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val merges = Curation.bpeCharVocab(docs, "text", k = 8)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(t => (t._2, t._3)).toSeq
    val chain = Curation.bpeCharApply(docs, "text", "doc_id", merges)
      .as[(Long, String, Long)].collect().toSet
    val viaVocab = Curation.bpeCharApplyVocab(docs, "text", "doc_id", merges)
      .as[(Long, String, Long)].collect().toSet
    assert(viaVocab === chain)
  }

  test("exactMediaGroups: byte-identical payloads group, digest-only shuffle") {
    val rows = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Array[Byte](1, 2, 3)),   // byte-dup of 1
      (3L, Array[Byte](1, 2, 4)),   // one byte off → own group
      (4L, Array[Byte]())           // empty payload is its own group
    ).toDF("id", "content")
    val got = graft.functions.Multimodal.exactMediaGroups(rows, "content", "id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (4L, 4L, 1L)))
  }

  test("mix_schedule composes epochs and interleave consistently") {
    val rows = graft.SparkEntry.queries("mix_schedule")(
        spark, SparkTestSession.Sf)
      .select("doc_id", "epoch", "source", "pos")
      .as[(Long, Int, String, Long)].collect()
    // positions are a dense permutation 1..N of the expanded replica set
    assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq)
    // per-doc replica multiset equals epochRepeat's expansion exactly
    val expect = Curation.epochRepeat(
        Tables.read(spark, SparkTestSession.Sf, "documents"),
        "doc_id", "source",
        s => lit(0.5) + (length(s) % 3).cast("double") * lit(0.7))
      .select("doc_id", "epoch").as[(Long, Int)].collect()
    assert(rows.map(r => (r._1, r._2)).sorted.toSeq === expect.sorted.toSeq)
    // the schedule really interleaves: no long single-source run in the
    // steady state (multi-source corpus, max weight ratio 1.9/0.5)
    val order = rows.sortBy(_._4).map(_._3)
    val maxRun = order.foldLeft((0, "", 0)) { case ((best, prev, cur), s) =>
      val c = if (s == prev) cur + 1 else 1
      (math.max(best, c), s, c)
    }._1
    assert(maxRun <= 8, s"source run of $maxRun breaks the interleave")
  }

  test("interleaveBySource: 2:1 weights alternate ABA in the steady state") {
    val docs = (1L to 30L).map(i => (i, if (i <= 20) "heavy" else "light"))
      .toDF("doc_id", "source")
    val wOf = (s: org.apache.spark.sql.Column) =>
      when(s === "heavy", lit(2.0)).otherwise(lit(1.0))
    val order = Curation.interleaveBySource(docs, "doc_id", "source", wOf)
      .select("source", "pos").as[(String, Long)].collect()
      .sortBy(_._2).map(_._1)
    // 20 heavy at vtime (r−.5)/2, 10 light at (r−.5): every unit round
    // holds exactly two heavy + one light while both sources last
    order.grouped(3).take(10).foreach { g =>
      assert(g.count(_ == "heavy") === 2 && g.count(_ == "light") === 1,
        s"round ${g.mkString(",")}")
    }
  }

  test("stripMarkup: tags to spaces, single-pass entity unescape, collapse") {
    val rows = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "a &lt;tag&gt; literal &amp; ampersand"),
      // &amp;lt; must single-unescape to the LITERAL "&lt;", not "<"
      (3L, "escaped: &amp;lt;b&amp;gt;"),
      (4L, "spaced&nbsp;out<br/><br/>lines"),
      (5L, "no markup at all"),
      // unclosed angle bracket is NOT a tag (no closing >)
      (6L, "math: 3 < 5 and 7 > 2")
    ).toDF("id", "t")
    val got = rows.select(col("id"), Curation.stripMarkup(col("t")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "hello world")
    assert(got(2L) === "a <tag> literal & ampersand")
    assert(got(3L) === "escaped: &lt;b&gt;")
    assert(got(4L) === "spaced out lines")
    assert(got(5L) === "no markup at all")
    // "< 5 and 7 >" parses as one bracketed run and is stripped — the
    // regex extractor's documented over-approximation on bare < >
    assert(got(6L) === "math: 3 2")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val neu = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "t")
    val got = Curation.snapshotDiff(old, neu, "id", "t")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // digests: null exactly on the missing side
    val digests = Curation.snapshotDiff(old, neu, "id", "t")
      .select("id", "old_digest", "new_digest")
      .as[(Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(digests(3L)._2.isEmpty && digests(3L)._1.nonEmpty)
    assert(digests(4L)._1.isEmpty && digests(4L)._2.nonEmpty)
  }

  test("mixToTarget: rates balance every source toward the smallest") {
    // source A: 10 tokens, B: 5, C: 20 → min 5; rates 500000/1000000/250000
    val docs = Seq(
      (1L, "a b c d e", "A"), (2L, "f g h i j", "A"),
      (3L, "k l m n o", "B"),
      (4L, "1 2 3 4 5 6 7 8 9 10", "C"), (5L, "x y z w v", "C"),
      (6L, "p q r s t", "C")
    ).toDF("doc_id", "text", "source")
    val got = Curation.mixToTarget(docs, "doc_id", "text", "source")
      .select("doc_id", "source", "n_tokens", "avail_tokens", "rate_ppm",
        "admitted")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._5 === 500000L && got(3L)._5 === 1000000L &&
      got(4L)._5 === 250000L)
    assert(got(4L)._4 === 20L && got(3L)._3 === 5L)
    // min-rate source admits everything
    assert(got(3L)._6)
    // admission is the portable md5 bucket — replay one doc by hand
    val bucket = Sampling.portableBucketInt(lit(1L).cast("long"))
    val b1 = docs.sparkSession.range(1)
      .select(pmod(bucket, lit(1000000L)).as("b")).as[Long].head()
    assert(got(1L)._6 === (b1 < 500000L))
  }

  test("wordpieceVocab: likelihood argmax differs from raw-count BPE") {
    // histogram aa×10, bc×3 → init "a ##a"×10, "b ##c"×3.
    // counts a:10 ##a:10 b:3 ##c:3; pair (a,##a)=10 scores 10/100,
    // pair (b,##c)=3 scores 3/9 — the LIKELIHOOD objective merges the
    // rarer-but-tighter (b,##c) first, where raw-count BPE would take
    // (a,##a). Fixed-point keys: 10/100→1e17, 3/9→333...3.
    val docs = (1 to 10).map(i => (i.toLong, "aa")) ++
      (11 to 13).map(i => (i.toLong, "bc"))
    val m = Curation.wordpieceVocab(docs.toDF("doc_id", "text"), "text", k = 5)
      .orderBy("step")
      .as[(Int, String, String, Long, Long, Long, Long)].collect()
    assert(m.length === 2)
    assert(m(0) === ((1, "b", "##c", 3L, 3L, 3L, 333333333333333333L)))
    // after bc fuses, only (a,##a) remains: 10·1e18 div 100
    assert(m(1) === ((2, "a", "##a", 10L, 10L, 10L, 100000000000000000L)))
  }

  test("wordpieceVocab: fusion absorbs ## and keeps the left class") {
    // "cat"×2: init "c ##a ##t". counts c:2 ##a:2 ##t:2; both pairs
    // score 2/4 → lexicographic tie-break picks (##a,##t) → "##at";
    // then (c,##at) → "cat".
    val docs = Seq((1L, "cat cat")).toDF("doc_id", "text")
    val m = Curation.wordpieceVocab(docs, "text", k = 5)
      .orderBy("step")
      .as[(Int, String, String, Long, Long, Long, Long)].collect()
    assert(m.map(r => (r._2, r._3)).toSeq ===
      Seq(("##a", "##t"), ("c", "##at")))
  }

  test("wordpieceApply: greedy longest-match, [UNK], blanks, driver replay") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val merges = Curation.wordpieceVocab(docs, "text", k = 8)
      .orderBy("step")
      .as[(Int, String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    val pieces = Curation.wordpieceFinalVocab(docs, "text", merges)
    val got = Curation.wordpieceApply(docs, "text", "doc_id", pieces)
      .as[(Long, String, Long)].collect()
      .map { case (id, enc, n) => id -> ((enc, n)) }.toMap
    // driver replay of greedy longest-match-first
    val initSet = pieces.filterNot(_.startsWith("##")).toSet
    val contSet = pieces.filter(_.startsWith("##")).map(_.substring(2)).toSet
    def encodeWord(w: String): String = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val set = if (pos == 0) initSet else contSet
        val hit = (w.length to (pos + 1) by -1)
          .map(e => w.substring(pos, e)).find(set.contains)
        hit match {
          case None => return "[UNK]"
          case Some(p) =>
            out += (if (pos == 0) p else "##" + p)
            pos += p.length
        }
      }
      out.mkString(" ")
    }
    docs.select("doc_id", "text").as[(Long, String)].collect()
      .foreach { case (id, text) =>
        val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
        val expect = if (norm.isEmpty) ""
          else norm.split(" ").map(encodeWord).mkString(" ")
        assert(got(id)._1 === expect, s"doc $id")
        val n = if (expect.isEmpty) 0L else expect.split(" ").length.toLong
        assert(got(id)._2 === n, s"doc $id n_pieces")
      }
    // the vocabulary compresses: some doc has fewer pieces than chars
    assert(got.values.exists(_._2 > 0))
    // [UNK]: a char outside the training alphabet kills its word only
    val weird = Seq((1L, "zebra9 cat")).toDF("doc_id", "text")
    val enc = Curation.wordpieceApply(weird, "text", "doc_id", pieces)
      .as[(Long, String, Long)].head()
    assert(enc._2.startsWith("[UNK] "))
  }

  test("wordpieceApplyPerRow is bit-equal to the vocab-join encode") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val merges = Curation.wordpieceVocab(docs, "text", k = 8)
      .orderBy("step")
      .as[(Int, String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    val pieces = Curation.wordpieceFinalVocab(docs, "text", merges)
    val viaJoin = Curation.wordpieceApply(docs, "text", "doc_id", pieces)
      .as[(Long, String, Long)].collect().toSet
    val perRow = Curation.wordpieceApplyPerRow(docs, "text", "doc_id", pieces)
      .as[(Long, String, Long)].collect().toSet
    assert(perRow === viaJoin)
  }

  test("WordPieceEncodeF: empty word and pure-continuation inventory") {
    import graft.plans.{WordPieceEncodeF, WordPieceVocab}
    val v = new WordPieceVocab(Seq("a", "##b", "##bc"))
    import org.apache.spark.unsafe.types.UTF8String
    def enc(s: String): String =
      WordPieceEncodeF.encode(UTF8String.fromString(s), v).toString
    assert(enc("") === "")
    assert(enc("abc") === "a ##bc")   // longest continuation wins over ##b
    assert(enc("ab") === "a ##b")
    assert(enc("ba") === "[UNK]")     // 'b' is continuation-only
    assert(enc("abd") === "[UNK]")    // mid-word dead end collapses the word
  }

  test("temperature shares: sqrt flattening, shares sum to ~1") {
    import graft.functions.Curation
    val df = (Seq.fill(81)("big") ++ Seq.fill(9)("small")).toDF("src")
    val got = Curation.temperatureShares(df, "src")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got("big")._2 === 9.0 && got("small")._2 === 3.0)
    // raw ratio 9:1 flattens to 3:1 at tau = 1/2
    assert(math.abs(got("big")._3 - 0.75) < 1e-12)
    assert(math.abs(got("small")._3 - 0.25) < 1e-12)
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-12)
  }
}
