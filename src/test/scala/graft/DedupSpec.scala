package graft

import graft.functions.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  Quick   brown fox jumps over the lazy dog"), // exact dup mod norm
    (3L, "the quick brown fox jumps over the lazy cat"),    // near dup
    (4L, "completely different text about spark engines"),
    (5L, "the quick brown fox jumps over the lazy dog")     // exact dup
  ).toDF("doc_id", "text")

  test("exact groups pick min id and count copies") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(g.length === 3)
    val dupRow = g.find(_.getLong(1) == 1L).get
    assert(dupRow.getLong(2) === 3) // ids 1, 2, 5
  }

  test("dropExactDuplicates keeps one row per normalized text") {
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L))
  }

  test("shingles are distinct word k-grams; short docs yield one shingle") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
    val sh = df.select(col("id"), Dedup.shingles(col("t"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) === Seq("a b c", "b c d"))
    assert(sh(2L) === Seq("a b"))
  }

  // The native one-pass byte-range form must produce exactly the hashes of
  // the HOF form (xxhash64 of each distinct shingle string) — including
  // edge cases: short docs, empty text, repeated shingles, multi-space/
  // mixed-case input (normalization), and non-ASCII (UTF-8 byte ranges).
  test("native shingleHashes equals xxhash64 over HOF shingles") {
    val edge = Seq(
      (10L, ""), (11L, "   "), (12L, "one"), (13L, "one two"),
      (14L, "a a a a a a"), (15L, "Héllo wörld naïve café résumé"),
      (16L, "tab\tand\nnewline   spaced")
    ).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3, 5)) {
      val both = docs.union(edge).select(
        Dedup.shingleHashes(col("text"), k).as("native"),
        transform(Dedup.shingles(col("text"), k), s => xxhash64(s)).as("hof"))
      assert(both.where(not(col("native") === col("hof"))).count() === 0,
        s"k=$k mismatch")
    }
  }

  // Bounded bottom-k aggregate ≡ sort_array(collect_list)[1..k] — the LSH
  // bucket cap — including under repartitioning (merge-tree independence).
  test("bottomK longs equals sorted-collect prefix") {
    val df = spark.range(0, 1000)
      .select((col("id") % 7).as("g"), ((col("id") * 37) % 1000).as("v"))
      .repartition(13)
    val both = df.groupBy("g").agg(
      graft.plans.BottomKLongs.bottomK(col("v"), 20).as("bk"),
      slice(sort_array(collect_list(col("v"))), 1, 20).as("ref"))
    assert(both.where(not(col("bk") === col("ref"))).count() === 0)
  }

  // Non-bigint id columns route through the window cap (the native
  // bottom-k aggregates are Long-specialized and reject other types at
  // analysis) — same pairs, just a different capping plan.
  test("containment flags the quote-in-article case Jaccard misses") {
    val article = (1 to 100).map(i => s"w$i").mkString(" ")
    val quote = (40 to 49).map(i => s"w$i").mkString(" ") // 10-word excerpt
    val corpus = Seq(
      (1L, article),
      (2L, quote),
      (3L, "totally unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    // every 3-gram of the quote is in the article: containment(2→1)=1.0;
    // the reverse direction is 8/98 and must NOT emit; Jaccard ≈ 0.082
    // never crosses its threshold — the asymmetry is the point
    val got = Dedup.ngramContainmentPairs(corpus, "text", "doc_id",
        k = 3, threshold = 0.8, maxDocFreq = None)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((2L, 1L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
        k = 3, threshold = 0.5, maxDocFreq = None)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, "Jaccard must miss the asymmetric overlap")
    // symmetric near-identical pair emits BOTH directions
    val twins = Seq((10L, article), (11L, article + " w101")).toDF("doc_id", "text")
    val both = Dedup.ngramContainmentPairs(twins, "text", "doc_id",
        k = 3, threshold = 0.8, maxDocFreq = None)
      .as[(Long, Long, Double)].collect()
    assert(both.map(r => (r._1, r._2)).toSet === Set((10L, 11L), (11L, 10L)))
  }

  test("containment equals driver brute force on random corpora") {
    val rnd = new scala.util.Random(123)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def shingleSet(text: String): Set[String] = {
      val t = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")
      (1 to math.max(t.length - 2, 1))
        .map(i => t.slice(i - 1, i - 1 + 3).mkString(" ")).toSet
    }
    for (trial <- 1 to 4) {
      val corpus = (1L to 12L).map { id =>
        val n = 3 + rnd.nextInt(25)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = Dedup.ngramContainmentPairs(corpus.toDF("doc_id", "text"),
          "text", "doc_id", k = 3, threshold = 0.5, maxDocFreq = None)
        .as[(Long, Long, Double)].collect().toSet
      val sets = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a != b
        inter = (sets(a) & sets(b)).size
        c = inter.toDouble / sets(a).size
        if c >= 0.5
      } yield (a, b, c)).toSet
      assert(got === expect, s"trial $trial")
    }
  }

  test("minhash and simhash dup-pairs work with string ids") {
    val sdocs = docs.withColumn("doc_id",
      concat(lit("doc-"), col("doc_id").cast("string")))
    val mh = Dedup.minhashDupPairs(sdocs, "text", "doc_id", k = 3,
        threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(mh.contains(("doc-1", "doc-2"))) // exact dups mod normalization
    val sh = Dedup.simhashDupPairs(sdocs, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sh.contains(("doc-1", "doc-2")))
  }

  // The Long-id fast path verifies inside each bucket with a sorted-merge
  // intersection; the generic-id fallback goes through the
  // array_intersect/array_union join pipeline. Same bucketing, same
  // division — they must agree bit-for-bit on every (pair, jaccard) over
  // the fixture corpus.
  test("bucket-local minhash verify is bit-equal to the join-based fallback") {
    val corpus = Tables.read(spark, SparkTestSession.Sf, "documents")
    val fast = Dedup.minhashDupPairs(corpus, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val slow = Dedup.minhashDupPairs(
        corpus.withColumn("doc_id", col("doc_id").cast("string")),
        "text", "doc_id", k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .select(col("id_a").cast("long"), col("id_b").cast("long"),
        col("jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(fast.nonEmpty)
    assert(fast === slow)
  }

  // Same contract for SimHash: the Long-id gate path verifies the exact
  // Jaccard annotation inside each bucket (local Hamming filter +
  // sorted-merge intersection); the reference form explodes candidates
  // via simhashDupPairs and joins each pair back to its shingle arrays.
  // Every (pair, dist, jaccard) must agree bit-for-bit.
  test("bucket-local simhash verify is bit-equal to the join-based form") {
    val corpus = Tables.read(spark, SparkTestSession.Sf, "documents")
    val fast = Dedup.simhashDupPairsVerified(corpus, "text", "doc_id",
        bands = 4, maxDist = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val pairs = Dedup.simhashDupPairs(corpus, "text", "doc_id",
      bands = 4, maxDist = 3)
    val sh = corpus.select(col("doc_id").as("id"),
      Dedup.shingleHashes(col("text"), 3).as("sh"))
    val slow = pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("dist"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fast.nonEmpty)
    assert(fast === slow)
  }

  // The string-id fallback of the verified form must produce the same
  // pair set (modulo id type) as the Long fast path.
  test("simhashDupPairsVerified string-id fallback matches the fast path") {
    val fast = Dedup.simhashDupPairsVerified(docs, "text", "doc_id")
      .as[(Long, Long, Int, Double)].collect().toSet
    val slow = Dedup.simhashDupPairsVerified(
        docs.withColumn("doc_id", concat(lit("d"), col("doc_id").cast("string"))),
        "text", "doc_id")
      .select(expr("cast(substring(id_a, 2) as long)").as("id_a"),
        expr("cast(substring(id_b, 2) as long)").as("id_b"),
        col("dist"), col("jaccard"))
      .as[(Long, Long, Int, Double)].collect()
      .map { case (a, b, d, j) => (math.min(a, b), math.max(a, b), d, j) }.toSet
    assert(fast.nonEmpty)
    assert(fast === slow)
  }

  // TF-weighted shingle cosine: identical docs score exactly 1.0 with the
  // full integer dot; the one-token-changed near-dup shares 6 of its 7
  // trigram occurrences → sim = 6/7.
  test("shingle TF cosine: exact integer dot products and cosine values") {
    val pairs = Dedup.shingleTfCosinePairs(docs, "text", "doc_id",
        k = 3, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (a, b, d, s) => (a, b) -> ((d, s)) }.toMap
    assert(pairs((1L, 2L)) === ((7L, 1.0)))
    assert(pairs((1L, 5L)) === ((7L, 1.0)))
    assert(pairs((2L, 5L)) === ((7L, 1.0)))
    val near = math.round(6.0 / 7.0 * 1e6) / 1e6
    assert(pairs((1L, 3L)) === ((6L, near)))
    assert(pairs((3L, 5L)) === ((6L, near)))
    assert(!pairs.contains((1L, 4L))) // unrelated text below threshold
  }

  // Multiplicity matters: a doc that repeats a shingle is NOT identical to
  // its single-occurrence version under TF weighting (set-Jaccard says 1.0)
  test("shingle TF cosine distinguishes repeated shingles from single ones") {
    val rep = Seq(
      (1L, "a b c a b c"), (2L, "a b c a b c a b c")
    ).toDF("doc_id", "text")
    // identical DISTINCT trigram sets {abc, bca, cab} → set-Jaccard 1.0,
    // but tf1 = (2,1,1), tf2 = (3,2,2):
    // dot = 6+2+2 = 10, sq1 = 6, sq2 = 17 → sim = 10/sqrt(102) ≈ 0.990
    val got = Dedup.shingleTfCosinePairs(rep, "text", "doc_id",
        k = 3, threshold = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val want = java.math.BigDecimal.valueOf(10.0 / math.sqrt(102.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(got === Seq((1L, 2L, 10L, want)))
    assert(want < 1.0)
    // while set-semantics Jaccard of the same pair is exactly 1.0
    val jac = Dedup.ngramJaccardPairs(rep, "text", "doc_id", k = 3,
        threshold = 0.99, maxDocFreq = None)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jac === Seq((1L, 2L, 1.0)))
  }

  test("exact ngram jaccard finds the near-dup pair with the exact value") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", k = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 1 and 3: 7 shingles each, 6 shared → jaccard 6/8 = 0.75
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 3L && math.abs(j - 0.75) < 1e-12 })
    // exact dups have jaccard 1.0
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    // unrelated doc 4 pairs with nothing
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("ngram jaccard hot-shingle cap prunes boilerplate from both sides") {
    import spark.implicits._
    val d = Seq(
      (1L, "common prefix here alpha beta gamma"),
      (2L, "common prefix here delta epsilon zeta"),
      (3L, "common prefix here alpha beta gamma")
    ).toDF("doc_id", "text")
    // "common prefix here" appears in all 3 docs; cap at 2 prunes it —
    // from intersection AND union (sizes shrink by one on both sides)
    val capped = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        k = 3, threshold = 0.1, maxDocFreq = Some(2))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped((1L, 3L)) === 1.0) // pruned sets identical: 3/3
    assert(!capped.contains((1L, 2L))) // only the boilerplate was shared
    // uncapped: the boilerplate shingle links docs 1 and 2 at 1/7
    val uncapped = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        k = 3, threshold = 0.1, maxDocFreq = None)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(uncapped((1L, 2L)) - 1.0 / 7.0) < 1e-12)
    assert(uncapped((1L, 3L)) === 1.0)
  }

  test("adaptive LSH parameters track the target threshold") {
    assert(Dedup.lshParams(64, 0.5) === ((16, 4))) // (1/16)^(1/4) = 0.5 exactly
    assert(Dedup.lshParams(64, 0.8) === ((8, 8)))  // inflection 0.77, nearest
    val (bLo, _) = Dedup.lshParams(64, 0.2)
    assert(bLo > 16) // lower threshold → more bands (recall over cost)
    // bands = 0 auto mode derives (16, 4) at threshold 0.5 → identical
    // candidates to the explicit setting
    val auto = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.minhashDupPairs(docs, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === explicit)
  }

  test("minhash LSH finds near-dups and exact dups, verified by exact jaccard") {
    val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L))) // jaccard 0.75 ≥ banding threshold ≈ 0.5
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical texts collide, hamming small for near-dups") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L)) // same normalized tokens
    assert(sigs(1L) === sigs(5L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 16)

    val pairs = Dedup.simhashDupPairs(docs, "text", "doc_id", bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("cross-corpus pairs = self-minhash pairs restricted to cross side") {
    // same banding + seed ⇒ identical candidate buckets ⇒ the incremental
    // matcher must find exactly the cross-parity subset of the self-join's
    // verified pairs (no bucket cap engages at fixture size)
    val all = Tables.read(spark, SparkTestSession.Sf, "documents")
    val corpus = all.where(pmod(col("doc_id"), lit(2)) === 0)
    val incoming = all.where(pmod(col("doc_id"), lit(2)) === 1)
    val index = Dedup.minhashBandIndex(corpus, "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    val got = Dedup.crossCorpusDupPairs(index, incoming, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // exactly-once: no pair emitted twice despite multi-band agreement
    assert(got.length === got.toSet.size)
    val want = Dedup.minhashDupPairs(all, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
    assert(got.toSet === want.toSet)
  }

  test("cross-corpus survives bucket caps: kept-band bookkeeping") {
    // five identical corpus docs share EVERY band bucket; maxBucket=2
    // keeps only ids 10,20 per bucket. The incoming twin must match each
    // kept doc exactly once and the capped-out docs not at all.
    val corpus = Seq(10L, 20L, 30L, 40L, 50L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val incoming = Seq((7L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(corpus, "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.5, maxBucket = 2)
    val got = Dedup.crossCorpusDupPairs(index, incoming, "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got === Seq((10L, 7L, 1.0), (20L, 7L, 1.0)))
  }

  test("cross-corpus streaming incoming matches batch under scrambled microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sc = spark.sqlContext
    val all = Tables.read(spark, SparkTestSession.Sf, "documents")
    val corpus = all.where(pmod(col("doc_id"), lit(2)) === 0)
    val index = Dedup.minhashBandIndex(corpus, "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    val batch = Dedup.crossCorpusDupPairs(index,
        all.where(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id",
        k = 3, nPerm = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val rows = all.where(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    // deterministic scramble into 3 microbatches
    val batches = rows.groupBy(r => math.abs(r._1 * 2654435761L % 3)).values.toSeq
    val in = MemoryStream[(Long, String)]
    val streamed = Dedup.crossCorpusDupPairs(index,
      in.toDF().toDF("doc_id", "text"), "text", "doc_id",
      k = 3, nPerm = 64, bands = 16, threshold = 0.5)
    val q = streamed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("incr_stream_spec").start()
    batches.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val got = spark.table("incr_stream_spec")
      .as[(Long, Long, Double)].collect()
    assert(got.length === got.toSet.size)
    assert(got.toSet === batch)
  }

  test("minhash signature approximates jaccard") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz")).toDF("doc_id", "text")
    val sigs = df.select(Dedup.minhashSignature(
        Dedup.shingles(col("text"), 2), nPerm = 256, seed = 7).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val est = sigs(0).zip(sigs(1)).count { case (a, b) => a == b } / 256.0
    // true jaccard of 2-shingles: 8 shared / 10 union = 0.8
    assert(math.abs(est - 0.8) < 0.15)
  }

  test("dedup_keep_best keeps exactly the highest-quality member per component") {
    val spark2 = spark
    import spark2.implicits._
    val rows = graft.SparkEntry.queries("dedup_keep_best")(
        spark, SparkTestSession.Sf)
      .as[(Long, Long, Long, Boolean, Double)].collect()
    val byRep = rows.groupBy(_._2)
    byRep.foreach { case (rep, ms) =>
      // one keep per component, and it is a member
      val kept = ms.filter(_._4)
      assert(kept.length === 1, s"component $rep kept ${kept.length}")
      assert(kept.head._1 === kept.head._3)
      // argmax rule: quality desc, id asc
      val best = ms.map(m => (m._5, -m._1)).max
      assert(kept.head._1 === -best._2,
        s"component $rep kept ${kept.head._1}, best is ${-best._2}")
      // every member agrees on keep_id
      assert(ms.map(_._3).distinct.length === 1)
    }
    // doc set is the full corpus
    val n = Tables.read(spark, SparkTestSession.Sf, "documents").count()
    assert(rows.length === n)
  }

  test("winnowPairs: shared >= w+k-1 token run guarantees a shared print") {
    val spark2 = spark
    import spark2.implicits._
    // k=4, w=4 → any shared run of >= 7 tokens must share a fingerprint.
    // docs 1/2 share an 8-token run embedded in different contexts;
    // doc 3 shares nothing long enough.
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"intro words here $shared trailing tail one"),
      (2L, s"completely different opening $shared other ending"),
      (3L, "alpha beta gamma nothing else in common at all here")
    ).toDF("doc_id", "text")
    val pairs = graft.functions.Dedup
      .winnowPairs(docs, "text", "doc_id", k = 4, w = 4,
        minShared = 1, maxDf = 50)
      .as[(Long, Long, Long, Double)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.contains((1L, 2L)), "positional guarantee violated")
    assert(byPair((1L, 2L)) >= 1L)
    // short docs (< w grams) still fingerprint: a 5-token doc has 2
    // grams, < w, and must keep >= 1 print (partial-window rule)
    val tiny = Seq((9L, "just five tokens right here")).toDF("doc_id", "text")
    val fpCount = graft.functions.Dedup
      .winnowPairs(tiny.union(tiny.withColumn("doc_id", lit(10L))),
        "text", "doc_id", k = 4, w = 4, minShared = 1, maxDf = 50)
      .count()
    assert(fpCount === 1L) // the two identical tiny docs pair up
    // density: selection keeps a strict subset of gram positions on
    // real text (the 2/(w+1) expectation, loosely bounded)
    val real = Tables.read(spark, SparkTestSession.Sf, "documents")
    val got = graft.functions.Dedup
      .winnowPairs(real, "text", "doc_id").count()
    assert(got > 0)
  }

  // rebalance contract (round-11 scan-parallelism fix): a few-file scan
  // spreads to the session's shuffle parallelism so per-row-heavy work
  // after it runs on every core; non-file sources (in-memory relations,
  // checkpoint scans) and streaming DataFrames pass through UNCHANGED —
  // their parallelism was set upstream, and a blind repartition would
  // re-exchange corpus-sized text (or break the zero-shuffle stream
  // ingest path).
  test("rebalance: few-file scans spread, non-file/streaming pass through") {
    val target = spark.sessionState.conf.numShufflePartitions
    // single-file parquet scan → repartitioned to the shuffle parallelism
    val scan = Tables.read(spark, SparkTestSession.Sf, "documents")
    assert(scan.inputFiles.length < target)
    assert(Dedup.rebalance(scan).rdd.getNumPartitions === target)
    // in-memory relation (no input files) → the SAME plan, untouched
    val mem = docs
    assert(Dedup.rebalance(mem) eq mem)
    // localCheckpoint scan (no input files) → untouched
    val ck = scan.localCheckpoint(true)
    assert(Dedup.rebalance(ck) eq ck)
    // streaming DataFrame → untouched (repartition would add a
    // per-microbatch exchange to the stateless ingest paths)
    val stream = spark.readStream.schema(scan.schema)
      .parquet(SparkTestSession.Sf)
    assert(Dedup.rebalance(stream) eq stream)
    // rebalanceRaw output still carries exactly the requested columns
    val cols = Dedup.rebalanceRaw(scan,
      col("doc_id").as("id"), col("text").as("__t")).columns.toSeq
    assert(cols === Seq("id", "__t"))
  }
}
