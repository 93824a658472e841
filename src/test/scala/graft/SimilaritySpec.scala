package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(1f, 1f, 0f))).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    assert(math.abs(sims(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("zero vector cosine is 0, not NaN") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head() === 0.0)
  }

  // The native tight-loop dot must be bit-identical to the HOF left-fold
  // over the fixture embeddings (same IEEE operation sequence).
  test("native dot equals HOF dot bit-for-bit on fixture embeddings") {
    val emb = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val a = emb.select(org.apache.spark.sql.functions.col("vec_id").as("ia"),
      org.apache.spark.sql.functions.col("embedding").as("va"))
    val b = emb.select(org.apache.spark.sql.functions.col("vec_id").as("ib"),
      org.apache.spark.sql.functions.col("embedding").as("vb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(5000)
    val diff = pairs.select(
      Similarity.dot(col("va"), col("vb")).as("native"),
      ReferenceForms.dotHof(col("va"), col("vb")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(diff === 0)
  }

  test("normalizeEmbeddings: unit norms, zero guard, cosine becomes dot") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
      .withColumn("embedding", when(col("vec_id") === 0,
        transform(col("embedding"), _ => lit(0.0f)))
        .otherwise(col("embedding")))
    val out = Similarity.normalizeEmbeddings(emb, "vec_id", "embedding")
    // every non-zero row renormalizes to ~1; zero rows stay zeros+flag
    val checked = out.select(col("vec_id"), col("is_zero"),
        Similarity.norm(col("unit")).as("un"))
      .as[(Long, Boolean, Double)].collect()
    checked.foreach { case (id, z, un) =>
      if (z) assert(un === 0.0, s"vec $id")
      else assert(math.abs(un - 1.0) < 1e-9, s"vec $id: $un")
    }
    assert(checked.count(_._2) === 1)
    // on the normalized vectors, dot IS cosine (the point of the op)
    val two = out.where(col("vec_id").isin(1L, 2L))
      .select(col("vec_id"), col("unit")).as[(Long, Seq[Double])].collect()
      .toMap
    val d = two(1L).zip(two(2L)).map { case (a, b) => a * b }.sum
    val rawCos = Tables.read(spark, SparkTestSession.Sf, "embeddings")
      .where(col("vec_id").isin(1L, 2L))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
      .toMap
    val (va, vb) = (rawCos(1L).map(_.toDouble), rawCos(2L).map(_.toDouble))
    val cos = va.zip(vb).map { case (a, b) => a * b }.sum /
      (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    assert(math.abs(d - cos) < 1e-9)
  }

  test("brute-force top-k ranks by similarity") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f))
    ).toDF("id", "v")
    val queries = Seq((10L, Seq(1f, 0f))).toDF("id", "v")
    val top = Similarity.bruteForceTopK(corpus, queries, "id", "v", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("ANN top-k achieves reasonable recall vs brute force on fixture embeddings") {
    // NOTE: the fixture embeddings are uniform-random (no cluster
    // structure) — the adversarial case for LSH, since true neighbors sit
    // barely above the bulk. 4 bits / distance-1 probes scans ~1/3 of the
    // corpus; on clustered real embeddings the same setup gives far higher
    // recall at far lower scan fractions.
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.annTopK(emb, queries, "vec_id", "embedding",
        k = 10, nBits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall too low")
  }

  test("cosineDupPairs finds planted near-duplicates") {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.99f, 0.01f, 0f)), (3L, Seq(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairs(df, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("bucketed dup pairs find planted near-duplicates (dim-matched planes)") {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.99f, 0.01f, 0f)), (3L, Seq(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairsBucketed(df, "vec_id", "embedding",
        threshold = 0.95, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  // Precision must be EXACT (every emitted pair also found by the
  // quadratic reference at the same threshold); recall is the banded
  // S-curve — ~75% at the threshold boundary for the auto-derived
  // (bands, bitsPerBand), asserted with slack against the fixture's
  // uniform-random (LSH-adversarial) embeddings.
  test("bucketed dup pairs: exact precision, bounded recall vs quadratic reference") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosineDupPairsBucketed(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain pairs above threshold")
    assert((bucketed diff exact).isEmpty,
      s"bucketed emitted pairs the exact form rejects: ${bucketed diff exact}")
    val recall = (bucketed intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall below S-curve expectation")
  }

  // The Long-id fast path verifies pairs inside each bucket with a local
  // double fold + HALF_UP rounding; the generic-id fallback goes through
  // the DotF/round() join pipeline. Same bucketing, same rounding contract
  // — the two paths must agree BIT-FOR-BIT on every emitted (pair, value).
  test("bucket-local verify is bit-equal to the join-based fallback path") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val fast = Similarity.cosineDupPairsBucketed(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // string ids route to the window-cap + join-verify fallback; its
    // a<b orientation is lexicographic, so canonicalize to (min, max)
    val slow = Similarity.cosineDupPairsBucketed(
        emb.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", 0.4)
      .select(col("id_a").cast("long"), col("id_b").cast("long"),
        col("cos_sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (math.min(a, b), math.max(a, b), c) }.toSet
    assert(fast === slow)
  }

  // Adaptive granularity: bits track corpus size (expected bucket ≈
  // target), bands re-compensate recall at the threshold; a saturated
  // fixed-bit regime would cap-truncate buckets instead.
  test("signLshParamsAdaptive scales bits with n and keeps the S-curve recall") {
    val (b1, r1) = Similarity.signLshParamsAdaptive(8000, 0.9, targetBucket = 1000)
    assert(r1 === 3) // ceil(log2(8))
    val (b2, r2) = Similarity.signLshParamsAdaptive(8_000_000, 0.9, targetBucket = 1000)
    assert(r2 === 13) // ceil(log2(8000)) — bucket space grows with n
    // computed band counts must actually achieve the requested recall at
    // the threshold: 1 − (1 − p^r)^b ≥ 0.95
    val p = 1.0 - math.acos(0.9) / math.Pi
    for ((b, r) <- Seq((b1, r1), (b2, r2))) {
      val prob = 1.0 - math.pow(1.0 - math.pow(p, r), b)
      assert(prob >= 0.95, s"($b,$r) recall $prob below request")
    }
    // documented degenerate regime: low threshold + big corpus hits the
    // 64-band cost cap instead of exploding the plan
    val (b3, _) = Similarity.signLshParamsAdaptive(8_000_000, 0.3, targetBucket = 1000)
    assert(b3 === 64)
  }

  // End-to-end: the adaptive path still finds planted near-duplicates and
  // keeps exact precision (every emitted pair passes the exact-cosine
  // verify by construction; the quadratic reference agrees).
  test("adaptive bucketed dup pairs find planted near-dups with exact precision") {
    val base = (0 until 400).map { i =>
      val r = new scala.util.Random(1000 + i)
      (i.toLong, Seq.fill(8)(r.nextFloat() * 2f - 1f))
    }
    // plant 20 near-identical pairs (tiny perturbation of the base vector)
    val dups = (0 until 20).map { i =>
      val (id, v) = base(i)
      (id + 10_000L, v.map(x => x + 1e-4f))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val got = Similarity.cosineDupPairsBucketed(df, "vec_id", "embedding",
        threshold = 0.999, dim = 8, adaptiveTarget = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (0 until 20).map(i => (i.toLong, i + 10_000L)).toSet
    val exact = Similarity.cosineDupPairs(df, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((got diff exact).isEmpty, "precision must be exact")
    val recall = (got intersect want).size.toDouble / want.size
    assert(recall >= 0.9, s"recall $recall on planted near-identical pairs")
  }

  test("signLshParams tracks the collision probability of the threshold") {
    // cos 0.9 → p ≈ 0.856: the chosen split's midpoint must sit closer to
    // p than either neighboring divisor split of 32 bits.
    val (b, r) = Similarity.signLshParams(32, 0.9)
    assert(b * r === 32)
    val p = 1.0 - math.acos(0.9) / math.Pi
    val err = math.abs(math.pow(1.0 / b, 1.0 / r) - p)
    for (alt <- Seq((2, 16), (4, 8), (8, 4), (16, 2), (32, 1)) if alt != ((b, r))) {
      val altErr = math.abs(math.pow(1.0 / alt._1, 1.0 / alt._2) - p)
      assert(err <= altErr, s"($b,$r) err $err worse than $alt err $altErr")
    }
  }

  // SemDeDup degenerates to the exhaustive quadratic form when every
  // vector shares one cluster — same verify loop, same rounding, so the
  // (pair, value) sets must be identical. This pins within-cluster
  // COMPLETENESS (the pair-value gate oracle only pins precision).
  test("semantic dup pairs with one cluster equal the quadratic reference") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val one = Similarity.semanticDupPairs(emb, "vec_id", "embedding", 0.4,
        nClusters = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(one === exact)
  }

  // Clustered candidacy: precision stays exact (subset of the quadratic
  // reference), recall loses only cluster-boundary pairs; layout
  // independence comes from the content-hash fit sample + deterministic
  // centroid assignment.
  test("semantic dup pairs: exact precision, deterministic under repartition") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = Similarity.semanticDupPairs(emb, "vec_id", "embedding", 0.4,
        nClusters = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(sem.nonEmpty, "clustered form must find pairs on the fixture")
    assert((sem.map(p => (p._1, p._2)) diff exact).isEmpty,
      "semantic form emitted a pair the exact form rejects")
    val again = Similarity.semanticDupPairs(emb.repartition(7), "vec_id",
        "embedding", 0.4, nClusters = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(again === sem, "result depends on partition layout")
    // empty corpus (normal mid-pipeline state) yields empty pairs, no throw
    val empty = Similarity.semanticDupPairs(emb.where(lit(false)), "vec_id",
      "embedding", 0.4, nClusters = 8)
    assert(empty.count() === 0L)
  }

  // The PQ-pruned verify must be invisible in the output: the
  // Cauchy-Schwarz reconstruction bound only ever skips pairs that
  // provably round below the threshold, so (pair, value) sets are
  // BIT-identical to the exact clustered form — at several thresholds,
  // under repartition, and on the degenerate one-cluster (exhaustive)
  // case.
  test("PQ-pruned semantic dedup is bit-identical to the exact form") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    for (thr <- Seq(0.2, 0.4, 0.7)) {
      val exact = Similarity.semanticDupPairs(emb, "vec_id", "embedding",
          thr, nClusters = 8)
        .as[(Long, Long, Double)].collect().toSet
      val pq = Similarity.semanticDupPairsPq(emb, "vec_id", "embedding",
          thr, nClusters = 8)
        .as[(Long, Long, Double)].collect().toSet
      assert(pq === exact, s"divergence at threshold $thr")
    }
    val oneExact = Similarity.semanticDupPairs(emb, "vec_id", "embedding",
        0.4, nClusters = 1).as[(Long, Long, Double)].collect().toSet
    val onePq = Similarity.semanticDupPairsPq(emb.repartition(7), "vec_id",
        "embedding", 0.4, nClusters = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(onePq === oneExact)
    assert(onePq.nonEmpty)
    // empty corpus: no throw (PQ fit needs a dim probe — guarded)
    val empty = Similarity.semanticDupPairsPq(emb.where(lit(false)),
      "vec_id", "embedding", 0.4, nClusters = 8)
    assert(empty.count() === 0L)
  }

  test("int8 quantization: code range, round-trip error bound, zero vectors") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val q = Similarity.int8Quantize(emb, "vec_id", "embedding")
    val joined = q.join(emb, "vec_id")
      .select(col("embedding").cast("array<double>").as("v"),
        // the inverse: code / scale (0 for scale 0)
        transform(col("codes"), c => when(col("scale") === 0.0, lit(0.0))
          .otherwise(c.cast("double") / col("scale"))).as("d"),
        col("codes"), col("scale"))
      .as[(Seq[Double], Seq[Double], Seq[Int], Double)].collect()
    joined.foreach { case (v, d, codes, scale) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
      val bound = 0.5 / scale + 1e-12
      v.zip(d).foreach { case (x, y) =>
        assert(math.abs(x - y) <= bound, s"err ${math.abs(x - y)} > $bound")
      }
    }
    val z = Similarity.int8Quantize(
      Seq((1L, Seq(0f, 0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
      .as[(Long, Seq[Int], Double)].head()
    assert(z === ((1L, Seq(0, 0), 0.0)))
  }

  test("evaluateAnn: recall@k, reciprocal rank, and empty-query handling") {
    // q1: approx finds 2 of 3 exact (the true NN at approx rank 2)
    // q2: approx returned NOTHING — must still appear with zeros
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)
    ).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      (1L, 99L, 1), (1L, 10L, 2), (1L, 12L, 3)
    ).toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.evaluateAnn(approx, exact, k = 3)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 2.0 / 3.0, 0.5)))
    assert(got(2L) === ((0L, 0.0, 0.0)))
  }

  test("kCenterGreedy matches a driver-side greedy replay on the fixture") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val k = 8
    val got = Similarity.kCenterGreedy(emb, "vec_id", "embedding", k)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    // independent replay in plain Scala doubles
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.toMap
    def dist(a: Long, b: Long): Double = {
      val d = nrm(a) * nrm(b)
      if (d == 0.0) 1.0 else 1.0 - dot(byId(a), byId(b)) / d
    }
    var sel = List(vecs.head._1)
    val expect = scala.collection.mutable.ArrayBuffer((1, vecs.head._1, 0.0))
    (2 to k).foreach { r =>
      val cand = vecs.map(_._1).filterNot(sel.contains)
        .map(id => (sel.map(dist(id, _)).min, -id))
      val best = cand.max
      expect += ((r, -best._2, best._1))
      sel = -best._2 :: sel
    }
    got.zip(expect).foreach { case ((gr, gid, gd), (er, eid, ed)) =>
      assert(gr === er && gid === eid, s"rank $gr picked $gid, expected $eid")
      assert(math.abs(gd - ed) < 1e-6)
    }
    // coverage radius never increases after the seed
    got.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 1e-12, s"radius grew at rank ${b._1}")
    }
  }

  // VERDICT r6 item 5: an incremental probe against the RELOADED index
  // must (a) equal the probe against the freshly built one, and (b) find
  // EXACTLY the cross pairs >= threshold whose two sides land in the
  // same trained bucket — completeness within the pruned candidate set,
  // derived here independently via the HOF centroid assignment.
  test("semantic index: save/load probe identity + within-bucket completeness") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
      nClusters = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_semidx").toString
    Similarity.saveSemanticIndex(idx, s"$tmp/i")
    val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/i")
    def collectPairs(i: Similarity.SemanticIndex) =
      Similarity.probeSemanticIndex(i, batch, "vec_id", "embedding", 0.3)
        .as[(Long, Long, Double)].collect().toSet
    val built = collectPairs(idx)
    val reloaded = collectPairs(loaded)
    assert(built === reloaded)
    assert(built.nonEmpty, "fixture should produce at least one pair at 0.3")

    // independent completeness: brute cross-cosine + HOF bucket agreement
    val ca = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      ReferenceForms.nearestCentroidHof(col("embedding"), idx.centers).as("ba"))
    val cb = batch.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      ReferenceForms.nearestCentroidHof(col("embedding"), idx.centers).as("bb"))
    val expect = ca.join(cb, col("ba") === col("bb"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(built === expect)
  }

  // Append path: probing after an append must equal the within-bucket
  // complete pair set over corpus ∪ appended — with the ORIGINAL trained
  // centers (append never refits), derived independently via the HOF
  // assignment as in the incremental test.
  test("semantic index append: probe sees the union, centers never refit") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val batch1 = emb.where(pmod(col("vec_id"), lit(3)) === 1)
    val batch2 = emb.where(pmod(col("vec_id"), lit(3)) === 2)
    val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
      nClusters = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_semapp").toString
    Similarity.saveSemanticIndex(idx, s"$tmp/i")
    Similarity.appendSemanticIndex(spark, s"$tmp/i", batch1,
      "vec_id", "embedding")
    val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/i")
    assert(loaded.centers.map(_.toSeq).toSeq === idx.centers.map(_.toSeq).toSeq)
    val got = Similarity.probeSemanticIndex(loaded, batch2,
        "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect().toSet

    val union = corpus.unionByName(batch1)
    val ca = union.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      ReferenceForms.nearestCentroidHof(col("embedding"), idx.centers).as("ba"))
    val cb = batch2.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      ReferenceForms.nearestCentroidHof(col("embedding"), idx.centers).as("bb"))
    val expect = ca.join(cb, col("ba") === col("bb"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expect)
    // pairs against BOTH generations of the index are present
    assert(got.exists(_._1 % 3 == 0) && got.exists(_._1 % 3 == 1),
      s"expected matches against corpus AND appended batch: $got")
  }

  // VERDICT r6 item 2: at sampleCap >= corpus the sampled variant's local
  // greedy sees every vector, so its selection (rank, id) AND selection
  // radii must equal kCenterGreedy's exactly — the bit-equality contract
  // that makes the sampled form a drop-in scale knob.
  test("kCenterSampled at sample=all selects exactly the greedy set") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val k = 8
    val exact = Similarity.kCenterGreedy(emb, "vec_id", "embedding", k)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    val sampled = Similarity.kCenterSampled(emb, "vec_id", "embedding", k,
        sampleCap = Int.MaxValue)
      .select("rank", "vec_id", "sel_dist", "n_assigned", "cover")
      .as[(Int, Long, Double, Long, Double)].collect().sortBy(_._1)
    assert(sampled.map(t => (t._1, t._2, t._3)).toSeq ===
      exact.map(t => (t._1, t._2, t._3)).toSeq)
    // every corpus vector is assigned to exactly one center
    assert(sampled.map(_._4).sum === emb.count())
    // a center covers at least itself (self-distance ~0 ≤ cover + eps)
    sampled.foreach { case (_, _, _, n, cover) =>
      assert(n >= 1 && cover >= -1e-9)
    }
  }

  // The fused assignment kernel must be BIT-identical to the k-literal
  // struct(dist, rank) + array_min formulation it replaced (both the
  // distance double and the tie-broken rank), including the zero-norm
  // guard — checked over every fixture vector with real center vectors.
  test("NearestCenterCosF equals the struct-array assignment bit-for-bit") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val centers = emb.orderBy("vec_id").limit(5)
      .select(col("embedding"), Similarity.norm(col("embedding")))
      .collect().map(r => (r.getSeq[Float](0).toArray, r.getDouble(1)))
    val ranks = centers.indices.map(_ + 1).toArray
    // include a zero vector row to exercise the denom == 0 branch
    val zero = Seq((-1L, Seq.fill(centers.head._1.length)(0f)))
      .toDF("vec_id", "embedding")
    val base = emb.select(col("vec_id"), col("embedding"))
      .unionByName(zero)
      .select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
    val structForm = array_min(array(centers.zip(ranks).map {
      case ((cv, cn), r) =>
        val denom = col("nrm") * lit(cn)
        val d = when(denom === 0.0, lit(1.0))
          .otherwise(lit(1.0) -
            Similarity.dot(col("embedding"), typedLit(cv.toSeq)) / denom)
        struct(d.as("d"), lit(r).as("rnk"))
    }.toSeq: _*))
    val fused = graft.plans.PqExpressions.nearestCenterCos(
      col("embedding"), centers.map(_._1), centers.map(_._2), ranks)
    val rows = base.select(
        structForm.getField("d"), structForm.getField("rnk"),
        fused.getField("d"), fused.getField("rnk"))
      .as[(Double, Int, Double, Int)].collect()
    rows.foreach { case (d1, r1, d2, r2) =>
      assert(java.lang.Double.doubleToRawLongBits(d1) ===
        java.lang.Double.doubleToRawLongBits(d2))
      assert(r1 === r2)
    }
  }

  // Multi-probe: nProbe=1 must be BIT-identical to the single probe;
  // nProbe=2 is a strict-or-equal superset, sound (every emitted pair
  // really clears the threshold — checked against the exhaustive
  // cross-pairs), and measurably closes recall toward exhaustive.
  test("multi-probe semantic index: nProbe=1 identity, recall grows, sound") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
      nClusters = 8)
    val thr = 0.3
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val single = collect(Similarity.probeSemanticIndex(
      idx, batch, "vec_id", "embedding", thr))
    val multi1 = collect(Similarity.probeSemanticIndexMulti(
      idx, batch, "vec_id", "embedding", thr, nProbe = 1))
    assert(multi1 === single, "nProbe=1 must equal the single-bucket probe")
    val multi2 = collect(Similarity.probeSemanticIndexMulti(
      idx, batch, "vec_id", "embedding", thr, nProbe = 2))
    assert(single.subsetOf(multi2), "nProbe=2 must be a superset")
    // exhaustive corpus×batch truth at the same threshold + rounding
    val ca = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      Similarity.norm(col("embedding")).as("na"))
    val cb = batch.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      Similarity.norm(col("embedding")).as("nb"))
    val denom = col("na") * col("nb")
    val cos = when(denom === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("va"), col("vb")) / denom)
    val truth = ca.crossJoin(cb)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cos_sim"))
      .where(col("cos_sim") >= thr)
      .as[(Long, Long, Double)].collect().toSet
    assert(multi2.subsetOf(truth), "multi-probe must stay sound")
    val r1 = single.size.toDouble / math.max(truth.size, 1)
    val r2 = multi2.size.toDouble / math.max(truth.size, 1)
    assert(r2 >= r1, s"recall must not drop: $r1 -> $r2")
    info(f"recall single=$r1%.3f multi2=$r2%.3f truth=${truth.size}")
  }

  test("kCenterGreedy stops gracefully when k exceeds the corpus") {
    val tiny = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(tiny, "vec_id", "embedding", k = 10)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got.length === 3)
    assert(got.map(_._2).toSet === Set(1L, 2L, 3L))
    assert(got.head === ((1, 1L, 0.0)))
  }

  test("labelVote: majority, lower-label ties, and self-exclusion") {
    import org.apache.spark.sql.functions.col
    val knn = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L),        // labels 0,0,1 → vote 0
      (2L, 3L), (2L, 4L),                  // labels 0,1 → tie → lower (0)
      (4L, 1L), (4L, 2L)                   // labels 1,0 → tie → 0 ≠ own 1
    ).toDF("query_id", "neighbor_id")
    val labels = Seq((1L, 1), (2L, 0), (3L, 0), (4L, 1))
      .toDF("vec_id", "label")
    val got = Similarity.labelVote(knn, labels, "vec_id", "label")
      .select("vec_id", "own_label", "voted_label", "n_votes",
        "n_neighbors", "mismatch")
      .as[(Long, Int, Int, Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (1L, 1, 0, 2L, 3L, true),
      (2L, 0, 0, 1L, 2L, false),
      (4L, 1, 0, 1L, 2L, true)))
  }

  test("labelVote over knnGraph at full probe equals the brute-force vote") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val brute = Similarity.labelVote(
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5),
      emb, "vec_id", "label")
    val index = graft.functions.IvfIndex.build(emb, "embedding", nLists = 8)
    val graph = Similarity.labelVote(
      graft.functions.IvfIndex.knnGraph(index, "vec_id", "embedding",
        k = 5, nProbe = 8),
      emb, "vec_id", "label")
    val cols = Seq("vec_id", "own_label", "voted_label", "n_votes",
      "n_neighbors", "mismatch")
    assert(
      graph.select(cols.map(col): _*)
        .as[(Long, Int, Int, Long, Long, Boolean)].collect().toSet ===
      brute.select(cols.map(col): _*)
        .as[(Long, Int, Int, Long, Long, Boolean)].collect().toSet)
  }

  test("signPack matches the driver bit replay; words stay in [0, 2^32)") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val got = Similarity.signPack(rows.toDF("id", "v"), "id", "v", dim = 64)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (id, v) =>
      def word(off: Int): Long =
        (0 until 32).map(i => if (v(off + i) >= 0f) 1L << i else 0L).sum
      assert(got(id) === ((word(0), word(32))), s"id $id")
      assert(got(id)._1 >= 0L && got(id)._1 < (1L << 32))
      assert(got(id)._2 >= 0L && got(id)._2 < (1L << 32))
    }
  }

  test("hammingTopK: exact distances on constructed sign patterns + cosine rescore") {
    // base: all +1; flipK(j): first j dims flipped to -1 → hamming = j
    def vec(flip: Int): Array[Float] =
      Array.tabulate(64)(i => if (i < flip) -1f else 1f)
    val corpus = Seq(
      (0L, vec(0)), (1L, vec(3)), (2L, vec(10)), (3L, vec(64))
    ).toDF("id", "v")
    val q = corpus.where(col("id") === 0L)
    val got = Similarity.hammingTopK(corpus, q, "id", "v", dim = 64, k = 3)
      .select("neighbor_id", "hamming", "rank", "sim")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 3 && got(1L)._3 === 1)
    assert(got(2L)._2 === 10 && got(2L)._3 === 2)
    assert(got(3L)._2 === 64 && got(3L)._3 === 3)
    // exact rescore: cos(all+1, vec(3)) = (64-2*3)/64 = 0.90625
    assert(got(1L)._4 === 0.90625)
    assert(got(3L)._4 === -1.0)
    // self is excluded
    assert(!got.contains(0L))
  }

  test("mmr rerank: first pick is relevance argmax, then diversity wins") {
    // q = [1,0]; a(1) and its near-dup a'(2) sit at +24° from q,
    // b(3) mirrored at −24° — equal relevance, far from a. Plain
    // top-3 ranks a, a' adjacent; MMR top-2 must pick a (tie with b
    // breaks to the lower id) then SKIP the near-dup for b, because
    // the dup's maxSim ≈ 1 while b's maxSim-to-a is only ~0.67.
    val corpus = Seq(
      (1L, Array(0.9f, 0.4f)),
      (2L, Array(0.9f, 0.401f)),
      (3L, Array(0.9f, -0.4f)),
      (9L, Array(1.0f, 0.0f))
    ).toDF("id", "v")
    val got = Similarity.mmrTopK(
      corpus, corpus.where(col("id") === 9L), "id", "v", m = 3, k = 2)
      .orderBy("mmr_rank")
      .select("doc_id", "mmr_rank").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 1), (3L, 2)))
  }

  test("mmr emits exactly k per query and never repeats a doc") {
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val got = Similarity.mmrTopK(emb, emb.where(col("vec_id") < 4),
      "vec_id", "embedding", m = 20, k = 6)
      .select("query_id", "doc_id").as[(Long, Long)].collect()
    assert(got.length === 4 * 6)
    assert(got.distinct.length === got.length)
    got.foreach { case (q, d) => assert(q != d) }
  }

  test("mmrRerank on the exact cosine shortlist bit-matches mmrTopK") {
    // mmrTopK = (brute cosine top-m) ∘ greedy; feeding the same top-m
    // list with rel = the same cosine into the externally-scored form
    // must reproduce the selections AND scores bit-for-bit.
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val queries = emb.where(col("vec_id") < 4)
    val m = 20
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("qv"),
      Similarity.norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").cast("long").as("doc_id"),
      col("embedding").cast("array<double>").as("cv"),
      Similarity.norm(col("embedding")).as("cn"))
    val shortlist = c.crossJoin(broadcast(q))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("rel"))
      .withColumn("srank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rel").desc, col("doc_id"))))
      .where(col("srank") <= m)
      .select("query_id", "doc_id", "rel")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "mmr_rank", "rel", "mmr_score")
      .as[(Long, Long, Int, Double, Double)].collect().sorted.toSeq
    val viaRerank = key(
      Similarity.mmrRerank(shortlist, emb, "vec_id", "embedding", k = 6))
    val direct = key(
      Similarity.mmrTopK(emb, queries, "vec_id", "embedding", m = m, k = 6))
    assert(viaRerank === direct)
  }

  test("knn sweep: recall weakly increases with nProbe; full probe is exact") {
    import graft.functions.IvfIndex
    val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
    val index = IvfIndex.build(emb, "embedding", nLists = 8)
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5).select("query_id", "neighbor_id")
    val nExact = exact.count().toDouble
    def recall(np: Int): Double =
      IvfIndex.search(index, queries, "vec_id", "embedding",
          k = 5, nProbe = np)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / nExact
    // candidates grow with nProbe and exact/ANN share the (sim desc, id)
    // tie-break, so a true hit found at a smaller probe is never lost
    val Seq(r1, r2, r8) = Seq(1, 2, 8).map(recall)
    assert(r1 <= r2 && r2 <= r8)
    assert(r8 === 1.0) // probing every list IS the exact top-5
  }

  test("randomProject: md5-parity signs, exact linearity on the integer plane") {
    def sgn(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))
      val firstHex = (h(0) >> 4) & 0xf
      if (firstHex % 2 == 0) 1L else -1L
    }
    val df = Seq(
      (0L, Array(1.0f, 2.0f, -3.0f)),
      (1L, Array(2.0f, 0.0f, 5.0f)),
      (2L, Array(3.0f, 2.0f, 2.0f)) // = v0 + v1 elementwise
    ).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, "vec_id", "embedding", outDims = 4)
      .as[(Long, Int, Long)].collect()
      .map { case (id, j, v) => (id, j) -> v }.toMap
    // hand-computed against the same md5-parity matrix
    val q = Map(0L -> Seq(1L, 2L, -3L), 1L -> Seq(2L, 0L, 5L),
      2L -> Seq(3L, 2L, 2L)).view.mapValues(_.map(_ << 20)).toMap
    for (id <- q.keys; j <- 0 until 4) {
      val want = (1 to 3).map(i => sgn(i, j) * q(id)(i - 1)).sum
      assert(got((id, j)) === want, s"id=$id j=$j")
    }
    // integer-valued inputs quantize exactly, so projection is linear
    for (j <- 0 until 4)
      assert(got((2L, j)) === got((0L, j)) + got((1L, j)))
  }

  test("mean pooling: exact fixed point, layout-invariant, trunc on negatives") {
    val df = Seq(
      (0L, Array(1.0f, -1.0f)), (1L, Array(0.5f, -0.25f)),
      (2L, Array(0.5f, -0.25f)),
      (4L, Array(0.25f, 0.75f))
    ).toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.meanPoolFixedPoint(d, expr("vec_id div 4"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val got = run(df)
    val m = 1L << 20
    // group 0, idx 0: (1.0 + 0.5 + 0.5) * 2^20 / 3 = 2^20 * 2 / 3 trunc
    assert(got((0L, 0)) === ((2 * m, 3L, 2 * m / 3)))
    // group 0, idx 1: sum_fp = -2^20 - 2^18 - 2^18 = -1572864; /3 exact
    assert(got((0L, 1)) === ((-1572864L, 3L, -524288L)))
    // negative trunc-toward-zero: -5 div 2 = -2, not floor -3
    val odd = Seq((0L, Array(-5.0f / m))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"))
    val o = Similarity.meanPoolFixedPoint(
      odd.unionByName(Seq((1L, Array(0.0f))).toDF("vec_id", "embedding")),
      lit(0L), col("embedding")).collect()
      .map(r => r.getLong(2) -> r.getLong(4)).toMap
    assert(o(-5L) === -2L)
    // layout invariance: integer sums don't care about partitioning
    assert(run(df.repartition(7)) === got)
  }
}
