package graft

import graft.functions.{IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")

  test("codes are m ints in [0, ksub) and encoding is deterministic") {
    val idx = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(idx.codebooks.length === 8)
    assert(idx.codebooks.forall(_.length === 16))
    assert(idx.dsub === 8)
    val codes = idx.codes.select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    val again = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
      .codes.select("codes").as[Seq[Int]].collect()
    assert(codes.toSeq === again.toSeq)
  }

  // the native one-loop encode/ADC expressions must reproduce the HOF
  // forms EXACTLY — same per-subspace left-to-right fold, same
  // first-index-on-ties argmin, same 0.0-seeded lookup sum
  test("native PQ encode and ADC sum are bit-equal to the HOF forms") {
    val idx = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val native = emb.select(col("vec_id"),
        PqIndex.encodeExpr(col("embedding"), idx.codebooks, idx.dsub).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    val hof = emb.select(col("vec_id"),
        ReferenceForms.encodeExprHof(col("embedding"), idx.codebooks, idx.dsub).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(native === hof)
    val df = Seq((Seq(0, 2, 1),
      Seq(Seq(0.1, 0.2, 0.3), Seq(1.0, 2.0, 3.0), Seq(5.0, 6.0, 7.0))))
      .toDF("codes", "qtab")
    val both = df.select(
      graft.plans.PqExpressions.adcSum(col("codes"), col("qtab")).as("n"),
      aggregate(sequence(lit(0), lit(2)), lit(0.0), (s, i) =>
        s + element_at(element_at(col("qtab"), i + 1),
          element_at(col("codes"), i + 1) + 1)).as("h"))
      .as[(Double, Double)].head()
    assert(both._1 === both._2)
    assert(both._1 === 0.1 + 3.0 + 6.0)
  }

  test("each code is the argmin sub-centroid for its subvector") {
    val idx = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val rows = idx.codes.join(emb, "vec_id")
      .select(col("codes"), col("embedding").cast("array<double>"))
      .as[(Seq[Int], Seq[Double])].collect()
    rows.take(50).foreach { case (codes, v) =>
      codes.zipWithIndex.foreach { case (code, i) =>
        val sub = v.slice(i * 8, i * 8 + 8)
        val dists = idx.codebooks(i).map(c =>
          c.zip(sub).map { case (a, b) => (b - a) * (b - a) }.sum)
        assert(dists(code) === dists.min)
      }
    }
  }

  test("ivf-pq: candidates come only from probed lists; sims exact; recall sane") {
    val idx = PqIndex.buildIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val queries = emb.filter(col("vec_id") < 8)
    val got = PqIndex.searchIvfPq(idx, emb, queries, "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length === 8 * 10)
    // every neighbor belongs to one of its query's 4 probed lists
    val probed = IvfIndex.probeRange(idx.ivf, queries, "vec_id", "embedding", 0, 4)
      .select("query_id", "list_id").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val listOf = idx.codes.select(col("vec_id"), col("list_id"))
      .as[(Long, Int)].collect().toMap
    got.foreach { case (qid, nid, _, _) =>
      assert(probed(qid).contains(listOf(nid)), s"$nid not in $qid's probes")
    }
    // exact sims
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      Similarity.norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      Similarity.norm(col("embedding")).as("cn"))
    val bruteMap = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("sim"))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (qid, nid, sim, _) =>
      assert(math.abs(sim - bruteMap((qid, nid))) < 1e-12)
    }
    // recall vs the plain-IVF search at the same probe budget: the PQ
    // shortlist within probed lists should recover most of what exact
    // in-list scoring finds
    val ivfTop = IvfIndex.search(idx.ivf, queries, "vec_id", "embedding",
        k = 10, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hit = got.count(r => ivfTop((r._1, r._2)))
    assert(hit >= (ivfTop.size * 0.6).toInt,
      s"ivfpq recall vs ivf = ${hit.toDouble / ivfTop.size} too low")
  }

  test("ivf-pq save/load round-trips and search results are identical") {
    val idx = PqIndex.buildIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString
    PqIndex.saveIvfPq(idx, dir)
    val back = PqIndex.loadIvfPq(spark, dir)
    assert(back.m === idx.m && back.dsub === idx.dsub)
    assert(back.ivf.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq ===
      idx.ivf.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq)
    val queries = emb.filter(col("vec_id") < 8)
    def run(i: PqIndex.IvfPq) =
      PqIndex.searchIvfPq(i, emb, queries, "vec_id", "embedding",
          k = 10, nProbe = 4, shortlist = 64)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(back) === run(idx))
  }

  test("streaming encode-on-arrival rebuilds identical codes and searches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val idx = PqIndex.buildIvfPq(emb, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ingest").toString
    PqIndex.saveIvfPq(idx, dir)
    // wipe the batch-written codes; re-ingest every vector via the stream
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/codes"))
    val all = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val batches = all.groupBy(v => math.abs(v._1 * 2654435761L % 3)).values.toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val q = PqIndex.ingestStream(idx,
      in.toDF().toDF("vec_id", "embedding").select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")),
      "vec_id", "embedding", dir,
      java.nio.file.Files.createTempDirectory("ivfpq-ckpt").toString)
    batches.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val loaded = PqIndex.loadIvfPq(spark, dir)
    // streamed codes are bit-identical to the batch encode
    val want = idx.codes.orderBy("vec_id")
      .select("vec_id", "list_id", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    val got = loaded.codes.orderBy("vec_id")
      .select("vec_id", "list_id", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    assert(got === want)
    // and the ingested index answers searches identically
    val queries = emb.filter(col("vec_id") < 8)
    def run(i: PqIndex.IvfPq) =
      PqIndex.searchIvfPq(i, emb, queries, "vec_id", "embedding",
          k = 10, nProbe = 4, shortlist = 64)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(loaded) === run(idx))
  }

  // batch append must (a) never touch the quantizers, (b) produce codes
  // bit-identical to encoding the arrivals directly against the trained
  // index, and (c) make the re-loaded index search the union exactly as
  // an in-memory index over the same quantizers + union codes would.
  test("batch append grows the saved index without rebuild") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val arrivals = emb.where(col("vec_id") % 5 === 0)
    val idx = PqIndex.buildIvfPq(base, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-append").toString
    PqIndex.saveIvfPq(idx, dir)
    PqIndex.appendIvfPq(PqIndex.loadIvfPq(spark, dir), arrivals,
      "vec_id", "embedding", dir)
    val grown = PqIndex.loadIvfPq(spark, dir)
    // quantizers untouched by the append
    assert(grown.ivf.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq ===
      idx.ivf.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq)
    assert(grown.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // codes = base codes ∪ direct encode of the arrivals, bit-identical
    val want = idx.codes.select("vec_id", "list_id", "codes")
      .unionByName(PqIndex.encodeIvfPq(idx, arrivals, "vec_id", "embedding")
        .select("vec_id", "list_id", "codes"))
      .orderBy("vec_id").as[(Long, Int, Seq[Int])].collect().toSeq
    val got = grown.codes.select("vec_id", "list_id", "codes")
      .orderBy("vec_id").as[(Long, Int, Seq[Int])].collect().toSeq
    assert(got === want)
    // searching the union through the grown index == in-memory union index
    val union = idx.copy(codes = idx.codes
      .unionByName(PqIndex.encodeIvfPq(idx, arrivals, "vec_id", "embedding")))
    val queries = emb.filter(col("vec_id") < 8)
    def run(i: PqIndex.IvfPq) =
      PqIndex.searchIvfPq(i, emb, queries, "vec_id", "embedding",
          k = 10, nProbe = 4, shortlist = 64)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(grown) === run(union))
    // arrivals are reachable: some appended id appears as a neighbor
    assert(run(grown).exists { case (_, n, _, _) => n % 5 == 0 })
  }

  test("save/load round-trips codebooks and codes") {
    val idx = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString
    PqIndex.save(idx, dir)
    val back = PqIndex.load(spark, dir)
    assert(back.m === idx.m && back.dsub === idx.dsub)
    assert(back.codebooks.map(_.toSeq.map(_.toSeq)).toSeq ===
      idx.codebooks.map(_.toSeq.map(_.toSeq)).toSeq)
    assert(back.codes.orderBy("vec_id").select("codes").as[Seq[Int]].collect().toSeq ===
      idx.codes.orderBy("vec_id").select("codes").as[Seq[Int]].collect().toSeq)
  }

  test("emitted sims are exact cosines; ranks ordered; recall is sane") {
    val idx = PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val queries = emb.filter(col("vec_id") < 8)
    val got = PqIndex.search(idx, emb, queries, "vec_id", "embedding",
        k = 10, shortlist = 64)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length === 8 * 10)
    // exact brute-force reference
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      Similarity.norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      Similarity.norm(col("embedding")).as("cn"))
    val brute = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosinePrenormed(col("qv"), col("cv"),
          col("qn") * col("cn")).as("sim"))
    val bruteMap = brute.as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (qid, nid, sim, _) =>
      assert(math.abs(sim - bruteMap((qid, nid))) < 1e-12)
    }
    got.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-(_: Double)).toSeq)
    }
    // recall@10 vs brute force: ADC over 16³ codebooks with a 64-wide
    // shortlist recovers most true neighbors on the fixture
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    val top = brute.withColumn("r", row_number().over(w)).where(col("r") <= 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hit = got.count(r => top((r._1, r._2)))
    assert(hit >= (top.size * 0.5).toInt,
      s"recall@10 = ${hit.toDouble / top.size} too low")
  }
}
