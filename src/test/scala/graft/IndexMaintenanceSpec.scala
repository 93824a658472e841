package graft

import graft.functions.{Dedup, IndexMaintenance, PqIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction must be invisible to probes: after appends scatter small
  * files (including a DOUBLE append, so exact-duplicate rows exist),
  * compacting each index layout must reduce the file count and leave
  * every probe/search result identical.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = Tables.read(spark, SparkTestSession.Sf, "embeddings")
  private lazy val docs = Tables.read(spark, SparkTestSession.Sf, "documents")

  test("semantic index: compact keeps probe results, one file per bucket") {
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val batch1 = emb.where(pmod(col("vec_id"), lit(3)) === 1)
    val batch2 = emb.where(pmod(col("vec_id"), lit(3)) === 2)
    val idx = Similarity.buildSemanticIndex(corpus, "vec_id", "embedding",
      nClusters = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_semcmp").toString
    Similarity.saveSemanticIndex(idx, s"$tmp/i")
    // two appends of the SAME batch: small files + exact duplicates
    Similarity.appendSemanticIndex(spark, s"$tmp/i", batch1, "vec_id", "embedding")
    Similarity.appendSemanticIndex(spark, s"$tmp/i", batch1, "vec_id", "embedding")
    def probe() = Similarity.probeSemanticIndex(
        Similarity.loadSemanticIndex(spark, s"$tmp/i"), batch2,
        "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe()
    val (nb, na) = IndexMaintenance.compact(spark, s"$tmp/i/members", Some("bucket"))
    assert(na < nb, s"file count must drop: $nb -> $na")
    val loaded = Similarity.loadSemanticIndex(spark, s"$tmp/i")
    val buckets = loaded.members.select("bucket").distinct().count()
    assert(na === buckets, "one file per surviving bucket")
    // duplicates from the double append are gone; membership is a set
    assert(loaded.members.count() ===
      loaded.members.distinct().count())
    assert(probe() === before)
    assert(loaded.centers.map(_.toSeq).toSeq === idx.centers.map(_.toSeq).toSeq)
  }

  test("substr index: compact keeps probed spans, packs to targetFiles") {
    val a = docs.where(col("doc_id") % 3 === 0)
    val b = docs.where(col("doc_id") % 3 === 1)
    val c = docs.where(col("doc_id") % 3 === 2)
      .withColumn("text", concat(col("text"),
        lit(" by the riverbank the quiet fox waited for the morning")))
    val planted = a.limit(1).withColumn("text",
      lit("by the riverbank the quiet fox waited for the morning"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_subcmp").toString
    Dedup.buildSubstrIndex(a.unionByName(planted), "text", "doc_id", minLen = 8)
      .write.mode("overwrite").parquet(s"$tmp/idx")
    Dedup.appendSubstrIndex(b, "text", "doc_id", minLen = 8, s"$tmp/idx")
    Dedup.appendSubstrIndex(b, "text", "doc_id", minLen = 8, s"$tmp/idx")
    def probe() = Dedup.probeSubstrIndex(c,
        spark.read.parquet(s"$tmp/idx"), "text", "doc_id", minLen = 8)
      .collect().map(_.toString).toSet
    val before = probe()
    assert(before.nonEmpty, "planted span must be probed")
    val (nb, na) = IndexMaintenance.compact(spark, s"$tmp/idx", None,
      targetFiles = 2)
    assert(na === 2L && na < nb, s"$nb -> $na")
    assert(probe() === before)
  }

  test("ivf-pq index: compact keeps search results, one file per list") {
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val arrivals = emb.where(col("vec_id") % 5 === 0)
    val idx = PqIndex.buildIvfPq(base, "vec_id", "embedding",
      nLists = 16, m = 8, ksub = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqcmp").toString
    PqIndex.saveIvfPq(idx, s"$tmp/i")
    PqIndex.appendIvfPq(idx, arrivals, "vec_id", "embedding", s"$tmp/i")
    def run() = PqIndex.searchIvfPq(PqIndex.loadIvfPq(spark, s"$tmp/i"), emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nProbe = 4, shortlist = 64)
      .as[(Long, Long, Double, Int)].collect().toSet
    val before = run()
    val (nb, na) = IndexMaintenance.compact(spark, s"$tmp/i/codes", Some("list_id"))
    assert(na < nb, s"$nb -> $na")
    val lists = spark.read.parquet(s"$tmp/i/codes")
      .select("list_id").distinct().count()
    assert(na === lists, "one file per surviving list")
    assert(run() === before)
  }

  test("postings index: compact keeps bm25 scores bit-identical") {
    import graft.functions.Retrieval
    val corpus = (0L until 90L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13} pad${i % 3}"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_postcmp").toString
    Retrieval.buildPostings(corpus.where(col("doc_id") < 30),
        "text", "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/idx")
    Retrieval.appendPostings(corpus.where(col("doc_id") >= 30 &&
      col("doc_id") < 60), "text", "doc_id", s"$tmp/idx")
    // a double-submitted batch: identical rows land twice; compaction's
    // distinct pass must heal them back to the correct index
    Retrieval.appendPostings(corpus.where(col("doc_id") >= 60),
      "text", "doc_id", s"$tmp/idx")
    Retrieval.appendPostings(corpus.where(col("doc_id") >= 60),
      "text", "doc_id", s"$tmp/idx")
    val qt = Seq((1L, "tok3"), (1L, "pad1")).toDF("query_id", "term")
    val healthy = Retrieval.bm25TopK(corpus, "text", "doc_id", qt, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(x => (x._1, x._3)).toSeq
    def probe() = Retrieval.bm25TopKFromPostings(
        spark.read.parquet(s"$tmp/idx"), qt, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(x => (x._1, x._3)).toSeq
    val (nb, na) = IndexMaintenance.compact(spark, s"$tmp/idx", None)
    assert(na === 1L && na < nb, s"$nb -> $na")
    assert(probe() === healthy,
      "compacted (deduped) index must score like a from-scratch build")
  }

  test("bucketed postings: appends + shuffle-free compact score bit-identical") {
    import graft.functions.Retrieval
    val corpus = (0L until 90L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13} pad${i % 3}"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_postbkt").toString
    // three disjoint appends straight into the bucket layout
    Retrieval.appendPostingsBucketed(corpus.where(col("doc_id") < 30),
      "text", "doc_id", s"$tmp/idx", nBuckets = 4)
    Retrieval.appendPostingsBucketed(corpus.where(col("doc_id") >= 30 &&
      col("doc_id") < 60), "text", "doc_id", s"$tmp/idx", nBuckets = 4)
    Retrieval.appendPostingsBucketed(corpus.where(col("doc_id") >= 60),
      "text", "doc_id", s"$tmp/idx", nBuckets = 4)
    val qt = Seq((1L, "tok3"), (1L, "pad1")).toDF("query_id", "term")
    val healthy = Retrieval.bm25TopK(corpus, "text", "doc_id", qt, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(x => (x._1, x._3)).toSeq
    def probe() = Retrieval.bm25TopKFromPostings(
        spark.read.parquet(s"$tmp/idx").drop("bucket"), qt, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(probe() === healthy,
      "bucketed appends must score like a from-scratch build")
    // every term's postings landed in exactly one bucket — the layout
    // invariant the shuffle-free compact relies on
    val spread = spark.read.parquet(s"$tmp/idx")
      .groupBy("term").agg(countDistinct(col("bucket")).as("nb"))
      .where(col("nb") > 1)
    assert(spread.isEmpty, "a term spilled across buckets")
    val (nb, na) = IndexMaintenance.compactPostingsBucketed(spark, s"$tmp/idx")
    assert(na < nb, s"$nb -> $na")
    val buckets = spark.read.parquet(s"$tmp/idx")
      .select("bucket").distinct().count()
    assert(na === buckets + 1, "one file per surviving bucket + doclens")
    assert(probe() === healthy,
      "bucket-compacted index must score like a from-scratch build")
    // the doc-length sidecar: one row per indexed doc, and the
    // sidecar-stats path scores bit-identical to the index-derived path
    val dls = spark.read.parquet(Retrieval.doclensPath(s"$tmp/idx"))
    assert(dls.count() === 90L && dls.select("doc_id").distinct().count() === 90L)
    val viaSidecar = Retrieval.bm25TopKFromPostings(
        spark.read.parquet(s"$tmp/idx").drop("bucket"), qt, k = 10,
        doclens = Some(dls))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(viaSidecar === healthy,
      "doclens-sidecar stats must score like index-derived stats")
  }

  test("clustered bucketed append: identical index rows, one file per bucket") {
    import graft.functions.Retrieval
    val corpus = (0L until 90L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13} pad${i % 3}"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_postclu").toString
    Retrieval.appendPostingsBucketed(corpus.repartition(6), "text", "doc_id",
      s"$tmp/clu", nBuckets = 4, clustered = true)
    Retrieval.appendPostingsBucketed(corpus.repartition(6), "text", "doc_id",
      s"$tmp/flat", nBuckets = 4)
    def rows(p: String) = spark.read.parquet(p)
      .select("term", "doc_id", "tf", "dl", "bucket")
      .as[(String, Long, Long, Int, Int)].collect().toSet
    assert(rows(s"$tmp/clu") === rows(s"$tmp/flat"),
      "clustered placement must not change the index rows")
    // the exchange-by-bucket write leaves exactly one data file per
    // bucket partition — the compact-is-a-no-op property it exists for
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/clu"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val dataFiles = fs.listStatus(d.getPath).map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
      assert(dataFiles.length === 1,
        s"${d.getPath.getName}: expected 1 file, got ${dataFiles.length}")
    }
  }

  test("row-local postings builder emits bit-identical rows to the agg form") {
    import graft.functions.Retrieval
    val corpus = (0L until 120L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 7} pad${i % 3} tok${i % 11}"))
      .toDF("doc_id", "text") // repeated terms exercise the tf counting
    val agg = Retrieval.buildPostings(corpus, "text", "doc_id")
    val rowLocal = Retrieval.buildPostingsRowLocal(corpus, "text", "doc_id")
    assert(agg.exceptAll(rowLocal).isEmpty && rowLocal.exceptAll(agg).isEmpty)
    // and truly shuffle-free: no exchange in the row-local plan
    val plan = rowLocal.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
