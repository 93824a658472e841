package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger synthetic scale factor from an existing fixture
  * directory by replicating each table `copies` times with shifted keys —
  * local evidence for how the engine's plans scale beyond the driver's
  * sf0.1 bench (see SCALING.md). Usage:
  * `tools/run.sh graft.tools.ScaleUp <srcSfDir> <dstDir> <copies>`.
  *
  *  - Fact/entity keys shift by `i * Shift` per replica so join
  *    cardinalities scale linearly and key spaces stay disjoint.
  *  - `region`/`nation` stay single-copy (true dims; nationkey references
  *    are NOT shifted, so every replica joins the same 25/5 rows —
  *    exactly how a dim behaves at scale).
  *  - `documents.text` is deterministically permuted per replica (tokens
  *    reordered by xxhash64(token ++ replica)): per-doc length/vocab stats
  *    are preserved, intra-replica duplicate structure is preserved, but
  *    replicas are NOT near-duplicates of each other — so dedup workloads
  *    scale like organic data instead of a 10-way copy explosion.
  *  - Output is written with multiple files per table (repartitioned), so
  *    scans parallelize the way real multi-file datasets do — the sf0.1
  *    fixtures are single-row-group files that cap scan parallelism.
  */
object ScaleUp {

  val Shift = 100000000L

  def main(args: Array[String]): Unit = {
    // serialize with any other heavyweight graft JVM (VERDICT r9 item 6)
    RunLock.acquire("scaleup")
    val Array(src, dst, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, copies)
    spark.stop()
  }

  /** Callable form (Bench regenerates a missing 10× dir through this). */
  def scale(spark: SparkSession, src: String, dst: String,
            copies: Int): Unit = {

    def replicate(name: String, keyCols: Seq[String],
                  perReplica: (DataFrame, Int) => DataFrame = (d, _) => d,
                  files: Int = 8, times: Int = 0): Unit = {
      val n = if (times > 0) times else copies
      val df = Tables.read(spark, src, name)
      val out = (0 until n).map { i =>
        val shifted = keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Shift)))
        perReplica(shifted, i)
      }.reduce(_ union _)
      out.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      System.err.println(s"[scaleup] $name x$copies done")
    }

    // deterministic per-replica token permutation: same unigram multiset,
    // different shingle sets — replicas are not near-dups of each other
    def permuteText(d: DataFrame, i: Int): DataFrame =
      if (i == 0) d
      else d.withColumn("text",
        concat_ws(" ", transform(
          array_sort(transform(split(col("text"), "\\s+"),
            t => struct(xxhash64(concat(t, lit(i))).as("h"), t.as("t")))),
          s => s.getField("t"))))

    // true dims stay single-copy: replicas reference the same nation keys
    replicate("region", Nil, files = 1, times = 1)
    replicate("nation", Nil, files = 1, times = 1)
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"), files = 2)
    replicate("part", Seq("p_partkey"), files = 2)
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"),
      files = 16)
    // events.ts is written as plain TIMESTAMP(MICROS) — what Spark's
    // writer emits for TimestampType. DuckDB reads it natively, so the
    // full oracle gate runs on scaled dirs with no check.py translation
    // (the driver's TIMESTAMP(NANOS) fixtures stay a read-side concern of
    // Tables.read, which is schema-adaptive).
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), perReplica = permuteText)
    replicate("embeddings", Seq("vec_id"))
  }
}
