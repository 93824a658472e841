package graft.queries

import graft.functions.Dedup
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan fixtures shared by several families: planted documents and the
  * file-stream feed of the streaming twins.
  */
private[queries] object Fixtures {

  /** The boilerplate paragraph the exact-substring entries plant. */
  val quickFox = "the quick brown fox jumps over the lazy dog near the river bank"

  /** The sentence the cross-slice span entries plant. */
  val riverbank =
    "by the riverbank the quiet fox waited for the morning light to come"

  /** The documents with `sentence` planted as a prefix where `prefix`
    * holds and as a suffix where `suffix` holds.
    */
  def plantedDocs(spark: SparkSession, dir: String, sentence: String,
                  prefix: Column, suffix: Column): DataFrame =
    Tables.read(spark, dir, "documents")
      .withColumn("text", concat(
        when(prefix, lit(sentence + " ")).otherwise(lit("")),
        col("text"),
        when(suffix, lit(" " + sentence)).otherwise(lit(""))))

  /** The document `text` deterministically wrapped in HTML: tags around
    * the even ids, an entity-laden sentence appended to the %3 ids.
    */
  def htmlWrapped: Column =
    concat(
      when(col("doc_id") % 2 === 0,
        lit("<html><body class=\"page\"><p>")).otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 3 === 0,
        lit(" <b>bold</b>&nbsp;&amp;&nbsp;more &lt;than&gt; that<br/>"))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("</p></body></html>"))
        .otherwise(lit("")))

  /** [[quickFox]] planted as a prefix of the %7 docs and a suffix of the
    * %11 docs — offsets no fixed token grid aligns on.
    */
  def boilerDocs(spark: SparkSession, dir: String): DataFrame =
    plantedDocs(spark, dir, quickFox,
      col("doc_id") % 7 === 0, col("doc_id") % 11 === 0)

  /** Watermark delay covering the fixture's full event-time span (any
    * arrival order is inside the lateness bound) and a sentinel timestamp
    * far enough ahead that the final watermark passes every real event.
    */
  private[queries] def sentinelBounds(spark: SparkSession,
                             ev: DataFrame): (Long, java.sql.Timestamp) = {
    import spark.implicits._
    val (spanSec, maxSec) = ev.selectExpr(
        "unix_timestamp(max(ts)) - unix_timestamp(min(ts))",
        "unix_timestamp(max(ts))")
      .as[(Long, Long)].head()
    val delaySec = spanSec + 3600L
    (delaySec, new java.sql.Timestamp((maxSec + delaySec + 7200L) * 1000L))
  }

  /** Stream a batch fixture through the real file source: the fixture rows
    * land in batch 1, a far-future sentinel row in batch 2 — advancing the
    * watermark past every real event so watermark-buffered operators seal
    * and drain via their event-time timeouts. The temp-dir copy exists
    * only because the gate's input is a static directory; in production
    * the source is Kafka/landing files and live data advances the
    * watermark. Returns the watermarked streaming DataFrame (schema =
    * `ev.schema`, event-time column `ts`).
    */
  private[queries] def streamWithSentinel(spark: SparkSession, ev: DataFrame,
                                 sentinel: DataFrame,
                                 delaySec: Long,
                                 watermarkOnTs: Boolean = true,
                                 rebalanceFeed: Boolean = false): DataFrame = {
    val root = graft.tools.Scratch.dir("graft-stream-gate")
    // rebalanceFeed (r11): a one-file fixture lands as ONE feed file,
    // and the file stream assigns one task per file — so a per-row-HEAVY
    // stateless stage (the unigram stream's 2M Viterbi folds) runs
    // single-task for the whole drain; more feed files = more batch-1
    // tasks (batch composition unchanged: all event files share one
    // mtime and maxFilesPerTrigger is their count). OPT-IN because for
    // cheap-row stateful twins the extra feed exchange + map-task fanout
    // into the state-store shuffle measured neutral-to-worse
    // (events_concurrency_stream 7.8 vs 11.0 s at 10×); enabled where
    // the win is measured (text_unigram_stream 13.5→7.2 s at 10×).
    (if (rebalanceFeed) Dedup.rebalance(ev) else ev)
      .write.parquet(s"$root/events")
    sentinel.coalesce(1).write.parquet(s"$root/sentinel")
    // file source reads oldest-mtime first: all event files land in
    // batch 1 (strictly older mtime + maxFilesPerTrigger = their count),
    // the sentinel in batch 2
    val base = System.currentTimeMillis() - 3600_000L
    import scala.jdk.CollectionConverters._
    def stamp(sub: String, t: Long): Long = {
      val ps = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/$sub"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      ps.foreach(_.toFile.setLastModified(t))
      ps.size
    }
    val nEventFiles = stamp("events", base)
    stamp("sentinel", base + 60_000L)
    val raw = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", nEventFiles.toString)
      .parquet(s"$root/{events,sentinel}/*")
    // watermarkOnTs=false hands back the raw stream for operators whose
    // event time is DERIVED from ts (e.g. report days): Spark forbids
    // redefining a watermark downstream, so the caller sets the only one
    if (watermarkOnTs) raw.withWatermark("ts", s"$delaySec seconds") else raw
  }
}
