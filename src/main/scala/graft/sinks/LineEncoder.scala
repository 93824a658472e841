package graft.sinks

import graft.config.StreamConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
import java.nio.charset.StandardCharsets.UTF_8

/** `lines` encoded records: line `i` is `bytes(start(i) until ends(i))`,
  * its newline included. With a replication key, `keys` holds each line's
  * key as a one-field UnsafeRow that ends at `keyEnds(i)`, and `maxLine`
  * is the first line whose key is the block's max in [[MaxKey]]'s order
  * (-1 without a key or when every key is null). Serializable: a task on a
  * remote executor sends its blocks to the driver as they are.
  */
final class LineBlock private[sinks] (val lines: Int, val bytes: Array[Byte], val ends: Array[Int],
                                      keys: Array[Byte], keyEnds: Array[Int], key: RepKey,
                                      val maxLine: Int) extends Serializable {

  def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)

  /** Line `i` without its newline. */
  def line(i: Int): String = span(i, i + 1)

  /** Lines `from until to`, joined by their newlines, without the last. */
  def span(from: Int, to: Int): String = new String(bytes, start(from), ends(to - 1) - 1 - start(from), UTF_8)

  /** Offer line `i`'s replication key to `max`, its bookmark string made
    * only if it wins; a no-op without a key.
    */
  def offerKey(i: Int, max: MaxKey): Unit = if (key != null) {
    val row = LineBlock.key(keys, keyEnds, i)
    max.add(row.get(0, key.dataType), key.bookmark(row))
  }

  /** Offer the block's max key to `max`: the same as offering every line's. */
  def offerMax(max: MaxKey): Unit = if (maxLine >= 0) offerKey(maxLine, max)
}

object LineBlock {
  private def key(keys: Array[Byte], keyEnds: Array[Int], i: Int): UnsafeRow = {
    val from = if (i == 0) 0 else keyEnds(i - 1)
    val row = new UnsafeRow(1)
    row.pointTo(keys, BYTE_ARRAY_OFFSET + from, keyEnds(i) - from)
    row
  }

  /** A block fresh from the encoder, its `maxLine` found here: the first
    * line holding the max non-null key, compared as [[MaxKey]] compares.
    */
  private[sinks] def apply(lines: Int, bytes: Array[Byte], ends: Array[Int],
                           keys: Array[Byte], keyEnds: Array[Int], key: RepKey): LineBlock = {
    var best: Comparable[Any] = null
    var at = -1
    var i = 0
    while (key != null && i < lines) {
      val row = LineBlock.key(keys, keyEnds, i)
      if (!row.isNullAt(0)) {
        val v = row.get(0, key.dataType).asInstanceOf[Comparable[Any]]
        if (best == null || v.compareTo(best) > 0) { best = v; at = i }
      }
      i += 1
    }
    new LineBlock(lines, bytes, ends, keys, keyEnds, key, at)
  }
}

/** A stream's replication key: its type, and its bookmark string, the
  * session-zone `CAST(… AS STRING)` evaluated over a row of the key alone.
  */
private[sinks] final class RepKey(val dataType: DataType, cast: Expression) extends Serializable {
  // a copy per thread: the formatter of a legacy time policy is not thread-safe
  @transient private lazy val casts = ThreadLocal.withInitial[Expression](() => cast.clone())

  def bookmark(row: InternalRow): String = casts.get.eval(row).toString
}

/** The one block line encoder both sinks run. A task copies its
  * partition's conformed rows into batches of [[LineEncoder.BatchRows]]
  * and encodes each into a [[LineBlock]]: a [[RecordWriter]] compiled
  * from the frame's schema writes each record's JSON — the bytes
  * `to_json` writes for the row with its timestamps and dates in their
  * reference string forms — straight into the block's bytes, between the
  * envelope's `prefix` and `suffix` (a RECORD message's, empty in batch
  * mode), so a block holds its lines' final wire bytes. With a
  * replication key, each line also keeps its native key, the order of the
  * bookmark; the bookmark string is made only for a key that wins. Batches
  * go through an [[InOrder]] queue of a [[CoreBudget]]: to a helper while a
  * core is idle, otherwise encoded by the task thread itself; at most
  * [[LineEncoder.MaxInFlight]] are pending, and blocks come back in input
  * order.
  *
  * Every thread compiles its own writer: Spark's formatters and JSON
  * generators it may hold are not thread-safe.
  */
final class LineEncoder private (schema: StructType, zone: String, keyExpr: Expression, key: RepKey,
                                 prefix: Array[Byte], suffix: Array[Byte]) extends Serializable {
  import LineEncoder._

  @transient private lazy val writers = ThreadLocal.withInitial[Writers](() => new Writers(schema, zone, keyExpr))

  /** Encode `rows` into blocks; `finish` gets each block and the index of
    * its first line among `rows` and runs on the thread that encoded the
    * block, `consume` on this one, in input order. Waits for every pending
    * block before it returns or throws.
    */
  def encode[T](rows: Iterator[InternalRow], budget: CoreBudget = CoreBudget.shared)
               (finish: (LineBlock, Long) => T)(consume: T => Unit): Unit = {
    // helpers are not task threads: they evaluate under the task's conf
    val conf = SQLConf.get
    val pending = new InOrder[T](budget, MaxInFlight, consume)
    try {
      var first = 0L
      while (rows.hasNext) {
        val batch = new Array[InternalRow](BatchRows)
        var n = 0
        while (n < BatchRows && rows.hasNext) { batch(n) = rows.next().copy(); n += 1 }
        val (size, at) = (n, first)
        pending.submit(() => SQLConf.withExistingConf(conf)(finish(encodeBatch(batch, size), at)))
        first += n
      }
      pending.flush()
    } finally pending.close()
  }

  private def encodeBatch(rows: Array[InternalRow], n: Int): LineBlock = {
    val w = writers.get()
    val out = new ByteOut(w.bytesHint)
    val ends = new Array[Int](n)
    val keys = if (key == null) null else new ByteOut(w.keysHint)
    val keyEnds = if (key == null) null else new Array[Int](n)
    var i = 0
    while (i < n) {
      out.put(prefix)
      w.record.write(rows(i), out)
      out.put(suffix)
      out.put('\n')
      ends(i) = out.fill
      if (key != null) {
        val k = w.key(rows(i))
        keys.room(k.getSizeInBytes)
        k.writeToMemory(keys.bytes, BYTE_ARRAY_OFFSET + keys.fill)
        keys.fill += k.getSizeInBytes
        keyEnds(i) = keys.fill
      }
      i += 1
    }
    w.bytesHint = math.max(w.bytesHint, out.fill)
    if (key == null) LineBlock(n, out.bytes, ends, null, null, null)
    else {
      w.keysHint = math.max(w.keysHint, keys.fill)
      LineBlock(n, out.bytes, ends, keys.bytes, keyEnds, key)
    }
  }
}

object LineEncoder {
  val BatchRows = 2048
  val MaxInFlight = 8

  /** The encoder of `df`'s records, over `df.queryExecution.toRdd`'s
    * rows, each line enveloped in `envelope`'s (prefix, suffix).
    */
  def apply(df: DataFrame, stream: StreamConfig, envelope: (String, String) = ("", "")): LineEncoder = {
    val output = df.queryExecution.analyzed.output
    val (keyExpr, key) = stream.replicationKey match {
      case None => (null, null)
      case Some(k) =>
        df.select(col(k), col(k).cast("string")).queryExecution.analyzed match {
          case Project(Seq(column, Alias(cast: Cast, _)), _) =>
            val rk = column match { case a: Alias => a.child; case e => e }
            (BindReferences.bindReference(rk, output),
              new RepKey(rk.dataType, cast.withNewChildren(Seq(BoundReference(0, rk.dataType, nullable = true)))))
          case other => throw new IllegalStateException(s"not a key projection: $other")
        }
    }
    new LineEncoder(df.queryExecution.analyzed.schema, df.sparkSession.sessionState.conf.sessionLocalTimeZone,
      keyExpr, key, envelope._1.getBytes(UTF_8), envelope._2.getBytes(UTF_8))
  }

  /** One thread's record writer and key projection. */
  private final class Writers(schema: StructType, zone: String, keyExpr: Expression) {
    val record = new RecordWriter(schema, zone)
    val key: UnsafeProjection = if (keyExpr == null) null else UnsafeProjection.create(Seq(keyExpr))
    // the largest block so far, to size the next one's buffers
    var bytesHint, keysHint = 1 << 16
  }
}
