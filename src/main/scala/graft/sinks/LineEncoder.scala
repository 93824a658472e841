package graft.sinks

import graft.config.StreamConfig
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

/** `lines` encoded records: line `i` is `bytes(start(i) until ends(i))`,
  * its newline included. With a replication key, `keys` holds each line's
  * (`rk`, `rks`) as an UnsafeRow that ends at `keyEnds(i)`, and `maxLine`
  * is the first line whose key is the block's max in [[MaxKey]]'s order
  * (-1 without a key or when every key is null).
  */
final class LineBlock private[sinks] (val lines: Int, val bytes: Array[Byte], val ends: Array[Int],
                                      keys: Array[Byte], keyEnds: Array[Int], keyType: DataType,
                                      val maxLine: Int) {

  def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)

  /** Line `i` without its newline. */
  def line(i: Int): String = span(i, i + 1)

  /** Lines `from until to`, joined by their newlines, without the last. */
  def span(from: Int, to: Int): String = new String(bytes, start(from), ends(to - 1) - 1 - start(from), UTF_8)

  /** Offer line `i`'s replication key to `max`; a no-op without a key. */
  def offerKey(i: Int, max: MaxKey): Unit = if (keyType != null) {
    val row = LineBlock.key(keys, keyEnds, i)
    max.add(row.get(0, keyType), row.getUTF8String(1).toString)
  }

  /** Offer the block's max key to `max`: the same as offering every line's. */
  def offerMax(max: MaxKey): Unit = if (maxLine >= 0) offerKey(maxLine, max)

  /** The block compressed with `codec`: what a RECORD-mode task returns. */
  def compress(codec: CompressionCodec): Array[Byte] = {
    val buf = new ByteArrayOutputStream(ends(lines - 1) / 4)
    val out = new DataOutputStream(codec.compressedOutputStream(buf))
    out.writeInt(lines)
    out.writeInt(maxLine)
    out.write(LineBlock.packed(ends))
    out.write(bytes, 0, ends(lines - 1))
    if (keyType != null) {
      out.write(LineBlock.packed(keyEnds))
      out.write(keys, 0, keyEnds(lines - 1))
    }
    out.close()
    buf.toByteArray
  }
}

object LineBlock {
  private def packed(a: Array[Int]): Array[Byte] = {
    val b = ByteBuffer.allocate(4 * a.length)
    b.asIntBuffer().put(a)
    b.array()
  }

  private def unpacked(in: DataInputStream, n: Int): Array[Int] = {
    val b = in.readNBytes(4 * n)
    val a = new Array[Int](n)
    ByteBuffer.wrap(b).asIntBuffer().get(a)
    a
  }

  private def key(keys: Array[Byte], keyEnds: Array[Int], i: Int): UnsafeRow = {
    val from = if (i == 0) 0 else keyEnds(i - 1)
    val row = new UnsafeRow(2)
    row.pointTo(keys, BYTE_ARRAY_OFFSET + from, keyEnds(i) - from)
    row
  }

  /** A block fresh from the encoder, its `maxLine` found here: the first
    * line holding the max non-null key, compared as [[MaxKey]] compares.
    */
  private[sinks] def apply(lines: Int, bytes: Array[Byte], ends: Array[Int],
                           keys: Array[Byte], keyEnds: Array[Int], keyType: DataType): LineBlock = {
    var best: Comparable[Any] = null
    var at = -1
    var i = 0
    while (keyType != null && i < lines) {
      val row = key(keys, keyEnds, i)
      if (!row.isNullAt(0)) {
        val v = row.get(0, keyType).asInstanceOf[Comparable[Any]]
        if (best == null || v.compareTo(best) > 0) { best = v; at = i }
      }
      i += 1
    }
    new LineBlock(lines, bytes, ends, keys, keyEnds, keyType, at)
  }

  private[sinks] def decompress(codec: CompressionCodec, data: Array[Byte], keyType: DataType): LineBlock = {
    val in = new DataInputStream(codec.compressedInputStream(new ByteArrayInputStream(data)))
    try {
      val lines = in.readInt()
      val maxLine = in.readInt()
      val ends = unpacked(in, lines)
      val bytes = in.readNBytes(ends(lines - 1))
      if (keyType == null) new LineBlock(lines, bytes, ends, null, null, null, maxLine)
      else {
        val keyEnds = unpacked(in, lines)
        new LineBlock(lines, bytes, ends, in.readNBytes(keyEnds(lines - 1)), keyEnds, keyType, maxLine)
      }
    } finally in.close()
  }
}

/** The one block line encoder both sinks run. A task copies its partition's
  * conformed rows into batches of [[LineEncoder.BatchRows]] and encodes each
  * into a [[LineBlock]] with [[SingerSink.encode]]'s own expressions — the
  * record's `to_json`, and `rk`/`rks` for an incremental stream — so the
  * bytes are exactly that frame's, each line between the envelope's
  * `prefix` and `suffix` (a RECORD message's, empty in batch mode), so a
  * block holds its lines' final wire bytes. Batches go through an [[InOrder]] queue
  * of a [[CoreBudget]]: to a helper while a core is idle, otherwise encoded
  * by the task thread itself; at most [[LineEncoder.MaxInFlight]] are
  * pending, and blocks come back in input order.
  *
  * Every thread evaluates its own copy of the expressions: `to_json` keeps
  * one JSON generator per expression instance, so a shared projection
  * would interleave two threads' records.
  */
final class LineEncoder private (exprs: Seq[Expression], keyType: DataType,
                                 prefix: Array[Byte], suffix: Array[Byte]) extends Serializable {
  import LineEncoder._

  @transient private lazy val projections = ThreadLocal.withInitial[Projections](() => new Projections(exprs))

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

  /** A block back from [[LineBlock.compress]]. */
  def decompress(codec: CompressionCodec, data: Array[Byte]): LineBlock =
    LineBlock.decompress(codec, data, keyType)

  private def encodeBatch(rows: Array[InternalRow], n: Int): LineBlock = {
    val p = projections.get()
    val ends = new Array[Int](n)
    val keyEnds = if (keyType == null) null else new Array[Int](n)
    var bytes = new Array[Byte](p.bytesHint)
    var keys = if (keyType == null) null else new Array[Byte](p.keysHint)
    var fill, keyFill = 0
    var i = 0
    while (i < n) {
      val json = p.json(rows(i)).getUTF8String(0)
      bytes = room(bytes, fill + prefix.length + json.numBytes + suffix.length + 1)
      System.arraycopy(prefix, 0, bytes, fill, prefix.length)
      fill += prefix.length
      json.writeToMemory(bytes, BYTE_ARRAY_OFFSET + fill)
      fill += json.numBytes
      System.arraycopy(suffix, 0, bytes, fill, suffix.length)
      fill += suffix.length
      bytes(fill) = '\n'
      fill += 1
      ends(i) = fill
      if (keyType != null) {
        val key = p.key(rows(i))
        keys = room(keys, keyFill + key.getSizeInBytes)
        key.writeToMemory(keys, BYTE_ARRAY_OFFSET + keyFill)
        keyFill += key.getSizeInBytes
        keyEnds(i) = keyFill
      }
      i += 1
    }
    p.bytesHint = math.max(p.bytesHint, fill)
    p.keysHint = math.max(p.keysHint, keyFill)
    LineBlock(n, bytes, ends, keys, keyEnds, keyType)
  }
}

object LineEncoder {
  val BatchRows = 2048
  val MaxInFlight = 8

  /** The encoder of `encode(df, stream)`, over `df.queryExecution.toRdd`'s
    * rows, each line enveloped in `envelope`'s (prefix, suffix).
    */
  def apply(df: DataFrame, stream: StreamConfig, envelope: (String, String) = ("", "")): LineEncoder =
    SingerSink.encode(df, stream).queryExecution.analyzed match {
      case Project(list, _) =>
        val exprs = list.map { case a: Alias => a.child; case e => e }
        new LineEncoder(BindReferences.bindReferences(exprs, df.queryExecution.analyzed.output),
          list.lift(1).map(_.dataType).orNull, envelope._1.getBytes(UTF_8), envelope._2.getBytes(UTF_8))
      case other => throw new IllegalStateException(s"not a projection: $other")
    }

  private def room(a: Array[Byte], need: Int): Array[Byte] =
    if (need <= a.length) a else Arrays.copyOf(a, math.max(2 * a.length, need))

  /** One thread's projections of fresh copies of the expressions, with
    * runtime-replaceable ones (`to_json`) replaced as the optimizer would.
    */
  private final class Projections(bound: Seq[Expression]) {
    private val replaced = ReplaceExpressions(
      Project(bound.map(e => Alias(e.clone(), "_")()), LocalRelation())
    ).asInstanceOf[Project].projectList.map(_.asInstanceOf[Alias].child)
    val json: UnsafeProjection = UnsafeProjection.create(replaced.take(1))
    val key: UnsafeProjection = if (replaced.length > 1) UnsafeProjection.create(replaced.drop(1)) else null
    // the largest block so far, to size the next one's buffers
    var bytesHint, keysHint = 1 << 16
  }
}
