package graft.sinks

import java.io.OutputStream
import java.util.zip.{CRC32, Deflater}

/** A gzip writer that compresses in parallel, pigz-style, and writes one
  * standard gzip member (RFC 1952) that any gunzip reads.
  *
  * The uncompressed stream is cut into fixed
  * [[BlockGzipOutputStream.BlockSize]] blocks. Each is raw-deflated at the default level with the previous
  * block's last 32 KB as its dictionary; every block but the last ends with
  * a `SYNC_FLUSH` (a byte boundary), the last with `FINISH`. So a block's
  * bytes depend only on its own input and its predecessor's, never on which
  * thread compressed it or when: the file is byte-identical whatever the
  * scheduling. The writing thread keeps the CRC32 and length for the
  * trailer.
  *
  * Full blocks go through an [[InOrder]] queue of `budget`: to a helper
  * thread while a core is idle, otherwise deflated by the writing thread
  * itself. At most [[BlockGzipOutputStream.MaxInFlight]] blocks are
  * pending, and compressed blocks are written to `raw`, in order, by the
  * writing thread only. `close()` waits for every pending block, also when
  * it fails, before closing `raw`.
  */
final class BlockGzipOutputStream(raw: OutputStream, budget: CoreBudget = CoreBudget.shared)
    extends OutputStream {
  import BlockGzipOutputStream._

  private val crc = new CRC32
  private var size = 0L
  private var block = new Array[Byte](BlockSize)
  private var fill = 0
  private var prev: Array[Byte] = null // the previous block: this one's dictionary
  private val pending = new InOrder[Array[Byte]](budget, MaxInFlight, raw.write(_))
  private var closed = false
  raw.write(Header)

  override def write(b: Int): Unit = {
    if (fill == BlockSize) submit(last = false)
    block(fill) = b.toByte
    fill += 1
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    val end = off + len
    while (o < end) {
      if (fill == BlockSize) submit(last = false)
      val k = math.min(end - o, BlockSize - fill)
      System.arraycopy(b, o, block, fill, k)
      fill += k
      o += k
    }
  }

  override def close(): Unit = if (!closed) {
    closed = true
    try {
      submit(last = true)
      pending.flush()
      val t = new Array[Byte](8)
      littleEndian(t, 0, crc.getValue)
      littleEndian(t, 4, size)
      raw.write(t)
    } finally {
      // on failure too: a helper still deflating must finish before the
      // file closes (it holds a core slot until it returns)
      pending.close()
      raw.close()
    }
  }

  /** Hand the current block to a helper or deflate it here; a block is
    * only submitted once the next byte arrives or the stream closes, so
    * the last block (possibly empty) is the one that ends with FINISH.
    */
  private def submit(last: Boolean): Unit = {
    crc.update(block, 0, fill)
    size += fill
    val (in, len, dict) = (block, fill, prev)
    pending.submit(() => deflate(in, len, dict, last))
    prev = block
    block = if (last) null else new Array[Byte](BlockSize)
    fill = 0
  }
}

object BlockGzipOutputStream {
  val BlockSize: Int = 256 * 1024
  val MaxInFlight = 8
  private val DictSize = 32 * 1024

  // ID1 ID2 CM=deflate FLG=0 MTIME=0 XFL=0 OS=unknown
  private val Header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

  private def littleEndian(b: Array[Byte], at: Int, v: Long): Unit =
    (0 until 4).foreach(i => b(at + i) = (v >>> (8 * i)).toByte)

  // one raw deflater and output buffer per thread, reset for each block
  private val deflaters = ThreadLocal.withInitial[Deflater](() =>
    new Deflater(Deflater.DEFAULT_COMPRESSION, true))
  private val scratch = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](BlockSize + BlockSize / 8))

  private def deflate(in: Array[Byte], len: Int, dict: Array[Byte], last: Boolean): Array[Byte] = {
    val d = deflaters.get()
    d.reset()
    if (dict != null) d.setDictionary(dict, BlockSize - DictSize, DictSize)
    d.setInput(in, 0, len)
    if (last) d.finish()
    var out = scratch.get()
    var n = 0
    var done = false
    while (!done) {
      if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      n += d.deflate(out, n, out.length - n, if (last) Deflater.NO_FLUSH else Deflater.SYNC_FLUSH)
      // a sync flush is complete once deflate leaves output space unused
      done = if (last) d.finished() else n < out.length
    }
    java.util.Arrays.copyOf(out, n)
  }
}
