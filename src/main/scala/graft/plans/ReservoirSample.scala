package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic distributed reservoir sample of k strings — a custom
  * `TypedImperativeAggregate` (mutable sketch buffer, like the built-in
  * HLL/CountMinSketch aggregates).
  *
  * Classic reservoir sampling is order-dependent, which breaks under
  * Spark's nondeterministic partial/final merge order. This variant keeps
  * the k values with the SMALLEST xxhash64(value, seed) — a bottom-k
  * sketch: commutative, associative, and idempotent, so any merge tree
  * yields the same result, and the "random" choice is still uniform over
  * distinct values. Mergeable bottom-k is exactly how you sample 100 TB
  * in one pass with map-side partial aggregation.
  *
  * With `portable = true` the ordering key is the first 64 bits of
  * `md5(value)` instead of xxhash64 — any md5-capable engine (DuckDB,
  * PostgreSQL) reproduces the sample exactly as "the k distinct values
  * with smallest `substring(md5(v), 1, 16)`", which makes per-group
  * samples fully oracle-checkable at ~md5 cost per row.
  */
case class ReservoirSample(
    child: Expression, k: Int, seed: Long, portable: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ReservoirSample.Buffer] {

  import ReservoirSample.Buffer

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_reservoir requires a STRING column, got ${other.sql}")
    }

  override def createAggregationBuffer(): Buffer = new Buffer(k)

  override def update(b: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val h = if (portable) ReservoirSample.md5Key(s)
              else XxHash64Function.hash(s, StringType, seed)
      b.offer(h, s.clone())
    }
    b
  }

  override def merge(b: Buffer, other: Buffer): Buffer = { b.mergeWith(other); b }

  override def eval(b: Buffer): Any =
    new GenericArrayData(b.sorted.map(_._2.asInstanceOf[Any]))

  override def serialize(b: Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val items = b.sorted
    out.writeInt(items.length)
    items.foreach { case (h, s) =>
      out.writeLong(h)
      val bytes = s.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new Buffer(k)
    var i = 0
    while (i < n) {
      val h = in.readLong()
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      b.offer(h, UTF8String.fromBytes(arr))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ReservoirSample =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReservoirSample =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ReservoirSample =
    copy(child = c.head)
  override def prettyName: String = "graft_reservoir"
}

object ReservoirSample {

  /** Bottom-k buffer: keeps the k (hash, value) pairs with smallest hash;
    * ties/duplicate hashes dedupe (same value hashes identically).
    */
  final class Buffer(k: Int) {
    private val map = new java.util.TreeMap[java.lang.Long, UTF8String]()

    def offer(h: Long, s: UTF8String): Unit = {
      if (!map.containsKey(h)) {
        map.put(h, s)
        if (map.size > k) map.remove(map.lastKey())
      }
    }
    def mergeWith(other: Buffer): Unit = {
      val it = other.map.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); offer(e.getKey, e.getValue) }
    }
    def sorted: Array[(Long, UTF8String)] = {
      val out = new Array[(Long, UTF8String)](map.size)
      val it = map.entrySet().iterator()
      var i = 0
      while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
      out
    }
  }

  /** Cross-engine-reproducible bottom-k: keys on md5 instead of xxhash64,
    * so a DuckDB/PostgreSQL oracle recomputes the exact same sample.
    */
  def portableReservoir(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      ReservoirSample(org.apache.spark.sql.GraftBridge.expression(c), k, 0L,
        portable = true).toAggregateExpression())

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(value) as a signed Long whose signed order equals
    * the unsigned/lexicographic order of the hex digest (the sign bit is
    * flipped), i.e. ordering by this key == ordering by
    * `substring(md5(v), 1, 16)` in any SQL engine.
    */
  def md5Key(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h ^ Long.MinValue
  }
}
