package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch over a string column — the bounded-
  * memory answer to "which n-grams / domains / tokens dominate this
  * corpus". A `TypedImperativeAggregate` holding at most `capacity`
  * counters per buffer; partials merge with the Agarwal et al.
  * (PODS '12, "Mergeable Summaries") rule, so map-side combine applies
  * and the shuffle carries O(capacity) rows per partition instead of one
  * row per DISTINCT item — the difference between a bounded sketch and a
  * corpus-vocabulary-sized exchange at 100 TB.
  *
  * Guarantees (n = total items seen): every counter underestimates its
  * item's true count by at most n/(capacity+1), and any item with true
  * count > n/(capacity+1) is present in the sketch. The top of the
  * sketch is therefore a superset of the true heavy hitters at that
  * margin. Which LIGHT items survive DOES depend on input order and
  * partitioning — this is an estimate, so (like the t-digest and HLL) it
  * is spec-verified against its error bound rather than hash-gated; the
  * exact groupBy-count top-k is the oracle-checkable counterpart.
  *
  * eval() returns `array<struct<item, est>>` sorted by (est desc, item)
  * — deterministic given the final counter set.
  */
case class MisraGries(
    child: Expression, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_misra_gries requires a STRING column, got ${other.sql}")
    }

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  /** Classic MG step: count if tracked or room remains; otherwise charge
    * one decrement to every counter (amortized O(1) — each decrement
    * pays back a previous increment) and drop zeros.
    */
  private def offer(b: java.util.HashMap[String, Long], item: String,
                    by: Long): Unit = {
    val cur = b.get(item)
    if (cur != 0L || b.containsKey(item)) b.put(item, cur + by)
    else if (b.size < capacity) b.put(item, by)
    else {
      // decrement all by min(by, smallest counter) batches the classic
      // one-at-a-time rule; same invariant (total decrement ≤ total
      // increment, error ≤ n/(capacity+1))
      var minC = Long.MaxValue
      val it0 = b.values().iterator()
      while (it0.hasNext) { val v = it0.next(); if (v < minC) minC = v }
      val d = math.min(by, minC)
      val it = b.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - d
        if (nv <= 0) it.remove() else e.setValue(nv)
      }
      if (by > d) offer(b, item, by - d)
    }
  }

  override def update(b: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) offer(b, v.asInstanceOf[UTF8String].toString, 1L)
    b
  }

  /** Mergeable-summaries rule: pointwise add, then if over capacity
    * subtract the (capacity+1)-th largest count from everything and drop
    * non-positives — error bounds add across merges.
    */
  override def merge(b: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b.get(e.getKey)
      b.put(e.getKey, cur + e.getValue)
    }
    if (b.size > capacity) {
      val counts = new Array[Long](b.size)
      var i = 0
      val vs = b.values().iterator()
      while (vs.hasNext) { counts(i) = vs.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val cut = counts(b.size - capacity - 1) // (capacity+1)-th largest
      val jt = b.entrySet().iterator()
      while (jt.hasNext) {
        val e = jt.next()
        val nv = e.getValue - cut
        if (nv <= 0) jt.remove() else e.setValue(nv)
      }
    }
    b
  }

  override def eval(b: java.util.HashMap[String, Long]): Any = {
    val entries = new Array[(String, Long)](b.size)
    var i = 0
    val it = b.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
    java.util.Arrays.sort(entries, new java.util.Comparator[(String, Long)] {
      def compare(x: (String, Long), y: (String, Long)): Int = {
        val c = java.lang.Long.compare(y._2, x._2)
        if (c != 0) c else x._1.compareTo(y._1)
      }
    })
    new GenericArrayData(entries.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c): Any
    })
  }

  // length-prefixed UTF-8 bytes, not writeUTF: writeUTF caps one string
  // at 64 KB and a pathological item (a megabyte "line" in crawl data)
  // would kill the shuffle serializer
  override def serialize(b: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      b.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGries =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGries =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MisraGries =
    copy(child = c.head)
  override def prettyName: String = "graft_misra_gries"
}

object MisraGries {
  /** All surviving counters as `array<struct<item, est>>`, heaviest
    * first.
    */
  def sketch(c: Column, capacity: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      MisraGries(org.apache.spark.sql.GraftBridge.expression(c), capacity)
        .toAggregateExpression())

}
