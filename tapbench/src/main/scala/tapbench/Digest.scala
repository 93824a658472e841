package tapbench

import com.fasterxml.jackson.databind.JsonNode
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a stream's records.
  *
  * Each record is normalized over the stream's declared columns: a missing
  * field counts as null, numbers compare by value (`17`, `17.0` and the
  * double 17.0 agree), and timestamps compare as epoch microseconds
  * whatever their rendering. The same normalization applies to parsed JSON
  * (RECORD messages and batch-file lines) and to the rows the benchmark
  * reads from its fixtures, so a digest computed on either side can be
  * compared with the other. Values are hashed in declared column order.
  */
object Digest {
  val Null = "\u0000null"

  /** One column of a stream: its name and whether it holds a timestamp. */
  final case class Column(name: String, temporal: Boolean)

  /** A number by value: integral values print as integers. */
  def number(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  /** Epoch microseconds of an ISO-8601 timestamp with an offset, as the
    * tap renders them (`2024-01-01T00:00:11.172425+00:00`). The fixed
    * layout is read directly; anything else goes through `java.time`.
    */
  def isoMicros(s: String): Long = {
    def digits(from: Int, to: Int): Int = {
      var v = 0
      var i = from
      while (i < to) {
        val c = s.charAt(i) - '0'
        if (c < 0 || c > 9) return -1
        v = v * 10 + c
        i += 1
      }
      v
    }
    val fixed = s.length == 32 && s.charAt(10) == 'T' && s.charAt(19) == '.' &&
      s.endsWith("+00:00")
    val parts = if (fixed) Seq(digits(0, 4), digits(5, 7), digits(8, 10), digits(11, 13),
      digits(14, 16), digits(17, 19), digits(20, 26)) else Nil
    if (parts.isEmpty || parts.contains(-1))
      micros(java.time.OffsetDateTime.parse(s).toInstant)
    else {
      val day = java.time.LocalDate.of(parts(0), parts(1), parts(2)).toEpochDay
      ((day * 24 + parts(3)) * 60 + parts(4)) * 60000000L + parts(5) * 1000000L + parts(6)
    }
  }

  /** A JSON field value, normalized. */
  def ofJson(n: JsonNode, temporal: Boolean): String =
    if (n == null || n.isNull) Null
    else if (temporal) isoMicros(n.asText).toString
    else if (n.isIntegralNumber) n.asText
    else if (n.isNumber) number(n.doubleValue)
    else n.asText

  /** A value read from a fixture row, normalized. */
  def ofValue(v: Any): String = v match {
    case null => Null
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case i: java.time.Instant => micros(i).toString
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: java.math.BigDecimal => number(b.doubleValue)
    case b: BigDecimal => number(b.toDouble)
    case other => other.toString
  }

  /** 64-bit hash of one normalized record, its values in declared column order. */
  def recordHash(values: Seq[String]): Long = {
    var a = 0x7a1
    var b = 0x5eed
    values.foreach { v =>
      a = MurmurHash3.mix(a, MurmurHash3.stringHash(v, 0x7a1))
      b = MurmurHash3.mix(b, MurmurHash3.stringHash(v, 0x5eed))
    }
    (MurmurHash3.finalizeHash(a, values.size).toLong << 32) |
      (MurmurHash3.finalizeHash(b, values.size).toLong & 0xffffffffL)
  }

  def ofJsonRecord(record: JsonNode, columns: Seq[Column]): Long =
    recordHash(columns.map(c => ofJson(record.get(c.name), c.temporal)))

  /** Record count plus the wrapping sum of record hashes: equal for equal
    * multisets of records, in any order.
    */
  final class Acc {
    var count = 0L
    var sum = 0L
    def add(h: Long): Unit = { count += 1; sum += h }
    def value: String = f"$count%d:$sum%016x"
  }
}
