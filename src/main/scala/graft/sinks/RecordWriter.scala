package graft.sinks

import graft.operators.Conformance.IsoTimestampPattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, CreateNamedStruct, DateFormatClass, Expression, Literal, StructsToJson}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, ZoneId}
import java.util.Arrays

/** A growable byte array: a block's bytes while its lines are written. */
private[sinks] final class ByteOut(initial: Int) {
  import ByteOut._

  var bytes = new Array[Byte](initial)
  var fill = 0

  def room(n: Int): Unit =
    if (fill + n > bytes.length) bytes = Arrays.copyOf(bytes, math.max(2 * bytes.length, fill + n))

  def put(b: Int): Unit = { room(1); bytes(fill) = b.toByte; fill += 1 }

  def put(a: Array[Byte]): Unit = {
    room(a.length)
    System.arraycopy(a, 0, bytes, fill, a.length)
    fill += a.length
  }

  /** A string of ASCII characters. */
  def ascii(s: String): Unit = {
    val n = s.length
    room(n)
    val (b, f) = (bytes, fill)
    var i = 0
    while (i < n) { b(f + i) = s.charAt(i).toByte; i += 1 }
    fill = f + n
  }

  /** `v` in decimal, `-` first when negative. */
  def long(v: Long): Unit =
    if (v == Long.MinValue) ascii("-9223372036854775808")
    else {
      room(20)
      if (v < 0) { bytes(fill) = '-'; fill += 1 }
      var x = math.abs(v)
      var width = 1
      var p = 10L
      while (width < 19 && x >= p) { width += 1; p *= 10 }
      val b = bytes
      var at = fill + width
      while (x >= Int.MaxValue) { at -= 1; b(at) = ('0' + x % 10).toByte; x /= 10 }
      var y = x.toInt
      while (y >= 100) { at -= 2; b(at) = Tens(y % 100); b(at + 1) = Ones(y % 100); y /= 100 }
      if (y >= 10) { b(at - 2) = Tens(y); b(at - 1) = Ones(y) } else b(at - 1) = ('0' + y).toByte
      fill += width
    }

  /** `v`, 0 ≤ v < 100, in two digits. */
  def two(v: Int): Unit = {
    room(2)
    bytes(fill) = Tens(v)
    bytes(fill + 1) = Ones(v)
    fill += 2
  }

  /** `s` as a JSON string, escaped as Jackson escapes it: `"`, `\` and
    * U+0000–U+001F (`\b \t \n \f \r`, else `\u00XX`); everything else is
    * copied. Bytes that are not well-formed UTF-8 are first decoded as
    * `toString` decodes them, with U+FFFD for each bad sequence.
    */
  def string(s: UTF8String): Unit = {
    val start = fill
    if (!copyEscaped(s)) {
      fill = start
      copyEscaped(UTF8String.fromString(s.toString))
    }
  }

  /** False, having written part of `s`, when `s` is not well-formed UTF-8. */
  private def copyEscaped(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    room(n + 2)
    var b = bytes
    var f = fill
    b(f) = '"'
    f += 1
    var i = 0
    while (i < n) {
      val c = Platform.getByte(base, off + i)
      if (c >= 0) {
        if (c >= 0x20 && c != '"' && c != '\\') { b(f) = c; f += 1 }
        else {
          if (f + 6 + n - i > b.length) { fill = f; room(6 + n - i); b = bytes }
          b(f) = '\\'
          val e = Escapes(c)
          if (e != 0) { b(f + 1) = e; f += 2 }
          else {
            b(f + 1) = 'u'; b(f + 2) = '0'; b(f + 3) = '0'
            b(f + 4) = Hex(c >> 4); b(f + 5) = Hex(c & 0xf)
            f += 6
          }
        }
        i += 1
      } else {
        val len = ByteOut.sequence(base, off, i, n)
        if (len == 0) { fill = f; return false }
        var k = 0
        while (k < len) { b(f + k) = Platform.getByte(base, off + i + k); k += 1 }
        f += len
        i += len
      }
    }
    b(f) = '"'
    fill = f + 1
    true
  }
}

private[sinks] object ByteOut {
  /** The letter of an ASCII character's two-character escape, or 0. */
  private val Escapes: Array[Byte] = {
    val e = new Array[Byte](128)
    "\"\"\\\\\bb\tt\nn\ff\rr".grouped(2).foreach(p => e(p(0)) = p(1).toByte)
    e
  }
  private val Hex = "0123456789ABCDEF".getBytes(US_ASCII)
  /** The tens and ones digit of 0 to 99. */
  private val Tens = Array.tabulate[Byte](100)(v => ('0' + v / 10).toByte)
  private val Ones = Array.tabulate[Byte](100)(v => ('0' + v % 10).toByte)

  private def at(base: AnyRef, off: Long, i: Int): Int = Platform.getByte(base, off + i) & 0xff

  /** The length of the well-formed UTF-8 sequence (Unicode Table 3-7) of
    * 2 to 4 bytes starting at byte `i` of `n`, or 0.
    */
  private[sinks] def sequence(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def cont(k: Int, lo: Int = 0x80, hi: Int = 0xbf): Boolean =
      i + k < n && { val c = at(base, off, i + k); c >= lo && c <= hi }
    val b0 = at(base, off, i)
    if (b0 >= 0xc2 && b0 <= 0xdf) { if (cont(1)) 2 else 0 }
    else if (b0 >= 0xe0 && b0 <= 0xef) {
      val ok1 = if (b0 == 0xe0) cont(1, 0xa0) else if (b0 == 0xed) cont(1, hi = 0x9f) else cont(1)
      if (ok1 && cont(2)) 3 else 0
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      val ok1 = if (b0 == 0xf0) cont(1, 0x90) else if (b0 == 0xf4) cont(1, hi = 0x8f) else cont(1)
      if (ok1 && cont(2) && cont(3)) 4 else 0
    } else 0
  }
}

/** Writes a conformed row's JSON object straight into a block's bytes,
  * with one field writer per column of `schema` compiled up front. The
  * bytes are what `to_json(struct(…), ignoreNullFields=false)` writes for
  * the row with its timestamps and dates first formatted by `date_format`
  * as [[IsoTimestampPattern]] and `yyyy-MM-dd` in `zone`:
  *   - names rendered once through Jackson, nulls as `null`;
  *   - booleans, integers in decimal, floats and doubles as
  *     `Float`/`Double.toString` (NaN and ±Infinity quoted), decimals as
  *     `BigDecimal.toString`;
  *   - strings as their UTF-8 bytes with Jackson's escapes ([[ByteOut.string]]);
  *   - timestamps and dates by arithmetic in years 0000–9999 when `zone`
  *     is a fixed offset, otherwise by Spark's `date_format` itself;
  *   - any other type (struct, array, map, binary, interval,
  *     `timestamp_ntz`, …) by Spark's JSON generator for that one value:
  *     `to_json` of a one-field struct, its `{"v":` and `}` cut off.
  *
  * Not thread-safe: Spark's formatters and generators it holds are not.
  */
private[sinks] final class RecordWriter(schema: StructType, zoneId: String) {
  import RecordWriter._

  private val zone = DateTimeUtils.getZoneId(zoneId)
  private val heads: Array[Array[Byte]] = schema.fields.zipWithIndex.map { case (f, i) =>
    ((if (i == 0) "{" else ",") + SingerSink.mapper.writeValueAsString(f.name) + ":").getBytes(UTF_8)
  }
  private val fields: Array[Field] = schema.fields.zipWithIndex.map { case (f, i) => field(f, i, zone) }

  def write(row: InternalRow, out: ByteOut): Unit = {
    if (fields.isEmpty) out.put('{')
    var i = 0
    while (i < fields.length) {
      out.put(heads(i))
      if (row.isNullAt(i)) out.put(Null) else fields(i).write(row, i, out)
      i += 1
    }
    out.put('}')
  }
}

private[sinks] object RecordWriter {
  private val Null = "null".getBytes(US_ASCII)
  private val True = "true".getBytes(US_ASCII)
  private val False = "false".getBytes(US_ASCII)

  /** One column's non-null value, written at `out`'s end. */
  private abstract class Field {
    def write(row: InternalRow, i: Int, out: ByteOut): Unit
  }

  private def field(f: StructField, i: Int, zone: ZoneId): Field = f.dataType match {
    case BooleanType => (row, i, out) => out.put(if (row.getBoolean(i)) True else False)
    case ByteType => (row, i, out) => out.long(row.getByte(i))
    case ShortType => (row, i, out) => out.long(row.getShort(i))
    case IntegerType => (row, i, out) => out.long(row.getInt(i))
    case LongType => (row, i, out) => out.long(row.getLong(i))
    case FloatType => (row, i, out) => number(java.lang.Float.toString(row.getFloat(i)), out)
    case DoubleType => (row, i, out) => number(java.lang.Double.toString(row.getDouble(i)), out)
    case d: DecimalType => (row, i, out) => out.ascii(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toString)
    case _: StringType => (row, i, out) => out.string(row.getUTF8String(i))
    case TimestampType | DateType => temporal(f.dataType, i, zone)
    case NullType => (_, _, out) => out.put(Null)
    case _ => delegate(f, i, zone)
  }

  /** A float's or double's `toString`, quoted when it is NaN or infinite,
    * as Jackson's `writeNumber` writes it.
    */
  private def number(s: String, out: ByteOut): Unit = {
    val finite = s.charAt(s.length - 1).isDigit
    if (!finite) out.put('"')
    out.ascii(s)
    if (!finite) out.put('"')
  }

  private val Days0000 = LocalDate.of(0, 1, 1).toEpochDay
  private val Days10000 = LocalDate.of(10000, 1, 1).toEpochDay
  private val MicrosPerDay = 86400L * 1000 * 1000

  /** A timestamp or date column, formatted as `date_format` formats it
    * in `zone`. Under the ISO formatter and a fixed offset, local time is
    * the instant plus the offset, and years 0000–9999 print in four digits.
    */
  private def temporal(dt: DataType, i: Int, zone: ZoneId): Field = {
    val sz = Some(zone.getId)
    val input = BoundReference(i, dt, nullable = true)
    val slow = if (dt == DateType)
      DateFormatClass(Cast(input, TimestampType, sz), Literal("yyyy-MM-dd"), sz)
    else DateFormatClass(input, Literal(IsoTimestampPattern), sz)
    val rules = zone.getRules
    val fixed = rules.isFixedOffset && SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY
    if (!fixed) (row, _, out) => out.string(slow.eval(row).asInstanceOf[UTF8String])
    else if (dt == DateType) (row, i, out) => {
      val days = row.getInt(i).toLong
      if (days < Days0000 || days >= Days10000) out.string(slow.eval(row).asInstanceOf[UTF8String])
      else { out.put('"'); date(days, out); out.put('"') }
    }
    else {
      val offset = rules.getOffset(java.time.Instant.EPOCH)
      val shift = offset.getTotalSeconds * 1000L * 1000
      val suffix = (DateTimeFormatter.ofPattern("xxx").format(offset) + "\"").getBytes(US_ASCII)
      val (lo, hi) = (Days0000 * MicrosPerDay - shift, Days10000 * MicrosPerDay - shift)
      (row, i, out) => {
        val micros = row.getLong(i)
        if (micros < lo || micros >= hi) out.string(slow.eval(row).asInstanceOf[UTF8String])
        else {
          val local = micros + shift
          val days = Math.floorDiv(local, MicrosPerDay)
          val inDay = local - days * MicrosPerDay
          val secs = (inDay / 1000000).toInt
          val us = (inDay % 1000000).toInt
          out.put('"')
          date(days, out)
          out.put('T')
          out.two(secs / 3600)
          out.put(':')
          out.two(secs / 60 % 60)
          out.put(':')
          out.two(secs % 60)
          out.put('.')
          out.two(us / 10000)
          out.two(us / 100 % 100)
          out.two(us % 100)
          out.put(suffix)
        }
      }
    }
  }

  /** Epoch day `days`, in years 0000–9999, as `yyyy-MM-dd` (the civil
    * calendar of days since 1970-01-01, proleptic Gregorian).
    */
  private def date(days: Long, out: ByteOut): Unit = {
    val z = days + 719468
    val era = Math.floorDiv(z, 146097)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = (yoe + era * 400 + (if (month <= 2) 1 else 0)).toInt
    out.two(year / 100)
    out.two(year % 100)
    out.put('-')
    out.two(month.toInt)
    out.put('-')
    out.two(day.toInt)
  }

  /** Spark's JSON generator for column `i` alone: `to_json` of a struct
    * of it as `v`, whose `{"v":` and `}` are cut off.
    */
  private def delegate(f: StructField, i: Int, zone: ZoneId): Field = {
    val json: Expression = StructsToJson(Map("ignoreNullFields" -> "false"),
      CreateNamedStruct(Seq(Literal("v"), BoundReference(i, f.dataType, f.nullable))),
      Some(zone.getId)).replacement
    (row, _, out) => {
      val s = json.eval(row).asInstanceOf[UTF8String]
      out.room(s.numBytes)
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + 5, out.bytes, BYTE_ARRAY_OFFSET + out.fill, s.numBytes - 6)
      out.fill += s.numBytes - 6
    }
  }
}
