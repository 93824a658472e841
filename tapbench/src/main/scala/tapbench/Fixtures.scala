package tapbench

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import java.nio.file.{Files, Path}

/** Generated rows; timestamps are epoch microseconds (UTC). */
final case class LineitemRow(orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
                             quantity: Double, extendedprice: Double, discount: Double,
                             tax: Double, returnflag: String, linestatus: String,
                             shipdate: Long)
final case class OrderRow(orderkey: Long, custkey: Long, orderstatus: String,
                          totalprice: Double, orderdate: Long, orderpriority: String)
final case class EventRow(eventId: Long, ts: Long, userId: Long, eventType: String,
                          value: Double, k: Int)

/** Sees every generated row and works out what a workload's syncs must
  * deliver — from the generator's own values, not by reading the tables
  * back through Spark.
  */
trait Oracle {
  def lineitem(r: LineitemRow): Unit = ()
  def order(r: OrderRow): Unit = ()
  def event(r: EventRow): Unit = ()
  def expected: Expected
}

/** Seeded TPC-H-style fixture tables laid out like the sf0.1 parquet
  * fixtures the tap's tests read — one file and one row group per table —
  * at half their row counts. `lineitem` also carries TPC-H's `l_comment`,
  * which no stream selects; it keeps the file near the sf0.1 file's size,
  * so Spark still splits it into scan partitions of which only one holds
  * the row group. A seed always gives the same tables.
  *
  * The tables are written with parquet's own writer, not with Spark, so the
  * JVM that generates them still starts its first sync cold.
  */
object Fixtures {
  val LineitemRows = 300000L
  val OrdersRows = 75000L
  val CustomerRows = 7500L
  val EventsRows = 50000L
  /** Order dates span this many days from 1995-01-01. */
  val OrderDays = 2405
  val OrderDay0: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  /** One event every 60 s on average from 2024-01-01. */
  val EventStepSeconds = 60L
  val EventTs0: java.time.Instant = java.time.Instant.parse("2024-01-01T00:00:00Z")
  /** The copy of `orders` the Derby database imports. */
  val OrdersCsv = "orders.csv"

  val MicrosPerDay = 86400L * 1000000L
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")

  /** A parquet file of one row group, written row by row. */
  private final class Table(dir: Path, name: String, columns: String) {
    private val schema = MessageTypeParser.parseMessageType(s"message $name { $columns }")
    private val groups = new SimpleGroupFactory(schema)
    private val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve(s"$name.parquet").toUri))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()

    def row(values: Any*): Unit = {
      val g = groups.newGroup()
      values.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
      }
      writer.write(g)
    }

    def close(): Unit = writer.close()
  }

  private def timestamp(name: String) =
    s"optional int64 $name (TIMESTAMP(MICROS,true));"

  /** Write the tables of `seed` into `dir`, showing every row to `oracle`.
    * `lineitem`, `orders` and the small tables are written side by side;
    * each oracle method sees the rows of one table, in order.
    */
  def write(dir: Path, seed: Long, oracle: Oracle): Unit = {
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try Seq[() => Unit](() => writeLineitem(dir, seed, oracle), () => writeOrders(dir, seed, oracle),
      () => writeSmall(dir, seed, oracle)).map(f => pool.submit[Unit](() => f())).foreach(_.get())
    finally pool.shutdown()
  }

  private def rng(seed: Long, table: String) =
    new java.util.SplittableRandom(seed * 1000003L + table.hashCode)
  private def pick(r: java.util.SplittableRandom, values: Seq[String]) = values(r.nextInt(values.size))
  private val Day0 = OrderDay0.toEpochDay * MicrosPerDay

  private def writeLineitem(dir: Path, seed: Long, oracle: Oracle): Unit = {
    val li = new Table(dir, "lineitem",
      "optional int64 l_orderkey; optional int64 l_partkey; optional int64 l_suppkey; " +
        "optional int32 l_linenumber; optional double l_quantity; " +
        "optional double l_extendedprice; optional double l_discount; optional double l_tax; " +
        "optional binary l_returnflag (STRING); optional binary l_linestatus (STRING); " +
        timestamp("l_shipdate") + " optional binary l_comment (STRING);")
    val lr = rng(seed, "lineitem")
    (0L until LineitemRows).foreach { i =>
      val r = LineitemRow(i / 4, lr.nextLong(20000), lr.nextLong(1000), (i % 4).toInt + 1,
        1 + lr.nextInt(50), 900 + lr.nextInt(10000000) / 100.0, lr.nextInt(11) / 100.0,
        lr.nextInt(9) / 100.0, pick(lr, Seq("A", "N", "R")), pick(lr, Seq("O", "F")),
        Day0 + lr.nextInt(OrderDays + 120) * MicrosPerDay)
      val comment = new String(Array.fill(20 + lr.nextInt(24))(('a' + lr.nextInt(26)).toChar))
      li.row(r.orderkey, r.partkey, r.suppkey, r.linenumber, r.quantity, r.extendedprice,
        r.discount, r.tax, r.returnflag, r.linestatus, r.shipdate, comment)
      oracle.lineitem(r)
    }
    li.close()
  }

  private def writeOrders(dir: Path, seed: Long, oracle: Oracle): Unit = {
    val od = new Table(dir, "orders",
      "optional int64 o_orderkey; optional int64 o_custkey; " +
        "optional binary o_orderstatus (STRING); optional double o_totalprice; " +
        timestamp("o_orderdate") + " optional binary o_orderpriority (STRING);")
    val csv = Files.newBufferedWriter(dir.resolve(OrdersCsv))
    val or = rng(seed, "orders")
    (0L until OrdersRows).foreach { i =>
      val r = OrderRow(i, or.nextLong(CustomerRows), pick(or, Seq("O", "F", "P")),
        1000 + or.nextInt(50000000) / 100.0, Day0 + or.nextInt(OrderDays) * MicrosPerDay,
        pick(or, Priorities))
      od.row(r.orderkey, r.custkey, r.orderstatus, r.totalprice, r.orderdate, r.orderpriority)
      csv.write(s"${r.orderkey},${r.custkey},${r.totalprice},${r.orderdate / MicrosPerDay}," +
        s"\"${r.orderpriority}\"\n")
      oracle.order(r)
    }
    od.close()
    csv.close()
  }

  private def writeSmall(dir: Path, seed: Long, oracle: Oracle): Unit = {
    val cu = new Table(dir, "customer",
      "optional int64 c_custkey; optional binary c_name (STRING); optional int32 c_nationkey; " +
        "optional double c_acctbal; optional binary c_mktsegment (STRING);")
    val cr = rng(seed, "customer")
    (0L until CustomerRows).foreach { i =>
      cu.row(i, f"Customer#$i%09d", cr.nextInt(Nations.size), cr.nextInt(1100000) / 100.0 - 1000,
        pick(cr, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
    }
    cu.close()

    val na = new Table(dir, "nation",
      "optional int32 n_nationkey; optional binary n_name (STRING); optional int32 n_regionkey;")
    Nations.indices.foreach(i => na.row(i, Nations(i), i % 5))
    na.close()

    val ev = new Table(dir, "events",
      "optional int64 event_id; " + timestamp("ts") + " optional int64 user_id; " +
        "optional binary event_type (STRING); optional double value; " +
        "optional binary props (STRING);")
    val er = rng(seed, "events")
    val ts0 = EventTs0.getEpochSecond * 1000000L
    val step = EventStepSeconds * 1000000L
    (0L until EventsRows).foreach { i =>
      val r = EventRow(i, ts0 + i * step + er.nextLong(step), er.nextLong(2000),
        pick(er, Seq("view", "click", "purchase", "signup", "error")), er.nextInt(50000) / 100.0,
        er.nextInt(100))
      ev.row(r.eventId, r.ts, r.userId, r.eventType, r.value, s"""{"k": ${r.k}}""")
      oracle.event(r)
    }
    ev.close()
  }
}
