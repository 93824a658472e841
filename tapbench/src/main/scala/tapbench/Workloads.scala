package tapbench

import scala.collection.mutable

/** One stream of a workload as the benchmark sees it: what to declare in
  * the tap config and how to check what the tap emits for it.
  */
final case class StreamSpec(
    name: String,
    sql: String,
    keys: Seq[String],
    columns: Seq[(String, String)],
    replicationKey: Option[String] = None,
    start: Option[String] = None,
    execution: String = "native") {
  def streamId: String = s"postgres-public-$name"
  def digestColumns: Seq[Digest.Column] =
    columns.map { case (n, t) => Digest.Column(n, t == "timestamp") }
  def json: String = {
    def q(s: String) = com.fasterxml.jackson.databind.node.TextNode.valueOf(s).toString
    val cols = columns.map { case (n, t) => s"""{"name":${q(n)},"type":${q(t)}}""" }
    val inc = replicationKey.map(k =>
      s""","replication_key":${q(k)},"replication_key_value_start":${q(start.get)}""").getOrElse("")
    s"""{"name":${q(name)},"sql":${q(sql)},"key_properties":${keys.map(q).mkString("[", ",", "]")},""" +
      s""""execution":${q(execution)}$inc,"columns":${cols.mkString("[", ",", "]")}}"""
  }
}

/** What a correct sync of a workload delivers. */
final case class Expected(
    counts: Map[String, Long],
    bookmarks: Map[String, String],
    /** Record digests of the streams whose rows the benchmark reproduces;
      * the other streams must match the run's first sync.
      */
    digests: Map[String, String])

/** A benchmark workload: the streams it syncs, how, and the oracle that
  * works out its expected output while the fixtures are generated.
  */
final case class Workload(
    name: String,
    streams: Seq[StreamSpec],
    batch: Boolean,
    derby: Boolean,
    tables: Seq[String],
    oracle: () => Oracle) {

  /** The tap config; `batchRoot` receives batch files in batch mode. */
  def configJson(batchRoot: java.nio.file.Path): String = {
    val batchCfg =
      if (!batch) ""
      else s""","batch_config":{"encoding":{"format":"jsonl","compression":"gzip"},""" +
        s""""storage":{"root":"${batchRoot.toUri}","prefix":"${Workloads.BatchPrefix}"}}"""
    val jdbc =
      if (!derby) ""
      else s""","jdbc_url":"${Derby.Url}","jdbc_driver":"${Derby.Driver}""""
    s"""{"streams":${streams.map(_.json).mkString("[", ",", "]")}$batchCfg$jdbc}"""
  }
}

object Workloads {
  val BatchPrefix = "tapbench-"
  val Names: Seq[String] = Seq("singer_full", "batch_full", "sql_surface")

  /** Epoch microseconds as Spark renders `CAST(ts AS STRING)` in UTC, the
    * bookmark form: fractional seconds only when non-zero, trailing zeros
    * dropped.
    */
  def bookmarkTimestamp(micros: Long): String = {
    val i = java.time.Instant.EPOCH.plusNanos(micros * 1000)
    val base = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(i)
    val frac = Math.floorMod(micros, 1000000L)
    if (frac == 0) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** A start value in the first 3% of a key range of `span` units. */
  private def startOffset(seed: Long, salt: String, span: Long): Long =
    new java.util.SplittableRandom(seed * 31 + salt.hashCode).nextLong((span * 3) / 100)

  private def dayMicros(day: Long) = day * Fixtures.MicrosPerDay

  private val lineitemStream = StreamSpec("lineitem",
    "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, " +
      "l_discount, l_returnflag, l_shipdate FROM lineitem",
    keys = Seq("l_orderkey", "l_linenumber"),
    columns = Seq("l_orderkey" -> "bigint", "l_linenumber" -> "int",
      "l_partkey" -> "bigint", "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_returnflag" -> "text", "l_shipdate" -> "timestamp"))

  private def orders(start: Long) = StreamSpec("orders",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
      "o_orderpriority FROM orders WHERE o_orderdate > :rep_key_val",
    keys = Seq("o_orderkey"),
    columns = Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "text", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "text"),
    replicationKey = Some("o_orderdate"),
    start = Some(bookmarkTimestamp(start)))

  /** `singer_full` and `batch_full` sync the same two streams: every
    * lineitem row, and the orders after a seeded start date.
    */
  private def full(name: String, seed: Long, batch: Boolean): Workload = {
    val start = dayMicros(Fixtures.OrderDay0.toEpochDay +
      startOffset(seed, "orders", Fixtures.OrderDays))
    val od = orders(start)
    def oracle(): Oracle = new Oracle {
      private val li = new Digest.Acc
      private val o = new Digest.Acc
      private var maxDate = Long.MinValue
      override def lineitem(r: LineitemRow): Unit =
        li.add(Digest.recordHash(Seq(r.orderkey, r.linenumber, r.partkey, r.quantity,
          r.extendedprice, r.discount, r.returnflag, r.shipdate).map(Digest.ofValue)))
      override def order(r: OrderRow): Unit = if (r.orderdate > start) {
        o.add(Digest.recordHash(Seq(r.orderkey, r.custkey, r.orderstatus, r.totalprice,
          r.orderdate, r.orderpriority).map(Digest.ofValue)))
        maxDate = math.max(maxDate, r.orderdate)
      }
      def expected = Expected(
        counts = Map(lineitemStream.name -> li.count, od.name -> o.count),
        bookmarks = Map(od.streamId -> bookmarkTimestamp(maxDate)),
        digests = Map(lineitemStream.name -> li.value, od.name -> o.value))
    }
    Workload(name, Seq(lineitemStream, od), batch = batch, derby = false,
      tables = Seq("lineitem", "orders"), oracle = () => oracle())
  }

  /** `sql_surface`: PG-dialect SQL over four tables, a `->>` incremental
    * events stream, and an aggregate pushed down to Derby.
    */
  private def sqlSurface(seed: Long): Workload = {
    // The DISTINCT ON runs over a derived table: the dialect rejects
    // qualified columns in a DISTINCT ON over a multi-table FROM.
    val custTop = StreamSpec("customer_top_priority",
      """SELECT DISTINCT ON (custkey) custkey, cust_name, nation, priority, order_count,
        |  revenue::numeric(18,2) AS revenue
        |FROM (
        |  SELECT c.c_custkey AS custkey, c.c_name AS cust_name, n.n_name AS nation,
        |    o.o_orderpriority AS priority, count(DISTINCT o.o_orderkey) AS order_count,
        |    sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY c.c_custkey, c.c_name, n.n_name, o.o_orderpriority
        |) t
        |ORDER BY custkey, revenue DESC, priority""".stripMargin,
      keys = Seq("custkey"),
      columns = Seq("custkey" -> "bigint", "cust_name" -> "text", "nation" -> "text",
        "priority" -> "text", "order_count" -> "bigint", "revenue" -> "numeric(18,2)"))
    val eventsStart = Fixtures.EventTs0.getEpochSecond * 1000000L + 1000000L *
      startOffset(seed, "events", Fixtures.EventsRows * Fixtures.EventStepSeconds)
    val events = StreamSpec("events_low_k",
      """SELECT event_id, ts, user_id, event_type, value, (props ->> 'k')::int AS k
        |FROM events
        |WHERE ts > :rep_key_val AND (props ->> 'k')::int < 10""".stripMargin,
      keys = Seq("event_id"),
      columns = Seq("event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
        "event_type" -> "text", "value" -> "double", "k" -> "int"),
      replicationKey = Some("ts"),
      start = Some(bookmarkTimestamp(eventsStart)))
    val dayStart = Fixtures.OrderDay0.toEpochDay + startOffset(seed, "daily", Fixtures.OrderDays)
    val daily = StreamSpec("orders_daily",
      "SELECT o_orderday, o_orderpriority, COUNT(*) AS n_orders, " +
        "SUM(o_totalprice) AS total_price FROM orders WHERE o_orderday > :rep_key_val " +
        "GROUP BY o_orderday, o_orderpriority",
      keys = Seq("o_orderday", "o_orderpriority"),
      columns = Seq("o_orderday" -> "bigint", "o_orderpriority" -> "text",
        "n_orders" -> "bigint", "total_price" -> "double"),
      replicationKey = Some("o_orderday"),
      start = Some(dayStart.toString),
      execution = "jdbc")
    def oracle(): Oracle = new Oracle {
      // every order has lineitems and every customer a nation, so one
      // output row per customer that placed an order
      private val customers = mutable.BitSet.empty
      private var eventRows, maxTs = 0L
      private val days = mutable.Set.empty[(Long, String)]
      private var maxDay = Long.MinValue
      override def order(r: OrderRow): Unit = {
        customers += r.custkey.toInt
        val day = r.orderdate / Fixtures.MicrosPerDay
        if (day > dayStart) {
          days += day -> r.orderpriority
          maxDay = math.max(maxDay, day)
        }
      }
      override def event(r: EventRow): Unit = if (r.ts > eventsStart && r.k < 10) {
        eventRows += 1
        maxTs = math.max(maxTs, r.ts)
      }
      def expected = Expected(
        counts = Map(custTop.name -> customers.size.toLong, events.name -> eventRows,
          daily.name -> days.size.toLong),
        bookmarks = Map(events.streamId -> bookmarkTimestamp(maxTs),
          daily.streamId -> maxDay.toString),
        digests = Map.empty)
    }
    Workload("sql_surface", Seq(custTop, events, daily), batch = false, derby = true,
      tables = Seq("lineitem", "orders", "customer", "nation", "events"),
      oracle = () => oracle())
  }

  def apply(name: String, seed: Long): Workload = name match {
    case "singer_full" => full(name, seed, batch = false)
    case "batch_full" => full(name, seed, batch = true)
    case "sql_surface" => sqlSurface(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** The embedded Derby database that stands in for the remote PostgreSQL
  * server of `execution: "jdbc"` streams: a copy of `orders` with the order
  * date as an epoch-day number (Derby has no `TIMESTAMP '…'` literal, which
  * is how the tap binds a timestamp watermark).
  */
object Derby {
  val Driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  val Url = "jdbc:derby:memory:tapbench"

  /** Drop any previous copy and import `orders` afresh from `csv`. */
  def load(csv: java.nio.file.Path): Unit = {
    Class.forName(Driver)
    try java.sql.DriverManager.getConnection(Url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // dropped, or there was none
    val conn = java.sql.DriverManager.getConnection(Url + ";create=true")
    try {
      conn.createStatement().execute(
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "o_orderday BIGINT, o_orderpriority VARCHAR(16))")
      val call = conn.prepareCall(
        "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'ORDERS', ?, ',', '\"', 'UTF-8', 0)")
      call.setString(1, csv.toString)
      call.execute()
    } finally conn.close()
  }
}
