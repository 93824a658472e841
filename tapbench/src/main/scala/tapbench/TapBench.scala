package tapbench

import graft.Tap
import graft.config.{ConfigParser, TapConfig}
import graft.sources.{SqlDialect, StreamSource}
import graft.state.Bookmarks
import org.apache.spark.sql.SparkSession
import java.io.{BufferedOutputStream, OutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The stdout stream the benchmark hands to `Tap.syncAll`. It notes when
  * the first RECORD or BATCH line arrives and, when `timed`, how long the
  * tap spends inside its `println` calls.
  */
final class OwnedStdout(sink: OutputStream, timed: Boolean)
    extends PrintStream(sink, false, java.nio.charset.StandardCharsets.UTF_8) {
  var firstMessageNs = 0L
  var writeNs = 0L

  override def println(line: String): Unit = {
    if (firstMessageNs == 0L &&
        (line.startsWith("{\"type\":\"RECORD\"") || line.startsWith("{\"type\":\"BATCH\"")))
      firstMessageNs = System.nanoTime()
    if (timed) {
      val t = System.nanoTime()
      super.println(line)
      writeNs += System.nanoTime() - t
    } else super.println(line)
  }
}

/** Peak heap in use after the garbage collections that start between
  * [[start]] and [[stop]]: the live heap a sync holds. Unlike the peak of
  * used heap it does not depend on how far the collector lets the young
  * generation fill between collections.
  */
final class HeapWatch {
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (start uptime ms, heap used after) of every collection, as notified. */
  private val collections = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private var from, to = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
          collections.add(gc.getStartTime -> gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }, null, null)
  }

  def start(): Unit = { collections.clear(); from = uptime.getUptime }
  def stop(): Unit = to = uptime.getUptime

  /** Read once the collections of the window have been notified; with no
    * collection in the window, the heap still in use after one forced now.
    */
  def peakMb(): Double = {
    val inWindow = collections.asScala.collect { case (t, used) if t >= from && t <= to => used }
    val bytes =
      if (inWindow.nonEmpty) inWindow.max
      else { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    bytes / (1024.0 * 1024.0)
  }
}

/** Where the owned stdout's bytes go: reused off-heap chunks, so a sync's
  * output costs neither disk writes nor garbage-collected heap, as a pipe
  * to a target would not. [[reset]] before each sync; read back after it.
  */
final class OffHeapSink extends OutputStream {
  private val ChunkBytes = 8 << 20
  private val chunks = mutable.ArrayBuffer.empty[java.nio.ByteBuffer]
  private var size = 0L

  def reset(): Unit = size = 0L
  def bytes: Long = size

  override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var done = 0
    while (done < len) {
      val chunk = (size / ChunkBytes).toInt
      if (chunk == chunks.size) chunks += java.nio.ByteBuffer.allocateDirect(ChunkBytes)
      val at = (size % ChunkBytes).toInt
      val n = math.min(len - done, ChunkBytes - at)
      chunks(chunk).put(at, b, off + done, n)
      done += n
      size += n
    }
  }

  /** The bytes written since the last [[reset]]. */
  def read(): java.io.InputStream = new java.io.InputStream {
    private var pos = 0L
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= size) -1
      else {
        val at = (pos % ChunkBytes).toInt
        val n = math.min(len.toLong, math.min(size - pos, (ChunkBytes - at).toLong)).toInt
        chunks((pos / ChunkBytes).toInt).get(at, b, off, n)
        pos += n
        n
      }
  }
}

/** One timed `Tap.syncAll` and what it delivered. */
final case class SyncResult(
    traced: Boolean,
    wallS: Double,
    firstMessageS: Double,
    cpuS: Double,
    heapPeakMb: Double,
    outBytes: Long,
    delivery: Option[Delivery],
    problems: Seq[String],
    checkS: Double,
    layers: Map[String, Double])

/** Runs one workload in this JVM: set-up, one cold sync, then warm syncs in
  * a closed loop with a single caller, each checked after it returns.
  *
  * Usage: `tapbench.TapBench --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --launched-ms <epoch ms> --work <dir>`. The last stdout
  * line is the JSON result; lines before it start with `#`.
  */
object TapBench {
  /** Measured syncs per run at the least (of each kind in a traced run),
    * whatever `--seconds` says.
    */
  private val MinMeasured = 3
  /** Sync time spent warming up before the measured syncs, in at least
    * [[MinWarmups]] syncs.
    */
  private val WarmupSeconds = 10.0
  private val MinWarmups = 2
  /** Past this time after launch, warm-up and measurement stop as soon as
    * their minimum sync counts are met, so a run on a slow machine still
    * ends in time.
    */
  private val RunBudgetMs = 55000L
  /** Set-up repetitions whose median is reported. */
  private val SetupReps = 3
  /** Cores of the local Spark master, at most the machine's. */
  private val Cores = math.min(4, Runtime.getRuntime.availableProcessors)

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        launchedMs: Long, work: Path)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("launched-ms").toLong, Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val startedMs = System.currentTimeMillis()
    val o = parse(argv)
    val wl = Workloads(o.workload, o.seed)
    // fixtures first, without Spark: the session and the first sync stay cold
    val data = o.work.resolve("data")
    val oracle = wl.oracle()
    val g0 = System.nanoTime()
    Fixtures.write(data, o.seed, oracle)
    val fixturesS = (System.nanoTime() - g0) / 1e9
    val s0 = System.nanoTime()
    val spark = session(o.work)
    val launchS = (startedMs - o.launchedMs) / 1e3 + (System.nanoTime() - s0) / 1e9
    try new TapBench(spark, wl, o, data, oracle.expected, launchS, fixturesS).run()
      .foreach(println)
    finally spark.stop()
  }

  /** A session configured as graft.Main builds its own, on a local master,
    * with Spark's scratch space under `work`.
    */
  def session(work: Path): SparkSession = {
    Files.createDirectories(work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-tap")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JSON result line. */
  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

/** `launchS` is the time from launch to a built session, less the fixtures. */
final class TapBench(spark: SparkSession, wl: Workload, o: TapBench.Opts, data: Path,
                     expected: Expected, launchS: Double, fixturesS: Double) {
  import TapBench._

  private val stdout = new OffHeapSink
  private val batchRoot = o.work.resolve("batch")
  private val ledger = new Ledger
  private val heap = new HeapWatch
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def register(dir: Path): Unit =
    wl.tables.foreach(t => graft.Tables.read(spark, dir.toString, t).createOrReplaceTempView(t))

  /** Result lines: `#` summary lines, then the JSON result. */
  def run(): Seq[String] = {
    val phases = mutable.ArrayBuffer.empty[String]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += f"$name ${(now - mark) / 1e9}%.1f s"
      mark = now
    }
    phase(f"fixtures $fixturesS%.1f s, jvm+session $launchS%.1f s;")
    val setupReps = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      register(data)
      if (wl.derby) Derby.load(data.resolve(Fixtures.OrdersCsv))
      (System.nanoTime() - t) / 1e9
    }
    phase(setupReps.map(t => f"$t%.2f").mkString("setup (", ", ", " s)"))
    val tap = ConfigParser.parseTap(wl.configJson(batchRoot))
    ConfigParser.validate(tap)

    val syncs = mutable.ArrayBuffer.empty[SyncResult]
    var reference = Map.empty[String, String]
    def sync(traced: Boolean): SyncResult = {
      val r = syncOnce(tap, expected, reference, traced)
      if (syncs.isEmpty) r.delivery.filter(_ => r.problems.isEmpty)
        .foreach(d => reference = d.digests -- expected.digests.keySet)
      syncs += r
      r
    }
    val cold = sync(traced = false)
    // JIT compilation keeps speeding up the first warm syncs for several
    // seconds; they are run, checked and counted, but left out of the medians
    def late = System.currentTimeMillis() - o.launchedMs > RunBudgetMs
    var warmupS = 0.0
    var warmups = 0
    while ((warmupS < WarmupSeconds && !late) || warmups < MinWarmups) {
      warmupS += sync(traced = false).wallS
      warmups += 1
    }
    // closed loop: syncs back to back until `seconds` of sync time is
    // measured; a traced run alternates untraced and traced syncs
    val measured = mutable.ArrayBuffer.empty[SyncResult]
    def minimum =
      if (o.trace) Seq(true, false).forall(t => measured.count(_.traced == t) >= MinMeasured)
      else measured.size >= MinMeasured
    while (!minimum || (measured.map(_.wallS).sum < o.seconds && !late))
      measured += sync(traced = o.trace && measured.size % 2 == 1)
    phase(f"syncs (${syncs.map(_.wallS).sum}%.1f s in syncAll, ${syncs.map(_.checkS).sum}%.1f s checking)")

    val untraced = measured.filterNot(_.traced).toSeq
    val traced = measured.filter(_.traced).toSeq
    // (name, value, unit, what the value summarizes)
    def median(sel: Seq[SyncResult], name: String, unit: String)(f: SyncResult => Double) = {
      val (v, basis) = Stats.medianOf(sel.map(f))
      (name, v, unit, basis)
    }
    val metrics: Seq[(String, Double, String, String)] =
      if (!o.trace) {
        val (setup, setupBasis) = Stats.medianOf(setupReps)
        Seq(
          ("setup_s", launchS + setup, "s", s"launch to session, plus the $setupBasis set-ups"),
          ("cold_sync_s", cold.wallS, "s", "the first sync"),
          median(untraced, "sync_s", "s")(_.wallS),
          median(untraced, "first_msg_s", "s")(_.firstMessageS),
          median(untraced, "cpu_s", "s")(_.cpuS),
          // the largest, not the median: a sync's live heap peaks only if a
          // collection happens to run while it holds a partition's results
          ("heap_peak_mb", untraced.map(_.heapPeakMb).max, "MB", s"largest of ${untraced.size}"),
          median(untraced, "out_bytes", "bytes")(_.outBytes.toDouble))
      } else {
        val tracedS = median(traced, "trace.sync_s", "s")(_.wallS)
        val untracedS = median(untraced, "trace.untraced_sync_s", "s")(_.wallS)
        PerLayer.Metrics.map { case (name, unit) => median(traced, name, unit)(_.layers(name)) } ++
          Seq(tracedS, untracedS, ("trace.overhead_pct", 100 * (tracedS._2 / untracedS._2 - 1),
            "%", "of the two medians"))
      }

    val failed = syncs.count(_.problems.nonEmpty)
    val summary = mutable.ArrayBuffer.empty[String]
    syncs.zipWithIndex.filter(_._1.problems.nonEmpty).foreach { case (s, k) =>
      s.problems.foreach(p => summary += s"# sync $k failed: $p")
    }
    summary += s"# workload ${wl.name} seed ${o.seed}: ${syncs.size} syncs (1 cold, " +
      s"$warmups warm-up, ${measured.size} measured" +
      (if (o.trace) s", ${traced.size} of them traced)" else ")")
    summary += s"# phases: ${phases.mkString(", ")}"
    summary += syncs.map(r => f"${r.wallS}%.2f/${r.cpuS}%.1f/${r.heapPeakMb}%.0f" +
      (if (r.traced) "T" else "")).mkString("# syncs (wall s/cpu s/heap MB): ", " ", "")
    summary += f"# fail_frac ${failed.toDouble / syncs.size}%.3f ($failed of ${syncs.size} syncs)"
    metrics.foreach { case (n, v, u, basis) => summary += f"# $n%-28s $v%14.4f $u%-6s ($basis)" }
    summary.toSeq :+ resultJson(failed == 0, syncs.size, failed,
      metrics.map { case (n, v, u, _) => (n, v, u) })
  }

  private def syncOnce(tap: TapConfig, expected: Expected, reference: Map[String, String],
                       traced: Boolean): SyncResult = {
    clearBatchRoot()
    stdout.reset()
    val out = new OwnedStdout(new BufferedOutputStream(stdout, 1 << 16), timed = traced)
    if (traced) spark.sparkContext.addSparkListener(ledger)
    System.gc()
    heap.start()
    val cpu0 = os.getProcessCpuTime
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { Tap.syncAll(spark, tap, None, out); out.flush(); None }
      catch { case e: Throwable => Some(s"sync threw $e") }
    val t1 = System.nanoTime()
    val toMs = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    heap.stop()
    out.close()
    val wallS = (t1 - t0) / 1e9
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        org.apache.spark.TapBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        ledger.window(fromMs, toMs, Cores)
      }
    val c0 = System.nanoTime()
    val delivery = error match {
      case None => Some(Checks.read(stdout.read(), wl.streams,
        if (wl.batch) Some(batchRoot) else None, tap.streams.head.batchSize,
        Workloads.BatchPrefix, Cores))
      case Some(_) => None
    }
    val problems = error.toSeq ++ delivery.toSeq.flatMap(Checks.compare(_, expected, reference))
    val outBytes = stdout.bytes + delivery.map(_.batchBytes).getOrElse(0L)
    val checkS = (System.nanoTime() - c0) / 1e9
    val heapMb = heap.peakMb()
    val firstS = if (out.firstMessageNs == 0L) wallS else (out.firstMessageNs - t0) / 1e9
    SyncResult(traced, wallS, firstS, cpuS, heapMb, outBytes, delivery, problems, checkS,
      if (traced) PerLayer(layers, wallS, out.writeNs / 1e6, delivery, probeSources(tap))
      else Map.empty)
  }

  private def clearBatchRoot(): Unit = {
    if (Files.exists(batchRoot))
      Files.walk(batchRoot).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    Files.createDirectories(batchRoot)
  }

  /** The source layer measured on its own, outside any sync: the dialect
    * rewrite, the planning call the tap makes per stream, and the planned
    * frames written to Spark's `noop` sink (the sink-free floor).
    */
  private def probeSources(tap: TapConfig): Map[String, Double] = {
    var dialectNs, planNs, noopNs = 0L
    def timed[A](f: => A): (A, Long) = { val t = System.nanoTime(); val a = f; (a, System.nanoTime() - t) }
    tap.streams.foreach { s =>
      if (s.execution == "native") dialectNs += timed(SqlDialect.rewrite(s.sql))._2
      val (df, plan) = timed(StreamSource.execute(spark, tap, s, Bookmarks.empty, None))
      planNs += plan
      noopNs += timed(df.write.format("noop").mode("overwrite").save())._2
    }
    Map("sources.plan_ms" -> planNs / 1e6, "sources.dialect_ms" -> dialectNs / 1e6,
      "sources.noop_ms" -> noopNs / 1e6)
  }
}

/** The per-layer metrics of a traced sync, named by the tap's modules. */
object PerLayer {
  val Metrics: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms", "sources.dialect_ms" -> "ms", "sources.noop_ms" -> "ms",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_ms" -> "ms", "engine.busy_ms" -> "ms", "engine.core_util" -> "ratio",
    "engine.input_bytes" -> "bytes", "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.gc_ms" -> "ms",
    "driver.serial_ms" -> "ms",
    "sinks.singer.jobs" -> "count", "sinks.singer.task_ms" -> "ms",
    "sinks.stdout_ms" -> "ms", "sinks.stdout_lines" -> "count",
    "sinks.batch.task_ms" -> "ms", "sinks.batch.write_tasks" -> "count",
    "sinks.batch.files" -> "count", "sinks.batch.empty_files" -> "count",
    "sinks.batch.bytes" -> "bytes",
    "tap.readback.jobs" -> "count", "tap.readback.task_ms" -> "ms",
    "tap.readback.input_bytes" -> "bytes",
    "state.lines" -> "count",
    "self.sync_ms" -> "ms", "self.sources_ms" -> "ms", "self.sinks.singer_ms" -> "ms",
    "self.sinks.batch_ms" -> "ms", "self.tap.readback_ms" -> "ms", "self.other_ms" -> "ms")

  /** Self times follow the span tree `sync → {jobs of each layer, stdout
    * writes}`: a layer's self time is the wall time the sync spent inside
    * that layer's jobs, and the sync's own self time is what is left.
    */
  def apply(ledger: Map[String, Double], wallS: Double, stdoutMs: Double,
            delivery: Option[Delivery], sources: Map[String, Double]): Map[String, Double] = {
    val wallMs = wallS * 1000
    val d = delivery
    val metrics = sources ++ ledger.filter(_._1.startsWith("engine.")) ++ Map(
      "driver.serial_ms" -> (wallMs - ledger("engine.busy_ms")),
      "sinks.singer.jobs" -> ledger("sinks.singer.jobs"),
      "sinks.singer.task_ms" -> ledger("sinks.singer.task_ms"),
      "sinks.stdout_ms" -> stdoutMs,
      "sinks.stdout_lines" -> d.map(_.stdoutLines.toDouble).getOrElse(0.0),
      "sinks.batch.task_ms" -> ledger("sinks.batch.task_ms"),
      "sinks.batch.write_tasks" -> ledger("sinks.batch.tasks"),
      "sinks.batch.files" -> d.map(_.batchFiles.toDouble).getOrElse(0.0),
      "sinks.batch.empty_files" -> d.map(_.emptyBatchFiles.toDouble).getOrElse(0.0),
      "sinks.batch.bytes" -> d.map(_.batchBytes.toDouble).getOrElse(0.0),
      "tap.readback.jobs" -> ledger("tap.readback.jobs"),
      "tap.readback.task_ms" -> ledger("tap.readback.task_ms"),
      "tap.readback.input_bytes" -> ledger("tap.readback.input_bytes"),
      "state.lines" -> d.map(_.stateLines.toDouble).getOrElse(0.0),
      "self.sync_ms" -> math.max(0.0, wallMs - ledger("jobs_ms.all") - stdoutMs)) ++
      Layers.All.map(l => s"self.${l}_ms" -> ledger(s"jobs_ms.$l"))
    Metrics.map { case (n, _) => n -> metrics(n) }.toMap
  }
}
