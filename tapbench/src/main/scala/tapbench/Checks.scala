package tapbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one sync delivered to its target, read back from the benchmark's
  * stdout buffer and the batch files it announced.
  */
final case class Delivery(
    stdoutLines: Long,
    stateLines: Long,
    counts: Map[String, Long],
    digests: Map[String, String],
    finalBookmarks: Option[Map[String, String]],
    batchFiles: Long,
    emptyBatchFiles: Long,
    batchBytes: Long,
    problems: Seq[String])

/** Output checks of a sync: every stdout line is a Singer message, batch
  * files gunzip, hold at most `batch_size` lines and follow the reference
  * name scheme, and counts, bookmarks and record digests are as expected.
  */
object Checks {
  private val mapper = new ObjectMapper()
  private val MessageTypes = Set("SCHEMA", "RECORD", "STATE", "ACTIVATE_VERSION", "BATCH")

  /** Reference batch-file name: `{prefix}tap-rawpostgresql--{stream}-{uuid}-{i}.json.gz`. */
  def batchFileName(prefix: String, stream: String): scala.util.matching.Regex =
    (java.util.regex.Pattern.quote(prefix + "tap-rawpostgresql--" + stream + "-") +
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}-[0-9]+\\.json\\.gz").r

  /** What one chunk of stdout lines delivered; chunks merge in order. */
  private final class Part {
    var lines, states, files, emptyFiles, fileBytes = 0L
    var lastState: Option[JsonNode] = None
    var lastType = ""
    val accs = mutable.Map.empty[String, Digest.Acc]
    val announced = mutable.ArrayBuffer.empty[Path]
    val batchFiles = mutable.ArrayBuffer.empty[(String, String)]
    val problems = mutable.ArrayBuffer.empty[String]
    def problem(p: String): Unit = if (problems.size < 20) problems += p
    def merge(o: Part): Unit = {
      lines += o.lines; states += o.states; files += o.files
      emptyFiles += o.emptyFiles; fileBytes += o.fileBytes
      if (o.lastState.isDefined) lastState = o.lastState
      if (o.lastType.nonEmpty) lastType = o.lastType
      o.accs.foreach { case (k, a) =>
        val mine = accs.getOrElseUpdate(k, new Digest.Acc)
        mine.count += a.count
        mine.sum += a.sum
      }
      announced ++= o.announced
      batchFiles ++= o.batchFiles
      o.problems.foreach(problem)
    }
  }

  private val ChunkLines = 8192

  /** Parse the sync's stdout (and batch files) into a [[Delivery]]. Chunks
    * of lines are checked on `threads` threads, after the sync has ended.
    */
  def read(stdout: java.io.InputStream, streams: Seq[StreamSpec], batchRoot: Option[Path],
           batchSize: Long, batchPrefix: String, threads: Int): Delivery = {
    val byName = streams.map(s => s.name -> s).toMap

    def addRecord(part: Part, stream: String, record: JsonNode, where: => String): Unit =
      (byName.get(stream), record) match {
        case (Some(s), r) if r != null && r.isObject =>
          part.accs.getOrElseUpdate(stream, new Digest.Acc)
            .add(Digest.ofJsonRecord(r, s.digestColumns))
        case (None, _) => part.problem(s"$where: record of unknown stream '$stream'")
        case _ => part.problem(s"$where: record is not a JSON object")
      }

    def readBatchFile(part: Part, stream: String, uri: String): Unit = {
      val path = Paths.get(new java.net.URI(uri))
      part.announced += path
      val name = path.getFileName.toString
      if (!batchFileName(batchPrefix, stream).matches(name))
        part.problem(s"batch file name '$name' does not follow the reference scheme")
      part.files += 1
      part.fileBytes += Files.size(path)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(Files.newInputStream(path), 1 << 16),
        java.nio.charset.StandardCharsets.UTF_8))
      var n = 0L
      try {
        var l = in.readLine()
        while (l != null) {
          n += 1
          addRecord(part, stream, mapper.readTree(l), name)
          l = in.readLine()
        }
      } finally in.close()
      if (n == 0) part.emptyFiles += 1
      if (n > batchSize) part.problem(s"$name holds $n lines, more than batch_size $batchSize")
    }

    def check(first: Long, chunk: Array[String]): Part = {
      val part = new Part
      chunk.indices.foreach { i =>
        val where = s"stdout line ${first + i + 1}"
        val msg = try mapper.readTree(chunk(i)) catch { case _: Exception => null }
        val tpe = Option(msg).filter(_.isObject).flatMap(m => Option(m.get("type")))
          .map(_.asText).getOrElse("")
        if (!MessageTypes(tpe)) part.problem(s"$where is not a Singer message")
        else {
          val stream = Option(msg.get("stream")).map(_.asText).getOrElse("")
          tpe match {
            case "RECORD" =>
              if (batchRoot.isDefined) part.problem(s"$where: RECORD in batch mode")
              addRecord(part, stream, msg.get("record"), where)
            case "BATCH" =>
              if (batchRoot.isEmpty) part.problem(s"$where: BATCH in Singer mode")
              else Option(msg.get("manifest")).toSeq.flatMap(_.elements.asScala)
                .foreach(f => part.batchFiles += stream -> f.asText)
            case "STATE" =>
              part.states += 1
              part.lastState = Some(msg)
            case _ =>
          }
        }
        part.lastType = tpe
      }
      part.lines = chunk.length
      part
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val total = new Part
    try {
      val pending = mutable.Queue.empty[java.util.concurrent.Future[Part]]
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(stdout,
        java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      try {
        var first = 0L
        var chunk = mutable.ArrayBuffer.empty[String]
        def submit(): Unit = {
          val (from, lines) = (first, chunk.toArray)
          pending += pool.submit(() => check(from, lines))
          first += lines.length
          chunk = mutable.ArrayBuffer.empty[String]
          // bound the lines held in memory
          while (pending.size > 2 * threads) total.merge(pending.dequeue().get())
        }
        var l = in.readLine()
        while (l != null) {
          chunk += l
          if (chunk.size == ChunkLines) submit()
          l = in.readLine()
        }
        if (chunk.nonEmpty) submit()
      } finally in.close()
      while (pending.nonEmpty) total.merge(pending.dequeue().get())
      total.batchFiles.toSeq.map { case (stream, uri) =>
        pool.submit { () => val part = new Part; readBatchFile(part, stream, uri); part }
      }.foreach(f => total.merge(f.get()))
    } finally pool.shutdown()

    batchRoot.foreach { root =>
      // Hadoop's local file system keeps a `.<name>.crc` checksum next to
      // each file it writes; those of announced files are expected
      val announced = total.announced.toSet
      val sidecars = announced.map(p => p.resolveSibling(s".${p.getFileName}.crc"))
      val onDisk = Files.list(root).iterator.asScala.toSet
      (onDisk -- announced -- sidecars).foreach(p =>
        total.problem(s"batch file ${p.getFileName} was never announced"))
    }
    if (total.lastType != "STATE") total.problem("the last stdout line is not a STATE message")
    val bookmarks = total.lastState.map { m =>
      Option(m.at("/value/bookmarks")).filter(_.isObject).map(_.properties.asScala.map { e =>
        e.getKey -> Option(e.getValue.get("replication_key_value")).map(_.asText).getOrElse("")
      }.toMap).getOrElse(Map.empty[String, String])
    }
    val accs = streams.map(s => s.name -> total.accs.getOrElse(s.name, new Digest.Acc)).toMap
    Delivery(total.lines, total.states, accs.map { case (k, a) => k -> a.count },
      accs.map { case (k, a) => k -> a.value }, bookmarks, total.files, total.emptyFiles,
      total.fileBytes, total.problems.toSeq)
  }

  /** Differences between a delivery and what the benchmark expects. The
    * digest of a stream the benchmark cannot reproduce is compared with
    * `reference`, the digests of the run's first sync.
    */
  def compare(d: Delivery, exp: Expected, reference: Map[String, String]): Seq[String] = {
    val counts = exp.counts.toSeq.sorted.collect {
      case (s, n) if d.counts.getOrElse(s, -1L) != n =>
        s"stream $s: ${d.counts.getOrElse(s, 0L)} records, expected $n"
    }
    val bookmarks = d.finalBookmarks match {
      case Some(b) if b == exp.bookmarks => Nil
      case other => Seq(s"final bookmarks ${other.getOrElse("missing")}, expected ${exp.bookmarks}")
    }
    val digests = (reference ++ exp.digests).toSeq.sorted.collect {
      case (s, v) if d.digests.get(s).exists(_ != v) =>
        s"stream $s: record digest ${d.digests(s)}, expected $v"
    }
    d.problems ++ counts ++ bookmarks ++ digests
  }
}
