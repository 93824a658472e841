package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HadoopPath}
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.SerializableConfiguration
import java.io.{ByteArrayOutputStream, IOException, OutputStream}
import java.util.{Arrays, UUID}
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** One emitted batch manifest: encoding + the files of one chunk
  * (reference: tap_rawpostgresql/client.py:234,245 yields
  * `(encoding, [file_url])` per chunk).
  */
final case class BatchManifest(format: String, compression: String, files: Seq[String])

/** One written chunk: its manifest, record count and replication-key max. */
final case class BatchChunk(manifest: BatchManifest, records: Long, maxKey: MaxKey)

/** Batch sink: gzip-compressed JSONL files of at most `batchSize` records,
  * named `{prefix}{tap}--{stream}-{uuid4}-{i}.json.gz`.
  *
  * Reference: tap_rawpostgresql/client.py:185-245 — rotation at exactly
  * `batch_size` records (client.py:228-239), final flush (client.py:241-245),
  * filename scheme (client.py:202,214).
  *
  * Spark-first: one job over the conformed rows in which each task encodes
  * its partition into [[LineBlock]]s — the lines RECORD mode emits, by the
  * same [[LineEncoder]] — and writes them into chunk files. As it closes
  * each file, the task sends the driver the file's staged name, record
  * count and [[MaxKey]] over a [[TaskChannel]], so the bookmark comes from
  * the single write pass and nothing is read back. The driver answers
  * each as soon as it routes it, and announces the chunks in (partition,
  * chunk) order while the job runs: a chunk as soon as it and every chunk
  * before it are written, as the reference yields each chunk's manifest
  * once it is written (client.py:234). One attempt of a partition is
  * announced, so a retry of a partition after one of its chunks was
  * announced fails the write. The thread that encodes a
  * block also cuts it into pieces at the lines where a chunk reaches
  * `batch_size`, and gzips each piece into one complete gzip member
  * (RFC 1952 §2.2: a file of several members reads as their concatenated
  * lines) with the max key of its lines: a piece that is the whole block
  * offers the block's max key, one that is part of it each of its lines'
  * keys. The task thread only writes pieces, in order: a chunk file is a
  * series of members whose bytes depend on their own lines alone, however
  * the blocks were scheduled. Each task holds one slot of the executor's
  * [[CoreBudget]] while it runs; its blocks go to helper threads while
  * slots are free, so encoding and compression use the idle cores even
  * when the source has fewer partitions than the executor has cores (the
  * reference has one sequential writer). With as many busy partitions as
  * cores, each task encodes and compresses its own blocks.
  * All path handling goes through the Hadoop
  * `FileSystem` API resolved from the root's scheme, so
  * `batch_config.storage.root` accepts any configured filesystem URL
  * (`file://`, `s3a://`, `gs://`, `hdfs://`, …) — the analog of the
  * reference's fsspec root (client.py:211); the rename to the reference
  * filename scheme is a metadata operation on that same filesystem.
  */
object BatchSink {

  /** Lines of one chunk cut from a block, gzipped or plain, with their
    * count and max key.
    */
  private[graft] final case class Piece(bytes: Array[Byte], lines: Int, max: MaxKey)

  /** `block`, whose first line is line `first` of its partition, cut where
    * a chunk of `batchSize` lines ends.
    */
  private[graft] def pieces(block: LineBlock, first: Long, batchSize: Int, gzip: Boolean): Seq[Piece] = {
    val cut = ArrayBuffer.empty[Piece]
    var i = 0
    while (i < block.lines) {
      val end = math.min(block.lines, i + (batchSize - (first + i) % batchSize).toInt)
      val max = new MaxKey
      if (i == 0 && end == block.lines) block.offerMax(max) // the whole block
      else (i until end).foreach(block.offerKey(_, max))
      val (from, to) = (block.start(i), block.start(end))
      val bytes = if (gzip) {
        val buf = new ByteArrayOutputStream((to - from) / 4)
        val z = new GZIPOutputStream(buf)
        z.write(block.bytes, from, to - from)
        z.close()
        buf.toByteArray
      } else Arrays.copyOfRange(block.bytes, from, to)
      cut += Piece(bytes, end - i, max)
      i = end
    }
    cut.toSeq
  }

  /** One chunk file a task wrote into the staging directory: its name
    * there, record count and max key.
    */
  private final case class Staged(name: String, records: Long, max: MaxKey)

  /** Write `df`'s records into chunk files and announce each one through
    * `announce`, in (partition, chunk) order, as soon as it and every
    * chunk before it are written; returns every chunk. A failure leaves
    * the chunks announced before it in the root, and no other file.
    */
  def write(df: DataFrame, stream: StreamConfig, batch: BatchConfig,
            tapName: String = "tap-rawpostgresql",
            announce: BatchChunk => Unit = _ => ()): Seq[BatchChunk] = {
    // Normalize before reporting: anything other than gzip writes plain
    // .json, and the manifest must say what was actually applied.
    val gzip = batch.encoding.compression == "gzip"
    val appliedCompression = if (gzip) "gzip" else "none"
    val ext = if (gzip) ".json.gz" else ".json"
    val root = new HadoopPath(
      if (batch.storage.root.contains(":")) batch.storage.root
      else s"file://${batch.storage.root}")
    val (rows, encoder, batchSize) = (df.queryExecution.toRdd, LineEncoder(df, stream), stream.batchSize)
    val (sc, partitions) = (rows.sparkContext, rows.partitions.indices)
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val fs = raw(root.getFileSystem(hadoopConf))
    val outDir = new HadoopPath(root, s"graft-batch-${UUID.randomUUID()}")
    fs.mkdirs(outDir)
    // once per write, not in every task's closure
    val conf = sc.broadcast(new SerializableConfiguration(hadoopConf))
    val channel = new TaskChannel[Staged](answerOnTake = false)
    val endpoint = channel.name // the tasks get the name, not the channel
    try {
      val job = sc.submitJob(rows, (it: Iterator[InternalRow]) => CoreBudget.shared.holding {
        val part = TaskContext.getPartitionId()
        val taskFs = raw(outDir.getFileSystem(conf.value.value))
        val sender = new TaskChannel.Sender(endpoint, part)
        // per attempt: a retried or speculative attempt never writes over
        // another's file; only the taken attempt's names are announced
        val attempt = TaskContext.get().taskAttemptId()
        var chunks = 0
        def name = s"part-$part-$attempt-$chunks$ext"
        var out: OutputStream = null
        var n = 0L
        var max: MaxKey = null
        def finish(): Unit = { out.close(); out = null; sender.send(Staged(name, n, max)); chunks += 1 }
        try {
          encoder.encode(it)(pieces(_, _, batchSize, gzip))(_.foreach { piece =>
            if (out == null) { // opened on a chunk's first piece: no empty files
              out = create(taskFs, outDir, name)
              n = 0L
              max = new MaxKey
            }
            out.write(piece.bytes)
            max.merge(piece.max)
            n += piece.lines
            if (n == batchSize) finish()
          })
          if (out != null) finish()
          sender.end()
        } finally if (out != null) out.close()
      }, partitions, (_: Int, _: Unit) => (), ())
      channel.watch(job, partitions)

      val syncId = UUID.randomUUID().toString
      val written = ArrayBuffer.empty[BatchChunk]
      // one manifest per chunk file, matching the reference's per-chunk yield
      for (p <- partitions) channel.foreach(p) { staged =>
        val source = new HadoopPath(outDir, staged.name)
        val target = new HadoopPath(root,
          s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-${written.length}$ext")
        if (!fs.rename(source, target))
          throw new IOException(s"rename $source -> $target failed")
        written += BatchChunk(BatchManifest(batch.encoding.format, appliedCompression,
          Seq(target.toUri.toString)), staged.records, staged.max)
        announce(written.last)
      }
      Await.ready(job, Duration.Inf) // its tasks return once their ends are taken
      written.toSeq
    } finally {
      channel.close()
      // unannounced files; a killed task still running can create one
      // while the directory is deleted, which then fails and is retried:
      // its creates are non-recursive, so once gone the directory stays gone
      var attempts = 0
      while (fs.exists(outDir) && !fs.delete(outDir, true) && attempts < 10) attempts += 1
      conf.destroy()
    }
  }

  /** A new chunk file `name` in the staging directory `dir`. Only the
    * driver deletes the directory, when the write has ended, so a task
    * that finds it gone is a task of an ended write, and ends as killed.
    */
  private def create(fs: FileSystem, dir: HadoopPath, name: String): OutputStream =
    // non-recursive: a straggler cannot recreate a deleted staging dir
    try fs.createFile(new HadoopPath(dir, name)).overwrite(false).build()
    catch { case _: IOException if !fs.exists(dir) => throw new TaskKilledException(s"$dir is deleted") }

  /** A checksummed filesystem's (the local one's) raw one: the checksummed
    * one creates each file's `.crc` sidecar with its parent directories.
    */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case o => o
  }
}
