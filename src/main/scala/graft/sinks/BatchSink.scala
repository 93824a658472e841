package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HadoopPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration
import java.io.{ByteArrayOutputStream, OutputStream}
import java.util.{Arrays, UUID}
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer

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
  * same [[LineEncoder]] — and writes them into chunk files, returning each
  * chunk's record count and [[MaxKey]], so the bookmark comes from the
  * single write pass and nothing is read back. The thread that encodes a
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

  def write(df: DataFrame, stream: StreamConfig, batch: BatchConfig,
            tapName: String = "tap-rawpostgresql"): Seq[BatchChunk] = {
    // Normalize before reporting: anything other than gzip writes plain
    // .json, and the manifest must say what was actually applied.
    val gzip = batch.encoding.compression == "gzip"
    val appliedCompression = if (gzip) "gzip" else "none"
    val ext = if (gzip) ".json.gz" else ".json"
    val root = new HadoopPath(
      if (batch.storage.root.contains(":")) batch.storage.root
      else s"file://${batch.storage.root}")
    val conf = new SerializableConfiguration(df.sparkSession.sessionState.newHadoopConf())
    val fs = raw(root.getFileSystem(conf.value))
    val outDir = new HadoopPath(root, s"graft-batch-${UUID.randomUUID()}")
    fs.mkdirs(outDir)

    val encoder = LineEncoder(df, stream)
    val batchSize = stream.batchSize
    try {
      val written = df.queryExecution.toRdd.mapPartitionsWithIndex { (part, rows) =>
        CoreBudget.shared.holding {
          val taskFs = raw(outDir.getFileSystem(conf.value))
          // per attempt: a retried or speculative attempt never writes over
          // another's file; only successful attempts' names reach the driver
          val attempt = TaskContext.get().taskAttemptId()
          val chunks = ArrayBuffer.empty[(String, Long, MaxKey)]
          def name = s"part-$part-$attempt-${chunks.length}$ext"
          var out: OutputStream = null
          var n = 0L
          var max: MaxKey = null
          def finish(): Unit = { out.close(); out = null; chunks += ((name, n, max)) }
          try {
            encoder.encode(rows)(pieces(_, _, batchSize, gzip))(_.foreach { piece =>
              if (out == null) { // opened on a chunk's first piece: no empty files
                // non-recursive: a straggler cannot recreate a deleted staging dir
                out = taskFs.createFile(new HadoopPath(outDir, name)).overwrite(false).build()
                n = 0L
                max = new MaxKey
              }
              out.write(piece.bytes)
              max.merge(piece.max)
              n += piece.lines
              if (n == batchSize) finish()
            })
            if (out != null) finish()
          } finally if (out != null) out.close()
          chunks.iterator
        }
      }.collect()

      val syncId = UUID.randomUUID().toString
      // one manifest per chunk file, matching the reference's per-chunk yield
      written.toSeq.zipWithIndex.map { case ((staged, n, max), i) =>
        val source = new HadoopPath(outDir, staged)
        val target = new HadoopPath(root,
          s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-$i$ext")
        if (!fs.rename(source, target))
          throw new java.io.IOException(s"rename $source -> $target failed")
        BatchChunk(BatchManifest(batch.encoding.format, appliedCompression,
          Seq(target.toUri.toString)), n, max)
      }
    } finally {
      // failed attempts' files; a killed task still running can create one
      // while the directory is deleted, which then fails and is retried:
      // its creates are non-recursive, so once gone the directory stays gone
      var attempts = 0
      while (fs.exists(outDir) && !fs.delete(outDir, true) && attempts < 10) attempts += 1
    }
  }

  /** A checksummed filesystem's (the local one's) raw one: the checksummed
    * one creates each file's `.crc` sidecar with its parent directories.
    */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case o => o
  }
}
