package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import org.apache.hadoop.fs.{ChecksumFileSystem, Path => HadoopPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration
import java.io.{BufferedOutputStream, OutputStream}
import java.util.UUID
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
  * same [[LineEncoder]] — writes their bytes into chunk files, splitting a
  * block at a line boundary where a chunk reaches `batch_size`, and returns
  * each chunk's record count and [[MaxKey]], so the bookmark comes from the
  * single write pass and nothing is read back: a chunk that takes a whole
  * block offers the block's max key, one that takes part of it each of
  * its lines' keys. Each task holds one slot of
  * the executor's [[CoreBudget]] while it runs; its line blocks, and the
  * 256 KB deflate blocks of its [[BlockGzipOutputStream]], go to helper
  * threads while slots are free, so encoding and compression use the idle
  * cores even when the source has fewer partitions than the executor has
  * cores (the reference has one sequential writer). With as many busy
  * partitions as cores, each task encodes and deflates its own blocks.
  * All path handling goes through the Hadoop
  * `FileSystem` API resolved from the root's scheme, so
  * `batch_config.storage.root` accepts any configured filesystem URL
  * (`file://`, `s3a://`, `gs://`, `hdfs://`, …) — the analog of the
  * reference's fsspec root (client.py:211); the rename to the reference
  * filename scheme is a metadata operation on that same filesystem.
  */
object BatchSink {

  def write(df: DataFrame, stream: StreamConfig, batch: BatchConfig,
            tapName: String = "tap-rawpostgresql"): Seq[BatchChunk] = {
    require(batch.encoding.format == "jsonl",
      s"unsupported batch format: ${batch.encoding.format}")
    // Normalize before reporting: anything other than gzip writes plain
    // .json, and the manifest must say what was actually applied.
    val gzip = batch.encoding.compression == "gzip"
    val appliedCompression = if (gzip) "gzip" else "none"
    val ext = if (gzip) ".json.gz" else ".json"
    val root = new HadoopPath(
      if (batch.storage.root.contains(":")) batch.storage.root
      else s"file://${batch.storage.root}")
    val conf = new SerializableConfiguration(df.sparkSession.sessionState.newHadoopConf())
    val fs = root.getFileSystem(conf.value)
    val outDir = new HadoopPath(root, s"graft-batch-${UUID.randomUUID()}")
    fs.mkdirs(outDir)

    val encoder = LineEncoder(df, stream)
    try {
      val written = df.queryExecution.toRdd.mapPartitionsWithIndex { (part, rows) =>
        CoreBudget.shared.holding {
          val taskFs = outDir.getFileSystem(conf.value)
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
            encoder.encode(rows)(identity) { block =>
              var i = 0
              while (i < block.lines) {
                if (out == null) { // opened on a chunk's first line: no empty files
                  // non-recursive: a straggler cannot recreate a deleted staging dir
                  val raw = taskFs.createFile(new HadoopPath(outDir, name)).overwrite(false).build()
                  out = if (gzip) new BlockGzipOutputStream(raw) else new BufferedOutputStream(raw, 1 << 16)
                  n = 0L
                  max = new MaxKey
                }
                // the block's lines up to the end of the chunk
                val end = math.min(block.lines, i + (stream.batchSize - n).toInt)
                out.write(block.bytes, block.start(i), block.start(end) - block.start(i))
                if (i == 0 && end == block.lines) block.offerMax(max) // the whole block
                else (i until end).foreach(block.offerKey(_, max))
                n += end - i
                i = end
                if (n == stream.batchSize) finish()
              }
            }
            if (out != null) finish()
          } finally if (out != null) out.close()
          chunks.iterator
        }
      }.collect()

      val syncId = UUID.randomUUID().toString
      // a checksummed filesystem (the local one) would move each chunk's
      // `.crc` sidecar into the root too; the raw one leaves it in outDir
      val renameFs = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case o => o }
      // one manifest per chunk file, matching the reference's per-chunk yield
      written.toSeq.zipWithIndex.map { case ((staged, n, max), i) =>
        val source = new HadoopPath(outDir, staged)
        val target = new HadoopPath(root,
          s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-$i$ext")
        if (!renameFs.rename(source, target))
          throw new java.io.IOException(s"rename $source -> $target failed")
        BatchChunk(BatchManifest(batch.encoding.format, appliedCompression,
          Seq(target.toUri.toString)), n, max)
      }
    } finally fs.delete(outDir, true) // sidecars, failed attempts' files
  }
}
