package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import graft.operators.Conformance
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HadoopPath}
import org.apache.spark.sql.DataFrame
import java.util.UUID

/** One emitted batch manifest: encoding + the files of one chunk
  * (reference: tap_rawpostgresql/client.py:234,245 yields
  * `(encoding, [file_url])` per chunk).
  */
final case class BatchManifest(format: String, compression: String, files: Seq[String])

/** Batch sink: gzip-compressed JSONL files of at most `batchSize` records,
  * named `{prefix}{tap}--{stream}-{uuid4}-{i}.json.gz`.
  *
  * Reference: tap_rawpostgresql/client.py:185-245 — rotation at exactly
  * `batch_size` records (client.py:228-239), final flush (client.py:241-245),
  * filename scheme (client.py:202,214).
  *
  * Spark-first: the write itself is `DataFrameWriter.json` with
  * `maxRecordsPerFile` — rotation and parallel IO are native and scale with
  * partitions, unlike the reference's single sequential writer. All path
  * handling goes through the Hadoop `FileSystem` API resolved from the
  * root's scheme, so `batch_config.storage.root` accepts any configured
  * filesystem URL (`file://`, `s3a://`, `gs://`, `hdfs://`, …) — the
  * analog of the reference's fsspec root (client.py:211); the rename to
  * the reference filename scheme is a metadata operation on that same
  * filesystem.
  */
object BatchSink {

  def write(df: DataFrame, stream: StreamConfig, batch: BatchConfig,
            tapName: String = "tap-rawpostgresql"): Seq[BatchManifest] = {
    require(batch.encoding.format == "jsonl",
      s"unsupported batch format: ${batch.encoding.format}")
    // Normalize before reporting: anything other than gzip writes plain
    // .json, and the manifest must say what was actually applied.
    val gzip = batch.encoding.compression == "gzip"
    val appliedCompression = if (gzip) "gzip" else "none"
    val root = new HadoopPath(
      if (batch.storage.root.contains(":")) batch.storage.root
      else s"file://${batch.storage.root}")
    val fs: FileSystem =
      root.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val outDir = new HadoopPath(root, s"graft-batch-${UUID.randomUUID()}")

    val writer = df.write
      .option("maxRecordsPerFile", stream.batchSize.toString)
      .option("timestampFormat", Conformance.IsoTimestampPattern)
    (if (gzip) writer.option("compression", "gzip") else writer)
      .json(outDir.toString)

    val ext = if (gzip) ".json.gz" else ".json"
    val parts = fs.listStatus(outDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(ext))
      .sortBy(_.getName)
      .toSeq

    val syncId = UUID.randomUUID().toString
    // a checksummed filesystem (the local one) would move each part's
    // `.crc` sidecar into the root too; the raw one leaves it in outDir
    val renameFs = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case o => o }
    val renamed = parts.zipWithIndex.map { case (p, i) =>
      val name = s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-$i$ext"
      val target = new HadoopPath(root, name)
      if (!renameFs.rename(p, target))
        throw new java.io.IOException(s"rename $p -> $target failed")
      target
    }
    fs.delete(outDir, true) // _SUCCESS + any stragglers

    // one manifest per chunk file, matching the reference's per-chunk yield
    renamed.map(p => BatchManifest(batch.encoding.format,
      appliedCompression, Seq(p.toUri.toString)))
  }
}
