package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with a typed metadata struct.
  *
  * The Spark-side mechanics here — schema, partition-iterator decode,
  * batch shape, deterministic sampling — are real and tested. The decode
  * kernels themselves are STUBS (this container has no image/audio codecs):
  * [[FakeCodec]] produces deterministic pseudo-features from the bytes so
  * tests are reproducible; a real deployment swaps in a codec-backed
  * [[MediaCodec]] without touching the plan shape.
  */
object Multimodal {

  /** Metadata struct computed from the raw bytes — size, a magic-prefix
    * hex, and a 64-bit content checksum. Pure projection.
    */
  def mediaMeta(binCol: Column): Column = struct(
    length(binCol).as("size_bytes"),
    hex(substring(binCol, 1, 4)).as("magic"),
    xxhash64(binCol).as("checksum"))

  /** Attach a binary payload column + metadata to a DataFrame. `srcCol`
    * may be a string column (encoded to UTF-8 bytes) or already binary.
    */
  def ingest(df: DataFrame, srcCol: String,
             binName: String = "content", metaName: String = "meta"): DataFrame = {
    val bin = col(srcCol).cast(BinaryType)
    df.withColumn(binName, bin).withColumn(metaName, mediaMeta(col(binName)))
  }

  /** Deterministic fixed-size byte "frames" from a payload — the
    * frame-sampling plumbing (video → every nth chunk). Real byte slicing;
    * only the interpretation (frames vs chunks) is domain-specific.
    */
  def frameSample(binCol: Column, nFrames: Int, frameBytes: Int): Column =
    filter(
      transform(sequence(lit(0), lit(nFrames - 1)),
        i => binCol.substr(i * frameBytes + 1, lit(frameBytes))),
      f => length(f) > 0)

  /** Pluggable decode kernel. Implementations must be deterministic per
    * byte payload for replayability.
    */
  trait MediaCodec extends Serializable {
    def decode(bytes: Array[Byte]): Array[Float]
  }

  /** Deterministic stand-in for an image/audio decoder (no codecs in this
    * container): features are a simple byte-histogram projection — cheap,
    * reproducible, and shaped like a real embedding.
    */
  final class FakeCodec(val dim: Int) extends MediaCodec {
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) {
        out(i % dim) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }
  }

  /** Parsed container header metadata (format + dimensions) from real
    * magic-byte/header parsing — see [[graft.plans.MediaHeaderExpr]].
    * A pure projection: scan → header-parse → filter/route by format.
    */
  def mediaHeader(binCol: Column): Column =
    graft.plans.MediaHeaderExpr.mediaHeader(binCol)

  /** Integer byte-bucket histogram: `out(i % dim) += byte(i)` with NO
    * normalization. Buckets accumulate in Long (exact for any payload
    * size) and convert to Float once at the end, so the only rounding is
    * the final Long→Float cast — a single deterministic round-to-nearest
    * that a SQL oracle reproduces with `CAST(int_sum AS FLOAT)`. (A float
    * accumulator would drift order-dependently once a bucket passed
    * 2^24 ≈ a 1 MiB payload at dim=16.) The oracle-checkable stand-in
    * where [[FakeCodec]]'s /255 normalization accumulates float32
    * rounding.
    */
  final class ByteHistCodec(val dim: Int) extends MediaCodec {
    def decode(bytes: Array[Byte]): Array[Float] = {
      val acc = new Array[Long](dim)
      var i = 0
      while (i < bytes.length) {
        acc(i % dim) += (bytes(i) & 0xff).toLong
        i += 1
      }
      val out = new Array[Float](dim)
      i = 0
      while (i < dim) { out(i) = acc(i).toFloat; i += 1 }
      out
    }
  }

  /** Partition-iterator decode — the Scala analog of `mapInPandas`: one
    * codec instance per partition (amortizes model/codec init), rows
    * streamed through it, binary in → features out. This is the last-resort
    * imperative path per the design rules, justified because decode is
    * genuinely per-row imperative work no Catalyst expression covers.
    */
  def decodePartitions(df: DataFrame, binCol: String, codec: MediaCodec,
                       featName: String = "features"): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(featName, ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val feats = if (bytes == null) Array.empty[Float] else codec.decode(bytes)
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }(enc)
  }

  /** Exact media dedup: group rows by the md5 digest of their raw byte
    * payload — the re-uploaded-asset detector (same image under many
    * URLs/ids), media's analog of [[Dedup.exactGroups]] with no text
    * normalization (bytes either match or don't). Emits every row with
    * its group representative (min id) and copy count.
    *
    * Scale shape: the digest projects per row (the payload itself never
    * shuffles — only the 16-byte digest + id cross the exchange), the
    * group aggregate partial-aggregates, and the join back is on the
    * digest key. At 100 TB of media this is the only affordable shape:
    * shuffling payloads would move the corpus.
    */
  def exactMediaGroups(df: DataFrame, binCol: String,
                       idCol: String): DataFrame = {
    val digested = df.select(col(idCol), md5(col(binCol)).as("__d"))
    val groups = digested.groupBy("__d")
      .agg(min(col(idCol)).as("group_id"), count(lit(1)).as("n_copies"))
    digested.join(groups, "__d")
      .select(col(idCol), col("group_id"), col("n_copies"))
  }

  /** The 56-bit difference-hash (dHash) of a payload given as a HEX
    * string plus its byte count: 64 bytes sampled at the even positions
    * `(i·nb) div 64` (an 8×8 grayscale-grid stand-in), bit `r·7+c` set
    * when sample `r·8+c` > sample `r·8+c+1`. 56 bits — not 64 — so no
    * term ever touches the sign bit and every engine's checked `<<` is
    * happy. Working on the hex plane (2 chars/byte) keeps the arithmetic
    * byte-exact and SQL-replayable; a production build would fuse this
    * into one native expression over the raw bytes — the oracle contract
    * is the sampled-comparison semantics, not the string ops.
    */
  def dHash56Sql(h: String, nb: String): String = {
    def byteAt(i: Int): String =
      s"CAST(conv(substring($h, CAST(((${i}L * $nb) div 64) * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)"
    val terms = for (r <- 0 until 8; c <- 0 until 7) yield {
      val i = r * 8 + c
      s"(CASE WHEN ${byteAt(i)} > ${byteAt(i + 1)} THEN ${1L << (r * 7 + c)}L ELSE 0L END)"
    }
    terms.mkString("(", " + ", ")")
  }

  /** Perceptual near-duplicate media pairs: dHash signatures, banded
    * 4×14-bit LSH candidates (≤3 flipped bits ALWAYS share ≥1 of the 4
    * bands), exact Hamming verify ≤ `maxHamming`. The signature is 8
    * bytes per payload; the payload itself never crosses an exchange —
    * the simhash shape applied to media.
    */
  def phashPairs(docs: DataFrame, idCol: String, hexCol: Column,
      maxHamming: Int = 5): DataFrame = {
    val sigs = docs.select(col(idCol).as("__id"), hexCol.as("__h"))
      .where(length(col("__h")) >= 128) // ≥64 bytes: a full sample grid
      .withColumn("__nb", (length(col("__h")) / 2).cast("long"))
      .withColumn("sig", expr(dHash56Sql("__h", "__nb")))
      .select("__id", "sig")
    val bands = sigs.select(col("__id"), col("sig"),
      explode(array((0 until 4).map(k =>
        expr(s"struct($k as k, shiftright(sig, ${k * 14}) & 16383 as v)")): _*))
        .as("b"))
      .select(col("__id"), col("sig"), col("b.k").as("k"), col("b.v").as("v"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.v") === col("b.v") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.sig").as("__sa"), col("b.sig").as("__sb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Per-frame PCM energy over a binary payload interpreted as 16-bit
    * little-endian samples: frame f's energy = Σ s², exact integers —
    * the silence-detection / loudness-normalization primitive of an
    * audio pipeline, expressed entirely as row-local codegen'd HOFs
    * over the payload's hex plane (sample decode → signed conversion →
    * square-sum fold). No UDF, no driver loop; bytes never shuffle —
    * only (id, frame_idx, energy) scalar rows leave the row.
    * Trailing partial frames are dropped (both engines agree).
    */
  def pcmFrameEnergy(df: DataFrame, idCol: String, contentCol: String,
                     frameSamples: Int = 64): DataFrame = {
    val fb = frameSamples * 2 // bytes per frame
    // the hex plane materializes ONCE per row — inlining hex() into the
    // per-sample lambda re-encodes the payload 2x per sample (measured
    // 5.9 s -> sub-second at sf0.1 for the hoist)
    val energies = expr(
      s"""transform(sequence(0, CAST(length($contentCol) div $fb AS INT) - 1),
         |  f -> aggregate(
         |    transform(sequence(0, ${frameSamples - 1}), i ->
         |      CAST(conv(substr(__hx,
         |        (f * $fb + i * 2) * 2 + 1, 2), 16, 10) AS INT)
         |      + 256 * CAST(conv(substr(__hx,
         |        (f * $fb + i * 2) * 2 + 3, 2), 16, 10) AS INT)),
         |    0L,
         |    (acc, v) -> acc +
         |      CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
         |        AS BIGINT) *
         |      CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
         |        AS BIGINT)))""".stripMargin)
    df.where(length(col(contentCol)) >= fb)
      .withColumn("__hx", lower(hex(col(contentCol))))
      .select(col(idCol), posexplode(energies).as(Seq("frame_idx", "energy")))
  }
}
