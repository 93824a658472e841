package graft

import graft.sinks.{BlockGzipOutputStream, CoreBudget}
import graft.sinks.BlockGzipOutputStream.BlockSize
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.scalatest.funsuite.AnyFunSuite

/** The block-parallel gzip writer: one standard gzip member that any
  * gunzip (the JDK's, Hadoop's codec under `spark.read.text`) reads back as
  * exactly the bytes written, and the same bytes whoever deflates a block.
  */
class BlockGzipSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def gzip(data: Array[Byte], budget: CoreBudget, bytewise: Boolean = false): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new BlockGzipOutputStream(buf, budget)
    if (bytewise) data.foreach(b => out.write(b)) else out.write(data)
    out.close()
    buf.toByteArray
  }

  private def gunzip(gz: Array[Byte]): Array[Byte] =
    new GZIPInputStream(new java.io.ByteArrayInputStream(gz)).readAllBytes()

  /** Seeded JSON-ish lines, about `bytes` long in total. */
  private def lines(bytes: Int, seed: Long = 7): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val sb = new StringBuilder
    var i = 0
    while (sb.length < bytes) {
      sb ++= s"""{"id":$i,"k":${r.nextInt(100000)},"s":"${r.alphanumeric.take(r.nextInt(40)).mkString}","v":${r.nextDouble()}}""" + "\n"
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  private val idle = new CoreBudget(16)

  test("round trip: empty, exactly one block, many blocks, a split UTF-8 character") {
    val multiByte = "é😀€\n".getBytes(UTF_8) // 2 + 4 + 3 bytes
    val split = Array.fill[Byte](BlockSize - 1)('a') ++ Array[Byte]('\n') ++
      Array.fill[Byte](BlockSize - 3)('b') ++ multiByte ++ "tail\n".getBytes(UTF_8)
    val cases = Seq(
      "empty" -> Array.emptyByteArray,
      "one block" -> (Array.fill[Byte](BlockSize - 1)('x') :+ '\n'.toByte),
      "two blocks" -> (lines(2 * BlockSize).take(2 * BlockSize - 1) :+ '\n'.toByte),
      "many blocks" -> lines(9 * BlockSize + 12345),
      "split character" -> split)
    assert(cases(1)._2.length === BlockSize)
    assert(cases(2)._2.length === 2 * BlockSize)
    // the 4-byte character straddles the second block boundary
    assert(split.indexOfSlice("😀".getBytes(UTF_8)) === 2 * BlockSize - 1)
    val dir = Files.createTempDirectory("graft-blockgzip")
    for ((name, data) <- cases; bytewise <- Seq(false, true)) {
      val gz = gzip(data, idle, bytewise)
      assert(gunzip(gz) sameElements data, s"$name: gunzip")
      val file = dir.resolve(s"$name-$bytewise.txt.gz")
      Files.write(file, gz)
      val expected = if (data.isEmpty) Nil else new String(data, UTF_8).split("\n").toSeq
      val read = spark.read.text(file.toString).collect().map(_.getString(0)).toSeq
      assert(read === expected, s"$name: spark.read.text")
    }
    assert(idle.available === idle.cores)
  }

  // Block boundaries and dictionaries come from the byte stream alone, so
  // whether a block ran on a helper or on the writing thread (no free
  // slot) cannot change a file.
  test("output is byte-identical with helpers and inline") {
    val data = lines(3 * BlockSize * BlockGzipOutputStream.MaxInFlight / 2)
    val inline = gzip(data, new CoreBudget(0))
    assert(gzip(data, idle) sameElements inline)
    assert(gzip(data, new CoreBudget(1)) sameElements inline)
    assert(gunzip(inline) sameElements data)
    // sync flushes and 256 KB dictionaries cost almost nothing in size
    val jdk = new ByteArrayOutputStream()
    val z = new GZIPOutputStream(jdk)
    z.write(data)
    z.close()
    assert(inline.length <= jdk.size * 1.005, s"${inline.length} vs ${jdk.size}")
  }
}
