package graft.sinks

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.config.StreamConfig
import graft.state.TapState
import org.apache.spark.FutureAction
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.unsafe.types.UTF8String
import java.io.PrintStream
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Singer protocol emission: SCHEMA, then RECORDs, then STATE, one JSON
  * object per stdout line (inherited behavior of `singer_sdk.Stream.sync`;
  * reference invocation at tap_rawpostgresql/client.py:212).
  *
  * The one module that knows the wire format: every message, the
  * `--discover` catalog, `--about` and the CRITICAL line is a Jackson tree
  * (fields in insertion order) written by [[line]], with Jackson's escaping.
  *
  * Message serialization is inherently a driver-side, ordered, line-oriented
  * concern (the Singer spec is a stdout pipe), so this is the one place the
  * engine iterates records on the driver: one partition at a time, as the
  * compressed blocks of final RECORD lines its task encoded on the
  * executor's idle cores ([[LineEncoder]]), printed one STATE-free span of
  * a block at a time while the next partition's job runs, where the
  * reference streams rows through one sequential generator
  * (client.py:247-304).
  */
object SingerSink {

  private[graft] val mapper = new ObjectMapper()

  def obj(): ObjectNode = JsonNodeFactory.instance.objectNode()
  def strings(xs: Seq[String]): ArrayNode =
    xs.foldLeft(JsonNodeFactory.instance.arrayNode())(_ add _)
  def render(node: JsonNode): String = mapper.writeValueAsString(node)

  /** The writer: `node` as one line of compact JSON. */
  def line(out: PrintStream, node: JsonNode): Unit = out.println(render(node))

  /** `schema`: `TypeMapper.jsonSchema` of the declared columns, or of the
    * transformed shape when a stream map changed it (as the SDK does).
    */
  def emitSchema(stream: StreamConfig, schema: ObjectNode,
                 out: PrintStream = System.out): Unit = {
    val msg = obj().put("type", "SCHEMA").put("stream", stream.name)
      .set[ObjectNode]("schema", schema)
      .set[ObjectNode]("key_properties", strings(stream.keyProperties))
    stream.replicationKey.foreach(k => msg.putArray("bookmark_properties").add(k))
    line(out, msg)
  }

  /** The RECORD envelope around a record's JSON, as (prefix, suffix):
    * rendered once and split around its `"record":null` (unique: a `"`
    * inside a JSON string is escaped). singer_sdk stamps each RECORD with
    * time_extracted; one per sync, from the caller, so all of a stream's
    * records agree.
    */
  def envelope(stream: StreamConfig, timeExtracted: Option[String]): (String, String) = {
    val msg = obj().put("type", "RECORD").put("stream", stream.name).putNull("record")
    timeExtracted.foreach(msg.put("time_extracted", _))
    val rendered = render(msg)
    val slot = rendered.indexOf("\"record\":null") + "\"record\":".length
    (rendered.take(slot), rendered.drop(slot + "null".length))
  }

  /** Emit RECORD messages: only the encoded lines stream through the
    * driver, already enveloped. A record is every column of `df`, nulls
    * included as JSON nulls (singer_sdk emits every declared column and
    * strict Singer targets check schema parity), with timestamps and dates
    * in their reference string forms. Each partition's task encodes its
    * rows into [[LineBlock]]s of final RECORD lines on the executor's idle
    * cores ([[LineEncoder]]) and returns them compressed with
    * `spark.io.compression.codec`. The driver runs one job per partition,
    * in order, with the next partition's job in flight while it prints
    * this one's; it decompresses blocks through an [[InOrder]] queue on
    * [[CoreBudget.shared]]'s idle cores and prints each run of a block's
    * lines between two STATE points with one `println`.
    *
    * Returns (records emitted, max replication-key value among them as its
    * Spark string cast). The bookmark is tracked INSIDE the single emit
    * pass, so the stream is executed exactly once: no second max() job
    * that a nondeterministic source could answer differently, and no
    * full-stream persist to keep the two executions consistent
    * (singer_sdk likewise derives state from processed records). A block
    * without a STATE point offers its own max key ([[LineBlock.offerMax]]),
    * a block with one offers each line's. O(1) driver state; the driver
    * holds the compressed blocks of at most two partitions, plus
    * [[LineEncoder.MaxInFlight]] decompressed blocks.
    *
    * `onProgress` fires after every `stateEvery` emitted records with the
    * max replication-key string among records emitted SO FAR — the caller
    * turns it into a mid-sync STATE message (the SDK's
    * `Tap.STATE_MSG_FREQUENCY` behavior), so a 100 TB extraction killed
    * mid-stream resumes from the last flushed bookmark.
    */
  def emitRecords(df: DataFrame, stream: StreamConfig,
                  out: PrintStream = System.out,
                  timeExtracted: Option[String] = None,
                  stateEvery: Long = Long.MaxValue,
                  onProgress: Option[String] => Unit = _ => ()): (Long, Option[String]) = {
    var n = 0L
    val max = new MaxKey
    def print(block: LineBlock): Unit =
      if (n / stateEvery == (n + block.lines) / stateEvery) {
        out.println(block.span(0, block.lines))
        block.offerMax(max)
        n += block.lines
      } else {
        var from, i = 0
        while (i < block.lines) {
          block.offerKey(i, max)
          i += 1
          n += 1
          if (n % stateEvery == 0) {
            out.println(block.span(from, i))
            from = i
            onProgress(max.value)
          }
        }
        if (from < block.lines) out.println(block.span(from, block.lines))
      }
    val encoder = LineEncoder(df, stream, envelope(stream, timeExtracted))
    val blocks = df.queryExecution.toRdd.mapPartitions { rows =>
      val codec = GraftBridge.compressionCodec
      val done = ArrayBuffer.empty[Array[Byte]]
      CoreBudget.shared.holding(encoder.encode(rows)((block, _) => block.compress(codec))(done += _))
      done.iterator
    }
    val codec = GraftBridge.compressionCodec
    val decoded = new InOrder[LineBlock](CoreBudget.shared, LineEncoder.MaxInFlight, print)
    val jobs = new java.util.ArrayDeque[FutureAction[Array[Array[Byte]]]]()
    try {
      for (p <- 0 until blocks.getNumPartitions) {
        while (jobs.size < JobWindow && p + jobs.size < blocks.getNumPartitions)
          jobs.add(partition(blocks, p + jobs.size))
        Await.result(jobs.peek, Duration.Inf).foreach { data =>
          decoded.submit(() => encoder.decompress(codec, data))
        }
        jobs.poll()
        decoded.flush()
      }
    } finally {
      jobs.forEach(_.cancel())
      decoded.close()
    }
    (n, max.value)
  }

  /** Partition jobs in flight at once in [[emitRecords]]: the one it
    * prints and the next.
    */
  private val JobWindow = 2

  /** The job that fetches partition `p` of `rdd`. It runs over an RDD of
    * its own: the scheduler aborts every active job whose final RDD is the
    * one a failed task ran on, so with `rdd` itself a failure in the next
    * partition would fail this one's job too.
    */
  private def partition(rdd: RDD[Array[Byte]], p: Int): FutureAction[Array[Array[Byte]]] = {
    var result: Array[Array[Byte]] = null
    rdd.sparkContext.submitJob(PartitionPruningRDD.create(rdd, _ == p),
      (it: Iterator[Array[Byte]]) => it.toArray, Seq(0),
      (_: Int, r: Array[Array[Byte]]) => result = r, result)
  }

  /** `ACTIVATE_VERSION` — the singer_sdk FULL_TABLE resync handshake: a
    * version stamp emitted after the sync's last RECORD tells a
    * version-aware target that rows not carrying this version are stale
    * and may be hard-deleted (soft "truncate then reload" without a
    * window where the table is empty). Incremental streams never emit
    * it — their bookmark IS the freshness contract.
    */
  def emitActivateVersion(stream: StreamConfig, version: Long,
                          out: PrintStream = System.out): Unit =
    line(out, obj().put("type", "ACTIVATE_VERSION").put("stream", stream.name).put("version", version))

  /** One Singer BATCH message per emitted manifest (the SDK's
    * `BatchMessage`; the reference yields one `(encoding, [file_url])`
    * chunk at a time, client.py:234,245).
    */
  def emitBatch(stream: StreamConfig, manifest: BatchManifest,
                out: PrintStream = System.out): Unit = {
    val encoding = obj().put("format", manifest.format)
      .put("compression", manifest.compression)
    line(out, obj().put("type", "BATCH").put("stream", stream.name)
      .set[ObjectNode]("encoding", encoding)
      .set[ObjectNode]("manifest", strings(manifest.files)))
  }

  /** An UNSORTED stream's running max (see [[emitState]]). */
  final case class Progress(streamId: String, replicationKey: String, value: String)

  /** STATE: every committed bookmark, streams in id order. With
    * `progress`, the active stream's running max rides in
    * `progress_markers` (the SDK's non-resumable marker shape for
    * `is_sorted=False` streams) while its committed
    * `replication_key_value` — what a resume actually filters on — stays
    * untouched. `Bookmarks.load` reads only `replication_key_value`, so an
    * interrupted unsorted sync re-extracts the whole stream (safe: rows
    * below the running max might not have been emitted yet) and the marker
    * is promoted to a real bookmark only when the stream completes.
    *
    * Flushes `out`: a STATE line reaches the target together with every
    * RECORD before it, and a buffered stdout is flushed nowhere else
    * during a sync.
    */
  def emitState(state: TapState, out: PrintStream = System.out,
                progress: Option[Progress] = None): Unit = {
    val msg = obj().put("type", "STATE")
    val bookmarks = msg.putObject("value").putObject("bookmarks")
    (state.bookmarks.keySet ++ progress.map(_.streamId)).toSeq.sorted.foreach { sid =>
      val entry = bookmarks.putObject(sid)
      state.bookmarks.get(sid).foreach(entry.put("replication_key_value", _))
      progress.filter(_.streamId == sid).foreach { p =>
        entry.putObject("progress_markers")
          .put("Note", "Progress is not resumable if interrupted.")
          .put("replication_key", p.replicationKey)
          .put("replication_key_value", p.value)
      }
    }
    line(out, msg)
    out.flush()
  }
}

/** The running max of a stream's replication key over encoded rows, in
  * Spark's max() order, keeping the winner's string cast as the bookmark:
  * argmax(native) then its string == cast(max(native)), the rendering
  * `Bookmarks.advance` produced from a whole-column max. A String
  * compares as UTF8String (UTF-8 byte order), not by its UTF-16 code units,
  * so bookmarks agree with `max()` on supplementary-plane values.
  * Serializable: batch write tasks return one per chunk.
  */
final class MaxKey extends Serializable {
  private var best: Comparable[Any] = _
  private var bookmark: String = _

  /** Offer one row's `rk` — all in Spark's external or all in its internal
    * form; null leaves the max alone — and its `rks`, evaluated only when
    * the key wins. An internal string is copied: it can point into a row
    * buffer the next row reuses.
    */
  def add(key: Any, rks: => String): Unit = if (key != null) offer((key match {
    case s: String => UTF8String.fromString(s)
    case u: UTF8String => u.clone()
    case o => o
  }).asInstanceOf[Comparable[Any]], rks)

  def merge(other: MaxKey): Unit = if (other.best != null) offer(other.best, other.bookmark)

  private def offer(v: Comparable[Any], rks: => String): Unit =
    if (best == null || v.compareTo(best) > 0) { best = v; bookmark = rks }

  def value: Option[String] = Option(bookmark)
}
