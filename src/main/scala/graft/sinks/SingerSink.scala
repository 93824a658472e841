package graft.sinks

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.config.StreamConfig
import graft.state.TapState
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import java.io.PrintStream

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
  * blocks of final RECORD lines its task encodes on the executor's idle
  * cores ([[LineEncoder]]) and streams to the driver while it encodes the
  * next ones, printed one STATE-free span of a block at a time, as the
  * reference emits each row as its single cursor yields it
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
    * cores ([[LineEncoder]]) and streams them to the driver as it encodes
    * them ([[RecordBlocks]]): the driver runs one job per partition, in
    * order, with the next partition's job in flight while it prints this
    * one's, and prints each run of a block's lines between two STATE
    * points with one `println` while the task encodes later blocks.
    *
    * Returns (records emitted, max replication-key value among them as its
    * Spark string cast). The bookmark is tracked INSIDE the single emit
    * pass, so the stream is executed exactly once: no second max() job
    * that a nondeterministic source could answer differently, and no
    * full-stream persist to keep the two executions consistent
    * (singer_sdk likewise derives state from processed records). A block
    * without a STATE point offers its own max key ([[LineBlock.offerMax]]),
    * a block with one offers each line's. O(1) driver state; the driver
    * holds at most [[LineEncoder.MaxInFlight]] unprinted blocks of each of
    * the two partitions in flight, however large a partition is.
    *
    * `onProgress` fires after every `stateEvery` emitted records with the
    * max replication-key string among records emitted SO FAR — the caller
    * turns it into a mid-sync STATE message (the SDK's
    * `Tap.STATE_MSG_FREQUENCY` behavior), so a 100 TB extraction killed
    * mid-stream resumes from the last flushed bookmark. A task that fails
    * after its first block was printed fails the sync, with no STATE after
    * the records it printed.
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
    val blocks = new RecordBlocks(df.queryExecution.toRdd, LineEncoder(df, stream, envelope(stream, timeExtracted)))
    try blocks.print(print) finally blocks.close()
    (n, max.value)
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
  * Serializable: a batch write task sends one per chunk to the driver.
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

/** A RECORD-mode stream's blocks, from the tasks that encode `rows` to
  * the driver that prints them, over a [[TaskChannel]] that answers a
  * block when the driver takes it to print: a task waits while the driver
  * holds [[LineEncoder.MaxInFlight]] of its unprinted blocks, so the
  * driver's memory is bounded by the window, not by the partition. The
  * driver runs one job per partition, in order, with the next
  * partition's job in flight. One attempt of a partition is printed, and
  * a retry after printing has begun fails the partition's job. A job's
  * failure fails [[print]] when it reaches the partition: the printed
  * lines are a prefix of the stream. [[close]] cancels the jobs and fails
  * every ask it holds before it stops the endpoint.
  */
private final class RecordBlocks(rows: RDD[InternalRow], encoder: LineEncoder) {
  import RecordBlocks._

  private val channel = new TaskChannel[LineBlock](answerOnTake = true)

  /** Print the blocks of every partition through `emit`, in order. */
  def print(emit: LineBlock => Unit): Unit = {
    val n = rows.getNumPartitions
    var submitted = 0
    for (p <- 0 until n) {
      while (submitted < math.min(n, p + JobWindow)) { submit(submitted); submitted += 1 }
      channel.foreach(p)(emit)
    }
  }

  /** Start partition `p`'s job, over an RDD of its own: the scheduler
    * aborts every active job whose final RDD is the one a failed task ran
    * on, so over `rows` itself a failure in the next partition would fail
    * this one's job too.
    */
  private def submit(p: Int): Unit = {
    val (endpoint, encode) = (channel.name, encoder) // the task gets these, not `this`
    channel.watch(rows.sparkContext.submitJob(PartitionPruningRDD.create(rows, _ == p),
      (it: Iterator[InternalRow]) => send(endpoint, p, encode, it), Seq(0), (_: Int, _: Unit) => (), ()), p to p)
  }

  def close(): Unit = channel.close()
}

private object RecordBlocks {
  /** Partition jobs in flight at once: the one printed and the next. One
    * job over every partition could give each task slot to a later
    * partition whose task waits for the driver, with the partition it
    * prints never scheduled.
    */
  private val JobWindow = 2

  /** In the task of partition `p`: encode `rows` and ask each block, then
    * the partition's end, of the driver's `endpoint`. Returns when the
    * driver has taken every block.
    */
  def send(endpoint: String, p: Int, encoder: LineEncoder, rows: Iterator[InternalRow]): Unit = {
    val sender = new TaskChannel.Sender(endpoint, p)
    CoreBudget.shared.holding {
      encoder.encode(rows)((block, _) => block)(sender.send)
      sender.end()
    }
  }
}
