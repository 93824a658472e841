package tapbench

/** Attribution of Spark jobs to the tap's layers, by the graft source file
  * in the job's call site (for example `json at BatchSink.scala:54` or
  * `hasNext at SingerSink.scala:86`).
  */
object Layers {
  val Sources = "sources"
  val SingerSink = "sinks.singer"
  val BatchSink = "sinks.batch"
  val Readback = "tap.readback"
  val Other = "other"
  val All: Seq[String] = Seq(Sources, SingerSink, BatchSink, Readback, Other)

  private val ByFile = Map(
    "SingerSink" -> SingerSink,
    "BatchSink" -> BatchSink,
    // the only job Tap.scala starts itself is the bookmark read-back of
    // the batch files it just wrote
    "Tap" -> Readback,
    "StreamSource" -> Sources,
    "SqlDialect" -> Sources,
    "Conformance" -> Sources,
    "Flattener" -> Sources,
    "StreamMaps" -> Sources)

  private val ScalaFrame = """([A-Za-z0-9_$]+)\.scala:\d+""".r

  /** The layer of a call site that names a Scala source file, if any. */
  def ofCallSite(callSite: String): Option[String] =
    ScalaFrame.findFirstMatchIn(callSite).map(m => ByFile.getOrElse(m.group(1), Other))

  /** A job's layer: from the description of its SQL execution when it has
    * one, else from its stage names. AQE stages are named after a JDK
    * frame (`… at CompletableFuture.java:1768`), which names no Scala file
    * and so is skipped.
    */
  def ofJob(executionDescription: Option[String], stageNames: Seq[String]): String =
    executionDescription.flatMap(ofCallSite)
      .orElse(stageNames.iterator.flatMap(ofCallSite).nextOption())
      .getOrElse(Other)
}
