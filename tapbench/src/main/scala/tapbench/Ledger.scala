package tapbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Spark's side of the per-layer ledger: a listener the benchmark registers
  * for its traced syncs. It keeps every job and task of those syncs in
  * memory; [[window]] sums the ones that started inside one sync.
  */
final class Ledger extends SparkListener {
  private final case class Job(start: Long, layer: String) { var end: Long = start }
  private final case class Task(job: Int, start: Long, end: Long, inputBytes: Long,
                                shuffleWriteBytes: Long, shuffleReadBytes: Long,
                                spillBytes: Long, gcMs: Long, stage: Int)

  private val executions = mutable.Map.empty[Long, String]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      executions(e.executionId) = e.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    jobs(e.jobId) = Job(e.time, Layers.ofJob(exec, e.stageInfos.map(_.name)))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    stageJob.get(e.stageId).foreach { job =>
      tasks += Task(job, info.launchTime, info.finishTime,
        if (m == null) 0 else m.inputMetrics.bytesRead,
        if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0 else m.jvmGCTime, e.stageId)
    }
  }

  /** Engine counts of the jobs that started in `[fromMs, toMs]`, overall
    * (`engine.*`) and per layer (`<layer>.*`), plus the wall time the
    * sync spent inside each layer's jobs (`jobs_ms.<layer>`).
    */
  def window(fromMs: Long, toMs: Long, cores: Int): Map[String, Double] = synchronized {
    val inJobs = jobs.filter { case (_, j) => j.start >= fromMs && j.start <= toMs }
    val ts = tasks.filter(t => inJobs.contains(t.job)).toSeq
    val wallMs = math.max(1L, toMs - fromMs).toDouble
    def sums(prefix: String, sel: Seq[Task], js: Iterable[Job]): Map[String, Double] = Map(
      s"$prefix.jobs" -> js.size.toDouble,
      s"$prefix.stages" -> sel.map(_.stage).distinct.size.toDouble,
      s"$prefix.tasks" -> sel.size.toDouble,
      s"$prefix.task_ms" -> sel.map(t => t.end - t.start).sum.toDouble,
      s"$prefix.input_bytes" -> sel.map(_.inputBytes).sum.toDouble)
    val engine = sums("engine", ts, inJobs.values) ++ Map(
      "engine.busy_ms" -> Stats.unionLength(ts.map(t => (t.start, t.end))).toDouble,
      "engine.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "engine.shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum.toDouble,
      "engine.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "engine.gc_ms" -> ts.map(_.gcMs).sum.toDouble)
    val perLayer = Layers.All.flatMap { layer =>
      val js = inJobs.filter(_._2.layer == layer)
      sums(layer, ts.filter(t => js.contains(t.job)), js.values) +
        (s"jobs_ms.$layer" -> Stats.unionLength(js.values.map(j => (j.start, j.end)).toSeq).toDouble)
    }
    engine ++ perLayer + ("engine.core_util" -> engine("engine.task_ms") / (wallMs * cores)) +
      ("jobs_ms.all" -> Stats.unionLength(inJobs.values.map(j => (j.start, j.end)).toSeq).toDouble)
  }
}
