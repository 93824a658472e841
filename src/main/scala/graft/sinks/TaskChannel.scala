package graft.sinks

import org.apache.spark.{FutureAction, SparkException, TaskContext, TaskKilledException}
import org.apache.spark.sql.GraftBridge
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Item `seq` of partition `partition`, from the task attempt numbered
  * `attempt`; a null `item` ends the partition after `seq` items.
  */
private[graft] final case class Sent(partition: Int, attempt: Int, seq: Int, item: AnyRef)

/** The driver's end of what a sink's tasks send it while they run:
  * RECORD mode's line blocks ([[RecordBlocks]]), batch mode's chunk files
  * ([[BatchSink]]). It registers one uniquely named RPC endpoint, of which
  * each task asks its partition's items in order, then the partition's
  * end ([[TaskChannel.Sender]]), with at most [[LineEncoder.MaxInFlight]]
  * asks unanswered; [[foreach]] takes one partition's items after
  * another. With `answerOnTake` the driver answers an ask when it takes
  * the item, so a task waits while the driver holds that many of its
  * untaken items; otherwise it answers as soon as it routes the ask, and
  * only the attempt decision goes back.
  *
  * One attempt of a partition is taken: the first to send an item, or a
  * later one that replaces it before any of its items was taken. An item
  * of any other attempt is refused, which fails that attempt, so a retry
  * after taking has begun fails the partition. The failure of a job
  * [[watch]]ed over some partitions fails [[foreach]] at the first of
  * them it has not finished. [[close]] cancels the watched jobs and fails
  * every ask it holds or gets as a kill of the asking task, so that task
  * ends as killed, then stops the endpoint.
  */
private[sinks] final class TaskChannel[T <: AnyRef](answerOnTake: Boolean) {
  import TaskChannel._

  val name = s"graft-sink-${Endpoints.incrementAndGet()}"
  private val events = new LinkedBlockingQueue[Event]
  private var closed = false // guarded by `events`
  private val stop = GraftBridge.serve(name) { (msg, answer) =>
    events.synchronized {
      if (closed) answer(Left(new TaskKilledException(s"$name is closed")))
      else events.put(Asked(msg.asInstanceOf[Sent], answer))
    }
  }
  private val jobs = new ConcurrentLinkedQueue[FutureAction[_]]()
  private val failures = mutable.ArrayBuffer.empty[(Range, Throwable)]
  // the partitions from `taking` on that have sent an item
  private val parts = mutable.Map.empty[Int, Part]
  private var taking = 0

  /** Watch `job`, whose tasks send `partitions`' items. */
  def watch(job: FutureAction[_], partitions: Range): Unit = {
    jobs.add(job)
    job.onComplete { r => jobs.remove(job); events.put(Ended(partitions, r)) }(ExecutionContext.parasitic)
  }

  /** Take each item of partition `p` in order through `f`; `p` is the
    * partition after the last one taken.
    */
  def foreach(p: Int)(f: T => Unit): Unit = {
    taking = p
    val part = parts.getOrElseUpdate(p, new Part)
    var seq = 0
    while (seq >= 0) {
      failures.collectFirst { case (ps, e) if ps.contains(p) => e }.foreach(throw _)
      part.asked.remove(seq) match {
        case Some(Asked(msg, answer)) =>
          part.taken = true
          answer(Right(()))
          if (msg.item == null) seq = -1 else { f(msg.item.asInstanceOf[T]); seq += 1 }
        case None => route(events.take())
      }
    }
    parts.remove(p)
    taking = p + 1
  }

  private def route(event: Event): Unit = event match {
    case Ended(ps, Failure(e)) => failures += ((ps, e))
    case Ended(_, _) =>
    case asked @ Asked(msg @ Sent(p, attempt, seq, _), answer) =>
      def refuse(why: String) = Left(new SparkException(s"$name refused attempt $attempt of partition $p: $why"))
      if (p < taking) answer(refuse("the partition is taken"))
      else {
        val part = parts.getOrElseUpdate(p, new Part)
        if (part.attempt < 0 || attempt > part.attempt && !part.taken) {
          part.asked.values.foreach(_.answer(refuse(s"attempt $attempt replaces it")))
          part.asked.clear()
          part.attempt = attempt
        }
        if (attempt != part.attempt) answer(refuse(s"attempt ${part.attempt} is taken"))
        else if (answerOnTake) part.asked(seq) = asked
        else { answer(Right(())); part.asked(seq) = Asked(msg, _ => ()) }
      }
  }

  def close(): Unit = {
    jobs.forEach(_.cancel())
    events.synchronized { closed = true }
    val closing = Left(new TaskKilledException(s"$name is closed"))
    parts.values.foreach(_.asked.values.foreach(_.answer(closing)))
    events.forEach { case Asked(_, answer) => answer(closing); case _ => }
    stop()
  }
}

private[graft] object TaskChannel {
  /** Endpoints registered so far; the n-th is named `graft-sink-n`. */
  private[graft] val Endpoints = new AtomicLong

  private sealed trait Event
  private final case class Asked(msg: Sent, answer: Either[Throwable, Unit] => Unit) extends Event
  private final case class Ended(partitions: Range, result: Try[_]) extends Event

  private final class Part {
    var attempt = -1
    var taken = false
    val asked = mutable.Map.empty[Int, Asked]
  }

  /** In a task of partition `p`: asks the driver's `endpoint` each item,
    * with at most [[LineEncoder.MaxInFlight]] asks unanswered. A refused
    * item fails the task. No ask waits forever: the driver answers it, or
    * fails it when it closes the channel, which kills the task, as does
    * any failure once the driver no longer serves the endpoint.
    */
  final class Sender(endpoint: String, p: Int) {
    private val attempt = TaskContext.get().attemptNumber()
    private val ask = killedIfClosed(GraftBridge.asker(endpoint))
    private val unanswered = new java.util.ArrayDeque[Future[Any]]
    private var seq = 0

    def send(item: AnyRef): Unit = {
      if (unanswered.size == LineEncoder.MaxInFlight) await(unanswered.poll())
      unanswered.add(ask(Sent(p, attempt, seq, item)))
      seq += 1
    }

    /** End the partition; returns when the driver has answered every ask. */
    def end(): Unit = {
      send(null)
      unanswered.forEach(await)
    }

    private def await(answer: Future[Any]): Unit = killedIfClosed(Await.result(answer, Duration.Inf))

    private def killedIfClosed[A](body: => A): A =
      try body catch {
        case _: SparkException if !GraftBridge.served(endpoint) => throw new TaskKilledException(s"$endpoint is closed")
      }
  }
}
