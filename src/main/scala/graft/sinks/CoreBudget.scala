package graft.sinks

import org.apache.spark.sql.GraftBridge
import java.util.concurrent.{ExecutionException, Executors, FutureTask, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** A JVM-wide count of idle cores, and the one pool of helper threads that
  * runs sink work on them: a [[LineEncoder]] block's encoding and its
  * sink's `finish` (batch mode cuts the block into gzip members; RECORD
  * mode has none, its task asks the block of the driver). A running sink
  * task holds one slot for as long as it runs ([[holding]]), also while
  * a RECORD-mode task waits for the driver to take its blocks; an
  * [[InOrder]] queue hands a unit of work to a helper only while a slot is
  * free and otherwise runs it on the calling thread, so helpers use idle
  * cores only.
  */
final class CoreBudget(val cores: Int) {
  private val free = new AtomicInteger(cores)

  /** Free slots: `cores` when nothing holds one. */
  def available: Int = free.get

  def holding[T](body: => T): T = {
    free.decrementAndGet()
    try body finally release()
  }

  private def tryAcquire(): Boolean = {
    var f = free.get
    while (f > 0 && !free.compareAndSet(f, f - 1)) f = free.get
    f > 0
  }

  private def release(): Unit = free.incrementAndGet()

  /** `work` on a helper while a slot is free, else run here before
    * returning. The helper gives its slot back before the result is
    * visible, so a caller that has every result sees every slot free.
    */
  private[sinks] def submit[T](work: () => T): FutureTask[T] =
    if (tryAcquire()) {
      val task = new FutureTask[T](() => try work() finally release())
      try CoreBudget.Helpers.execute(task)
      catch { case e: Throwable => release(); throw e }
      task
    } else {
      val task = new FutureTask[T](() => work())
      task.run()
      task
    }
}

object CoreBudget {
  /** Sized by the first task that uses it: the executor's core count —
    * `N` of a `local[N]` master, `spark.executor.cores` on a cluster.
    */
  lazy val shared: CoreBudget = new CoreBudget(math.max(1, GraftBridge.executorCores))

  private val Helpers = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-sink-helper-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
}

/** Units of work run through `budget`, at most `depth` pending, whose
  * results reach `consume` in submission order on the submitting thread.
  * [[close]] in a `finally`: it waits for every pending unit, also after a
  * failure, so no helper outlives its caller's task or holds a slot.
  */
final class InOrder[T](budget: CoreBudget, depth: Int, consume: T => Unit) {
  private val pending = new java.util.ArrayDeque[FutureTask[T]]()

  /** Queue `work`; first consumes the oldest result if `depth` are pending,
    * after it every result that is already done.
    */
  def submit(work: () => T): Unit = {
    if (pending.size >= depth) consumeHead()
    pending.add(budget.submit(work))
    while (!pending.isEmpty && pending.peek.isDone) consumeHead()
  }

  /** Consume every pending result. */
  def flush(): Unit = while (!pending.isEmpty) consumeHead()

  def close(): Unit = {
    pending.forEach(f => try f.get() catch { case _: Exception => })
    pending.clear()
  }

  private def consumeHead(): Unit =
    consume(try pending.poll().get() catch { case e: ExecutionException => throw e.getCause })
}
