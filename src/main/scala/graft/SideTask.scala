package graft

import org.apache.spark.SparkContext

/** Work that runs on a daemon thread of its own beside the caller's, and
  * never outlives the operation that started it: the caller either
  * awaits it ([[await]]) or, when its own work fails, cancels and awaits
  * it ([[alongside]]). Either way a failure surfaces as the original
  * exception, never wrapped in an `ExecutionException`.
  */
final class SideTask[T] private (name: String, stop: Thread => Unit,
    body: () => T) {
  @volatile private var outcome: Either[Throwable, T] = _
  private val thread = new Thread(() =>
    outcome = try Right(body()) catch { case t: Throwable => Left(t) }, name)
  thread.setDaemon(true)
  thread.start()

  /** True once the body has returned or thrown. */
  def isDone: Boolean = outcome != null

  /** Waits for the body; its result, or its exception rethrown as is. An
    * interrupt of the waiting caller cancels the task first.
    */
  def await(): T = {
    try thread.join()
    catch { case e: InterruptedException => cancel(); throw e }
    outcome.fold(throw _, identity)
  }

  /** Stops the body and waits until its thread has ended; what the body
    * returned or threw is dropped.
    */
  def cancel(): Unit = {
    stop(thread)
    var interrupted = false
    while (thread.isAlive)
      try thread.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Runs `main` on the caller's thread while this task runs. When `main`
    * throws, the task is cancelled and awaited before the exception
    * propagates.
    */
  def alongside[R](main: => R): R =
    try main catch { case t: Throwable => cancel(); throw t }
}

object SideTask {

  /** A side task that applies `consume` to each item the caller hands it
    * ([[Worker.put]]), in the order handed, with at most `capacity` items
    * waiting between the two threads.
    */
  final class Worker[A](name: String, capacity: Int)(consume: A => Unit) {
    // None marks the end of the items
    private val queue =
      new java.util.concurrent.ArrayBlockingQueue[Option[A]](capacity)
    private val task = SideTask(name) {
      var item = queue.take()
      while (item.isDefined) { consume(item.get); item = queue.take() }
    }

    /** Hands `item` over, waiting while `capacity` items wait already. A
      * failure of the worker is rethrown here, as the original exception.
      */
    def put(item: A): Unit = handOver(Some(item))

    /** Waits until every item handed over is consumed. */
    def finish(): Unit = { handOver(None); task.await() }

    /** [[SideTask.alongside]]: a failing `main` stops the worker. */
    def alongside[R](main: => R): R = task.alongside(main)

    private def handOver(item: Option[A]): Unit = {
      var queued = false
      while (!queued) {
        if (task.isDone) { // the worker failed: surface its exception
          task.await()
          throw new IllegalStateException(s"$name ended before its items")
        }
        queued = queue.offer(item, 10, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
    }
  }

  /** Starts `body`; [[SideTask.cancel]] interrupts its thread. */
  def apply[T](name: String)(body: => T): SideTask[T] =
    new SideTask(name, _.interrupt(), () => body)

  /** Starts `body`, whose Spark jobs run in a job group of their own.
    * [[SideTask.cancel]] cancels the group's running jobs and any it
    * would still submit, so the body's action fails and its thread ends
    * with no job of the group left running.
    */
  def spark[T](sc: SparkContext, name: String)(body: => T): SideTask[T] = {
    val group = s"$name-${java.util.UUID.randomUUID()}"
    new SideTask(name, _ => sc.cancelJobGroupAndFutureJobs(group), () => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      body
    })
  }
}
