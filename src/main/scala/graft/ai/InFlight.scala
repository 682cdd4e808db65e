package graft.ai

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext

/** Ordered, bounded overlap of per-document model calls inside one
  * Spark task — the engine's form of the reference's bulk-mode thread
  * pool of `min(8, max(2, cpus))` (app:881). Spark already runs one
  * task per core; a task whose documents each wait on a remote model
  * would otherwise leave its core idle for every round trip.
  */
object InFlight {

  /** Name prefix of the shared pool's threads. */
  val threadPrefix = "graft-docai-"

  private val started = new AtomicLong
  // one pool per JVM, shared by every task: cached, so it holds at most
  // (running tasks x width) threads and lets them lapse when idle;
  // daemon, so it never keeps a JVM alive
  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, threadPrefix + started.incrementAndGet())
    t.setDaemon(true)
    t
  }

  /** `it.map(f)` with up to `width` calls of `f` running at once on the
    * shared pool, results emitted in input order. The input is read
    * only from the calling (task) thread. The first failure, in input
    * order, is rethrown as itself and cancels the calls still in
    * flight, as does the end of the task. At `width` <= 1 this is
    * plain `it.map(f)` on the calling thread: no pool is touched.
    */
  def map[A, B](it: Iterator[A], width: Int)(f: A => B): Iterator[B] =
    if (width <= 1) it.map(f)
    else new Iterator[B] {
      private val window = new java.util.ArrayDeque[Future[B]](width)

      private def cancelAll(): Unit = {
        window.forEach(_.cancel(true))
        window.clear()
      }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => cancelAll()))

      def hasNext: Boolean = {
        while (window.size < width && it.hasNext) {
          val a = it.next()
          window.add(pool.submit(new Callable[B] { def call(): B = f(a) }))
        }
        !window.isEmpty
      }

      def next(): B = {
        if (!hasNext) throw new NoSuchElementException("next on empty iterator")
        val head = window.poll()
        try head.get()
        catch {
          case e: ExecutionException => cancelAll(); throw e.getCause
          case e: InterruptedException => head.cancel(true); cancelAll(); throw e
        }
      }
    }
}
