package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ai.DocAiBackend

/** One recorded span: a named interval in a layer. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. The benchmark's own
  * code opens spans around each call into a layer; Spark jobs, stream
  * batches and AI calls arrive from listener and task threads. Nesting
  * is by time interval (exact with one client), see [[Layers]]; Spark
  * job groups would not work, as the engine runs persists on pooled
  * threads that do not inherit local properties.
  */
object Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, layer, t0, System.nanoTime())
    }

  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(name, layer, startNs, endNs))

  def clear(): Unit = spans.clear()

  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Map a wall-clock millisecond stamp onto the nanoTime axis. */
  def wallToNano(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
}

/** Self time per layer from the recorded spans, by time interval:
  * while a root span (layer "driver") is open, each instant goes to the
  * deepest layer with a span open at that instant, in the order
  * driver < engine, pipelines < streaming < spark < ai. Concurrent
  * spans of one layer (tasks calling the model in parallel) count once,
  * so the shares of one run add up to 1.
  */
object Layers {
  val names: Seq[String] = Seq("driver", "engine", "pipelines", "streaming", "spark", "ai")
  private val depth = Map("driver" -> 0, "engine" -> 1, "pipelines" -> 1,
    "streaming" -> 2, "spark" -> 3, "ai" -> 4)

  /** (self seconds per layer, total seconds of root spans). */
  def selfTimes(spans: Seq[Span]): (Map[String, Double], Double) = {
    val open = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val self = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    // ends sort before starts at the same instant
    val events = spans.flatMap(s => Seq((s.startNs, 1, s.layer), (s.endNs, -1, s.layer)))
      .sortBy(e => (e._1, e._2))
    var last = events.headOption.map(_._1).getOrElse(0L)
    events.foreach { case (t, d, layer) =>
      if (open("driver") > 0) {
        val top = names.filter(open(_) > 0).maxBy(depth)
        self(top) += t - last
      }
      open(layer) += d
      last = t
    }
    val root = spans.filter(_.layer == "driver").map(s => s.endNs - s.startNs).sum / 1e9
    (names.map(n => n -> self(n) / 1e9).toMap, root)
  }
}

/** JVM-global AI call counters. Every task runs a deserialized copy of
  * the backend captured in the UDF closure, so the counts live here,
  * not in the backend instance.
  */
object AiCounters {
  val kinds: Seq[String] = Seq("parse", "classify", "extract", "complete")
  val calls: Map[String, AtomicLong] = kinds.map(_ -> new AtomicLong).toMap

  def reset(): Unit = calls.values.foreach(_.set(0))
  def snapshot(): Map[String, Long] = calls.map { case (k, v) => k -> v.get }

  def timed[A](kind: String)(body: => A): A = {
    calls(kind).incrementAndGet()
    val t0 = System.nanoTime()
    try body finally Tracer.record(kind, "ai", t0, System.nanoTime())
  }
}

/** Delegating backend installed with `AiFunctions.setBackend` in the
  * traced run only; counts and times every call at the backend seam.
  */
final class CountingBackend(inner: DocAiBackend) extends DocAiBackend {
  override def answer(text: String, question: String): String =
    AiCounters.timed("extract")(inner.answer(text, question))
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    AiCounters.timed("extract")(inner.answerAll(text, prompts))
  override def classify(text: String): String = AiCounters.timed("classify")(inner.classify(text))
  override def parse(content: Array[Byte]): String = AiCounters.timed("parse")(inner.parse(content))
  override def complete(model: String, prompt: String): String =
    AiCounters.timed("complete")(inner.complete(model, prompt))
}

/** In-flight gauge: the time integral of calls in flight (call-seconds;
  * divided by a wall time it is the mean concurrency) and the maximum,
  * both since [[reset]].
  */
final class Gauge {
  private var cur = 0
  private var max = 0
  private var area = 0.0
  private var last = System.nanoTime()

  private def advance(now: Long): Unit = { area += cur * (now - last).toDouble; last = now }
  def enter(): Unit = synchronized { advance(System.nanoTime()); cur += 1; max = math.max(max, cur) }
  def exit(): Unit = synchronized { advance(System.nanoTime()); cur -= 1 }
  def reset(): Unit = synchronized { advance(System.nanoTime()); area = 0; max = cur }
  def callSeconds: Double = synchronized { advance(System.nanoTime()); area / 1e9 }
  def maximum: Int = synchronized(max)
}

/** Scheduler-side accounting: job intervals, task counts, run time and
  * bytes, as running totals read through [[snapshot]].
  */
final class JobListener extends SparkListener {
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val bytesWritten = new AtomicLong
  // wall intervals with at least one job running, for the driver gap
  private val running = new AtomicInteger
  private var busySince = 0L
  private val busyNs = new AtomicLong

  /** Counter values, in the order of [[JobListener.fields]]. */
  def snapshot(): Array[Long] = synchronized {
    Array(jobs, tasks, taskRunMs, shuffleBytes, spillBytes, bytesWritten, busyNs).map(_.get)
  }

  // event times are wall-clock stamps taken when the scheduler posted
  // them; the listener bus delivers them later, on its own thread
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val t0 = Tracer.wallToNano(e.time)
    openJobs.put(e.jobId, t0)
    synchronized { if (running.getAndIncrement() == 0) busySince = t0 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val now = Tracer.wallToNano(e.time)
    val t0 = Option(openJobs.remove(e.jobId)).map(_.longValue).getOrElse(now)
    Tracer.record(s"job${e.jobId}", "spark", t0, now)
    synchronized { if (running.decrementAndGet() == 0) busyNs.addAndGet(now - busySince) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

object JobListener {
  /** jobs, tasks, task run ms, shuffle bytes, spill bytes, bytes written,
    * busy ns: the counters [[JobListener.snapshot]] returns.
    */
  val fields = 7
}

/** Micro-batch accounting from the stream's progress events. */
final class BatchListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long)]() // (rows, durationMs)
  def reset(): Unit = batches.clear()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add((p.numInputRows, ms))
      val start = Tracer.wallToNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
      Tracer.record(s"batch${p.batchId}", "streaming", start, start + ms * 1000000L)
    }
  }
  def all: Seq[(Long, Long)] = batches.asScala.toSeq
}

/** JVM gauges: GC time, and the peak old-generation usage right after a
  * collection, taken from every collection's notification (young
  * collections included, so objects promoted and later freed show).
  */
object Jvm {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  private val oldPeak = new AtomicLong

  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
          oldPeak.accumulateAndGet(old, (a, b) => math.max(a, b))
        }
    }, null, null)
    case _ => ()
  }

  def gcMillis: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  /** Start a new peak window. */
  def resetOldPeak(): Unit = oldPeak.set(0)
  /** Highest old-gen bytes after any collection since [[resetOldPeak]]. */
  def oldGenPeak: Long = oldPeak.get
}
