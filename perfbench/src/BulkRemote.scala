package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ai.{AiFunctions, DeterministicLocalBackend => Local, HttpDocAiBackend}
import graft.engine.Catalog
import graft.pipelines.Pipelines

/** Bulk phase of `documents`: a backlog of documents staged during set-up, run
  * through batch-SQL (wide result collected) and then the stream (into a
  * fresh warehouse and checkpoint, drained with processAllAvailable),
  * cycle after cycle. The backend is `HttpDocAiBackend` against the
  * in-process [[DocAiStub]], so the model calls and their concurrency
  * decide the result.
  */
object BulkRemote {
  /** Fixed per-call delay of the stub, standing in for a remote model. */
  val delayMs = 10L
  val backlog = 16
  private val stage = "backlog"
  private val prompts = Map("title" -> "What is the title?", "date" -> "What is the date?",
    "party" -> "Who is the main party?")
  private val modes = Seq("batch_sql", "stream")
  // fewest calls each mode needs per document: parse + extract for
  // batch-SQL, parse + classify + extract for the stream
  private val minCalls = Map("batch_sql" -> 2.0, "stream" -> 3.0)

  def run(ctx: Ctx): Phase = {
    val docs = Fixture.documents(backlog, ctx.seed)
    val stub = new DocAiStub(delayMs, ctx.cpus)
    var failed = 0
    var attempted = 0
    def check(ok: => Boolean, what: String): Unit =
      if (!(try ok catch { case e: Exception => System.err.println(e); false })) {
        failed += 1
        System.err.println(s"[perfbench] wrong output: $what")
      }
    try {
      // set-up: stage the backlog into a fresh warehouse and list it,
      // three times
      val (cat, setupS) = Stats.medianSetup(3) {
        val c = new Catalog(ctx.spark, ctx.freshDir("wh"))
        c.ensureTables()
        docs.foreach { case (n, b) => c.putFile(stage, n, b) }
        require(c.directory(stage).count() == backlog, "staged backlog listing")
        c
      }
      ctx.log("set-up done")
      val remote = new HttpDocAiBackend(stub.url)
      val seam = new CountingBackend(remote)
      val wideExpected = Stats.digest(docs.map { case (n, b) =>
        val a = Expect.answers(b, prompts)
        (Seq(n, s"@$stage/$n") ++ prompts.keys.toSeq.sorted.map(a)).mkString("|") })
      val processedExpected = Stats.digest(docs.map { case (n, b) =>
        Seq(s"@$stage/$n", n, Expect.classOf(b), Expect.render(Expect.answers(b, prompts))).mkString("|") })

      def batchSql(): Unit = {
        attempted += 1
        try {
          val rows = Tracer.span("batch_sql", "pipelines")(
            Pipelines.batchSql(cat, stage, prompts).collect())
          check(Stats.digest(rows.toSeq.map(r => (0 until r.length).map(r.getString).mkString("|"))) ==
            wideExpected, "batch-SQL wide result")
        } catch { case e: Exception => System.err.println(e); failed += 1 }
      }
      /** A fresh warehouse holding a copy of the stage, and a checkpoint. */
      def freshTarget(): (Catalog, String) = {
        val fresh = new Catalog(ctx.spark, ctx.freshDir("wh"))
        fresh.ensureTables()
        val dst = Paths.get(fresh.stageDir(stage))
        Files.createDirectories(dst)
        Files.list(Paths.get(cat.stageDir(stage))).iterator().asScala
          .foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
        (fresh, ctx.freshDir("cp"))
      }
      def stream(fresh: Catalog, checkpoint: String): Unit = {
        attempted += 1
        try Tracer.span("stream", "pipelines") {
          val q = Pipelines.stream(fresh, stage, prompts, checkpoint)
          try q.processAllAvailable() finally q.stop()
        } catch { case e: Exception => System.err.println(e); failed += 1 }
      }
      def checkStream(fresh: Catalog, checkpoint: String): Unit = {
        check(Stats.digest(fresh.table("DOCUMENTS_PROCESSED").collect().toSeq.map(r =>
          Seq(r.getString(0), r.getString(1), r.getString(2),
            Expect.render(Expect.envelope(r.getString(3)))).mkString("|"))) == processedExpected,
          "stream DOCUMENTS_PROCESSED")
        Stats.deleteTree(fresh.root); Stats.deleteTree(checkpoint)
      }

      // warm-up: one cycle, untimed
      AiFunctions.setBackend(remote)
      batchSql()
      val (w, wcp) = freshTarget(); stream(w, wcp); checkStream(w, wcp)

      ctx.log("warm-up done")
      val times = Map(modes.map(_ -> scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]): _*)
      val calls = Map(modes.map(m => m -> scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)): _*)
      // micro-batches (rows, ms) of each stream pass, with its seconds
      val streams = scala.collection.mutable.ArrayBuffer.empty[(Seq[(Long, Long)], Double)]
      val win = new Window(ctx)
      stub.inflight.reset()
      val deadline = System.nanoTime() + (ctx.seconds / 2 * 1e9).toLong
      var cycle = 0
      while (System.nanoTime() < deadline || cycle < 2) {
        modes.foreach { mode =>
          val target = if (mode == "stream") Some(freshTarget()) else None
          ctx.batches.reset()
          // traced run: every other cycle is traced
          val traced = ctx.trace && cycle % 2 == 1
          if (traced) {
            AiFunctions.setBackend(seam); Tracer.enabled = true
          }
          val c0 = stub.snapshot()
          val (_, dt) = try win.op(Tracer.span(s"$mode$cycle", "driver") {
            target.fold(batchSql()) { case (f, cp) => stream(f, cp) }
          }) finally {
            AiFunctions.setBackend(remote); Tracer.enabled = false
          }
          times(mode) += ((dt, traced))
          stub.snapshot().foreach { case (k, v) => calls(mode)(k) += v - c0(k) }
          target.foreach { case (f, cp) =>
            streams += ((ctx.batches.all, dt))
            checkStream(f, cp)
          }
        }
        cycle += 1
      }
      ctx.log(s"measured $cycle cycles")
      val heap = win.heapPeakMb

      val all = times.values.flatten.map(_._1).toSeq
      val docsDone = backlog.toDouble * cycle
      val e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> 2 * docsDone / all.sum,
        "jvm.heap_peak_mb" -> heap)
      val layer = if (!ctx.trace) Map.empty[String, Double] else {
        // overhead per cycle: traced against untraced medians of both modes
        def cycleMedian(traced: Boolean) =
          modes.map(m => Stats.median(times(m).filter(_._2 == traced).map(_._1).toSeq)).sum
        val totalCalls = modes.map(m => calls(m).values.sum).sum.toDouble
        val streamRuns = streams.map(_._1)
        val batchMs = streamRuns.flatten.map(_._2.toDouble).toSeq
        val streamS = streams.map(_._2).toSeq
        win.common(2 * cycle * backlog) ++ Map(
          "pipelines.batch_sql_docs_per_s" -> docsDone / times("batch_sql").map(_._1).sum,
          "pipelines.stream_docs_per_s" -> docsDone / times("stream").map(_._1).sum,
          "ai.useful_call_ratio" -> modes.map(m => minCalls(m) * docsDone).sum / totalCalls,
          "ai.inflight_mean" -> stub.inflight.callSeconds / all.sum,
          "ai.inflight_max" -> stub.inflight.maximum.toDouble,
          "streaming.batches" -> streamRuns.map(_.size).sum.toDouble / streamRuns.size,
          "streaming.docs_per_batch" -> streamRuns.flatten.map(_._1).sum.toDouble / streamRuns.flatten.size,
          "streaming.batch_p50_share" -> Stats.median(batchMs) / 1000 / Stats.median(streamS),
          "streaming.batch_max_share" -> batchMs.max / 1000 / Stats.median(streamS),
          "trace_overhead" -> cycleMedian(true) / cycleMedian(false)) ++
          AiCounters.kinds.flatMap(k => modes.map(m => s"ai.${k}_calls_per_doc.$m" -> calls(m)(k) / docsDone))
      }
      Stats.deleteTree(cat.root)
      Phase(attempted, failed, e2e ++ layer)
    } finally {
      AiFunctions.setBackend(Local)
      stub.stop()
    }
  }
}
