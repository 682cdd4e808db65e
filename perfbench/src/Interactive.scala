package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

import graft.ai.{AiFunctions, DeterministicLocalBackend => Local}
import graft.engine.Catalog
import graft.pipelines.{HistoryQueries, Pipelines}

/** What the deterministic backend answers, computed without Spark: the
  * reference every pipeline output is checked against.
  */
object Expect {
  private val mapper = new ObjectMapper()

  def text(bytes: Array[Byte]): String = new String(bytes, StandardCharsets.UTF_8)
  def classOf(bytes: Array[Byte]): String = Local.classify(Local.parse(bytes))
  def prompts(cls: String): Map[String, String] = graft.ops.Canonicalize(
    Local.complete("mistral-7b", s"Generate a JSON object of field: question pairs for class '$cls'"), cls)
  def answers(bytes: Array[Byte], prompts: Map[String, String]): Map[String, String] =
    Local.answerAll(Local.parse(bytes), prompts)

  /** `{"response": {field: answer}}` envelope parsed back into a map. */
  def envelope(json: String): Map[String, String] =
    mapper.readTree(json).path("response").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  def jsonField(json: String, field: String): String = mapper.readTree(json).path(field).asText()

  def render(m: scala.collection.Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ";", "}")

  /** Files and bytes of a warehouse's table data. */
  def tableFiles(root: String): (Int, Long) = {
    val d = Paths.get(root, "tables")
    if (!Files.exists(d)) (0, 0L)
    else {
      val s = Files.walk(d)
      try {
        val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size, fs.map(Files.size).sum)
      } finally s.close()
    }
  }
}

/** Interactive phase of `documents`: one client in a closed loop. Each
  * request PUTs one document and runs the interactive pipeline on it;
  * every eighth request is followed by the three-query History read,
  * alternating no filter and a single-class filter, so the measured
  * window (at least 16 requests) holds one fan of each kind.
  */
object Interactive {
  private val stage = "uploads"
  private val minWarmRequests = 6
  private val classCount = 5
  private val fanEvery = 8

  private final class Session(ctx: Ctx, docs: IndexedSeq[(String, Array[Byte])]) {
    val root: String = ctx.freshDir("wh")
    val cat = new Catalog(ctx.spark, root)
    cat.ensureTables()
    val classes = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0

    private def check(ok: => Boolean, what: String): Unit =
      if (!(try ok catch { case e: Exception => System.err.println(e); false })) {
        failed += 1
        System.err.println(s"[perfbench] wrong output: $what")
      }

    private def name(i: Int) = f"r$i%05d_${docs(i % docs.size)._1}"

    /** One request: PUT the document, run the interactive pipeline. */
    def request(i: Int): Array[Row] = {
      attempted += 1
      Tracer.span(s"request$i", "driver") {
        Tracer.span("put", "engine")(cat.putFile(stage, name(i), docs(i % docs.size)._2))
        Tracer.span("interactive", "pipelines")(Pipelines.interactive(cat, stage, name(i)).collect())
      }
    }

    def verify(i: Int, rows: Array[Row]): Unit = {
      val bytes = docs(i % docs.size)._2
      val cls = Expect.classOf(bytes)
      classes += cls
      check(rows.length == 1 && rows(0).getString(0) == s"@$stage/${name(i)}" &&
        rows(0).getString(1) == cls &&
        rows(0).getMap[String, String](2).toMap == Expect.answers(bytes, Expect.prompts(cls)) &&
        rows(0).getString(3) == Local.complete("mistral-7b", Expect.text(bytes).take(6000)),
        s"interactive result of ${name(i)}")
    }

    /** Request `i`, checked; its PUT -> result seconds. */
    def timed(i: Int, win: Option[Window]): Double =
      try { val (rows, dt) = win.fold(Stats.time(request(i)))(_.op(request(i))); verify(i, rows); dt }
      catch { case e: Exception => System.err.println(e); failed += 1; Double.NaN }

    /** The History fan: (total seconds, seconds per query). */
    def history(fan: Int): (Double, Seq[Double]) = {
      attempted += 1
      val cls = classes.lastOption
      val filtered = fan % 2 == 1 && cls.nonEmpty
      val filters = if (filtered) HistoryQueries.docFilters(cls.toSeq, None, None) else Nil
      val n = if (filtered) classes.count(cls.contains) else classes.size
      try {
        val t0 = System.nanoTime()
        val (summary, t1) = Stats.time(Tracer.span("class_summary", "pipelines")(
          HistoryQueries.classSummary(cat, filters).collect()))
        val (documents, t2) = Stats.time(Tracer.span("documents", "pipelines")(
          HistoryQueries.documents(cat, filters).collect()))
        val (fields, t3) = Stats.time(Tracer.span("fields", "pipelines")(
          HistoryQueries.fields(cat, filters).collect()))
        val total = (System.nanoTime() - t0) / 1e9
        check(summary.map(_.getAs[Long]("docs")).sum == n && documents.length == n &&
          fields.length == 3 * n, s"history fan $fan (expected $n documents)")
        (total, Seq(t1, t2, t3))
      } catch { case e: Exception => System.err.println(e); failed += 1; (0.0, Seq(0.0, 0.0, 0.0)) }
    }

    /** Persisted tables, timestamps dropped, against the expected rows. */
    def checkTables(requests: Range): Unit = {
      val expected = requests.map { i =>
        val bytes = docs(i % docs.size)._2
        val cls = Expect.classOf(bytes)
        (name(i), bytes, cls, Expect.answers(bytes, Expect.prompts(cls)))
      }
      def rows(table: String, f: Row => String) = cat.table(table).collect().toSeq.map(f)
      check(Stats.digest(rows("DOCUMENTS_PROCESSED", r =>
        Seq(r.getString(0), r.getString(1), r.getString(2),
          Expect.render(Expect.envelope(r.getString(3)))).mkString("|"))) ==
        Stats.digest(expected.map { case (n, _, c, a) =>
          Seq(s"@$stage/$n", n, c, Expect.render(a)).mkString("|") }), "DOCUMENTS_PROCESSED")
      check(Stats.digest(rows("DOCUMENTS_EXTRACTED_FIELDS", r =>
        Seq(r.getAs[String]("file_url"), r.getAs[String]("file_ref"), r.getAs[String]("class_name"),
          r.getAs[String]("field_name"), r.getAs[String]("field_value"),
          String.valueOf(r.getAs[Any]("confidence"))).mkString("|"))) ==
        Stats.digest(expected.flatMap { case (n, _, c, a) =>
          a.toSeq.map { case (f, v) => Seq(s"@$stage/$n", n, c, f, v, "null").mkString("|") } }),
        "DOCUMENTS_EXTRACTED_FIELDS")
      check(Stats.digest(rows("DOCUMENT_OCR", r =>
        Seq(r.getString(0), r.getString(1), Expect.jsonField(r.getString(2), "content"),
          r.getString(3)).mkString("|"))) ==
        Stats.digest(expected.map { case (n, b, _, _) =>
          Seq(n, n, Expect.text(b), Local.complete("mistral-7b", Expect.text(b).take(6000))).mkString("|") }),
        "DOCUMENT_OCR")
      check(Stats.digest(rows("NEW_UPLOADS", r =>
        Seq(r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)).mkString("|"))) ==
        Stats.digest(expected.map { case (n, _, _, _) => Seq(n, s"$stage/$n", stage, true).mkString("|") }),
        "NEW_UPLOADS")
    }
  }

  def run(ctx: Ctx): Phase = {
    // the first document of each class goes first, so the warm-up
    // generates every class's prompts in the fewest requests
    val seen = scala.collection.mutable.Set.empty[String]
    val (firsts, rest) = Fixture.documents(400, ctx.seed).partition(d => seen.add(Expect.classOf(d._2)))
    val docs = firsts ++ rest
    // set-up: open a fresh warehouse and read its five tables, three times
    val (_, setupS) = Stats.medianSetup(3) {
      val fresh = new Session(ctx, docs)
      Catalog.schemas.keys.foreach(t => fresh.cat.table(t).count())
      Stats.deleteTree(fresh.root)
    }
    ctx.log("set-up done")
    // warm-up until the JIT is hot and every class has its prompts, so
    // no measured request pays the one-off prompt generation
    val s = new Session(ctx, docs)
    var warmRequests = 0
    while (warmRequests < minWarmRequests ||
      (s.classes.distinct.size < classCount && warmRequests < 40)) {
      ctx.log(f"warm-up request ${s.timed(warmRequests, None)}%.2f s")
      warmRequests += 1
    }
    (0 until 2).foreach(f => ctx.log(f"warm-up history ${s.history(f)._1}%.2f s"))
    ctx.log("warm-up done")
    val seam = new CountingBackend(Local)
    val latencies = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val fans = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Double])]
    var putS = 0.0; var interactiveS = 0.0
    val win = new Window(ctx)
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds / 2 * 1e9).toLong
    var i = warmRequests
    while (System.nanoTime() < deadline || i < warmRequests + 16) {
      // traced run: every other request is traced, so the overhead is
      // measured against untraced neighbours in the same warehouse
      val traced = ctx.trace && i % 2 == 0
      if (traced) {
        AiFunctions.setBackend(seam); Tracer.enabled = true
      }
      val n0 = Tracer.spans.size
      latencies += ((try s.timed(i, Some(win)) finally {
        AiFunctions.setBackend(Local); Tracer.enabled = false
      }, traced))
      if (traced) Tracer.spans.asScala.drop(n0).foreach { sp =>
        if (sp.name == "put") putS += (sp.endNs - sp.startNs) / 1e9
        if (sp.name == "interactive") interactiveS += (sp.endNs - sp.startNs) / 1e9
      }
      i += 1
      if ((i - warmRequests) % fanEvery == 0) {
        Tracer.enabled = ctx.trace
        try fans += Tracer.span(s"history${fans.size}", "driver")(s.history(fans.size + 2))
        finally { ctx.drainBus(); Tracer.enabled = false }
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    ctx.log(s"measured ${i - warmRequests} requests")
    val heap = win.heapPeakMb
    s.checkTables(0 until i)
    val (files, bytes) = Expect.tableFiles(s.root)
    Stats.deleteTree(s.root)

    ctx.log("checked")
    val lat = latencies.map(_._1).filterNot(_.isNaN).toSeq
    val fanS = fans.map(_._1).toSeq
    ctx.log(lat.map(x => f"$x%.2f").mkString("request seconds: ", " ", "") +
      fanS.map(x => f"$x%.2f").mkString("; history seconds: ", " ", ""))
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.median(lat),
      "latency_p90_s" -> Stats.quantile(lat, 0.9),
      // requests and History fans: what the closed-loop client waits on
      "op_mean_s" -> Stats.mean(lat ++ fanS),
      "jvm.heap_peak_mb" -> heap)
    val layer = if (!ctx.trace) Map.empty[String, Double] else {
      val tenth = math.max(1, lat.size / 10)
      val traced = latencies.filter(_._2).map(_._1).toSeq
      val plain = latencies.filterNot(_._2).map(_._1).toSeq
      val tracedWall = traced.sum
      val calls = AiCounters.snapshot()
      val fanTotal = fanS.sum
      val perQuery = fans.map(_._2).transpose.map(_.sum)
      win.common(lat.size) ++ Map(
        "engine.put_share" -> putS / tracedWall,
        "engine.data_files" -> files.toDouble,
        "engine.bytes_per_doc" -> bytes.toDouble / i,
        "pipelines.interactive_share" -> interactiveS / tracedWall,
        "pipelines.op_growth" -> Stats.mean(lat.takeRight(tenth)) / Stats.mean(lat.take(tenth)),
        "pipelines.history_share" -> fanTotal / wall,
        "pipelines.history_class_summary_share" -> perQuery(0) / fanTotal,
        "pipelines.history_documents_share" -> perQuery(1) / fanTotal,
        "pipelines.history_fields_share" -> perQuery(2) / fanTotal,
        "trace_overhead" -> Stats.median(traced) / Stats.median(plain)) ++
        calls.map { case (k, v) => s"ai.${k}_calls_per_doc" -> v.toDouble / traced.size }
    }
    Phase(s.attempted, s.failed, e2e ++ layer)
  }
}
