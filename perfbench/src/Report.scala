package perfbench

/** Metric names and units. Every workload prints every name, so a
  * layer a workload does not exercise reads 0 there; values that can
  * be 0 are counts, bytes, rates or shares, never times.
  */
object Report {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "latency_p90_s" -> "s",
    "op_mean_s" -> "s",
    "throughput_per_s" -> "1/s")

  /** One query per size-gated family: the rank-loop graph kernel, the
    * PCA fit and the shingle-scan spread site. (The IVF build,
    * q_sim_ivf_topk, would double a run's measured time.)
    */
  val operatorQueries: Seq[String] = Seq("q_pagerank", "q_emb_pca", "q_dedup_minhash")

  private val aiKinds = Seq("parse", "classify", "extract", "complete")

  val perLayer: Seq[(String, String)] = Seq(
    "engine.put_share" -> "fraction",
    "engine.data_files" -> "count",
    "engine.bytes_per_doc" -> "bytes",
    "pipelines.interactive_share" -> "fraction",
    "pipelines.op_growth" -> "ratio",
    "pipelines.history_share" -> "fraction",
    "pipelines.history_class_summary_share" -> "fraction",
    "pipelines.history_documents_share" -> "fraction",
    "pipelines.history_fields_share" -> "fraction",
    "pipelines.batch_sql_docs_per_s" -> "docs/s",
    "pipelines.stream_docs_per_s" -> "docs/s") ++
    aiKinds.flatMap(k => Seq("", ".batch_sql", ".stream")
      .map(m => s"ai.${k}_calls_per_doc$m" -> "count")) ++ Seq(
    "ai.useful_call_ratio" -> "ratio",
    "ai.inflight_mean" -> "count",
    "ai.inflight_max" -> "count",
    "streaming.batches" -> "count",
    "streaming.docs_per_batch" -> "count",
    "streaming.batch_p50_share" -> "fraction",
    "streaming.batch_max_share" -> "fraction",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.jobs_per_doc" -> "count",
    "spark.tasks_per_doc" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.task_busy_share" -> "fraction",
    "spark.bytes_written_per_doc" -> "bytes",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes") ++
    operatorQueries.flatMap(q => Seq(s"ops.$q.share" -> "fraction", s"ops.$q.jobs" -> "count")) ++
    Seq("jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    Layers.names.map(l => s"layer.$l.self_share" -> "fraction") ++
    Seq("trace_overhead" -> "ratio")

  private val units = (endToEnd ++ perLayer).toMap

  /** Complete the metric map for the mode: every name of the set, with
    * 0 for what the workload does not measure; unknown names are a bug.
    */
  def finish(trace: Boolean, values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"unknown metrics: ${unknown.mkString(", ")}")
    val names = if (trace) perLayer else endToEnd
    names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap
  }
}

/** Accounting over the measured operations of a run: their wall time
  * and the scheduler counters of the jobs they ran (deltas around each
  * operation, so checks and preparation between operations are left
  * out), GC time and the old-gen peak over the whole window, and traced
  * layer self times.
  */
final class Window(ctx: Ctx) {
  AiCounters.reset()
  Jvm.resetOldPeak()
  private val gc0 = Jvm.gcMillis
  private val acc = Array.fill(JobListener.fields)(0L)
  private var wall = 0.0
  private var ops = 0
  /** Jobs run by the most recent operation. */
  var lastJobs = 0L

  /** Time one operation; returns its result and seconds. */
  def op[A](body: => A): (A, Double) = {
    ctx.drainBus()
    val s0 = ctx.jobs.snapshot()
    val (a, dt) = Stats.time(body)
    ctx.drainBus()
    val s1 = ctx.jobs.snapshot()
    s1.indices.foreach(i => acc(i) += s1(i) - s0(i))
    lastJobs = s1(0) - s0(0)
    wall += dt
    ops += 1
    (a, dt)
  }

  /** Peak old-gen MB after a collection, over the window so far. */
  def heapPeakMb: Double = Jvm.oldGenPeak / 1048576.0

  /** Metrics every workload reports the same way, per operation and per
    * document (`docs` = documents processed, 0 when there are none).
    */
  def common(docs: Int): Map[String, Double] = {
    val Array(jobs, tasks, runMs, shuffle, spill, written, busyNs) = acc
    def perDoc(v: Long) = if (docs > 0) v.toDouble / docs else 0.0
    val (self, root) = Layers.selfTimes(scala.jdk.CollectionConverters
      .CollectionHasAsScala(Tracer.spans).asScala.toSeq)
    Map(
      "spark.jobs_per_op" -> jobs.toDouble / ops,
      "spark.tasks_per_op" -> tasks.toDouble / ops,
      "spark.jobs_per_doc" -> perDoc(jobs),
      "spark.tasks_per_doc" -> perDoc(tasks),
      "spark.driver_gap_s" -> math.max(0.0, wall - busyNs / 1e9) / ops,
      "spark.task_busy_share" -> runMs / 1000.0 / (wall * ctx.cpus),
      "spark.bytes_written_per_doc" -> perDoc(written),
      "spark.shuffle_bytes" -> shuffle.toDouble / ops,
      "spark.spill_bytes" -> spill.toDouble / ops,
      "jvm.gc_s" -> (Jvm.gcMillis - gc0) / 1000.0) ++
      (if (root > 0) self.map { case (l, s) => s"layer.$l.self_share" -> s / root } else Map.empty)
  }
}
