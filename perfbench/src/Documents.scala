package perfbench

/** `documents`: the document path of the reference, in one JVM. First
  * the interactive phase ([[Interactive]]: PUT -> result requests with
  * the History read), then the bulk phase ([[BulkRemote]]: batch-SQL
  * and the stream over a staged backlog, against a remote-model stub).
  *
  * Each phase measures for half the run's seconds, and for at least 16
  * requests and 2 bulk cycles. End to end, latency is the interactive
  * request's, the mean operation time is the interactive phase's over
  * requests and History fans, and throughput is the bulk phase's
  * documents per second over both modes. Set-up is the sum of both
  * phases' median set-up times.
  */
object Documents {
  /** Values both phases report, taken from the bulk phase: per-document
    * scheduler counts, and the layer shares (computed over the spans of
    * both phases). Per-operation counts come from the interactive phase.
    */
  private def fromBulk(k: String): Boolean =
    k.startsWith("layer.") || k.endsWith("_per_doc") && k.startsWith("spark.")

  def run(ctx: Ctx): Outcome = {
    Tracer.clear()
    val inter = Interactive.run(ctx)
    val bulk = BulkRemote.run(ctx)
    val (i, b) = (inter.values, bulk.values)
    val merged = b ++ i.filter(kv => !fromBulk(kv._1)) ++ Map(
      "setup_s" -> (i("setup_s") + b("setup_s")),
      "jvm.heap_peak_mb" -> math.max(i("jvm.heap_peak_mb"), b("jvm.heap_peak_mb"))) ++
      (if (!ctx.trace) Map.empty else Map(
        "jvm.gc_s" -> (i("jvm.gc_s") + b("jvm.gc_s")),
        "trace_overhead" -> (i("trace_overhead") + b("trace_overhead")) / 2))
    Outcome(inter.attempted + bulk.attempted, inter.failed + bulk.failed,
      Report.finish(ctx.trace, merged))
  }
}
