package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** `operators`: size-gated kernel and spread sites among
  * `SparkEntry.queries` ([[Report.operatorQueries]]), each written to
  * the noop sink over a synthetic fixture. Set-up is the first pass over
  * a fresh copy of the fixture, which builds the staged tables and
  * sizing stats the queries memoize per fixture directory; it runs three
  * times (the passes also warm the JIT; the first, in a cold JVM, is
  * not counted in `setup_s`), and each pass checks every
  * query's sorted-row digest against the recorded one (the seed picks
  * the query order; the data are fixed). Timed passes then repeat until
  * the run's seconds are spent (at least eight), and each query's
  * estimate is its fastest timed repetition.
  */
object Operators {
  /** Scale factor of the fixture. */
  val scale = 0.01
  val dataSeed = 42L
  private val digestFile = "perfbench/operators.digests"

  /** Order-free digest of a query's rows. */
  private def digest(rows: Array[Row]): String = Stats.digest(rows.toSeq.map(renderRow))

  private def renderRow(r: Row): String = r.toSeq.map {
    case null => "null"
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }.mkString("|")

  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val queries = new scala.util.Random(ctx.seed).shuffle(Report.operatorQueries)
    val fixture = ctx.freshDir("fixture")
    Fixture.tables(spark, fixture, scale, dataSeed)
    var attempted = 0
    var failed = 0
    def attempt(name: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        false
      } finally release(spark)
    }
    val fn = SparkEntry.queries

    // set-up: the first call of every query on a fresh copy of the
    // fixture (copied untimed), three times; the last copy is the one
    // measured. Each call's rows are checked against the recorded
    // digest, outside the timing. The first pass runs in a cold JVM and
    // mostly times class loading and compilation, so it is left out.
    val recorded = Files.readAllLines(Paths.get(digestFile)).asScala
      .map(_.split("\t")).collect { case Array(q, d) => q -> d }.toMap
    val copies = (1 to 3).map { _ =>
      val d = ctx.freshDir("copy")
      Stats.copyTree(fixture, d)
      d
    }
    val setups = copies.map { d =>
      queries.map { q =>
        var dt = 0.0
        attempt(q) {
          val (rows, t) = Stats.time(fn(q)(spark, d).collect())
          dt = t
          val got = digest(rows)
          if (!recorded.get(q).contains(got))
            throw new IllegalStateException(s"digest $got differs from the recorded ${recorded.get(q)}")
        }
        dt
      }.sum
    }
    val (dir, setupS) = (copies.last, Stats.median(setups.drop(1)))
    ctx.log(setups.map(x => f"$x%.2f").mkString("set-up seconds: ", " ", ""))
    val reps = Report.operatorQueries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val jobs = Report.operatorQueries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Long]).toMap
    val traced = Report.operatorQueries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val win = new Window(ctx)
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || pass < 8) {
      queries.zipWithIndex.foreach { case (q, k) =>
        // traced run: every other repetition is traced, alternating
        // between passes so both halves see the same warm-up
        val trace = ctx.trace && (pass + k) % 2 == 1
        Tracer.enabled = trace
        var dt = 0.0
        val ok = try attempt(q) {
          dt = win.op(Tracer.span(q, "driver")(noop(fn(q)(spark, dir))))._2
        } finally { Tracer.enabled = false }
        if (ok) {
          (if (trace) traced(q) else reps(q)) += dt
          jobs(q) += win.lastJobs
        }
      }
      pass += 1
    }
    ctx.log(s"measured $pass passes")
    val heap = win.heapPeakMb
    (fixture +: copies).foreach(Stats.deleteTree)

    // the fastest repetition: later passes keep getting faster while the
    // JIT settles, so the minimum is the steady-state cost
    val est = queries.map(q => q -> reps(q).min).toMap
    queries.foreach(q => ctx.log(reps(q).map(x => f"$x%.3f").mkString(s"$q seconds: ", " ", "")))
    val total = est.values.sum
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.median(est.values.toSeq),
      "latency_p90_s" -> Stats.quantile(est.values.toSeq, 0.9),
      "throughput_per_s" -> queries.size / total,
      "op_mean_s" -> total / queries.size,
      "jvm.heap_peak_mb" -> heap)
    val layer = if (!ctx.trace) Map.empty[String, Double] else {
      val tracedTotal = queries.map(q => traced(q).min).sum
      win.common(0) ++ Map(
        "pipelines.op_growth" -> Stats.mean(queries.map(q => reps(q).last / reps(q).head)),
        "trace_overhead" -> tracedTotal / total) ++
        queries.flatMap(q => Seq(s"ops.$q.share" -> est(q) / total,
          s"ops.$q.jobs" -> Stats.median(jobs(q).map(_.toDouble).toSeq)))
    }
    Outcome(attempted, failed, Report.finish(ctx.trace, e2e ++ layer))
  }
}
