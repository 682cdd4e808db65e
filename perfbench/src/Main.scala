package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one measured run reports: operations attempted and failed
  * (exceptions and wrong outputs), the end-to-end metrics of the
  * untraced run and, for a traced run, the per-layer metrics.
  */
final case class Outcome(attempted: Int, failed: Int,
                         metrics: Map[String, (Double, String)])

/** Operations attempted and failed by one phase of a workload, with its
  * raw metric values.
  */
final case class Phase(attempted: Int, failed: Int, values: Map[String, Double])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val trace: Boolean, val cpus: Int,
                val jobs: JobListener, val batches: BatchListener) {
  private var n = 0
  /** A fresh directory under the run's scratch root. */
  def freshDir(prefix: String): String = {
    n += 1
    val d = work.resolve(s"$prefix$n")
    Files.createDirectories(d)
    d.toString
  }
  def drainBus(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] ${up / 1000.0}%7.2f s  $msg")
  }
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON object as the last line of standard output.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    val batches = new BatchListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
    val ctx = new Ctx(spark, work, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", cpus, jobs, batches)
    ctx.log("session ready")
    val out =
      try workload match {
        case "documents" => Documents.run(ctx)
        case "operators" => Operators.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally spark.stop()
    println(json(out))
    sys.exit(0) // no stray non-daemon thread may keep the JVM alive
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def json(o: Outcome): String = {
    val ms = o.metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Small statistics and timing helpers shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `setup` `reps` times; the median time and the last result. */
  def medianSetup[A](reps: Int)(setup: => A): (A, Double) = {
    val runs = (1 to reps).map(_ => time(setup))
    (runs.last._1, median(runs.map(_._2)))
  }

  /** SHA-256 of sorted row renderings: an order-free digest. */
  def digest(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Copy what is under `from` into the existing directory `to`. */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.filter(_ != src).forEach(f => Files.copy(f, Paths.get(to).resolve(src.relativize(f).toString)))
    finally s.close()
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
