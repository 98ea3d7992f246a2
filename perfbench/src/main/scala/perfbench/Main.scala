package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload is given: its seed, its time budget and where it may
  * write. `toy` shrinks every input to a size that finishes in seconds
  * (the self-check mode); `trace` selects the traced run. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     toy: Boolean, workDir: File, nproc: Int) {
  def dir(name: String): String = new File(workDir, name).getAbsolutePath

  /** A local-mode session with `cpus` task slots; every file Spark or the
    * engine writes stays under the work directory. */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.graft.scratchDir", dir("scratch"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Everything one run reports: metrics by name with their unit, the tally
  * of attempted and failed operations, and a free-form detail record
  * (figures under the names the workload notes use, the host record). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** The end-to-end latency of a workload's operations: the median as a
    * metric; in the detail record, under `name`, the median, the highest
    * percentile with ten samples beyond it, and the sample count. Runs this
    * short never have ten samples beyond a percentile above the median,
    * which is why the tail is not a bounded metric. */
  def latencies(name: String, ms: Iterable[Double]): Unit = {
    val (tail, pct) = Timing.tail(ms)
    metric("latency_p50_ms", Timing.median(ms), "ms")
    detail(name) = Map("p50_ms" -> Timing.median(ms), "tail_ms" -> tail,
      "tail_percentile" -> pct, "samples" -> ms.size)
  }

  /** The workload's set-up write, repeated at least five times and until
    * `minSeconds` are spent (at most 200 times); `setup_s` is the median.
    * The first run is a warm-up and is not counted. */
  def setup(minSeconds: Double)(body: => Unit): Unit = {
    body
    val times = mutable.ArrayBuffer.empty[Double]
    while (times.length < 5 || (times.sum < minSeconds && times.length < 200))
      times += Timing.time(body)._1
    metric("setup_s", Timing.median(times), "s")
    detail("setup_runs") = times.length
    Log(f"set-up: ${times.length} runs, median ${Timing.median(times)}%.4f s, " +
      f"min ${times.min}%.4f s, max ${times.max}%.4f s")
  }

  /** One output check: counted as attempted, and as failed when false. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Exception => Log(s"check '$what' threw: $e"); false
    }
    if (!good) { failed += 1; Log(s"CHECK FAILED: $what") }
  }

  /** One timed operation that must not fail: returns its seconds, or None
    * (counted as failed) when it throws. */
  def op[A](what: String)(body: => A): Option[(Double, A)] = {
    attempted += 1
    try Some(Timing.time(body))
    catch {
      case e: Exception =>
        failed += 1; Log(s"OPERATION FAILED: $what: $e"); None
    }
  }
}

object Log {
  /** A progress line on standard error, stamped with the JVM's uptime. */
  def apply(s: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1fs] $s")
}

object Timing {
  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; with fewer than eleven samples, the largest sample. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

object Main {
  private val usage =
    "usage: perfbench.Main --workload planet-serve|ingest-join " +
      "--seed N --seconds S --trace 0|1 --work-dir DIR [--toy]"

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(usage); sys.exit(2) })
    val ctx = Ctx(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", args.contains("--toy"), new File(need("--work-dir")),
      Runtime.getRuntime.availableProcessors())
    val workload: (Ctx, Report) => Unit = ctx.workload match {
      case "planet-serve" => PlanetServe.run
      case "ingest-join" => IngestJoin.run
      case w => System.err.println(s"unknown workload '$w'\n$usage"); sys.exit(2)
    }
    val status =
      try {
        val report = new Report
        Host.record(ctx, report)
        Log("host probed")
        workload(ctx, report)
        Log("workload done")
        Host.finish(report)
        report.metric("success_rate",
          1.0 - report.failed.toDouble / math.max(1L, report.attempted), "ratio")
        Log("detail " + Json.obj(report.detail.toSeq))
        println(Json.result(report))
        0
      } catch {
        case e: Throwable =>
          Log(s"run failed: $e"); e.printStackTrace(); 1
      } finally SparkSession.getDefaultSession.foreach(_.stop())
    System.out.flush()
    sys.exit(status)
  }
}
