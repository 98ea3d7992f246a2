package perfbench

/** The host record every result carries: processor count, JVM and Spark
  * versions, and the parallelism the host delivered at the time of the run
  * (a plain busy loop on `nproc` threads against one thread). A scaling
  * figure well below `nproc` with a probe well below `nproc` points at the
  * host (steal from other tenants), not at the engine. */
object Host {
  private def busyRate(threads: Int, iters: Long): Double = {
    @volatile var sink = 0.0
    def work(): Unit = {
      var x = 1.000000001; var s = 0.0; var i = 0L
      while (i < iters) { s += x * x + 0.5 / x; x += 1e-9; i += 1 }
      sink = s
    }
    val t0 = System.nanoTime()
    val ts = Array.fill(threads)(new Thread(() => work()))
    ts.foreach(_.start()); ts.foreach(_.join())
    iters.toDouble * threads / ((System.nanoTime() - t0) / 1e9)
  }

  /** Single-thread busy-loop rate (M iterations/s) and delivered
    * parallelism: best of two tries per level after a warm-up. */
  def probe(n: Int): (Double, Double) = {
    val iters = 20000000L
    busyRate(1, iters)
    val one = math.max(busyRate(1, iters), busyRate(1, iters))
    val all = math.max(busyRate(n, iters), busyRate(n, iters))
    (one / 1e6, all / one)
  }

  /** (steal, total) jiffies of the whole machine so far; (0, 0) where the
    * kernel does not report them. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val v = try f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally f.close()
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  @volatile private var startJiffies = (0L, 0L)

  def record(ctx: Ctx, r: Report): Unit = {
    val (rate, p) = probe(ctx.nproc)
    startJiffies = cpuJiffies()
    r.detail("host") = Map(
      "nproc" -> ctx.nproc,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "single_thread_m_iter_per_s" -> rate,
      "delivered_parallelism" -> p)
    r.detail("workload") = ctx.workload
    r.detail("seed") = ctx.seed
    r.detail("traced") = ctx.trace
  }

  /** Share of the machine's CPU time stolen by other tenants since
    * [[record]], in percent. */
  def finish(r: Report): Unit = {
    val (s1, t1) = cpuJiffies()
    r.detail("steal_pct") =
      if (t1 > startJiffies._2) 100.0 * (s1 - startJiffies._1) / (t1 - startJiffies._2) else 0.0
  }
}

/** Minimal JSON rendering for the result line and the detail record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def result(r: Report): String = obj(Seq(
    "correct" -> (r.failed == 0),
    "attempted" -> math.max(1L, r.attempted),
    "failed" -> r.failed,
    "metrics" -> r.metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }))
}
