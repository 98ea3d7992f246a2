package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Counter totals at one instant; `-` gives the counts of the work between
  * two snapshots, `+` sums such counts. */
final case class Counts(m: Map[String, Long]) {
  def apply(k: String): Long = m.getOrElse(k, 0L)
  def -(o: Counts): Counts = Counts((m.keySet ++ o.m.keySet).map(k => k -> (this(k) - o(k))).toMap)
  def +(o: Counts): Counts = Counts((m.keySet ++ o.m.keySet).map(k => k -> (this(k) + o(k))).toMap)
}

/**
 * Spark-side counters for the traced run: a SparkListener (jobs, stages,
 * tasks and task metrics) plus a QueryExecutionListener (Catalyst phase
 * times, file-scan metrics), registered on the session by the benchmark
 * itself. Events arrive on Spark's listener bus thread; [[snapshot]] drains
 * the bus first, so a snapshot taken right after an action includes it.
 * The time spent inside these callbacks is counted too (`listener_ns`):
 * that is the tracing overhead, reported as a number.
 */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val c = new ConcurrentHashMap[String, LongAdder]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new LongAdder).add(v)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    add("listener_ns", System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(add("jobs", 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    add("stages", 1)
    val si = e.stageInfo
    stageSubmitMs.put((si.stageId, si.attemptNumber()),
      java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSubmitMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    add("tasks", 1)
    val ti = e.taskInfo
    if (ti.attemptNumber > 0 || ti.speculative) add("task_retries", 1)
    Option(stageSubmitMs.get((e.stageId, e.stageAttemptId))).foreach { submitted =>
      add("task_wait_ms", math.max(0L, ti.launchTime - submitted)) }
    val m = e.taskMetrics
    if (m != null) {
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("result_bytes", m.resultSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(recordQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    timed(recordQuery(qe))

  private def recordQuery(qe: QueryExecution): Unit = {
    add("queries", 1)
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    add("analysis_ms", ms("analysis"))
    add("optimize_ms", ms("optimization"))
    add("planning_ms", ms("planning"))
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .foreach { s =>
        def metric(name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
        add("scan_files", metric("numFiles"))
        add("scan_partitions", metric("numPartitions"))
        add("scan_rows", metric("numOutputRows"))
      }
  }

  /** Current totals, after every event posted so far has been delivered.
    * Codegen counts are JVM-wide (Spark keeps them in static metrics). */
  def snapshot(spark: SparkSession): Counts = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Counts(c.asScala.map { case (k, v) => k -> v.sum() }.toMap ++ Map(
      "codegen_ns" -> CodeGenerator.compileTime,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val l = new SparkCounters
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/**
 * Driver-JVM memory and runtime counters. The live heap is read at
 * checkpoints between measured operations, right after a full collection,
 * so it does not depend on when the collector last ran; its largest value
 * since [[reset]] is the end-to-end `peak_live_heap_mb`. Every GC also
 * reports the heap it left behind; the largest such figure is the traced
 * run's `jvm.heap_after_gc_mb`.
 */
object JvmStats {
  @volatile private var peakLive = 0L
  @volatile private var peakHeap = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc.asScala
        val heap = after.collect { case (pool, u) if isHeap(pool) => u.getUsed }.sum
        synchronized { peakHeap = math.max(peakHeap, heap) }
      }
  }
  private def isHeap(pool: String) = Seq("Old Gen", "Tenured", "Eden", "Survivor")
    .exists(pool.contains)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peakLive = 0L; peakHeap = 0L }

  /** Collect fully, give Spark's cleaner and asynchronous unpersists a
    * moment to drop what the first collection released, collect again,
    * then record the heap still in use. */
  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peakLive = math.max(peakLive, live) }
  }

  def peakLiveMb: Double = peakLive / 1048576.0
  def peakHeapMb: Double = peakHeap / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
