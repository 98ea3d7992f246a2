package perfbench

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.operators.ImageTable

/** Per-layer figures shared by the workloads. Layer names follow the
  * engine's modules (`spark` is the scheduler and executors). */
object Layers {

  /** Scheduler and executor figures over one measured phase of `wallS`
    * seconds on `slots` task slots, plus Catalyst and codegen. */
  def spark(r: Report, d: Counts, wallS: Double, slots: Int): Unit = {
    def count(name: String, key: String) = r.metric(name, d(key).toDouble, "count")
    def bytes(name: String, key: String) = r.metric(name, d(key).toDouble, "bytes")
    count("spark.jobs", "jobs")
    count("spark.stages", "stages")
    count("spark.tasks", "tasks")
    count("spark.task_retries", "task_retries")
    r.metric("spark.executor_cpu_ms", d("executor_cpu_ns") / 1e6, "ms")
    r.metric("spark.executor_run_ms", d("executor_run_ms").toDouble, "ms")
    r.metric("spark.slot_utilization", d("executor_run_ms") / (wallS * 1000 * slots), "ratio")
    r.metric("spark.task_wait_ms", d("task_wait_ms").toDouble / math.max(1L, d("tasks")), "ms")
    r.metric("spark.gc_ms", d("gc_ms").toDouble, "ms")
    bytes("spark.shuffle_write_bytes", "shuffle_write_bytes")
    bytes("spark.shuffle_read_bytes", "shuffle_read_bytes")
    bytes("spark.spill_bytes", "spill_bytes")
    bytes("spark.input_bytes", "input_bytes")
    bytes("spark.output_bytes", "output_bytes")
    bytes("spark.result_bytes", "result_bytes")
    val queries = math.max(1L, d("queries")).toDouble
    r.metric("catalyst.analysis_ms", d("analysis_ms") / queries, "ms")
    r.metric("catalyst.optimize_ms", d("optimize_ms") / queries, "ms")
    r.metric("catalyst.planning_ms", d("planning_ms") / queries, "ms")
    r.metric("codegen.compile_ms", d("codegen_ns") / 1e6, "ms")
    count("codegen.classes", "codegen_classes")
    r.metric("trace.listener_ms", d("listener_ns") / 1e6, "ms")
    r.metric("trace.wall_s", wallS, "s")
  }

  /** File-scan figures of a set of extracts returning `rowsOut` rows. */
  def scan(r: Report, d: Counts, extracts: Int, rowsOut: Long): Unit = {
    r.metric("scan.files_read", d("scan_files").toDouble / math.max(1, extracts), "count")
    r.metric("scan.partitions_read", d("scan_partitions").toDouble / math.max(1, extracts), "count")
    r.metric("scan.rows_scanned_per_row_out",
      d("scan_rows").toDouble / math.max(1L, rowsOut), "ratio")
  }

  /** JVM figures since `start` = (GC ms, JIT ms) at the start of the phase. */
  def jvm(r: Report, start: (Long, Long)): Unit = {
    r.metric("jvm.gc_ms", (JvmStats.gcMs - start._1).toDouble, "ms")
    r.metric("jvm.jit_ms", (JvmStats.jitMs - start._2).toDouble, "ms")
    r.metric("jvm.heap_after_gc_mb", JvmStats.peakHeapMb, "MB")
  }

  /** `cells`: the driver-side covers an extract computes for each box —
    * level-0 rectangles (`coverRects`) and the partition-prefix Morton
    * ranges (`coverMortonRanges`) — timed per box. */
  def cells(r: Report, boxes: Seq[BBox]): Unit = {
    val reps = 200
    boxes.foreach { b =>                       // warm-up
      CellIndex.coverRects(b); CellIndex.coverMortonRanges(b, ImageTable.DefaultPRes) }
    val (s, ranges) = Timing.time {
      var n = 0L
      for (_ <- 0 until reps; b <- boxes)
        n += CellIndex.coverRects(b).size + CellIndex.coverMortonRanges(b, ImageTable.DefaultPRes).size
      n
    }
    r.metric("cells.cover_us", s * 1e6 / (reps * boxes.size), "us")
    r.metric("cells.cover_ranges", ranges.toDouble / (reps * boxes.size), "count")
  }
}
