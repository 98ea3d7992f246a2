package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.storage.StorageLevel

/** A DataFrame eagerly materialized into persisted blocks, with its row
  * count and the handle that frees them. Iterative and multi-consumer
  * operators read `df` instead of recomputing its lineage; `close()` (or
  * `scala.util.Using`) releases the blocks deterministically on every exit
  * path. `Dataset.localCheckpoint(eager = true)` offers no such handle: its
  * blocks answer neither `Dataset.unpersist` nor any deterministic release,
  * only the GC-driven ContextCleaner. */
final class Materialized private (val df: DataFrame, val count: Long,
                                  rows: RDD[InternalRow]) extends AutoCloseable {
  private val released = new AtomicBoolean(false)

  /** Non-blocking release, for a loop round superseded by its already
    * materialized successor. */
  def release(): Unit = unpersist(blocking = false)

  /** Blocking release: the blocks are gone when this returns. */
  override def close(): Unit = unpersist(blocking = true)

  // only the first release acts; later ones (Using's close after an early
  // release) are no-ops
  private def unpersist(blocking: Boolean): Unit =
    if (released.compareAndSet(false, true)) rows.unpersist(blocking)
}

object Materialized {

  /** Materialize `df` in one job: its rows are persisted (memory and disk)
    * and counted. `tap` sees every row of that pass before the copy — the
    * hook that lets a driver-small census ride the job through an
    * accumulator instead of costing a job of its own. It runs on executors,
    * must be serializable and may only report through registered
    * accumulators, which a retried task updates again (at-least-once). */
  private[graft] def materialize(df: DataFrame,
                                 tap: InternalRow => Unit = _ => ()): Materialized = {
    val rows = df.queryExecution.toRdd.map { r => tap(r); r.copy() }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = rows.count()
    new Materialized(GraftBridge.frameOver(df, rows), n, rows)
  }
}
