package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Iceberg-SHAPED snapshot/manifest log, self-written (no Iceberg on the
 * classpath — SURVEY.md §7.1): a `_snapshots/` directory of immutable JSON
 * manifests plus a LATEST pointer, giving atomic commit, per-partition
 * lineage records + metrics, and resume-from-last-snapshot (north_rule).
 *
 * Commit protocol: write `snapshot-N.json.tmp`, fsync-rename to final name,
 * then rewrite LATEST. Single-writer per table (the analogue of the
 * reference's exclusive flock, vex.c:824-829); readers only ever see fully
 * written manifests.
 */
object SnapshotLog {

  final case class PartitionLineage(
      partition: String,        // partition spec, e.g. "p_cell=12/p_salt=0"
      rows: Long,
      checksum: Long,           // order-insensitive content hash (sum of row hashes)
      minId: String, maxId: String,   // input id range (lineage back-pointer)
      writeSec: Double)

  final case class Snapshot(
      id: Long,
      parent: Long,             // -1 for first
      table: String,
      partitions: Seq[PartitionLineage],
      metrics: Map[String, Double])

  private implicit val fmt: Formats = DefaultFormats

  /** The local log directory of `tablePath`, resolved as Hadoop resolves
    * the table's files (`file:/tmp/t` is `/tmp/t`). The log is local-only:
    * any other scheme is refused, not written to the driver's disk. */
  private def dir(tablePath: String): Path = {
    val uri = new org.apache.hadoop.fs.Path(tablePath).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"SnapshotLog is local-only: cannot keep the log of $tablePath")
    Paths.get(uri.getPath, "_snapshots")
  }

  def latestId(tablePath: String): Option[Long] = {
    val p = dir(tablePath).resolve("LATEST")
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def read(tablePath: String, id: Long): Snapshot = {
    val p = dir(tablePath).resolve(s"snapshot-$id.json")
    val j = JsonMethods.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    j.extract[Snapshot]
  }

  def latest(tablePath: String): Option[Snapshot] =
    latestId(tablePath).map(read(tablePath, _))

  /** Committed partition specs as of the latest snapshot. */
  def committedPartitions(tablePath: String): Set[String] =
    latest(tablePath).map(_.partitions.map(_.partition).toSet).getOrElse(Set.empty)

  /** Atomically commit a new snapshot: carries forward parent partitions not
    * re-written plus the new lineage records. Returns the new snapshot.
    * @param removed partition specs dropped from the lineage (emptied by a
    *   delete-heavy merge batch) — neither carried forward nor re-written. */
  def commit(tablePath: String, table: String,
             newPartitions: Seq[PartitionLineage],
             metrics: Map[String, Double],
             removed: Set[String] = Set.empty): Snapshot = {
    val d = dir(tablePath)
    Files.createDirectories(d)
    val parent = latest(tablePath)
    val parentId = parent.map(_.id).getOrElse(-1L)
    val newSpecs = newPartitions.map(_.partition).toSet ++ removed
    val carried = parent.map(_.partitions.filterNot(p => newSpecs(p.partition)))
      .getOrElse(Seq.empty)
    val snap = Snapshot(parentId + 1, parentId, table,
      carried ++ newPartitions, metrics)
    val json = compact(render(Extraction.decompose(snap)))
    val tmp = d.resolve(s"snapshot-${snap.id}.json.tmp")
    val fin = d.resolve(s"snapshot-${snap.id}.json")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    val latestTmp = d.resolve("LATEST.tmp")
    Files.write(latestTmp, snap.id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(latestTmp, d.resolve("LATEST"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    snap
  }

}
