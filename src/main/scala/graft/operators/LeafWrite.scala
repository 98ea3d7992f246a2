package graft.operators

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The engine's one write seam. Its table, index and scratch writes, its
  * driver-side sidecars and its PBF part files go through here (the
  * streaming file sinks and the result dumps of the gate mains do not), for
  * three reasons:
  *
  *  - The overwrite policy: an overwrite is a full rebuild ([[writer]])
  *    unless the call site opts into replacing only the leaves it writes.
  *  - Shuffle layout of the Hive-partitioned writes: a write that
  *    `partitionBy`s some keys repartitions on the same keys first
  *    ([[byLeaf]]), so it writes one file per leaf.
  *  - File permissions on local disks: without the native Hadoop library,
  *    the stock `file:` FileSystem forks a `chmod` process for every
  *    directory, data file and `.crc` file it creates (about 3 per leaf of a
  *    partitioned write, ~3.5 ms each). Writes here name
  *    [[NioLocalFileSystem]] for the `file` scheme as two per-write Hadoop
  *    options ([[FsOptions]]); Spark copies writer options into the write
  *    job's Hadoop conf, which the task writers and the driver's job commit
  *    both read. No session conf or FileSystem cache changes, and the read
  *    path is untouched. On any other scheme (hdfs, s3a) the options name
  *    nothing and the seam is a no-op.
  */
object LeafWrite {

  /** Hadoop options that serve `file:` paths from [[NioLocalFileSystem]].
    * The cache must be bypassed: the JVM-wide FileSystem cache is keyed by
    * scheme and user, not by conf, so it would hand back the stock
    * instance. Keys are lower case because Spark's option map is. */
  private[graft] val FsOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df` hash-partitioned on `keys` into `spark.sql.shuffle.partitions`
    * partitions. Each leaf (one value of the keys) lands whole in one task,
    * so a write that partitions by the same keys produces one file per leaf
    * instead of #tasks x #leaves. The partition count is explicit because
    * AQE coalesces a plain `repartition(keys)` by shuffle BYTES: a small
    * shuffle becomes one task that writes every leaf file in turn, while a
    * write's cost is per file. AQE never coalesces a repartition with an
    * explicit count, and coalescing could only cut the task count, never
    * the file count. Use it directly only where the shuffled frame must be
    * materialized before its write; otherwise use [[partitioned]]. */
  def byLeaf(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys.map(col): _*)

  /** The writer of `df` through the seam, with no shuffle and no layout.
    * Overwrites are static: a rebuild replaces the whole target, where a
    * session-wide `spark.sql.sources.partitionOverwriteMode=dynamic` would
    * replace only the leaves it writes and keep every stale one. A write
    * that replaces some leaves on purpose overrides the pin with
    * `.option("partitionOverwriteMode", "dynamic")`. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(FsOptions).option("partitionOverwriteMode", "static")

  /** The Hive-partitioned write of `df` on `keys`: one file per leaf
    * ([[byLeaf]]), each sorted by `keys ++ sortBy` when `sortBy` is given. */
  def partitioned(df: DataFrame, keys: Seq[String],
                  sortBy: Seq[String] = Nil): DataFrameWriter[Row] = {
    val leaves = byLeaf(df, keys: _*)
    val sorted =
      if (sortBy.isEmpty) leaves else leaves.sortWithinPartitions((keys ++ sortBy).map(col): _*)
    writer(sorted).partitionBy(keys: _*)
  }

  /** A copy of the session's Hadoop conf with [[FsOptions]] set: for code
    * that creates files outside a DataFrame write (sidecars, PBF parts). */
  def hadoopConf(spark: SparkSession): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    FsOptions.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The FileSystem that creates `p` through the seam: a fresh, uncached
    * [[NioLocalFileSystem]] on `file:`, the usual one elsewhere. Use it for
    * creates and mkdirs; deletes, listings and `deleteOnExit` (which only a
    * cached instance honours at shutdown) stay on the session's own. */
  def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(hadoopConf(spark))

  /** Write `bytes` as the file `p`, replacing it: the driver-side sidecars
    * and meta files of the stored tables and indexes. */
  def writeFile(spark: SparkSession, p: Path, bytes: Array[Byte]): Unit = {
    val os = fileSystem(spark, p).create(p, true)
    try os.write(bytes) finally os.close()
  }
}

/** The stock local FileSystem (checksummed) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets plain rwx modes through
  * `java.nio` (the same bits, with no `chmod` fork). Sticky modes, and a
  * default file system without a POSIX attribute view, take the stock
  * path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    NioRawLocalFileSystem.posixBits(permission) match {
      case Some(bits) => Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      case None => super.setPermission(p, permission)
    }
}

object NioRawLocalFileSystem {
  private lazy val posixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nio permission set of `permission`, or None where only the stock
    * path can set it: a mode with bits above 0777 (sticky; FsPermission
    * carries no setuid or setgid) or no POSIX view. `PosixFilePermission`
    * lists OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 8 down to 0. */
  private[graft] def posixBits(permission: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = permission.toShort & 0xFFFF
    if ((mode & ~0x1FF) != 0 || !posixView) None
    else Some(PosixFilePermission.values.zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava)
  }
}
