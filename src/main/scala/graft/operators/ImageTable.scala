package graft.operators

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.functions.geo
import graft.operators.Materialized.materialize
import graft.plans.SnapshotLog
import graft.plans.SnapshotLog.PartitionLineage

/**
 * The graft's primary table: images(image_id, bytes, w, h, fmt, caption,
 * phash) where phash is the packed reference coord (hi 32 = x, lo 32 = y,
 * FIXTURES.md §1 — exactly the reference's coord_t, vex.c:74-83).
 *
 * Ingest = geocode (derive lon/lat/cells/tiles from phash via the codegen
 * encoder) -> skew census -> salt hot cells -> write Hive-partitioned
 * parquet on (p_cell, p_salt) -> commit snapshot with per-partition lineage
 * + metrics. The partition key p_cell is a coarse Morton prefix — the
 * Iceberg-partition-transform analogue of the reference's 14-bit grid
 * (vex.c:25-27); p_salt spreads hot cells (AQE handles residual skew at
 * query time, explicit salt handles it at REST — file sizes stay bounded).
 *
 * Write path: the write repartitions on (p_cell, p_salt) into an EXPLICIT
 * `spark.sql.shuffle.partitions` count ([[LeafWrite.byLeaf]]). AQE would
 * coalesce a plain key repartition by shuffle bytes — a small ingest then
 * runs as one task writing every leaf file in turn — but write cost is per
 * file, not per byte. Lineage is computed from the salted input (the same
 * aggregate the commit would run over the written table, without the
 * table's partition-discovery listing), so the commit reads nothing back.
 *
 * Scale notes (100 TB): partition resolution `pRes` controls directory
 * fan-out (4^pRes cells); salting bounds the largest partition; queries
 * prune on p_cell ranges (Morton prefix property) and never mention salt,
 * so pruning is unaffected by the salt dimension.
 */
object ImageTable {

  /** Default partition-prefix resolution: 4^5 = 1024 possible cells. */
  val DefaultPRes = 5

  /** Test seam for [[compact]]: invoked after the pre-listing snapshot
    * (and the merged-rows materialization) and before the guard re-check —
    * lets specs inject a concurrent append into the window the guard
    * protects. No-op in production. */
  private[graft] var onCompactBeforeGuard: () => Unit = () => ()

  /** Derive geocoded columns from phash. Pure column expressions (WSCG). */
  def derive(images: DataFrame, pRes: Int = DefaultPRes): DataFrame =
    images
      .withColumn("lon", geo.lon_of(col("phash")))
      .withColumn("lat", geo.lat_of(col("phash")))
      .withColumn("cell", geo.grid_cell_packed(col("phash")))
      .withColumn("xbin", shiftright(col("cell"), CellIndex.GridBits))
      .withColumn("ybin", col("cell").bitwiseAND(lit(CellIndex.GridDim - 1)))
      .withColumn("cell_r7", geo.cell_packed(col("phash"), 7))
      .withColumn("cell_r8", geo.cell_packed(col("phash"), 8))
      .withColumn("cell_r9", geo.cell_packed(col("phash"), 9))
      .withColumn("p_cell", geo.cell_packed(col("phash"), pRes))

  /**
   * Ingest with explicit hot-cell salting + snapshot commit.
   * @param saltThreshold rows per (p_cell) above which the cell is salted;
   *   bucket count scales with the overage so no partition exceeds ~threshold.
   */
  def ingest(images: DataFrame, path: String, pRes: Int = DefaultPRes,
             saltThreshold: Long = 500000, maxSalt: Int = 64): SnapshotLog.Snapshot =
    writeAndCommit(saltHotCells(derive(images, pRes), saltThreshold, maxSalt), path,
      Map.empty)

  /** Skew census (a tiny aggregate, one row per occupied coarse cell) and
    * hot-cell salting: p_salt = hash(image_id) mod the cell's bucket count. */
  private def saltHotCells(derived: DataFrame, saltThreshold: Long,
                           maxSalt: Int): DataFrame = {
    val salts = derived.groupBy("p_cell").count().select(col("p_cell").as("_pc"),
      least(greatest(ceil(col("count") / saltThreshold), lit(1)), lit(maxSalt))
        .cast("int").as("_nsalt"))
    derived
      .join(broadcast(salts), col("p_cell") === col("_pc"), "left")
      .withColumn("p_salt",
        pmod(xxhash64(col("image_id")), coalesce(col("_nsalt"), lit(1))).cast("int"))
      .drop("_pc", "_nsalt")
  }

  /** The one write-and-commit path of [[ingest]] and [[ingestResume]]:
    * write `salted` with one file per (p_cell, p_salt) leaf, drop the leaves
    * of rewritten cells the write did not produce, commit the lineage of
    * `salted` itself. The input is evaluated three times (census, write,
    * lineage), so it must be deterministic — which the census already
    * assumed. Metrics describe this write ("partitions" = leaves written). */
  private def writeAndCommit(salted: DataFrame, path: String,
                             extraMetrics: Map[String, Double]): SnapshotLog.Snapshot = {
    val spark = salted.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a path that does not exist yet holds no leaf the write could leave stale
    val existed = fs.exists(hPath)
    // A2 analogue (vex.c:460-481 load counters): observed metrics ride the
    // write job itself — no extra pass
    val obs = new org.apache.spark.sql.Observation("ingest")
    val observed = salted.observe(obs,
      count(lit(1)).as("rows_loaded"),
      count(when(col("phash").isNull, 1)).as("null_phash"),
      approx_count_distinct(col("cell")).as("approx_cells"))
    val t0 = System.nanoTime()
    // the salt dimension already bounds per-file size for hot cells, so one
    // file per leaf is right. Dynamic overwrite is a PER-WRITE option (not a
    // session-conf mutation, which would silently leak into every later
    // overwrite on the session)
    LeafWrite.byLeaf(observed, "p_cell", "p_salt").write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_cell", "p_salt").parquet(path)
    val writeSec = (System.nanoTime() - t0) / 1e9
    val loadMetrics = obs.get.map { case (k, v) =>
      s"observed_$k" -> v.toString.toDouble }
    // a re-ingest rewrites cells the diff-sync index may reference: drop the
    // index (next diff batch rebuilds it in one scan) rather than let stale
    // entries silently mis-target later deletes/moves
    graft.streaming.StreamingIngest.invalidateCellIndex(spark, path)
    // lineage from the input, not a read-back of the table: the same
    // aggregate without the table's partition-discovery listing
    val lineage = lineageOf(salted, writeSec)
    val written = lineage.map(_.partition).toSet
    val removed =
      if (!existed) Set.empty[String]
      else dropStaleLeaves(fs, path, written.map(cellOf), written)
    val rows = lineage.map(_.rows).sum
    SnapshotLog.commit(path, "images", lineage, Map(
      "total_rows" -> rows.toDouble,
      "partitions" -> lineage.size.toDouble,
      "write_sec" -> writeSec,
      "rows_per_sec" -> (if (writeSec > 0) rows / writeSec else 0.0))
      ++ loadMetrics ++ extraMetrics, removed)
  }

  /** Lineage spec of one (p_cell, p_salt) leaf, e.g. "p_cell=12/p_salt=0" —
    * the leaf's directory path under the table. */
  private[graft] def leafSpec(cell: Long, salt: Long): String =
    s"p_cell=$cell/p_salt=$salt"

  private def cellOf(spec: String): Long =
    spec.split("/")(0).stripPrefix("p_cell=").toLong

  /** Per-partition lineage records of `df`: row count, order-insensitive
    * content checksum (sum of per-row hashes mod 1e9+7), id range. THE
    * single definition — ingest, resume and the streaming diff merge all
    * commit through it, so their snapshots stay checksum-compatible. */
  private[graft] def lineageOf(df: DataFrame, writeSec: Double): Seq[PartitionLineage] =
    df.groupBy("p_cell", "p_salt").agg(
        count(lit(1)).as("rows"),
        sum(pmod(xxhash64(col("image_id"), col("phash")), lit(1000000007L))).as("checksum"),
        min("image_id").as("min_id"), max("image_id").as("max_id"))
      .collect()
      .map(r => PartitionLineage(
        leafSpec(r.getAs[Number](0).longValue, r.getAs[Number](1).longValue),
        r.getLong(2), r.getLong(3), r.getString(4), r.getString(5), writeSec))
      .toSeq

  /** Leaf-level cleanup after a dynamic partition overwrite of `cells`: the
    * overwrite replaces only the leaves the write produced, so a cell whose
    * salt count shrank (or whose rows were all deleted) keeps its other
    * p_salt directories, and their stale rows would resurrect. Deletes every
    * on-disk leaf of `cells` not in `kept` (and a cell directory left
    * empty), and returns the specs the next commit must drop: those leaves
    * plus every latest-snapshot leaf of `cells` not in `kept`. FileSystem
    * listing only — no Spark job. */
  private[graft] def dropStaleLeaves(fs: org.apache.hadoop.fs.FileSystem,
                                     path: String, cells: Iterable[Long],
                                     kept: Set[String]): Set[String] = {
    val cellSet = cells.toSet
    val deleted = cellSet.toSeq.flatMap { cell =>
      val cellDir = new org.apache.hadoop.fs.Path(s"$path/p_cell=$cell")
      if (!fs.exists(cellDir)) Nil
      else {
        val gone = fs.listStatus(cellDir)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_salt="))
          .toSeq.flatMap { st =>
            val spec = s"p_cell=$cell/${st.getPath.getName}"
            if (kept(spec)) None
            else { fs.delete(st.getPath, true); Some(spec) }
          }
        if (fs.listStatus(cellDir).isEmpty) fs.delete(cellDir, true)
        gone
      }
    }
    val logged = SnapshotLog.latest(path).toSeq.flatMap(_.partitions.map(_.partition))
      .filter(p => cellSet(cellOf(p)) && !kept(p))
    deleted.toSet ++ logged
  }

  /**
   * Resumable ingest: skip input whose target coarse cell is already fully
   * committed in the latest snapshot (per-partition lineage = the resume
   * ledger). Partitions interrupted mid-write (present on disk but absent
   * from the manifest) are re-written idempotently via dynamic partition
   * overwrite. Returns (snapshot, partitionsWritten).
   */
  def ingestResume(images: DataFrame, path: String, pRes: Int = DefaultPRes,
                   saltThreshold: Long = 500000): (SnapshotLog.Snapshot, Long) = {
    val committedCells = SnapshotLog.latest(path).toSeq
      .flatMap(_.partitions.map(p => cellOf(p.partition)))
      .toSet
    val derived = derive(images, pRes)
    val remaining =
      if (committedCells.isEmpty) derived
      else derived.where(!col("p_cell").isin(committedCells.toSeq: _*))
    if (remaining.isEmpty) {
      // nothing to write: either everything is already committed, or the
      // input itself was empty on a fresh table — commit an explicit empty
      // snapshot rather than throwing on the absent LATEST pointer
      val snap = SnapshotLog.latest(path).getOrElse(
        SnapshotLog.commit(path, "images", Seq.empty,
          Map("total_rows" -> 0.0, "resumed" -> 1.0, "write_sec" -> 0.0)))
      return (snap, 0L)
    }
    val snap = writeAndCommit(saltHotCells(remaining, saltThreshold, 64), path,
      Map("resumed" -> 1.0))
    (snap, snap.metrics("partitions").toLong)
  }

  /** Read only partitions committed in the latest snapshot (stragglers from
    * a crashed write are invisible — snapshot isolation for readers).
    * Implemented as an ANTI-filter on uncommitted on-disk partitions: in
    * the common case (no crash debris) that set is empty and the reader
    * carries NO extra predicate — a positive isin over every committed
    * cell would bloat every query plan at planet scale. */
  def readCommitted(spark: SparkSession, path: String): DataFrame = {
    val committed = SnapshotLog.committedPartitions(path)
      .map(_.split("/")(0).stripPrefix("p_cell=").toLong)
    val df = spark.read.parquet(path)
    if (committed.isEmpty) return df.where(lit(false))
    // Hadoop FileSystem API (not java.io.File): works on HDFS/object-store
    // paths the same as on local ones
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_cell="))
      .map(_.getPath.getName.stripPrefix("p_cell=").toLong).toSet
    val stragglers = onDisk -- committed
    if (stragglers.isEmpty) df
    else df.where(!col("p_cell").isin(stragglers.toSeq: _*))
  }

  /**
   * Small-file compaction — the table-maintenance pass a streaming-append
   * store needs: every micro-batch of [[graft.streaming.StreamingIngest
   * .ingestOnce]] appends one file per touched cell, so a long-running
   * stream leaves hundreds of tiny files per directory (scan task-setup
   * and file-listing cost grows with file COUNT, not bytes — the classic
   * 100 TB small-file problem).
   *
   * A LEAF (a p_salt dir, or the cell dir itself in the salt-less
   * streaming layout) is compacted when it holds >= `minFilesPerLeaf`
   * data files AND more than its target count
   * ceil(leafBytes / targetFileBytes) — so already-compacted hot leaves
   * are NOT re-churned on every maintenance run (the pass converges), and
   * a hot salt-less cell is split into size-bounded files instead of
   * funneling through one shuffle task. Affected cells are rewritten
   * whole (the p_cell isin filter stays a plain directory-pruned
   * predicate).
   *
   * Streaming-sink stores (a `_spark_metadata` FileStreamSink log is
   * present): the rewrite reads THROUGH the log (only committed rows
   * survive); then orphan files the log never committed are removed from
   * EVERY cell (affected cells included — their committed rows are already
   * materialized off-disk, so an affected leaf holding only crashed-batch
   * debris is cleaned rather than silently surviving); then the log is
   * retired BEFORE the partition overwrite — from that point the store is
   * a plain parquet table of exactly the committed rows, so a crash
   * mid-overwrite leaves a READABLE store (retiring the log after the
   * overwrite left a window where the log referenced deleted files and
   * every read threw). REQUIREMENT: the writing stream must be quiesced,
   * and the path must not be reused as a streaming-sink target afterwards
   * (a restarted sink would start a fresh log that cannot see the
   * compacted files); continue maintenance via diffSync or batch ingest
   * instead. On sink-log stores the concurrent-append guard compares
   * listings of ALL cells (a micro-batch landing in an untouched cell
   * mid-pass would otherwise be swept as an orphan); on plain stores it
   * covers affected cells only, since only the overwrite can destroy data
   * there and an append to an untouched cell is harmless. On any guarded
   * change the pass aborts with no store change.
   *
   * Content is bit-identical after compaction: snapshot lineage (which is
   * content-addressed per leaf) stays valid, and the diff-sync id->p_cell
   * index needs no invalidation. Self-overwrite is avoided the same way
   * the diff merge does it — the merged rows are materialized (persisted
   * copy with a deterministic release handle, dropped even when the write
   * throws) before the dynamic partition overwrite. Returns the number of
   * cells compacted.
   */
  def compact(spark: SparkSession, path: String,
              minFilesPerLeaf: Int = 2,
              targetFileBytes: Long = 512L * 1024 * 1024): Long = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return 0L
    def isData(n: String) = !n.startsWith("_") && !n.startsWith(".")
    def leafFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).filter(st => st.isFile && isData(st.getPath.getName))
    val cellDirs = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_cell="))
    if (cellDirs.isEmpty) return 0L
    val hasSalt = cellDirs.exists(cd => fs.listStatus(cd.getPath)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("p_salt=")))
    def targetN(bytes: Long): Int =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // (cell, salt or -1, nDataFiles, bytes) per leaf, from one FS walk
    val leaves: Seq[(Long, Long, Int, Long)] = cellDirs.toSeq.flatMap { cd =>
      val cell = cd.getPath.getName.stripPrefix("p_cell=").toLong
      if (hasSalt)
        fs.listStatus(cd.getPath)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_salt="))
          .toSeq.map { sd =>
            val fls = leafFiles(sd.getPath)
            (cell, sd.getPath.getName.stripPrefix("p_salt=").toLong,
             fls.length, fls.map(_.getLen).sum)
          }
      else {
        val fls = leafFiles(cd.getPath)
        Seq((cell, -1L, fls.length, fls.map(_.getLen).sum))
      }
    }
    val affectedCells = leaves
      .filter(l => l._3 >= minFilesPerLeaf && l._3 > targetN(l._4))
      .map(_._1).distinct
    if (affectedCells.isEmpty) return 0L
    val sinkLog = new org.apache.hadoop.fs.Path(hPath, "_spark_metadata")
    val hasSinkLog = fs.exists(sinkLog)
    // URI path component — scheme spellings differ between APIs
    def uriPath(s: String) = new java.net.URI(s).getPath
    val affectedSet = affectedCells.toSet
    // guard scope: on a SINK-LOG store any mid-pass append is destroyed
    // (untouched cells: swept as orphans; affected cells: lost in the
    // overwrite), so the guard covers ALL cells — and re-derives the cell
    // directory list on every call, so a micro-batch opening a brand-NEW
    // cell mid-pass is caught too (a fixed dir list would miss it and let
    // its crashed-batch debris survive log retirement). On a plain store
    // only the overwrite can destroy data, so the guard covers affected
    // cells only — a harmless concurrent append to an untouched cell must
    // not abort the maintenance pass.
    def guardListing(): Set[String] = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_cell="))
      .toSeq
      .filter(cd => hasSinkLog ||
        affectedSet(cd.getPath.getName.stripPrefix("p_cell=").toLong))
      .flatMap { cd =>
        val it = fs.listFiles(cd.getPath, true)
        val buf = Seq.newBuilder[String]
        while (it.hasNext) {
          val st = it.next()
          if (isData(st.getPath.getName)) buf += uriPath(st.getPath.toUri.toString)
        }
        buf.result()
      }.toSet
    val preListing = guardListing()
    val partCols = if (hasSalt) Seq("p_cell", "p_salt") else Seq("p_cell")
    // per-LEAF file-count lookup as a BROADCAST join (the ingest salts
    // pattern) — NOT a nested conditional expression: a reduce of
    // when/coalesce builds a left-deep tree that sends codegen's
    // subexpression elimination quadratic (the q_lang_id defect family)
    val lookup = leaves.filter(l => affectedSet(l._1))
      .map(l => (l._1, l._2, targetN(l._4)))
    val nFiles = broadcast(spark.createDataFrame(lookup).toDF("_pc", "_ps", "_nf"))
    val joinCond =
      if (hasSalt) col("p_cell") === col("_pc") && col("p_salt") === col("_ps")
      else col("p_cell") === col("_pc")
    val store = spark.read.parquet(path)
      .where(col("p_cell").isin(affectedCells: _*))
      .join(nFiles, joinCond, "left")
      // file-split key: spreads a hot leaf over ceil(bytes/target) tasks;
      // dropped before the write (repartitioning survives the projection)
      .withColumn("_fsplit",
        pmod(xxhash64(col("image_id")), coalesce(col("_nf"), lit(1))).cast("int"))
      .drop("_pc", "_ps", "_nf")
    // released even on a failed write — a retrying service must not pin
    Using.resource(materialize(LeafWrite.byLeaf(store, partCols :+ "_fsplit": _*)
        .drop("_fsplit"))) { m =>
      val merged = m.df
      onCompactBeforeGuard()
      // concurrent-append guard: a file landing in a guarded cell between
      // the snapshot read and this commit would be destroyed (affected
      // cells: by the overwrite; on sink-log stores untouched cells too:
      // swept as an orphan) — refuse instead (quiesce writers and re-run)
      if (guardListing() != preListing)
        throw new IllegalStateException(
          "compact aborted: files changed under the store during the " +
            "rewrite — quiesce writers before compacting")
      if (hasSinkLog) {
        // 1) remove files a crashed sink batch wrote but never committed,
        //    in EVERY cell — invisible through the log, they would
        //    resurrect as rows once the log is gone. Affected cells are
        //    safe to sweep here too: `merged` is already materialized and
        //    never read these files, and this closes the all-orphan-leaf
        //    leak (dynamic overwrite skips a leaf it has no rows for).
        //    The committed set is read from the log HERE — after the
        //    guard, as late as possible before the sweep — so a commit
        //    landing between an earlier capture and the listing snapshot
        //    could never be mis-classified as an orphan (a sink commit
        //    always writes new files, so anything committed after the
        //    preListing snapshot fails the guard above instead)
        val logged = spark.read.parquet(path).inputFiles.map(uriPath).toSet
        preListing.diff(logged).foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false))
        // 2) retire the log BEFORE the overwrite: merged no longer needs
        //    it, and a crash from here on leaves a readable plain-parquet
        //    store of exactly the committed rows (a log outliving the
        //    overwrite referenced deleted files — reads threw until it was
        //    removed by hand)
        fs.delete(sinkLog, true)
      }
      merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*).parquet(path)
    }
    affectedCells.size.toLong
  }

  // ---- queries over the images table ---------------------------------------

  /** bbox predicate: Morton-prefix ranges on the PARTITION column (directory
    * pruning) AND the exact bin rectangle (row-group pruning + row filter). */
  def bboxPredicate(b: BBox, pRes: Int = DefaultPRes): Column = {
    val prefixPred = CellIndex.coverMortonRanges(b, pRes)
      .map { case (lo, hi) => col("p_cell").between(lo, hi) }
      .reduceOption(_ || _).getOrElse(lit(false))
    val rectPred = CellIndex.coverRects(b)
      .map { case ((x0, x1), (y0, y1)) =>
        col("xbin").between(x0, x1) && col("ybin").between(y0, y1) }
      .reduceOption(_ || _).getOrElse(lit(false))
    prefixPred && rectPred
  }

  /** Cell-granular bbox extract (reference Q2 semantics: whole covered
    * cells). Returns image rows + their tile (cell) assignment. */
  def extractBBox(images: DataFrame, b: BBox): DataFrame =
    images.where(bboxPredicate(b))

  /** Exact bbox extract: cell pruning then coordinate refinement. */
  def extractBBoxExact(images: DataFrame, b: BBox): DataFrame =
    extractBBox(images, b).where(
      col("lon") >= b.minLon && col("lon") <= b.maxLon &&
      col("lat") >= b.minLat && col("lat") <= b.maxLat)

  /** Web-Mercator (slippy) tile assignment at zoom z — the industry tile
    * scheme alongside the reference-compatible grid cells. Standard
    * formulas; latitude clamped to the Mercator domain. Built-in column
    * math only (codegen'd). */
  def mercatorTileX(lon: Column, z: Int): Column =
    least(greatest(floor((lon + 180.0) / 360.0 * (1L << z)), lit(0.0)),
      lit(((1L << z) - 1).toDouble)).cast("long")
  def mercatorTileY(lat: Column, z: Int): Column = {
    val latC = greatest(least(lat, lit(85.05112877980659)), lit(-85.05112877980659))
    val latRad = radians(latC)
    val yNorm = (lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / math.Pi) / 2.0
    least(greatest(floor(yNorm * (1L << z)), lit(0.0)),
      lit(((1L << z) - 1).toDouble)).cast("long")
  }
  def withMercatorTiles(df: DataFrame, zooms: Seq[Int]): DataFrame =
    zooms.foldLeft(df)((d, z) => d
      .withColumn(s"tile_z${z}_x", mercatorTileX(col("lon"), z))
      .withColumn(s"tile_z${z}_y", mercatorTileY(col("lat"), z)))

  /** Polygon extract: bbox-of-polygon cell pruning + exact ray-casting
    * refinement (codegen PointInPolygon). poly = flat [lon,lat,...]. */
  def extractPolygon(images: DataFrame, poly: Array[Double]): DataFrame = {
    val lons = poly.indices.collect { case i if i % 2 == 0 => poly(i) }
    val lats = poly.indices.collect { case i if i % 2 == 1 => poly(i) }
    val b = BBox(lons.min, lats.min, lons.max, lats.max)
    extractBBox(images, b)
      .where(geo.point_in_polygon(col("lon"), col("lat"), poly))
  }
}
