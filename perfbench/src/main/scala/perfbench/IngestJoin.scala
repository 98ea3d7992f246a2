package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.functions.{PointInPolygon, geo}
import graft.operators.{ImageTable, Knn, SpatialJoin}
import graft.plans.SnapshotLog

/**
 * Workload `ingest-join`: `ImageTable.ingest` of a skewed seeded batch (the
 * fixtures' own quadrant) with a salt threshold low enough that the hot
 * city cells salt, then `readCommitted`, seeded pruned `extractBBox` /
 * `extractPolygon` queries,
 * `Knn.knnJoinTable` for seeded queries at k = 10, and
 * `SpatialJoin.distanceJoin` from a sampled set against the whole table.
 * The write-heavy shuffle path (salting, lineage, the snapshot commit)
 * followed by partition-pruned reads and the multi-round kNN join.
 */
object IngestJoin {
  /** The fixtures' own quadrant: an ingest writes one file per occupied
    * coarse cell, so this workload carries the write path's per-file cost. */
  val region: Region = Region.Quadrant
  val K = 10
  val RadiusM = 3000.0

  /** A pruned extract: a box, or a polygon (flat lon/lat ring) when set. */
  final case class Query(box: BBox, poly: Option[Array[Double]])

  final case class Sizes(rows: Long, queries: Int, knnQueries: Int, joinLeft: Int)

  /** Seeded query mix, alternating boxes and polygons, one in six over
    * sparse background and the rest over a city; edges cycle through six
    * log-spaced classes from 0.05 to 2 fixture degrees. Polygons are
    * star-shaped 12-gons. */
  def queries(seed: Long, n: Int): Seq[Query] = {
    val rnd = new scala.util.Random(seed ^ 0x9E1L)
    (0 until n).map { i =>
      val (clon, clat) = region.point(rnd, seed, background = i % 6 == 4)
      val h = region.size(rnd, -1.3, 0.3, i / 2, 6) / 2
      if (i % 2 == 0) Query(BBox(clon - h, clat - h, clon + h, clat + h), None)
      else {
        val ring = (0 until 12).flatMap { j =>
          val a = 2 * math.Pi * j / 12
          val rr = h * (0.5 + 0.5 * rnd.nextDouble())
          Seq(clon + rr * math.cos(a), clat + rr * math.sin(a))
        }.toArray
        val lons = ring.indices.collect { case j if j % 2 == 0 => ring(j) }
        val lats = ring.indices.collect { case j if j % 2 == 1 => ring(j) }
        Query(BBox(lons.min, lats.min, lons.max, lats.max), Some(ring))
      }
    }
  }

  /** The input held on the driver for the output checks: ids and packed
    * coordinates, and the coordinates the engine derives from them. */
  final class Input(val ids: Array[Long], val phash: Array[Long]) {
    val lon: Array[Double] = phash.map(p => CellIndex.getLon(CellIndex.unpackX(p)))
    val lat: Array[Double] = phash.map(p => CellIndex.getLat(CellIndex.unpackY(p)))

    /** Ids an extract must return: the cell-granular bbox cover (partition
      * prefix and level-0 rectangle), then the exact PIP for polygons. */
    def expected(q: Query): Set[Long] = {
      val rects = CellIndex.coverRects(q.box)
      val ranges = CellIndex.coverMortonRanges(q.box, ImageTable.DefaultPRes)
      val (px, py) = q.poly.map(p => (p.indices.collect { case i if i % 2 == 0 => p(i) }.toArray,
        p.indices.collect { case i if i % 2 == 1 => p(i) }.toArray)).getOrElse((null, null))
      ids.indices.filter { i =>
        val x = CellIndex.unpackX(phash(i)); val y = CellIndex.unpackY(phash(i))
        val xb = CellIndex.bin(x); val yb = CellIndex.bin(y)
        val pc = CellIndex.cellId(x, y, ImageTable.DefaultPRes)
        rects.exists { case ((x0, x1), (y0, y1)) => xb >= x0 && xb <= x1 && yb >= y0 && yb <= y1 } &&
          ranges.exists { case (lo, hi) => pc >= lo && pc <= hi } &&
          (px == null || PointInPolygon.contains(px, py, lon(i), lat(i)))
      }.map(ids).toSet
    }

    /** Brute-force k nearest distances of a query point. */
    def nearest(qlon: Double, qlat: Double, k: Int): Seq[Double] =
      lon.indices.map(i => CellIndex.distMeters(qlon, qlat, lon(i), lat(i))).sorted.take(k)

    def pairsWithin(lons: Seq[Double], lats: Seq[Double], radius: Double): Long =
      lons.indices.map(j => lon.indices.count(i =>
        CellIndex.distMeters(lons(j), lats(j), lon(i), lat(i)) <= radius).toLong).sum
  }

  /** The kNN/join view of the images table: a numeric id plus coordinates,
    * level-0 cell and the partition column (lets kNN prune partitions). */
  private def points(t: DataFrame): DataFrame =
    t.select(substring(col("image_id"), 5, 12).cast("long").as("id"), col("lon"), col("lat"),
      col("cell"), col("p_cell"))

  /** One measured round: ingest, then read, then every extract query. */
  final case class Round(snap: SnapshotLog.Snapshot, path: String, ingestS: Double,
                         readS: Double, queryS: Seq[Double], results: Seq[Set[Long]])

  def run(ctx: Ctx, r: Report): Unit = {
    val sz = if (ctx.toy) Sizes(20000, 4, 10, 10) else Sizes(20000, 12, 24, 100)
    val spark = ctx.session(ctx.nproc)
    import spark.implicits._
    val batchPath = ctx.dir("batch")
    // set-up: Spark's parquet write of the generated batch, held in memory
    // so the fixture generation itself is not timed
    val generated = region.images(spark, sz.rows, ctx.seed).cache()
    generated.count()
    r.setup(1.0)(generated.write.mode("overwrite").parquet(batchPath))
    generated.unpersist()

    val batch = spark.read.parquet(batchPath)
    val in = {
      val rows = batch.select(substring(col("image_id"), 5, 12).cast("long"), col("phash")).collect()
      new Input(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    // the hottest city cell holds about 30% of the rows: it salts into ~5
    val saltThreshold = sz.rows / 16
    val qs = queries(ctx.seed, sz.queries)
    val rnd = new scala.util.Random(ctx.seed ^ 0x4A11L)
    val knnQ = (0 until sz.knnQueries).map { i =>
      val (lon, lat) = region.point(rnd, ctx.seed, background = i % 5 == 2)
      (i.toLong, lon, lat)
    }
    val knnDf = knnQ.toDF("qid", "qlon", "qlat")
    val left = Seq.fill(sz.joinLeft)(rnd.nextInt(in.ids.length)).distinct
      .map(i => (in.ids(i), in.lon(i), in.lat(i)))
    val leftDf = left.toDF("lid", "lon", "lat")

    val tracer = if (ctx.trace) Some(SparkCounters.install(spark)) else None
    val counts = scala.collection.mutable.Map.empty[String, Counts]
    /** One timed operation; in the traced run its Spark counts are added
      * to the step's total. */
    def step[A](name: String)(body: => A): (Double, A) = {
      val c0 = tracer.map(_.snapshot(spark))
      val res = r.op(name)(body).getOrElse(sys.error(s"$name failed"))
      tracer.foreach(t => counts(name) = counts.getOrElse(name, Counts(Map.empty)) + (t.snapshot(spark) - c0.get))
      res
    }
    def extract(t: DataFrame, q: Query): Set[Long] =
      q.poly.fold(ImageTable.extractBBox(t, q.box))(ImageTable.extractPolygon(t, _))
        .select(substring(col("image_id"), 5, 12).cast("long")).collect().map(_.getLong(0)).toSet

    def round(path: String, input: DataFrame, threshold: Long): Round = {
      val (ingestS, snap) = step("ingest")(ImageTable.ingest(input, path, saltThreshold = threshold))
      val (readS, t) = step("read")(ImageTable.readCommitted(spark, path))
      val q = qs.map(q => step("query")(extract(t, q)))
      Round(snap, path, ingestS, readS, q.map(_._1), q.map(_._2))
    }

    // warm-up (JIT, codegen): one round over the batch's rows in the
    // region's south-west sixteenth, a few coarse cells; the first measured
    // round still runs somewhat slower than the next whatever the warm-up
    val warm = round(ctx.dir("table-warm"), batch.where(geo.lon_of(col("phash")) < 45.0 &&
      geo.lat_of(col("phash")) < 22.5), saltThreshold)
    Log(f"warm-up ingest ${warm.ingestS}%.2f s, queries ${warm.queryS.sum}%.2f s")
    Log("warm-up done")
    counts.clear()
    JvmStats.reset()
    val jvm0 = (JvmStats.gcMs, JvmStats.jitMs)
    val before = tracer.map(_.snapshot(spark))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // measured: rounds for the run's seconds (the traced run: three), each
    // into its own table; only the newest table is kept
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    val tracedRounds = if (ctx.trace) Some(3) else None
    while (tracedRounds.fold(elapsed < ctx.seconds || rounds.length < 2)(rounds.length < _)) {
      rounds += round(ctx.dir(s"table-${rounds.length + 1}"), batch, saltThreshold)
      if (rounds.length > 1) deleteTree(new File(rounds(rounds.length - 2).path))
      JvmStats.checkpoint()
    }
    val last = rounds.last
    val t = ImageTable.readCommitted(spark, last.path)
    // the kNN and distance joins run once, on the newest table, after the
    // rounds: each costs several rounds' worth of fixed per-job time
    val (knnS, knn) = step("knn")(Knn.knnJoinTable(points(t), knnDf, K)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))))
    val (joinS, pairs) = step("join")(SpatialJoin.distanceJoin(leftDf, points(t), RadiusM).count())
    val wall = elapsed
    val measured = tracer.map(_.snapshot(spark) - before.get)
    JvmStats.checkpoint()
    val peak = JvmStats.peakLiveMb
    Log(f"${rounds.length} rounds: ingest ${rounds.map(_.ingestS).mkString(", ")} s; " +
      f"knn $knnS%.2f s, join $joinS%.2f s")

    // output checks
    val expectedChecksum = batch.agg(sum(pmod(xxhash64(col("image_id"), col("phash")),
      lit(1000000007L)))).head().getLong(0)
    val parts = last.snap.partitions
    r.check("snapshot total_rows equals the input rows")(
      last.snap.metrics("total_rows") == sz.rows.toDouble && parts.map(_.rows).sum == sz.rows)
    r.check("snapshot lineage checksums sum to the input's checksum")(
      parts.map(_.checksum).sum == expectedChecksum)
    r.check("hot cells are salted")(parts.exists(!_.partition.endsWith("p_salt=0")))
    qs.zip(last.results).zipWithIndex.foreach { case ((q, got), i) =>
      r.check(s"extract $i (${if (q.poly.isDefined) "polygon" else "bbox"} ${q.box}) " +
        "returns the cover-and-refine row set")(got == in.expected(q))
    }
    r.check("extracts return rows")(last.results.exists(_.nonEmpty))
    val byQuery = knn.groupBy(_._1)
    r.check(s"kNN returns exactly $K rows, ranked 1..$K, for every query")(
      byQuery.size == knnQ.size && byQuery.values.forall(v => v.map(_._4).sorted.toSeq == (1 to K)))
    knnQ.take(if (ctx.toy) 3 else 10).foreach { case (qid, qlon, qlat) =>
      r.check(s"kNN query $qid matches the brute-force nearest distances")(
        byQuery.get(qid).exists { got =>
          val want = in.nearest(qlon, qlat, K)
          got.sortBy(_._4).map(_._3).zip(want).forall { case (a, b) =>
            math.abs(a - b) <= 1e-9 * math.max(1.0, b) }
        })
    }
    val wantPairs = in.pairsWithin(left.map(_._2), left.map(_._3), RadiusM)
    r.check("distance join pairs equal the brute-force count")(pairs == wantPairs)
    r.check("distance join finds pairs")(pairs > left.size)

    val ingestS = Timing.median(rounds.map(_.ingestS))
    val qms = rounds.flatMap(_.queryS).map(_ * 1e3)
    r.metric("rows_per_s", sz.rows / ingestS, "1/s")
    r.latencies("query", qms)
    r.metric("peak_live_heap_mb", peak, "MB")
    r.detail("ingest_rows_per_s") = sz.rows / ingestS
    r.detail("knn_queries_per_s") = knnQ.size / knnS
    r.detail("distance_join_s") = joinS
    r.detail("distance_join_pairs") = pairs
    r.detail("rounds") = rounds.length

    tracer.foreach { tr =>
      Layers.spark(r, measured.get, wall, ctx.nproc)
      Layers.jvm(r, jvm0)
      Layers.cells(r, qs.map(_.box))
      Layers.scan(r, counts("query"), qms.length, rounds.map(_.results.map(_.size.toLong).sum).sum)
      val writeS = Timing.median(rounds.map(_.snap.metrics("write_sec")))
      val (files, bytes) = PlanetServe.dirStats(last.path)
      val rowsPerPart = parts.map(_.rows.toDouble)
      r.metric("imagetable.ingest_ms", ingestS * 1e3, "ms")
      r.metric("imagetable.write_ms", writeS * 1e3, "ms")
      r.metric("imagetable.lineage_ms", (ingestS - writeS) * 1e3, "ms")
      r.metric("imagetable.partitions", parts.size.toDouble, "count")
      r.metric("imagetable.files", files.toDouble, "count")
      r.metric("imagetable.max_over_mean_partition_rows",
        rowsPerPart.max / (rowsPerPart.sum / rowsPerPart.size), "ratio")
      r.metric("imagetable.bytes_per_row", bytes.toDouble / sz.rows, "bytes")
      r.metric("imagetable.read_committed_ms", Timing.median(rounds.map(_.readS)) * 1e3, "ms")
      val latest = Timing.median((1 to 20).map(_ => Timing.time(SnapshotLog.latest(last.path))._1))
      r.metric("snapshotlog.latest_ms", latest * 1e3, "ms")
      r.metric("snapshotlog.manifest_bytes",
        new File(last.path, s"_snapshots/snapshot-${last.snap.id}.json").length.toDouble, "bytes")
      r.metric("knn.ms", knnS * 1e3, "ms")
      r.metric("knn.jobs", counts("knn")("jobs").toDouble, "count")
      r.metric("knn.tasks", counts("knn")("tasks").toDouble, "count")
      r.metric("knn.shuffle_bytes", counts("knn")("shuffle_write_bytes").toDouble, "bytes")
      r.metric("knn.queries_per_s", knnQ.size / knnS, "1/s")
      r.metric("spatialjoin.ms", joinS * 1e3, "ms")
      r.metric("spatialjoin.shuffle_bytes", counts("join")("shuffle_write_bytes").toDouble, "bytes")
      r.metric("trace.rows_per_s", sz.rows / ingestS, "1/s")
      Flagship.traced(ctx, r, tr)
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}
