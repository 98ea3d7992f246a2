package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.functions.{PointInPolygon, geo}
import graft.operators.ImageTable

/**
 * The flagship tiling/extract job of `graft.Bench` over a seeded images
 * table: `ImageTable.derive`, then bbox OR 256-gon `point_in_polygon`, then
 * the distance to 3 query points, then a per-cell aggregate. Per-row
 * expression cost (the `functions` layer) dominates.
 *
 * Differences from Bench's job: the city centres come from the run's seed,
 * the box is clipped to the latitude range, and the aggregate is folded
 * into one (cells, checksum) row instead of being counted, so the result
 * can be compared across parallelism levels.
 */
final class Flagship(seed: Long, path: String) {
  private val cs = Fixtures.cityCenters(seed)
  /** A 256-vertex circle of radius 3 degrees around the hottest city. */
  val poly: Array[Double] = (0 until 256).flatMap { i =>
    val a = 2 * math.Pi * i / 256
    Seq(cs(0)._1 + 3 * math.cos(a), cs(0)._2 + 3 * math.sin(a))
  }.toArray
  val px: Array[Double] = poly.indices.collect { case i if i % 2 == 0 => poly(i) }.toArray
  val py: Array[Double] = poly.indices.collect { case i if i % 2 == 1 => poly(i) }.toArray
  val box: BBox = BBox(cs(0)._1 - 8.0, math.max(-90.0, cs(0)._2 - 6.0), cs(0)._1 + 8.0,
    math.min(90.0, cs(0)._2 + 6.0))

  private def dist(qlon: Double, qlat: Double) = {
    val dx = (col("lon") - qlon) * cos(radians((lit(qlat) + col("lat")) / 2))
    val dy = col("lat") - qlat
    sqrt(dx * dx + dy * dy)
  }

  private def cells(spark: SparkSession, withPip: Boolean): DataFrame = {
    val t = ImageTable.derive(spark.read.parquet(path))
    val pip = geo.point_in_polygon(col("lon"), col("lat"), poly)
    val keep = if (withPip) ImageTable.bboxPredicate(box) || pip else ImageTable.bboxPredicate(box)
    t.where(keep)
      .select(col("cell"), col("cell_r9"), (if (withPip) pip else lit(false)).as("in_poly"),
        least(dist(cs(0)._1, cs(0)._2), dist(cs(1)._1, cs(1)._2),
          dist(cs(2)._1, cs(2)._2)).as("d"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(when(col("in_poly"), 1).otherwise(0)).as("n_poly"),
        min("d").as("dmin"), approx_count_distinct("cell_r9").as("r9"))
  }

  /** Run the job; returns (cells, order-insensitive checksum of the cells). */
  def run(spark: SparkSession, withPip: Boolean = true): (Long, Long) = {
    val r = cells(spark, withPip).agg(count(lit(1)),
      sum(pmod(xxhash64(col("cell"), col("n"), col("n_poly"), col("dmin"), col("r9")),
        lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The raw scan under the job: read the one column it derives from. */
  def rawScan(spark: SparkSession): Long =
    spark.read.parquet(path).agg(sum(col("phash") % 1024)).head().getLong(0)

  /** Seeded sample of rows with the engine's `point_in_polygon` verdict. */
  def pipSample(spark: SparkSession, ids: Seq[String]): Array[(Double, Double, Boolean)] =
    ImageTable.derive(spark.read.parquet(path)).where(col("image_id").isin(ids: _*))
      .select(col("lon"), col("lat"), geo.point_in_polygon(col("lon"), col("lat"), poly))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
}

/**
 * The per-row expression layer (`functions`) and the flagship's scaling,
 * measured in the traced run of `ingest-join`: a 1M-row fixture images
 * table (the fixtures' own quadrant), the flagship job at `local[nproc]`,
 * its raw-scan and no-PIP variants, then the same job at `local[1]` on the
 * same files. It stops the caller's session to switch levels, so it runs
 * last.
 */
object Flagship {
  /** Row-group and input-split size: small enough that each job runs
    * several task waves at every level, so one slow task (a shared host
    * can lose half its parallel throughput for short spells) cannot set
    * the time. */
  val SplitBytes: Int = 1024 * 1024

  def traced(ctx: Ctx, r: Report, tracer: SparkCounters): Unit = {
    val rows = if (ctx.toy) 100000L else 1000000L
    val path = ctx.dir("tiles")
    val job = new Flagship(ctx.seed, path)
    def session(cpus: Int) = {
      SparkSession.getDefaultSession.foreach(_.stop())
      val s = ctx.session(cpus, "spark.sql.files.maxPartitionBytes" -> SplitBytes.toString)
      s.sparkContext.addSparkListener(tracer); s.listenerManager.register(tracer)
      s
    }
    var spark = session(ctx.nproc)
    Fixtures.images(spark, rows, ctx.seed, withBytes = false).toDF()
      .write.mode("overwrite").option("parquet.block.size", SplitBytes).parquet(path)

    /** One warm-up run, then `n` timed runs: their times and the distinct
      * results. */
    def level(cpus: Int, n: Int): (Seq[Double], Set[(Long, Long)]) = {
      job.run(spark)
      val runs = (1 to n).flatMap(_ => r.op(s"flagship local[$cpus]")(job.run(spark)))
      Log(f"flagship local[$cpus]: ${runs.map(t => f"${t._1}%.2f").mkString(" ")} s")
      (runs.map(_._1), runs.map(_._2).toSet)
    }

    val (tN, resN) = level(ctx.nproc, 4)
    val scan = Timing.median((1 to 3).map(_ => Timing.time(job.rawScan(spark))._1))
    val derive = Timing.median((1 to 3).map(_ => Timing.time(job.run(spark, withPip = false))._1))
    val full = Timing.median(tN)
    r.metric("functions.scan_ms", scan * 1e3, "ms")
    r.metric("functions.derive_ms", derive * 1e3, "ms")
    r.metric("functions.pip_ms", (full - derive) * 1e3, "ms")
    r.metric("functions.pip_ns_per_row", (full - derive) * 1e9 * ctx.nproc / rows, "ns")

    // output check: a seeded row sample agrees with the interpreted PIP
    val rnd = new scala.util.Random(ctx.seed)
    val ids = Seq.fill(256)(f"img_${(rnd.nextDouble() * rows).toLong}%012d").distinct
    val sample = job.pipSample(spark, ids)
    r.check("PIP sample covers the seeded ids")(sample.length == ids.length)
    r.check("point_in_polygon agrees with PointInPolygon.contains on the sample")(
      sample.forall { case (lon, lat, in) => in == PointInPolygon.contains(job.px, job.py, lon, lat) })
    r.check("sample includes points inside the polygon")(sample.exists(_._3))

    spark = session(1)
    val (t1, res1) = level(1, 2)
    r.check(s"flagship aggregate is identical at local[${ctx.nproc}] and local[1]")(
      resN.size == 1 && res1 == resN)
    r.check("flagship selects cells")(resN.headOption.exists(_._1 > 0))
    spark.stop()

    val rateN = rows / full
    val rate1 = rows / Timing.median(t1)
    r.metric("tile.rows_per_s", rateN, "1/s")
    r.metric("tile.rows_per_s_local1", rate1, "1/s")
    r.metric("tile.scaling_eff", rateN / (ctx.nproc * rate1), "ratio")
  }
}
