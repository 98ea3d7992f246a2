package graft.operators

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.cells.CellIndex
import graft.functions.geo

/** The proximity primitives the kNN join, the distance join and the
  * routable edges share: one distance column, one neighbour-cell
  * expansion, and a guard that keeps the distance formula in its two
  * homes. */
class ProximitySpec extends SparkFunSuite {
  import spark.implicits._

  /** Run `body` with whole-stage codegen off and every projection built by
    * the interpreted factory. */
  private def interpreted[A](body: => A): A = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dist_meters equals CellIndex.distMeters exactly, codegen and interpreted") {
    val rnd = new scala.util.Random(20261021L)
    def lon() = rnd.nextDouble() * 360 - 180
    def lat() = rnd.nextDouble() * 180 - 90
    val random = Seq.fill(300)((lon(), lat(), lon(), lat()))
    val near = Seq.fill(300) {
      val (x, y) = (lon(), lat())
      (x, y, x + rnd.nextGaussian() * 0.01, math.max(-90.0, math.min(90.0,
        y + rnd.nextGaussian() * 0.01)))
    }
    val edges = Seq(
      (179.99, 20.0, -179.99, 20.0), (-179.99, 20.0, 179.99, 20.0),
      (180.0, 0.0, -180.0, 0.0), (-179.999, 10.0, 179.999, 10.001),
      (0.0, 90.0, 180.0, 90.0), (10.0, -90.0, -170.0, -89.99),
      (45.0, 89.9999, -135.0, 89.9999), (0.0, -90.0, 0.0, 90.0),
      (-0.0001, 51.5, 0.0001, 51.5), (10.0, 0.001, 10.0, -0.001),
      (12.5, 45.25, 12.5, 45.25), (-180.0, -90.0, -180.0, -90.0),
      (0.0, 0.0, 0.0, 0.0))
    val pairs = random ++ near ++ edges
    val df = pairs.zipWithIndex.map { case ((a, b, c, d), i) => (i, a, b, c, d) }
      .toDF("i", "lon1", "lat1", "lon2", "lat2")
      .select(col("i"), geo.dist_meters(col("lon1"), col("lat1"), col("lon2"),
        col("lat2")).as("d"))
    def run(): Map[Int, Double] =
      df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val codegen = run()
    val interp = interpreted(run())
    pairs.zipWithIndex.foreach { case ((a, b, c, d), i) =>
      val expect = CellIndex.distMeters(a, b, c, d)
      assert(codegen(i) == expect, s"codegen pair $i ($a, $b, $c, $d)")
      assert(interp(i) == expect, s"interpreted pair $i ($a, $b, $c, $d)")
    }
  }

  test("neighbourCells: cyclic lon, lat across the equator, cut at poles") {
    val h = 180.0 / CellIndex.GridDim
    val w = 360.0 / CellIndex.GridDim
    // the centre of a grid cell, from its bins
    def centre(bin: Int, isLon: Boolean): Double = {
      val v = (bin << CellIndex.BinShift) + (1 << (CellIndex.BinShift - 1))
      if (isLon) CellIndex.getLon(v) else CellIndex.getLat(v)
    }
    def wrapLon(x: Double) = if (x >= 180.0) x - 360.0 else if (x < -180.0) x + 360.0 else x
    // geometric oracle: step whole cells from the query cell's centre
    def expected(cell: Int, kx: Int, ky: Int): Set[Int] = {
      val (lon, lat) = (centre(CellIndex.cellX(cell), isLon = true),
        centre(CellIndex.cellY(cell), isLon = false))
      (for {
        dx <- -kx to kx; dy <- -ky to ky
        nlat = lat + dy * h if math.abs(nlat) < 90.0
      } yield CellIndex.gridCellOf(wrapLon(lon + dx * w), nlat)).toSet
    }
    val rnd = new scala.util.Random(5L)
    val named = Seq((10.0, 0.001), (10.0, -0.001), (10.0, 0.0), (0.0, 89.999),
      (0.0, -89.999), (0.0, 90.0), (0.0, -90.0), (179.99, 5.0), (-179.99, -5.0),
      (0.001, 51.5), (-0.001, 51.5))
    val qs = (named ++ Seq.fill(200)((rnd.nextDouble() * 360 - 180,
      rnd.nextDouble() * 180 - 90))).zipWithIndex.map { case ((lon, lat), i) =>
      (i, CellIndex.gridCellOf(lon, lat), 1 + i % 3, i % 4) }
    val got = SpatialJoin.neighbourCells(qs.toDF("i", "qcell", "kx", "ky"),
        col("qcell"), col("kx"), col("ky"))
      .select("i", "cell", "_xw", "_yb").collect()
    got.foreach { r =>
      assert(r.getInt(1) == CellIndex.gridCell(r.getInt(2), r.getInt(3)))
    }
    val byQ = got.groupBy(_.getInt(0)).view.mapValues(_.map(_.getInt(1))).toMap
    qs.foreach { case (i, cell, kx, ky) =>
      val cells = byQ.getOrElse(i, Array.empty[Int])
      assert(cells.length == cells.distinct.length, s"query $i repeats a cell")
      assert(cells.toSet == expected(cell, kx, ky), s"query $i cell $cell kx $kx ky $ky")
    }
    // the equator rows neighbour each other; the pole rows do not
    val lit1 = SpatialJoin.neighbourCells(Seq(
        CellIndex.gridCellOf(10.0, 0.001), CellIndex.gridCellOf(10.0, 89.999),
        CellIndex.gridCellOf(10.0, -89.999)).toDF("qcell"),
        col("qcell"), lit(0), lit(1))
      .select("qcell", "_yb").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    assert(lit1(CellIndex.gridCellOf(10.0, 0.001)) == Set(16383, 0, 1))
    assert(lit1(CellIndex.gridCellOf(10.0, 89.999)) == Set(8190, 8191))
    assert(lit1(CellIndex.gridCellOf(10.0, -89.999)) == Set(8192, 8193))
  }

  test("proximity guard: the distance formula lives only in distMeters and dist_meters") {
    // the DuckDB oracle SQL restates the metric on purpose, as an
    // independent check of the engine, so string literals are not code
    val fragment = "+ 540.0) % 360.0"
    val homes = Set("CellIndex.scala" -> "distMeters", "cellExpressions.scala" -> "dist_meters")
    val main = new File("src/main")
    assert(main.isDirectory, main.getAbsolutePath)
    val sources = Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20)
    val Def = """.*\bdef\s+(\w+).*""".r
    val hits = for {
      p <- sources
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      (line, n) <- lines.zipWithIndex
      at = line.indexOf(fragment)
      if at >= 0 && !line.trim.startsWith("|") &&
        line.substring(0, at).count(_ == '"') % 2 == 0
      enclosing = lines.take(n + 1).reverseIterator
        .collectFirst { case Def(name) => name }.getOrElse("")
    } yield (p.getFileName.toString, enclosing, s"$p:${n + 1}: ${line.trim}")
    val strays = hits.filterNot { case (file, fn, _) => homes((file, fn)) }
    assert(strays.isEmpty, strays.map(_._3).mkString("\n"))
    assert(hits.map(h => (h._1, h._2)).toSet == homes, hits.map(_._3).mkString("\n"))
  }
}
