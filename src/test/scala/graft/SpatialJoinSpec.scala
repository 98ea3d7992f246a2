package graft

import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.fixtures.Fixtures
import graft.operators.SpatialJoin

/** Radius spatial join vs an O(n*m) brute-force oracle. */
class SpatialJoinSpec extends SparkFunSuite {
  import spark.implicits._

  private def mkPoints(n: Int, seed: Long, maxLat: Double = 89.0) = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, r.nextDouble() * 359.0 - 179.5,
        (r.nextDouble() * 2 - 1) * maxLat)
    }
  }

  test("distanceJoin equals brute force (uniform points, 25km radius)") {
    val a = mkPoints(800, 1L)
    val b = mkPoints(1200, 2L)
    val radius = 25000.0
    val leftDF = a.toDF("a_id", "lon", "lat")
    val rightDF = b.toDF("b_id", "lon", "lat")
      .withColumn("cell", graft.functions.geo.grid_cell(col("lon"), col("lat")))
    val got = SpatialJoin.distanceJoin(leftDF, rightDF, radius).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val expected = (for {
      (ai, alon, alat) <- a; (bi, blon, blat) <- b
      if CellIndex.distMeters(alon, alat, blon, blat) <= radius
    } yield (ai, bi)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty, "weak fixture: no pairs in radius")
  }

  test("distanceJoin exact at high latitude (narrow cells) and across the antimeridian") {
    val a = Seq((1L, 179.98, 78.0), (2L, -179.97, 78.001), (3L, 10.0, 84.5))
    val b = Seq((10L, -179.99, 78.0005), (11L, 179.99, 77.999),
                (12L, 10.02, 84.5001), (13L, 12.0, 84.9))
    val radius = 3000.0
    val leftDF = a.toDF("a_id", "lon", "lat")
    val rightDF = b.toDF("b_id", "lon", "lat")
      .withColumn("cell", graft.functions.geo.grid_cell(col("lon"), col("lat")))
    val got = SpatialJoin.distanceJoin(leftDF, rightDF, radius).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val expected = (for {
      (ai, alon, alat) <- a; (bi, blon, blat) <- b
      if CellIndex.distMeters(alon, alat, blon, blat) <= radius
    } yield (ai, bi)).toSet
    assert(got == expected, s"got=$got expected=$expected")
    // the antimeridian pair must be present (wrap handling)
    assert(expected.exists { case (ai, bi) => ai == 1L && bi == 10L })
  }

  test("distanceJoin finds pairs across the equator, from either side") {
    // ybin 0 lies just north of the equator and 16383 just south, so the
    // two points sit in neighbouring rows whose bins are 16383 apart
    val north = Seq((1L, 10.0, 0.001))
    val south = Seq((2L, 10.0, -0.001))
    def pairs(a: Seq[(Long, Double, Double)], b: Seq[(Long, Double, Double)]) =
      SpatialJoin.distanceJoin(a.toDF("a_id", "lon", "lat"),
        b.toDF("b_id", "lon", "lat")
          .withColumn("cell", graft.functions.geo.grid_cell(col("lon"), col("lat"))),
        3000.0).collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(CellIndex.distMeters(10.0, 0.001, 10.0, -0.001) < 3000.0)
    assert(pairs(north, south) == Set((1L, 2L)))
    assert(pairs(south, north) == Set((2L, 1L)))
  }

  test("rectJoin: exact pair set + overlap areas vs a brute-force oracle, " +
       "each pair emitted once, across cell sizes") {
    val rnd = new scala.util.Random(42)
    def rects(n: Int, span: Int) = (0 until n).map { i =>
      val x1 = rnd.nextInt(500); val y1 = rnd.nextInt(500)
      (i.toLong, x1, y1, x1 + rnd.nextInt(span), y1 + rnd.nextInt(span))
    }
    val a = rects(300, 40); val b = rects(300, 25)
    val expected = (for {
      (ai, ax1, ay1, ax2, ay2) <- a; (bi, bx1, by1, bx2, by2) <- b
      if ax1 <= bx2 && bx1 <= ax2 && ay1 <= by2 && by1 <= ay2
    } yield ((ai, bi),
      (math.min(ax2, bx2) - math.max(ax1, bx1) + 1).toLong *
      (math.min(ay2, by2) - math.max(ay1, by1) + 1).toLong)).toMap
    val leftDF = a.toDF("l_id", "l_x1", "l_y1", "l_x2", "l_y2")
    val rightDF = b.toDF("r_id", "r_x1", "r_y1", "r_x2", "r_y2")
    for (cs <- Seq(7, 64, 1024)) {  // cells smaller, similar, larger than rects
      val rows = SpatialJoin.rectJoin(leftDF, rightDF, cellSize = cs).collect()
        .map(r => ((r.getAs[Long]("l_id"), r.getAs[Long]("r_id")),
          r.getAs[Long]("ov_area")))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"cellSize=$cs: a pair was emitted more than once")
      assert(rows.toMap == expected, s"cellSize=$cs: pair/area set mismatch")
    }
    intercept[IllegalArgumentException] {
      SpatialJoin.rectJoin(leftDF, rightDF, cellSize = 0)
    }
    // giant-rect fallback: plant planet-sized rects on BOTH sides; with a
    // tiny cell cap they take the broadcast branches — the pair set must
    // stay identical (each branch disjoint: no pair emitted twice)
    val aG = a :+ (900L, 0, 0, 480, 480)
    val bG = b :+ (901L, 10, 10, 470, 470)
    val expectedG = (for {
      (ai, ax1, ay1, ax2, ay2) <- aG; (bi, bx1, by1, bx2, by2) <- bG
      if ax1 <= bx2 && bx1 <= ax2 && ay1 <= by2 && by1 <= ay2
    } yield ((ai, bi),
      (math.min(ax2, bx2) - math.max(ax1, bx1) + 1).toLong *
      (math.min(ay2, by2) - math.max(ay1, by1) + 1).toLong)).toMap
    val lG = aG.toDF("l_id", "l_x1", "l_y1", "l_x2", "l_y2")
    val rG = bG.toDF("r_id", "r_x1", "r_y1", "r_x2", "r_y2")
    for (cap <- Seq(9L, 1000000L)) {   // giants engage / giants don't
      val rows = SpatialJoin.rectJoin(lG, rG, cellSize = 7, maxCellsPerRect = cap)
        .collect().map(r => ((r.getAs[Long]("l_id"), r.getAs[Long]("r_id")),
          r.getAs[Long]("ov_area")))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"cap=$cap: a pair was emitted more than once")
      assert(rows.toMap == expectedG, s"cap=$cap: pair/area set mismatch")
    }
  }

  test("polyJoin equals brute-force PNPOLY over random rings " +
       "(triangles + non-convex quads), each pair emitted once, " +
       "giant-poly broadcast branch included") {
    val rnd = new scala.util.Random(1717)
    val pts = (0L until 1500L)
      .map(i => (i, rnd.nextDouble() * 60.0, rnd.nextDouble() * 40.0))
    // rings: triangles and bowtie-ish quads (even-odd semantics matter),
    // plus one giant covering nearly the whole field
    val rings: Seq[(Long, Array[Double], Array[Double])] =
      (0 until 25).map { i =>
        val cx = rnd.nextDouble() * 55.0; val cy = rnd.nextDouble() * 35.0
        if (i % 2 == 0) {
          (i.toLong, Array(cx, cx + 3.17, cx + 1.03),
            Array(cy, cy + 0.009, cy + 2.71))
        } else {
          // self-intersecting quad: even-odd keeps only the two lobes
          (i.toLong, Array(cx, cx + 2.5, cx, cx + 2.5),
            Array(cy, cy + 2.0, cy + 2.0, cy))
        }
      } :+ (100L, Array(0.001, 59.0, 59.0, 0.001),
            Array(0.002, 0.002, 39.5, 39.5))
    val ptsDF = pts.toDF("id", "lon", "lat")
    val ringsDF = rings.toDF("poly_id", "px", "py")
    val expected = (for {
      (pid, px, py) <- rings; (id, x, y) <- pts
      if graft.functions.PointInPolygon.contains(px, py, x, y)
    } yield (id, pid)).toSet
    // cap 40: the giant (and some quads) take the broadcast branch;
    // cap huge: everything through the cell explode — identical results
    for (cap <- Seq(40L, 1000000L)) {
      val rows = SpatialJoin.polyJoin(ptsDF, ringsDF, binDeg = 1.0,
          maxCellsPerPoly = cap).select("id", "poly_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == rows.distinct.length, s"cap=$cap: dup pair")
      assert(rows.toSet === expected, s"cap=$cap")
    }
    assert(expected.nonEmpty)
    // even-odd actually exercised: some point inside a quad's bbox is OUT
    val quad = rings(1)
    assert(pts.exists { case (_, x, y) =>
      x >= quad._2.min && x <= quad._2.max &&
      y >= quad._3.min && y <= quad._3.max &&
      !graft.functions.PointInPolygon.contains(quad._2, quad._3, x, y)
    })
  }

  test("polyJoin: degenerate rings (<3 vertices, mismatched lengths) " +
       "match nothing; empty sides are fine") {
    val ptsDF = Seq((1L, 5.0, 5.0)).toDF("id", "lon", "lat")
    val bad: Seq[(Long, Array[Double], Array[Double])] = Seq(
      (1L, Array(0.0, 10.0), Array(0.0, 10.0)),             // 2 vertices
      (2L, Array(0.0, 10.0, 0.0), Array(0.0, 0.0)))         // length mismatch
    assert(SpatialJoin.polyJoin(ptsDF, bad.toDF("poly_id", "px", "py")).count() === 0L)
    assert(SpatialJoin.polyJoin(ptsDF.limit(0),
      Seq((1L, Array(0.0, 10.0, 0.0), Array(0.0, 0.0, 10.0)))
        .toDF("poly_id", "px", "py")).count() === 0L)
  }

  test("clustered fixture: join images to themselves finds the dense cores") {
    val imgs = Fixtures.localImages(3000, withBytes = false)
      .map(r => (r.image_id, CellIndex.getLon(CellIndex.unpackX(r.phash)),
        CellIndex.getLat(CellIndex.unpackY(r.phash))))
    val leftDF = imgs.toDF("a_id", "lon", "lat")
    val rightDF = imgs.toDF("b_id", "lon", "lat")
      .withColumn("cell", graft.functions.geo.grid_cell(col("lon"), col("lat")))
    val got = SpatialJoin.distanceJoin(leftDF, rightDF, 2000.0)
      .where(col("a_id") =!= col("b_id"))
    val n = got.count()
    val expected = (for {
      (ai, alon, alat) <- imgs; (bi, blon, blat) <- imgs
      if ai != bi && CellIndex.distMeters(alon, alat, blon, blat) <= 2000.0
    } yield 1).size
    assert(n == expected)
    assert(n > 0)
  }

  test("gridSmooth box-kernel sums equal brute force at radii 0, 1, 2 " +
       "and cover exactly the occupied cells") {
    val r = new scala.util.Random(9)
    val rawPts = Seq.fill(3000)(
      (r.nextDouble() * 40 + 1, r.nextDouble() * 25 + 1))
    val pts = rawPts.toDF("lon", "lat")
    val cnt = rawPts.groupBy { case (x, y) => (x.toLong, y.toLong) }
      .view.mapValues(_.size.toLong).toMap
    Seq(0, 1, 2).foreach { rad =>
      val got = SpatialJoin.gridSmooth(pts, col("lon"), col("lat"), rad)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getLong(3)))
        .toMap
      val expected = cnt.map { case ((ix, iy), n) =>
        val sm = (for { dx <- -rad to rad; dy <- -rad to rad }
          yield cnt.getOrElse((ix + dx.toLong, iy + dy.toLong), 0L)).sum
        (ix, iy) -> (n, sm)
      }
      assert(got == expected, s"radius $rad")
    }
  }
}
