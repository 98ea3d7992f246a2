package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cells.CellIndex._

/** Bit-compat tests for the semantics kernel (SURVEY.md §5 item 1):
  * quantization vectors incl. C-cast truncation edges, unsigned binning
  * wraparound, Morton prefix property, cover correctness, distance.
  * Property-style checks run over seeded deterministic samples. */
class CellIndexSpec extends AnyFunSuite {

  private def samples[A](n: Int, seed: Long)(gen: scala.util.Random => A)
      (check: A => Unit): Unit = {
    val rnd = new scala.util.Random(seed)
    (0 until n).foreach(_ => check(gen(rnd)))
  }
  private def lonLat(r: scala.util.Random): (Double, Double) =
    (r.nextDouble() * 360 - 180, r.nextDouble() * 180 - 90)

  // hand-computed vectors for x = lon * INT32_MAX / 180 with trunc-toward-zero
  test("quantization matches C double->int32 truncation vectors") {
    assert(toX(0.0) == 0)
    assert(toX(180.0) == Int.MaxValue)
    assert(toX(-180.0) == -Int.MaxValue)
    assert(toY(90.0) == Int.MaxValue)
    assert(toY(-90.0) == -Int.MaxValue)
    // 1 degree lon: 2147483647/180 = 11930464.7055... -> truncates to 11930464
    assert(toX(1.0) == 11930464)
    assert(toX(-1.0) == -11930464)     // toward zero, NOT floor
    assert(toY(1.0) == 23860929)       // 2x vertical resolution
    assert(toX(4.89) == (4.89 * Int.MaxValue / 180.0).toInt)
    // tiny negative stays 0 after trunc (floor would give -1)
    assert(toX(-1e-9) == 0)
  }

  test("inverse round-trips within one quantum") {
    samples(2000, 1L)(r => lonLat(r)) { case (lon, lat) =>
      assert(math.abs(getLon(toX(lon)) - lon) <= 180.0 / Int32Max * 1.001)
      assert(math.abs(getLat(toY(lat)) - lat) <= 90.0 / Int32Max * 1.001)
    }
  }

  // Exhaustive soundness proof for the SimplifyCellExpressions rewrite
  // (GraftExtensions.scala): quantize(dequantize(v)) == v for EVERY int32 on
  // both axes. Slow-ish (~2^32 iterations) but a one-shot guarantee the
  // optimizer rule can never corrupt a coordinate. Mismatches are counted
  // and asserted once (per-iteration assert machinery would dominate).
  test("quantize inverts dequantize bit-exactly on all 2^32 coords (slow sweep)") {
    val nThreads = 8
    val span = (1L << 32) / nThreads
    val bads = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        var bad = 0L
        var i = Int.MinValue.toLong + t * span
        val end = i + span
        while (i < end) {
          val v = i.toInt
          if (toX(getLon(v)) != v) bad += 1
          if (toY(getLat(v)) != v) bad += 1
          i += 1
        }
        bads.addAndGet(bad)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(bads.get() == 0L)
  }

  test("bin() is the unsigned shift: negative coords wrap to upper half") {
    assert(bin(0) == 0)
    assert(bin(Int.MaxValue) == 8191)  // positive half: bins 0..8191
    // (uint32)(-1) = 0xFFFFFFFF -> >>18 = 16383
    assert(bin(-1) == 16383)
    assert(bin(Int.MinValue) == 8192)
    assert(xBin(-180.0) == 8192)
    // equator/meridian seam: epsilon below 0 lands in the TOP bin
    assert(xBin(-1e-7) == 16383 && xBin(0.0) == 0)
  }

  test("grid cell pack/unpack") {
    samples(2000, 2L)(r => (r.nextInt(16384), r.nextInt(16384))) {
      case (xb, yb) =>
        val c = gridCell(xb, yb)
        assert(cellX(c) == xb && cellY(c) == yb)
    }
  }

  test("packCoord round-trips") {
    samples(2000, 3L)(r => (r.nextInt(), r.nextInt())) { case (x, y) =>
      val p = packCoord(x, y)
      assert(unpackX(p) == x && unpackY(p) == y)
    }
  }

  test("Morton prefix property + bins round-trip") {
    samples(2000, 4L)(r => (r.nextInt(), r.nextInt(), 2 + r.nextInt(15))) {
      case (x, y, res) =>
        val c = cellId(x, y, res)
        assert(parent(c) == cellId(x, y, res - 1))
        val (xb, yb) = cellBins(c, res)
        assert(xb == (x >>> (32 - res)) && yb == (y >>> (32 - res)))
        assert(contains(parent(c, 1), res - 1, c, res))
    }
  }

  test("level-14 Morton cell equals level-0 grid cell bins") {
    samples(2000, 5L)(r => lonLat(r)) { case (lon, lat) =>
      val (xb, yb) = cellBins(cellIdOf(lon, lat, 14), 14)
      assert(xb == xBin(lon) && yb == yBin(lat))
    }
  }

  test("coverCells: single-quadrant bbox covers exactly the bin rectangle") {
    val b = BBox(10.0, 20.0, 10.5, 20.5)
    val cells = coverCells(b).toSet
    val (x0, x1) = (xBin(10.0), xBin(10.5))
    val (y0, y1) = (yBin(20.0), yBin(20.5))
    assert(cells.size == (x1 - x0 + 1) * (y1 - y0 + 1))
    samples(1000, 6L)(r => (10.0 + r.nextDouble() * 0.5,
                            20.0 + r.nextDouble() * 0.5)) { case (lon, lat) =>
      assert(cells.contains(gridCellOf(lon, lat)))
    }
  }

  test("coverCells: sign-crossing bbox covers both sides (engine mode)") {
    val b = BBox(-0.5, 20.0, 0.5, 20.5)
    val cells = coverCells(b).toSet
    assert(cells.contains(gridCellOf(-0.1, 20.2)))
    assert(cells.contains(gridCellOf(0.1, 20.2)))
    // strict compat mode reproduces the reference's empty extract (Q1)
    assert(coverCells(b, strictCompat = true).isEmpty)
  }

  test("coverMortonRanges covers exactly the rectangle, compactly") {
    val b = BBox(4.0, 47.0, 6.5, 49.0)
    val res = 10
    val ranges = coverMortonRanges(b, res)
    val inRanges = (c: Long) => ranges.exists { case (lo, hi) => c >= lo && c <= hi }
    val shift = 32 - res
    samples(3000, 7L)(r => lonLat(r)) { case (lon, lat) =>
      val c = cellIdOf(lon, lat, res)
      val inRect = (toX(lon) >>> shift) >= (toX(4.0) >>> shift) &&
                   (toX(lon) >>> shift) <= (toX(6.5) >>> shift) &&
                   (toY(lat) >>> shift) >= (toY(47.0) >>> shift) &&
                   (toY(lat) >>> shift) <= (toY(49.0) >>> shift)
      assert(inRanges(c) == inRect, s"cell $c lon $lon lat $lat")
    }
    // points inside the open bbox are always covered
    samples(1000, 8L)(r => (4.0 + r.nextDouble() * 2.5,
                            47.0 + r.nextDouble() * 2.0)) { case (lon, lat) =>
      assert(inRanges(cellIdOf(lon, lat, res)))
    }
    // decomposition is compact: O(perimeter) not O(area)
    assert(ranges.size < 200)
  }

  test("fuzz: coverMortonRanges == bin rectangle for random bboxes and resolutions") {
    val rnd = new scala.util.Random(77)
    (0 until 40).foreach { _ =>
      // random bbox, any quadrant (may cross signs => wrap split)
      val lon0 = rnd.nextDouble() * 350 - 175
      val lat0 = rnd.nextDouble() * 170 - 85
      val b = BBox(lon0, lat0,
        math.min(180.0, lon0 + 0.01 + rnd.nextDouble() * 40),
        math.min(90.0, lat0 + 0.01 + rnd.nextDouble() * 20))
      val res = 4 + rnd.nextInt(9)
      val shift = 32 - res
      val ranges = coverMortonRanges(b, res)
      val inRanges = (c: Long) => ranges.exists { case (lo, hi) => c >= lo && c <= hi }
      def axisOk(v: Int, mn: Int, mx: Int): Boolean = {
        val bn = v >>> shift
        if (mn <= mx) bn >= mn && bn <= mx else bn >= mn || bn <= mx
      }
      samples(400, rnd.nextLong())(r => lonLat(r)) { case (lon, lat) =>
        val expect = axisOk(toX(lon), toX(b.minLon) >>> shift, toX(b.maxLon) >>> shift) &&
                     axisOk(toY(lat), toY(b.minLat) >>> shift, toY(b.maxLat) >>> shift)
        assert(inRanges(cellIdOf(lon, lat, res)) == expect,
          s"b=$b res=$res p=($lon,$lat)")
      }
    }
  }

  test("distMeters sanity: 1 deg lat ~ 111.3 km; lon shrinks with cos(lat)") {
    assert(math.abs(distMeters(0, 0, 0, 1) - 111319.5) < 1)
    val dLonAt60 = distMeters(10, 60, 11, 60)
    assert(math.abs(dLonAt60 - 111319.5 * math.cos(math.toRadians(60))) < 60)
  }
}
