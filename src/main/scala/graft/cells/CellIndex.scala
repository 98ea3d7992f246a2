package graft.cells

/**
 * Cell index: coordinate quantization + fixed-grid binning + hierarchical
 * (Morton/quadtree) cells, from scratch in pure Scala.
 *
 * Level 0 is a bit-exact replica of the reference engine's semantics
 * (conveyal/vanilla-extract):
 *   - quantization:  x = lon * INT32_MAX / 180, y = lat * INT32_MAX / 90
 *     (vex.c:80-83), with C double->int32 truncation-toward-zero.
 *   - inverse:       lat = y * 90 / INT32_MAX etc (vex.c:86-93).
 *   - grid bin:      bin(v) = ((uint32)v) >>> (32 - GRID_BITS), GRID_BITS=14
 *     (vex.c:25-27, 292-294). The UNSIGNED reinterpretation means negative
 *     coordinates (west/south hemispheres) wrap to the upper half of bin
 *     space — load-bearing for compat tests (SURVEY.md §8 Q1).
 *
 * On top we add a prefix-property quadtree: cellId(res) = Morton interleave
 * of the top `res` bits of the unsigned (x, y) coordinates. This supplies
 * everything the design uses H3/S2 for: bbox covers are bin-range unions,
 * neighbours are bin arithmetic (SpatialJoin.neighbourCells), containment
 * is id-prefix testing.
 */
object CellIndex {
  final val GridBits  = 14                  // vex.c:25 GRID_BITS
  final val GridDim   = 1 << GridBits       // 16384
  final val BinShift  = 32 - GridBits       // 18
  final val Int32Max  = Int.MaxValue.toDouble

  // ---- quantization (vex.c:80-93) -----------------------------------------

  /** lon -> i32 x with C truncation-toward-zero cast semantics. */
  @inline def toX(lon: Double): Int = (lon * Int32Max / 180.0).toInt
  /** lat -> i32 y. Note x and y axes quantize independently (±90 spans the
    * same i32 range as ±180 — double vertical resolution). */
  @inline def toY(lat: Double): Int = (lat * Int32Max / 90.0).toInt

  @inline def getLon(x: Int): Double = x * 180.0 / Int32Max
  @inline def getLat(y: Int): Double = y * 90.0 / Int32Max

  /** Pack (x, y) into one i64: high 32 bits x, low 32 bits y. This is the
    * layout the `images.phash` fixture column carries (FIXTURES.md §1). */
  @inline def packCoord(x: Int, y: Int): Long =
    (x.toLong << 32) | (y.toLong & 0xFFFFFFFFL)
  @inline def unpackX(packed: Long): Int = (packed >>> 32).toInt
  @inline def unpackY(packed: Long): Int = (packed & 0xFFFFFFFFL).toInt

  // ---- level-0 grid (reference-compatible) ---------------------------------

  /** bin(v) = ((uint32)v) >>> 18 — Scala's >>> on Int IS the unsigned shift,
    * bit-identical to the C expression (vex.c:292-294). Range [0, 16383]. */
  @inline def bin(v: Int): Int = v >>> BinShift

  @inline def xBin(lon: Double): Int = bin(toX(lon))
  @inline def yBin(lat: Double): Int = bin(toY(lat))

  /** Packed 28-bit grid cell id: (xbin << 14) | ybin. */
  @inline def gridCell(xbin: Int, ybin: Int): Int = (xbin << GridBits) | ybin
  @inline def gridCellOf(lon: Double, lat: Double): Int =
    gridCell(xBin(lon), yBin(lat))
  @inline def cellX(cell: Int): Int = cell >>> GridBits
  @inline def cellY(cell: Int): Int = cell & (GridDim - 1)

  // ---- hierarchical cells (quadtree / Morton) -------------------------------

  /** Interleave the low 16 bits of a (x even positions) and b (odd):
    * classic Morton spread via magic masks. */
  @inline private def spread16(v0: Int): Long = {
    var v = v0.toLong & 0xFFFFL
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }
  @inline private def compact16(v0: Long): Int = {
    var v = v0 & 0x55555555L
    v = (v | (v >> 1)) & 0x33333333L
    v = (v | (v >> 2)) & 0x0F0F0F0FL
    v = (v | (v >> 4)) & 0x00FF00FFL
    v = (v | (v >> 8)) & 0x0000FFFFL
    v.toInt
  }

  final val MaxRes = 16

  /** Morton cell id at resolution `res` (1..16): interleaves the top `res`
    * bits of the unsigned x and y coords. Prefix property:
    * cellId(p) == cellId(r) >>> 2*(r-p) for p <= r. */
  def cellId(x: Int, y: Int, res: Int): Long = {
    require(res >= 1 && res <= MaxRes, s"res out of range: $res")
    val xb = x >>> (32 - res)
    val yb = y >>> (32 - res)
    (spread16(xb) << 1) | spread16(yb)
  }
  def cellIdOf(lon: Double, lat: Double, res: Int): Long =
    cellId(toX(lon), toY(lat), res)

  /** (xbin, ybin) of a Morton cell id at resolution res. */
  def cellBins(cell: Long, res: Int): (Int, Int) =
    (compact16(cell >>> 1), compact16(cell))

  /** Coarse Morton cell (resolution `res` <= GridBits) containing a level-0
    * grid cell: the partition-pruning bridge — every point whose grid `cell`
    * is c has `cell_packed(phash, res) == coarseCellOfGrid(c, res)`, because
    * the top `res` bits of x/y are a prefix of the 14-bit bins. */
  def coarseCellOfGrid(cell: Int, res: Int): Long = {
    require(res >= 1 && res <= GridBits, s"res out of range: $res")
    val xb = cellX(cell) >>> (GridBits - res)
    val yb = cellY(cell) >>> (GridBits - res)
    (spread16(xb) << 1) | spread16(yb)
  }

  def parent(cell: Long, steps: Int = 1): Long = cell >>> (2 * steps)
  def children(cell: Long): Seq[Long] = (0 until 4).map(i => (cell << 2) | i)
  /** True iff `anc` (at ancRes) is an ancestor-or-self of `cell` (at res). */
  def contains(anc: Long, ancRes: Int, cell: Long, res: Int): Boolean =
    res >= ancRes && (cell >>> (2 * (res - ancRes))) == anc

  // ---- bbox cover -----------------------------------------------------------

  final case class BBox(minLon: Double, minLat: Double,
                        maxLon: Double, maxLat: Double) {
    require(minLat >= -90 && maxLat <= 90 && minLon >= -180 && maxLon <= 180,
      s"bbox out of range: $this")
    require(minLon < maxLon && minLat < maxLat, s"degenerate bbox: $this")
  }

  /** Inclusive bin range on one axis with unsigned-wrap handling: if the
    * bbox crosses coordinate sign (the reference's Q1 quirk zone) the
    * unsigned bins wrap, so the cover splits into two ranges.
    * strictCompat reproduces the reference: a wrapped range iterates zero
    * times (vex.c:887-888) => empty. */
  private def axisRanges(minBin: Int, maxBin: Int,
                         strictCompat: Boolean): Seq[(Int, Int)] =
    if (minBin <= maxBin) Seq((minBin, maxBin))
    else if (strictCompat) Seq.empty
    else Seq((minBin, GridDim - 1), (0, maxBin))

  /** Bin-rectangle cover of a bbox at the level-0 grid: returns the list of
    * inclusive (xRange, yRange) rectangles (1, 2 or 4 after wrap split). */
  def coverRects(b: BBox, strictCompat: Boolean = false)
      : Seq[((Int, Int), (Int, Int))] = {
    val xr = axisRanges(xBin(b.minLon), xBin(b.maxLon), strictCompat)
    val yr = axisRanges(yBin(b.minLat), yBin(b.maxLat), strictCompat)
    for (x <- xr; y <- yr) yield (x, y)
  }

  /** Explicit cell list of the cover — driver-side, fed to the engine as a
    * LITERAL predicate so Catalyst can push it into the scan (SURVEY §4).
    * Caller bounds bbox size; guard against accidental full-planet lists. */
  def coverCells(b: BBox, strictCompat: Boolean = false,
                 maxCells: Int = 4 << 20): Array[Int] = {
    val rects = coverRects(b, strictCompat)
    val n = rects.map { case ((x0, x1), (y0, y1)) =>
      (x1 - x0 + 1).toLong * (y1 - y0 + 1) }.sum
    require(n <= maxCells, s"bbox covers $n cells > $maxCells; use range scan")
    val out = new Array[Int](n.toInt)
    var i = 0
    rects.foreach { case ((x0, x1), (y0, y1)) =>
      var x = x0
      while (x <= x1) { var y = y0
        while (y <= y1) { out(i) = gridCell(x, y); i += 1; y += 1 }
        x += 1 } }
    out
  }

  /** Morton-cell cover at resolution `res`: contiguous id ranges (for range
    * scans / partition pruning on the hierarchical index). Decomposes the
    * bin rectangle into maximal aligned quadtree blocks, so the range count
    * stays O(perimeter), not O(area). */
  def coverMortonRanges(b: BBox, res: Int, strictCompat: Boolean = false)
      : Seq[(Long, Long)] = {
    val shift = 32 - res
    def binsOf(v: Int) = v >>> shift
    val xr = axisRanges(binsOf(toX(b.minLon)), binsOf(toX(b.maxLon)), strictCompat)
    val yr = axisRanges(binsOf(toY(b.minLat)), binsOf(toY(b.maxLat)), strictCompat)
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // recursive quadtree decomposition of each wrap rectangle
    def emit(cell: Long, cRes: Int, x0: Int, y0: Int, size: Int,
             rx0: Int, rx1: Int, ry0: Int, ry1: Int): Unit = {
      val x1 = x0 + size - 1; val y1 = y0 + size - 1
      if (x1 < rx0 || x0 > rx1 || y1 < ry0 || y0 > ry1) return
      if (x0 >= rx0 && x1 <= rx1 && y0 >= ry0 && y1 <= ry1) {
        val lo = cell << (2 * (res - cRes))
        val hi = lo + (1L << (2 * (res - cRes))) - 1
        ranges += ((lo, hi)); return
      }
      val h = size / 2
      var i = 0
      while (i < 4) {
        val cx = x0 + (if ((i & 2) != 0) h else 0)
        val cy = y0 + (if ((i & 1) != 0) h else 0)
        emit((cell << 2) | i, cRes + 1, cx, cy, h, rx0, rx1, ry0, ry1)
        i += 1
      }
    }
    for ((rx0, rx1) <- xr; (ry0, ry1) <- yr)
      emit(0L, 0, 0, 0, 1 << res, rx0, rx1, ry0, ry1)
    // merge adjacent ranges (Morton order makes many contiguous)
    val sorted = ranges.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { r =>
      if (merged.nonEmpty && merged.last._2 + 1 >= r._1)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, r._2))
      else merged += r
    }
    merged.toSeq
  }

  // ---- distance (kNN metric) -------------------------------------------------

  /** Equirectangular approximation in meters (same local-projection idea as
    * the reference's decimeter projection, routable.c.experiment:90-110):
    * dx scaled by cos(mean lat). Adequate for ranking at extract scale.
    * The scalar reference of the engine's one distance column,
    * `geo.dist_meters`, which repeats these operations in this order. */
  final val MetersPerDegree = 111319.49079327358   // WGS84 equatorial deg
  def distMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val meanLat = math.toRadians((lat1 + lat2) / 2.0)
    // shorter-arc longitude difference (antimeridian wrap)
    val dLon = ((lon2 - lon1 + 540.0) % 360.0) - 180.0
    val dx = dLon * math.cos(meanLat)
    val dy = lat2 - lat1
    math.sqrt(dx * dx + dy * dy) * MetersPerDegree
  }
}
