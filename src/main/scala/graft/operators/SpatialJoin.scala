package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex

/**
 * Distance (radius) spatial join: all pairs (left, right) within
 * `radiusMeters`, computed as a cell-grid equi-join — never a cross join.
 *
 * Each left row is expanded to the grid cells its radius can reach:
 * per-row neighbor counts kx (longitude, grows with |lat| as cells narrow)
 * and ky (latitude, constant) are computed as COLUMNS, and
 * `explode(sequence(-k, k))` generates exactly the needed offsets — rows
 * near the equator expand to a 3x3 block while high-latitude rows expand
 * wider, instead of everyone paying the worst case. Candidates then
 * equi-join on the packed cell id (shuffle hash join on a 28-bit int key,
 * partition-prunable) and a final exact distance predicate filters.
 *
 * Scale: the expansion factor is (2kx+1)(2ky+1) per left row — bounded and
 * data-independent for a fixed radius/latitude band; the join itself is a
 * plain equi-join so AQE/skew handling applies. Longitude wraps; latitude
 * steps across the equator and stops at the poles ([[neighbourCells]]).
 */
object SpatialJoin {

  private val cellHeightDeg = 180.0 / CellIndex.GridDim
  private val cellWidthDeg = 360.0 / CellIndex.GridDim

  /** The grid cells within `kx` columns and `ky` rows of each row's cell
    * `qcell` — the one neighbour-cell expansion of the distance join and
    * the kNN rounds. One output row per neighbour, carrying its bins `_xw`
    * and `_yb` and its packed `cell`; `kx` and `ky` may be per-row columns
    * or literals. Longitude is cyclic. Latitude steps in latitude order:
    * `CellIndex.bin` is the reference's unsigned shift, so ybin 0..8191
    * runs from the equator north to the pole and 8192..16383 from the
    * south pole up to the equator. `ybin xor 8192` is the row's index in
    * latitude order; the walk crosses the equator (16383 ↔ 0) and is cut
    * at the poles (8191 | 8192). */
  private[operators] def neighbourCells(df: DataFrame, qcell: Column,
                                        kx: Column, ky: Column): DataFrame = {
    val half = lit(CellIndex.GridDim / 2)
    df.withColumn("_qc", qcell)
      .withColumn("_dx", explode(sequence(-kx, kx)))
      .withColumn("_dy", explode(sequence(-ky, ky)))
      .withColumn("_yl", col("_qc").bitwiseAND(lit(CellIndex.GridDim - 1))
        .bitwiseXOR(half) + col("_dy"))
      .where(col("_yl").between(0, CellIndex.GridDim - 1))
      .withColumn("_yb", col("_yl").bitwiseXOR(half))
      .withColumn("_xw", pmod(shiftright(col("_qc"), CellIndex.GridBits) + col("_dx"),
        lit(CellIndex.GridDim)))
      .withColumn("cell",
        shiftleft(col("_xw"), CellIndex.GridBits).bitwiseOR(col("_yb")))
      .drop("_qc", "_dx", "_dy", "_yl")
  }

  /**
   * @param left  needs (lon, lat) + any payload columns; output keeps all,
   *              prefixed `l_` on conflict — caller should pre-alias.
   * @param right needs (lon, lat, cell).
   * @param radiusMeters join radius (exact equirectangular distance).
   * @param maxAbsLat    latitude at which the longitude expansion width is
   *                     clamped; kx is additionally capped at a full ring,
   *                     so results stay EXACT for all rows whose pairs lie
   *                     below this latitude (default: essentially the pole).
   */
  def distanceJoin(left: DataFrame, right: DataFrame, radiusMeters: Double,
                   maxAbsLat: Double = 89.95): DataFrame = {
    val radiusDeg = radiusMeters / CellIndex.MetersPerDegree
    // bin-difference bound for |coord diff| <= L is floor(L/cellSize) + 1
    // (ceil alone undercounts when L is an exact multiple of the cell size)
    val ky = (radiusDeg / cellHeightDeg).toInt + 1
    // longitude expansion per row: |lon diff| <= radiusDeg / cos(meanLat),
    // where meanLat can exceed |l_lat| by up to radiusDeg/2; clamp at the
    // guard latitude so k stays bounded
    val latWorst = least(
      greatest(abs(col("l_lat")) + lit(radiusDeg), lit(0.0)), lit(maxAbsLat))
    // full-ring cap: (GridDim-1)/2 so sequence(-kx, kx) emits at most
    // GridDim - 1 offsets — a cap of GridDim/2 would emit GridDim + 1
    // offsets and pmod would alias two of them onto the same cell,
    // duplicating pairs when the cap engages (high-latitude, huge radius)
    val kx = least(
      floor(lit(radiusDeg) / (lit(cellWidthDeg) * cos(radians(latWorst)))) + 1,
      lit(((CellIndex.GridDim - 1) / 2).toDouble)).cast("int")

    val l = left
      .withColumnRenamed("lon", "l_lon").withColumnRenamed("lat", "l_lat")
    neighbourCells(l, graft.functions.geo.grid_cell(col("l_lon"), col("l_lat")),
        kx, lit(ky))
      .drop("_xw", "_yb")
      .join(right, "cell")
      .withColumn("dist_m", graft.functions.geo.dist_meters(
        col("l_lon"), col("l_lat"), col("lon"), col("lat")))
      .where(col("dist_m") <= radiusMeters)
  }

  /**
   * Rectangle-overlap join in integer bin space: all pairs (l, r) whose
   * closed rectangles [x1,x2]x[y1,y2] intersect, with the exact overlap
   * area — the bbox-vs-bbox analogue of the reference's bbox-vs-point grid
   * binning (vex.c bin scan), generalized to two rectangle SETS.
   *
   * Shape: each rectangle explodes into the coarse grid cells it covers
   * (cellSize bins per cell axis — a rect of width w covers at most
   * w/cellSize + 1 cells per axis, bounded and data-independent); the
   * candidate join is a plain equi-join on the packed cell key (AQE/skew
   * handling applies); exact rect-intersection predicate filters. Pairs
   * that share several cells are emitted ONCE by arithmetic, not by a
   * dropDuplicates shuffle: a pair is kept only in the cell containing the
   * intersection's min corner (which both rects provably cover).
   *
   * Rects covering more than `maxCellsPerRect` cells (rare planet-sized
   * giants) skip the explode and broadcast instead (the intervalJoin
   * rare-giant recipe, two-sided): giant-left pairs against ALL of right,
   * small-left pairs against giant-right — the three branches partition
   * the pair space, so nothing is emitted twice.
   *
   * Inputs: left needs integer columns l_x1 <= l_x2, l_y1 <= l_y2 (and any
   * payload); right needs r_x1..r_y2. Coordinates must be non-negative
   * (positive-quadrant truncation parity with SQL oracles). Output: all
   * input columns + `ov_area` (bins in the closed intersection).
   */
  def rectJoin(left: DataFrame, right: DataFrame, cellSize: Int = 64,
               maxCellsPerRect: Long = 4096L): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    require(maxCellsPerRect > 0, "maxCellsPerRect must be positive")
    def cellsOf(p: String): Column =
      (floor(col(s"${p}_x2") / cellSize) - floor(col(s"${p}_x1") / cellSize) + 1) *
      (floor(col(s"${p}_y2") / cellSize) - floor(col(s"${p}_y1") / cellSize) + 1)
    val overlap =
      col("l_x1") <= col("r_x2") && col("r_x1") <= col("l_x2") &&
      col("l_y1") <= col("r_y2") && col("r_y1") <= col("l_y2")
    val mx = greatest(col("l_x1"), col("r_x1"))
    val my = greatest(col("l_y1"), col("r_y1"))
    def withArea(df: DataFrame): DataFrame = df.withColumn("ov_area",
      (least(col("l_x2"), col("r_x2")) - mx + lit(1)).cast("long") *
      (least(col("l_y2"), col("r_y2")) - my + lit(1)).cast("long"))
    val lSmall = left.where(cellsOf("l") <= maxCellsPerRect)
    val rSmall = right.where(cellsOf("r") <= maxCellsPerRect)
    val l = lSmall
      .withColumn("_cx", explode(sequence(
        floor(col("l_x1") / cellSize).cast("long"),
        floor(col("l_x2") / cellSize).cast("long"))))
      .withColumn("_cy", explode(sequence(
        floor(col("l_y1") / cellSize).cast("long"),
        floor(col("l_y2") / cellSize).cast("long"))))
    val r = rSmall
      .withColumn("_cx", explode(sequence(
        floor(col("r_x1") / cellSize).cast("long"),
        floor(col("r_x2") / cellSize).cast("long"))))
      .withColumn("_cy", explode(sequence(
        floor(col("r_y1") / cellSize).cast("long"),
        floor(col("r_y2") / cellSize).cast("long"))))
    val main = l.join(r, Seq("_cx", "_cy"))
      // exact closed-interval intersection
      .where(overlap)
      // emit-once: only the cell holding the intersection's min corner
      .where(col("_cx") === floor(mx / cellSize).cast("long") &&
             col("_cy") === floor(my / cellSize).cast("long"))
      .drop("_cx", "_cy")
    // rare giants: no explode — broadcast the giant side against the
    // other side's raw rows (giant-left covers giant-giant, so the
    // small-left x giant-right branch completes the partition)
    val g1 = broadcast(left.where(cellsOf("l") > maxCellsPerRect))
      .join(right, overlap)
    val g2 = lSmall.join(
      broadcast(right.where(cellsOf("r") > maxCellsPerRect)), overlap)
    withArea(main).unionByName(withArea(g1)).unionByName(withArea(g2))
  }

  /**
   * Point-in-polygon JOIN: all (point, polygon) pairs where the point lies
   * inside the polygon's ring — the polygon-SET generalization of the
   * single-constant-polygon extract (q_polygon_extract), and the classic
   * "assign events to regions" shape.
   *
   * Plan: each polygon explodes into the `binDeg`-degree grid cells its
   * bounding box covers; each point computes its ONE containing cell; the
   * candidate join is a plain equi-join on (cx, cy) — AQE skew handling
   * applies — and the exact even-odd ray-casting refine
   * ([[graft.functions.PointInPolyCols]], codegen'd inline) filters.
   * Emit-once is structural: a point has exactly one cell and a polygon
   * covers each cell at most once, so no pair can appear twice and no
   * dropDuplicates shuffle is needed.
   *
   * Polygons whose bbox covers more than `maxCellsPerPoly` cells (rare
   * continent-sized giants) skip the explode and broadcast against the raw
   * point stream instead (the rectJoin rare-giant recipe, one-sided — the
   * giant set must be broadcast-small).
   *
   * Rings must not cross the antimeridian (bbox explode assumes
   * min <= max per axis); split such rings upstream. Boundary semantics
   * are the PNPOLY half-open convention (see [[graft.functions.PointInPolygon]]).
   *
   * @param points (lon, lat) + payload columns.
   * @param polys  (px array<double>, py array<double>) vertex ring
   *               (unclosed) + payload columns; pre-alias name conflicts.
   */
  def polyJoin(points: DataFrame, polys: DataFrame, binDeg: Double = 1.0,
               maxCellsPerPoly: Long = 4096L): DataFrame = {
    require(binDeg > 0, "binDeg must be positive")
    require(maxCellsPerPoly > 0, "maxCellsPerPoly must be positive")
    def bin(c: Column): Column = floor(c / binDeg).cast("long")
    val (x1, x2) = (array_min(col("px")), array_max(col("px")))
    val (y1, y2) = (array_min(col("py")), array_max(col("py")))
    val cells = (bin(x2) - bin(x1) + 1) * (bin(y2) - bin(y1) + 1)
    val inside = graft.functions.geo.point_in_poly_cols(
      col("lon"), col("lat"), col("px"), col("py"))
    val small = polys.where(cells <= maxCellsPerPoly)
      .withColumn("_cx", explode(sequence(bin(x1), bin(x2))))
      .withColumn("_cy", explode(sequence(bin(y1), bin(y2))))
    val pts = points
      .withColumn("_cx", bin(col("lon")))
      .withColumn("_cy", bin(col("lat")))
    val main = pts.join(small, Seq("_cx", "_cy")).where(inside)
      .drop("_cx", "_cy")
    val g = points.join(
      broadcast(polys.where(cells > maxCellsPerPoly)), inside)
    main.unionByName(g)
  }

  /**
   * Box-kernel density smoothing on an integer grid: bin points to
   * (ix, iy) cells, then each OCCUPIED cell's `smooth_n` sums the raw
   * counts of the (2r+1)^2 cells around it — the neighborhood-density
   * surface a heatmap / hot-spot detector reads.
   *
   * Scale shape: the only pass over the points is the binning hash agg
   * (map-side combinable); the offset explode and re-aggregate run over
   * the COUNTS table (already |cells|, not |points|), and the final join
   * is cell-keyed. Never a window over space, never a range join.
   * Coordinates must be in the positive quadrant (trunc == floor, the
   * cross-engine bin convention).
   */
  def gridSmooth(pts: DataFrame, x: Column, y: Column,
                 radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius <= 8, "radius in [0, 8]")
    val counts = pts
      .groupBy(x.cast("long").as("ix"), y.cast("long").as("iy"))
      .agg(count(lit(1)).as("n"))
    val offs = (-radius to radius)
      .flatMap(dx => (-radius to radius).map(dy => (dx.toLong, dy.toLong)))
    val contrib = counts
      .select(col("ix"), col("iy"), col("n"), explode(typedLit(offs)).as("_o"))
      .select((col("ix") + col("_o._1")).as("ix"),
        (col("iy") + col("_o._2")).as("iy"), col("n"))
    val sm = contrib.groupBy("ix", "iy").agg(sum("n").as("smooth_n"))
    counts.join(sm, Seq("ix", "iy"))
      .select(col("ix"), col("iy"), col("n"), col("smooth_n"))
  }
}
