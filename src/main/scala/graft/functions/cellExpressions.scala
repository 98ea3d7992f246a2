package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types._

import graft.cells.CellIndex

/**
 * Codegen-friendly Catalyst expressions for the cell encoder — the batched
 * encoder "UDF" the design mandates (SURVEY.md §2.9, §4 custom-Catalyst
 * inventory item 1). All arithmetic is emitted INLINE into generated Java so
 * the encoder participates in whole-stage codegen with zero boxing and no
 * virtual calls; the interpreted path delegates to [[graft.cells.CellIndex]]
 * (the single source of truth for the bit-level semantics, which replicate
 * the reference engine's quantization vex.c:80-93 and unsigned-shift binning
 * vex.c:292-294).
 */
object codegenSnippets {
  /** Java snippet: quantize a double lon/lat expr to the i32 coord.
    * C cast semantics: Java (int)(double) also truncates toward zero. */
  def quantX(lon: String): String = s"(int)(($lon) * 2147483647.0D / 180.0D)"
  def quantY(lat: String): String = s"(int)(($lat) * 2147483647.0D / 90.0D)"

  /** Java snippet block computing the Morton cell id of int coords x,y at
    * constant resolution `res`, assigning to `out` (a long variable). */
  def morton(x: String, y: String, res: Int, out: String): String = {
    val sh = 32 - res
    s"""
       |long ${out}_sx = (($x) >>> $sh) & 0xFFFFL;
       |${out}_sx = (${out}_sx | (${out}_sx << 8)) & 0x00FF00FFL;
       |${out}_sx = (${out}_sx | (${out}_sx << 4)) & 0x0F0F0F0FL;
       |${out}_sx = (${out}_sx | (${out}_sx << 2)) & 0x33333333L;
       |${out}_sx = (${out}_sx | (${out}_sx << 1)) & 0x55555555L;
       |long ${out}_sy = (($y) >>> $sh) & 0xFFFFL;
       |${out}_sy = (${out}_sy | (${out}_sy << 8)) & 0x00FF00FFL;
       |${out}_sy = (${out}_sy | (${out}_sy << 4)) & 0x0F0F0F0FL;
       |${out}_sy = (${out}_sy | (${out}_sy << 2)) & 0x33333333L;
       |${out}_sy = (${out}_sy | (${out}_sy << 1)) & 0x55555555L;
       |$out = (${out}_sx << 1) | ${out}_sy;
       |""".stripMargin
  }
}

/** Level-0 grid cell id (xbin<<14 | ybin, 28-bit int) from lon/lat doubles —
  * bit-exact with the reference's bin math incl. unsigned wrap. */
case class GridCellId(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "grid_cell"
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    CellIndex.gridCellOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) =>
      s"((${codegenSnippets.quantX(lon)} >>> 18) << 14) | (${codegenSnippets.quantY(lat)} >>> 18)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Level-0 grid cell id from the packed i64 coord (phash layout: hi 32 = x,
  * lo 32 = y). Pure bit ops — the hottest encoder path for the images table. */
case class GridCellFromPacked(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "grid_cell_packed"
  override protected def nullSafeEval(p: Any): Any = {
    val v = p.asInstanceOf[Long]
    CellIndex.gridCell(CellIndex.bin(CellIndex.unpackX(v)),
                       CellIndex.bin(CellIndex.unpackY(v)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p =>
      s"((((int)(($p) >>> 32)) >>> 18) << 14) | ((((int)($p)) >>> 18))")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Morton (quadtree) cell id at constant resolution `res` from lon/lat. */
case class MortonCellId(left: Expression, right: Expression, res: Int)
    extends BinaryExpression {
  require(res >= 1 && res <= CellIndex.MaxRes)
  override def dataType: DataType = LongType
  override def prettyName: String = s"cell_r$res"
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    CellIndex.cellIdOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $x = ${codegenSnippets.quantX(lon)};
         |int $y = ${codegenSnippets.quantY(lat)};
         |${codegenSnippets.morton(x, y, res, ev.value.toString())}
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Morton cell id at constant resolution from the packed i64 coord. */
case class MortonCellFromPacked(child: Expression, res: Int)
    extends UnaryExpression {
  require(res >= 1 && res <= CellIndex.MaxRes)
  override def dataType: DataType = LongType
  override def prettyName: String = s"cell_packed_r$res"
  override protected def nullSafeEval(p: Any): Any = {
    val v = p.asInstanceOf[Long]
    CellIndex.cellId(CellIndex.unpackX(v), CellIndex.unpackY(v), res)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $x = (int)(($p) >>> 32);
         |int $y = (int)($p);
         |${codegenSnippets.morton(x, y, res, ev.value.toString())}
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Pack lon/lat into the i64 coord (inverse of the unpack ops). */
case class PackCoord(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pack_coord"
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    CellIndex.packCoord(CellIndex.toX(lon.asInstanceOf[Double]),
                        CellIndex.toY(lat.asInstanceOf[Double]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) =>
      s"(((long)${codegenSnippets.quantX(lon)}) << 32) | (((long)${codegenSnippets.quantY(lat)}) & 0xFFFFFFFFL)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Dequantized lon (resp. lat) from the packed coord — vex.c:86-93 math. */
case class LonOfPacked(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "lon_of"
  override protected def nullSafeEval(p: Any): Any =
    CellIndex.getLon(CellIndex.unpackX(p.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p =>
      s"((int)(($p) >>> 32)) * 180.0D / 2147483647.0D")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class LatOfPacked(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "lat_of"
  override protected def nullSafeEval(p: Any): Any =
    CellIndex.getLat(CellIndex.unpackY(p.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p => s"((int)($p)) * 90.0D / 2147483647.0D")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * Even-odd ray-casting point-in-polygon (the classic PNPOLY crossing test).
 * The polygon is a query-time constant: vertex arrays ride along as
 * reference objects and the crossing loop is emitted into generated code —
 * no per-row allocation, stays inside whole-stage codegen.
 * Boundary semantics: points exactly on a right/top edge may test outside
 * (standard even-odd half-open convention); oracle uses the same code.
 */
case class PointInPolygon(left: Expression, right: Expression,
                          polyX: Array[Double], polyY: Array[Double])
    extends BinaryExpression {
  require(polyX.length == polyY.length && polyX.length >= 3, "need >= 3 vertices")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    PointInPolygon.contains(polyX, polyY,
      lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat) => {
      val px = ctx.addReferenceObj("polyX", polyX, "double[]")
      val py = ctx.addReferenceObj("polyY", polyY, "double[]")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      s"""
         |boolean ${ev.value}_in = false;
         |int $j = $px.length - 1;
         |for (int $i = 0; $i < $px.length; $j = $i++) {
         |  if ((($py[$i] > $lat) != ($py[$j] > $lat)) &&
         |      ($lon < ($px[$j] - $px[$i]) * ($lat - $py[$i]) /
         |               ($py[$j] - $py[$i]) + $px[$i])) {
         |    ${ev.value}_in = !${ev.value}_in;
         |  }
         |}
         |${ev.value} = ${ev.value}_in;
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  // Array fields would break case-class equality/canonicalization; compare
  // on content.
  override def equals(o: Any): Boolean = o match {
    case p: PointInPolygon => p.left == left && p.right == right &&
      java.util.Arrays.equals(p.polyX, polyX) && java.util.Arrays.equals(p.polyY, polyY)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(polyX) * 31 + java.util.Arrays.hashCode(polyY)
}

object PointInPolygon {
  /** Interpreted twin of the generated loop (also the test oracle's PIP). */
  def contains(px: Array[Double], py: Array[Double], x: Double, y: Double): Boolean = {
    var in = false
    var i = 0
    var j = px.length - 1
    while (i < px.length) {
      if ((py(i) > y) != (py(j) > y) &&
          x < (px(j) - px(i)) * (y - py(i)) / (py(j) - py(i)) + px(i)) in = !in
      j = i; i += 1
    }
    in
  }
}

/**
 * Rectangle-cover test with the rectangles as a reference object: true iff
 * the interval box [xlo, xhi] x [ylo, yhi] overlaps one of `rects`, the
 * flattened (x0, x1, y0, y1) quads of a cover (inclusive bounds). A point
 * passes the same column as lo and hi. This is the OR over rectangles of
 * `xlo <= x1 && xhi >= x0 && ylo <= y1 && yhi >= y0` — with SQL's
 * three-valued logic: a null child leaves a rectangle unknown unless
 * another of its comparisons is false, and unknown without a hit is null.
 *
 * Why not that literal OR tree: primitive literals are inlined into
 * generated Java, so every new query box would be a new class to compile.
 * Here the box rides in the reference array and the generated code is the
 * same for every box. The price is that the test does not push down as a
 * parquet filter; partition-column ranges, which prune directories at
 * planning, stay plain literals at the call sites.
 *
 * Children must be int (cell bins) or double (coordinates); rects are
 * doubles, which hold every int exactly. Double comparisons follow
 * Spark's: NaN sorts above every number.
 */
case class BinRects(first: Expression, second: Expression, third: Expression,
                    fourth: Expression, rects: Array[Double])
    extends QuaternaryExpression {
  require(rects.length % 4 == 0, "rects are flattened (x0, x1, y0, y1) quads")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "bin_rects"

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => c.dataType != IntegerType && c.dataType != DoubleType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires int or double inputs, got ${c.dataType.sql}")
    }

  override def eval(input: InternalRow): Any = {
    def num(e: Expression): java.lang.Double = e.eval(input) match {
      case null => null
      case v => v.asInstanceOf[Number].doubleValue
    }
    BinRects.test(rects, num(first), num(second), num(third), num(fourth))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("rects", rects, "double[]")
    val evs = children.map(_.genCode(ctx))
    val Seq(xlo, xhi, ylo, yhi) = evs.map(_.value)
    val Seq(nxlo, nxhi, nylo, nyhi) = evs.map(_.isNull)
    val i = ctx.freshName("i"); val unknown = ctx.freshName("unknown")
    // a rectangle is missed when a known comparison is false: `!(lo <= x1)`
    // is Spark's `lo <= x1` false (NaN misses), `hi < x0` its `hi >= x0`
    // false (NaN never misses: Spark sorts it above every number)
    ev.copy(code = code"""
      |${evs.map(_.code).mkString("\n")}
      |boolean ${ev.value} = false;
      |boolean $unknown = false;
      |for (int $i = 0; $i < $r.length && !${ev.value}; $i += 4) {
      |  if ((!$nxlo && !($xlo <= $r[$i + 1])) || (!$nxhi && $xhi < $r[$i]) ||
      |      (!$nylo && !($ylo <= $r[$i + 3])) || (!$nyhi && $yhi < $r[$i + 2])) {
      |    continue;
      |  }
      |  if ($nxlo || $nxhi || $nylo || $nyhi) $unknown = true;
      |  else ${ev.value} = true;
      |}
      |boolean ${ev.isNull} = !${ev.value} && $unknown;
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression, q: Expression) =
    copy(first = f, second = s, third = t, fourth = q)

  override def toString: String =
    s"$prettyName(${children.mkString(", ")}, " +
      rects.grouped(4).map(q => s"[${q(0)}..${q(1)}]x[${q(2)}..${q(3)}]").mkString(" ") + ")"
  // the Array field would break case-class equality/canonicalization;
  // compare on content (as PointInPolygon does)
  override def equals(o: Any): Boolean = o match {
    case b: BinRects => b.children == children && java.util.Arrays.equals(b.rects, rects)
    case _ => false
  }
  override def hashCode(): Int = children.hashCode * 31 + java.util.Arrays.hashCode(rects)
}

object BinRects {
  /** Flattened quads of a level-0 bin cover ([[CellIndex.coverRects]]). */
  def of(cover: Seq[((Int, Int), (Int, Int))]): Array[Double] =
    cover.flatMap { case ((x0, x1), (y0, y1)) => Seq(x0, x1, y0, y1) }.map(_.toDouble).toArray

  /** The one coordinate rectangle of a bbox. */
  def of(b: CellIndex.BBox): Array[Double] = Array(b.minLon, b.maxLon, b.minLat, b.maxLat)

  /** Interpreted twin of the generated loop (null = SQL null). */
  def test(rects: Array[Double], xlo: java.lang.Double, xhi: java.lang.Double,
           ylo: java.lang.Double, yhi: java.lang.Double): java.lang.Boolean = {
    val anyNull = xlo == null || xhi == null || ylo == null || yhi == null
    var unknown = false
    var i = 0
    while (i < rects.length) {
      val miss = (xlo != null && !(xlo <= rects(i + 1))) || (xhi != null && xhi < rects(i)) ||
        (ylo != null && !(ylo <= rects(i + 3))) || (yhi != null && yhi < rects(i + 2))
      if (!miss) { if (anyNull) unknown = true else return true }
      i += 4
    }
    if (unknown) null else false
  }
}

/**
 * [[PointInPolygon]] with the polygon as COLUMNS (array<double> lon/lat
 * vertex rings) instead of a query-time constant — the form a polygon-SET
 * spatial join needs, where each candidate row carries its own ring. Same
 * even-odd crossing loop, same boundary convention, emitted inline over
 * `ArrayData` so the refine predicate stays in whole-stage codegen.
 * Rings shorter than 3 vertices (or mismatched lengths) test false.
 */
case class PointInPolyCols(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_poly_cols"

  override protected def nullSafeEval(lon: Any, lat: Any,
                                      pxa: Any, pya: Any): Any = {
    val px = pxa.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val py = pya.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = px.numElements()
    if (n < 3 || py.numElements() != n) return false
    val x = lon.asInstanceOf[Double]; val y = lat.asInstanceOf[Double]
    var in = false
    var i = 0; var j = n - 1
    while (i < n) {
      val yi = py.getDouble(i); val yj = py.getDouble(j)
      if ((yi > y) != (yj > y) &&
          x < (px.getDouble(j) - px.getDouble(i)) * (y - yi) / (yj - yi) +
              px.getDouble(i)) in = !in
      j = i; i += 1
    }
    in
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, px, py) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val in = ctx.freshName("in")
      val yi = ctx.freshName("yi"); val yj = ctx.freshName("yj")
      s"""
         |boolean $in = false;
         |int $n = $px.numElements();
         |if ($n >= 3 && $py.numElements() == $n) {
         |  int $j = $n - 1;
         |  for (int $i = 0; $i < $n; $j = $i++) {
         |    double $yi = $py.getDouble($i); double $yj = $py.getDouble($j);
         |    if (($yi > $lat) != ($yj > $lat) &&
         |        $lon < ($px.getDouble($j) - $px.getDouble($i)) *
         |               ($lat - $yi) / ($yj - $yi) + $px.getDouble($i)) {
         |      $in = !$in;
         |    }
         |  }
         |}
         |${ev.value} = $in;
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Column-API surface for the expressions + SQL registration. */
object geo {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  def grid_cell(lon: Column, lat: Column): Column = col(GridCellId(ex(lon), ex(lat)))
  def grid_cell_packed(packed: Column): Column = col(GridCellFromPacked(ex(packed)))
  def cell_at(lon: Column, lat: Column, res: Int): Column =
    col(MortonCellId(ex(lon), ex(lat), res))
  def cell_packed(packed: Column, res: Int): Column =
    col(MortonCellFromPacked(ex(packed), res))
  def pack_coord(lon: Column, lat: Column): Column = col(PackCoord(ex(lon), ex(lat)))
  def lon_of(packed: Column): Column = col(LonOfPacked(ex(packed)))
  def lat_of(packed: Column): Column = col(LatOfPacked(ex(packed)))
  /** poly = flat [lon0, lat0, lon1, lat1, ...] ring (unclosed). */
  def point_in_polygon(lon: Column, lat: Column, poly: Array[Double]): Column = {
    val px = poly.indices.collect { case i if i % 2 == 0 => poly(i) }.toArray
    val py = poly.indices.collect { case i if i % 2 == 1 => poly(i) }.toArray
    col(PointInPolygon(ex(lon), ex(lat), px, py))
  }
  /** (x, y) inside one of `rects` ([[BinRects]] quads); no rects: false. */
  def in_rects(x: Column, y: Column, rects: Array[Double]): Column =
    overlaps_rects(x, x, y, y, rects)
  /** Box [xlo, xhi] x [ylo, yhi] overlaps one of `rects`; no rects: false. */
  def overlaps_rects(xlo: Column, xhi: Column, ylo: Column, yhi: Column,
                     rects: Array[Double]): Column =
    if (rects.isEmpty) org.apache.spark.sql.functions.lit(false)
    else col(BinRects(ex(xlo), ex(xhi), ex(ylo), ex(yhi), rects))
  /** Equirectangular meters from (lon1, lat1) to (lon2, lat2): the column
    * form of [[CellIndex.distMeters]], the same operations in the same
    * order, so the two agree bit for bit — the one distance of the kNN,
    * the distance join and the routable-edge lengths. */
  def dist_meters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    import org.apache.spark.sql.{functions => F}
    val meanLat = F.radians((lat1 + lat2) / 2.0)
    // shorter-arc longitude difference (antimeridian wrap)
    val dLon = ((lon2 - lon1 + 540.0) % 360.0) - 180.0
    val dx = dLon * F.cos(meanLat)
    val dy = lat2 - lat1
    F.sqrt(dx * dx + dy * dy) * CellIndex.MetersPerDegree
  }
  /** Ring as columns (array<double> lons / lats) — the polygon-join refine. */
  def point_in_poly_cols(lon: Column, lat: Column,
                         px: Column, py: Column): Column =
    col(PointInPolyCols(ex(lon), ex(lat), ex(px), ex(py)))

  /** Register SQL-callable versions (resolution fixed per function name). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("grid_cell",
      es => GridCellId(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("grid_cell_packed",
      es => GridCellFromPacked(es.head), "built-in")
    Seq(7, 8, 9, 14).foreach { r =>
      reg.createOrReplaceTempFunction(s"cell_r$r",
        es => MortonCellId(es.head, es(1), r), "built-in")
    }
    reg.createOrReplaceTempFunction("pack_coord",
      es => PackCoord(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("lon_of", es => LonOfPacked(es.head), "built-in")
    reg.createOrReplaceTempFunction("lat_of", es => LatOfPacked(es.head), "built-in")
  }
}
