package graft

import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.functions.{geo, BinRects, PointInPolygon}

/** The Catalyst expressions must agree bit-for-bit with the pure-Scala
  * CellIndex on random points, through the CODEGEN path (DataFrame eval),
  * and must stay inside WholeStageCodegen. */
class CellExpressionsSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val pts: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(4000)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)) ++
      Seq((0.0, 0.0), (-180.0, -90.0), (180.0, 90.0), (-1e-9, 1e-9),
          (179.999999, -89.999999))
  }

  test("grid_cell / cell_at / pack_coord match CellIndex through codegen") {
    val df = pts.toDF("lon", "lat")
      .withColumn("gc", geo.grid_cell($"lon", $"lat"))
      .withColumn("c7", geo.cell_at($"lon", $"lat", 7))
      .withColumn("c14", geo.cell_at($"lon", $"lat", 14))
      .withColumn("pk", geo.pack_coord($"lon", $"lat"))
    df.collect().foreach { r =>
      val (lon, lat) = (r.getDouble(0), r.getDouble(1))
      assert(r.getInt(2) == CellIndex.gridCellOf(lon, lat), s"grid_cell($lon,$lat)")
      assert(r.getLong(3) == CellIndex.cellIdOf(lon, lat, 7))
      assert(r.getLong(4) == CellIndex.cellIdOf(lon, lat, 14))
      assert(r.getLong(5) ==
        CellIndex.packCoord(CellIndex.toX(lon), CellIndex.toY(lat)))
    }
  }

  test("packed-coord expressions round-trip and match the lon/lat forms") {
    val df = pts.toDF("lon", "lat")
      .withColumn("pk", geo.pack_coord($"lon", $"lat"))
      .withColumn("gc1", geo.grid_cell($"lon", $"lat"))
      .withColumn("gc2", geo.grid_cell_packed($"pk"))
      .withColumn("c9a", geo.cell_at($"lon", $"lat", 9))
      .withColumn("c9b", geo.cell_packed($"pk", 9))
      .withColumn("lon2", geo.lon_of($"pk"))
      .withColumn("lat2", geo.lat_of($"pk"))
    df.collect().foreach { r =>
      assert(r.getInt(3) == r.getInt(4), "grid cell via packed != via lonlat")
      assert(r.getLong(5) == r.getLong(6), "c9 via packed != via lonlat")
      // dequantized coords are within one quantum of the original
      assert(math.abs(r.getDouble(7) - r.getDouble(0)) <= 180.0 / Int.MaxValue * 1.001)
      assert(math.abs(r.getDouble(8) - r.getDouble(1)) <= 90.0 / Int.MaxValue * 1.001)
    }
  }

  test("expressions run inside WholeStageCodegen") {
    // parquet-backed input so ConvertToLocalRelation can't pre-evaluate
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(($"l_quantity" / lit(1000.0)).as("lon"),
              ($"l_extendedprice" / lit(100000.0)).as("lat"))
      .select(geo.cell_at($"lon", $"lat", 9).as("c9"),
              geo.grid_cell($"lon", $"lat").as("gc"))
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val exec = li.queryExecution.executedPlan
    val inWscg = exec.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains("cell_r9"))
    assert(inWscg, s"cell_r9 not inside a WholeStageCodegen span:\n$exec")
    li.agg(max($"c9"), max($"gc")).collect() // force janino compile + run
  }

  test("SQL-registered functions agree with Column API") {
    geo.registerSql(spark)
    pts.take(500).toDF("lon", "lat").createOrReplaceTempView("pts_sql")
    val rows = spark.sql(
      """SELECT lon, lat, grid_cell(lon, lat) AS gc, cell_r9(lon, lat) AS c9,
        |       lat_of(pack_coord(lon, lat)) AS lat2
        |FROM pts_sql""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getInt(2) == CellIndex.gridCellOf(r.getDouble(0), r.getDouble(1)))
      assert(r.getLong(3) == CellIndex.cellIdOf(r.getDouble(0), r.getDouble(1), 9))
    }
  }

  test("optimizer rule rewrites dequantize->requantize chains to packed ops") {
    graft.plans.GraftExtensions.install(spark)
    val df = pts.take(2000).toDF("lon", "lat")
      .withColumn("pk", geo.pack_coord($"lon", $"lat"))
      .select($"pk",
        geo.grid_cell(geo.lon_of($"pk"), geo.lat_of($"pk")).as("gc"),
        geo.cell_at(geo.lon_of($"pk"), geo.lat_of($"pk"), 9).as("c9"),
        geo.pack_coord(geo.lon_of($"pk"), geo.lat_of($"pk")).as("pk2"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("grid_cell_packed"), optimized)
    assert(optimized.contains("cell_packed_r9"), optimized)
    // repack-of-unpack collapsed to a plain alias of pk (the only
    // remaining pack_coord is the legitimate one producing pk itself)
    assert(!optimized.contains("pack_coord(lon_of"), optimized)
    // and the rewrite is semantics-preserving (the soundness claim)
    df.collect().foreach { r =>
      val pk = r.getLong(0)
      assert(r.getInt(1) == CellIndex.gridCell(
        CellIndex.bin(CellIndex.unpackX(pk)), CellIndex.bin(CellIndex.unpackY(pk))))
      assert(r.getLong(2) == CellIndex.cellId(
        CellIndex.unpackX(pk), CellIndex.unpackY(pk), 9))
      assert(r.getLong(3) == pk)
    }
  }

  test("QDistArgmin / SqDistLongCols: codegen integer distances are " +
       "bit-identical to the higher-order lambda forms, including " +
       "length-mismatch and NULL-element semantics") {
    import org.apache.spark.sql.functions._
    import graft.functions.vec
    val cents = Array(Array(1L, 2L, 3L), Array(3L, 2L, 1L), Array(1L, 2L, 3L))
    val rows = Seq(
      (0L, Seq[java.lang.Long](1L, 2L, 3L)),      // exact hit, tie c0 vs c2
      (1L, Seq[java.lang.Long](3L, 2L, 1L)),      // second centroid
      (2L, Seq[java.lang.Long](2L, 2L, 2L)),      // equidistant tie -> c0
      (3L, Seq[java.lang.Long](9L, -4L, 100L)),   // far away
      (4L, Seq[java.lang.Long](1L, 2L)),          // LENGTH MISMATCH -> NULL
      (5L, Seq[java.lang.Long](1L, null, 3L)))    // NULL element -> NULL
    val df = rows.toDF("id", "q")
    def nullable(r: org.apache.spark.sql.Row, i: Int): Any =
      if (r.isNullAt(i)) null else r.getLong(i)
    // each call plans fresh frames: a frame keeps the physical plan it was
    // first planned with, so the interpreted run below really re-plans
    def run(wholeStage: Boolean): (Map[Long, (Any, Any)], Map[(Long, Long), Any]) = {
      // a lambda form is CodegenFallback, so its projection is never inside
      // whole-stage codegen; the codegen forms' projections are, unless
      // whole-stage codegen is off
      def collectIn(out: org.apache.spark.sql.DataFrame, lambda: Boolean) = {
        val got = out.collect().toSeq
        // read after the run: an adaptive plan shows its stages once final
        val plan = out.queryExecution.executedPlan.toString
        val ws = plan.contains("*(")
        assert(if (wholeStage) ws || lambda else !ws,
          s"whole-stage codegen ${if (wholeStage) "off" else "still on"}: $plan")
        got
      }
      // the higher-order reference (zip_with pads/propagates nulls)
      val hoDists = graft.operators.SimilarityOracle.largeDists(col("q"), cents)
      val ho = collectIn(df.select(col("id"),
          (array_position(hoDists, array_min(hoDists)) - 1).cast("long").as("cl"),
          array_min(hoDists).as("d2")), lambda = true)
        .map(r => r.getLong(0) -> (nullable(r, 1), nullable(r, 2))).toMap
      val cg = collectIn(df.select(col("id"), vec.qdist_argmin(col("q"), cents).as("b"))
          .select(col("id"), col("b").getField("cluster").as("cl"),
            col("b").getField("d2").as("d2")), lambda = false)
        .map(r => r.getLong(0) -> (nullable(r, 1), nullable(r, 2))).toMap
      assert(cg == ho, s"argmin: $cg vs $ho")
      // pair distance: codegen vs lambda over all row pairs, one query each
      // so the codegen form runs inside whole-stage codegen
      val pairs = df.select(col("id").as("ia"), col("q").as("qa"))
        .crossJoin(df.select(col("id").as("ib"), col("q").as("qb")))
      def byPair(d: org.apache.spark.sql.Column, lambda: Boolean) =
        collectIn(pairs.select(col("ia"), col("ib"), d), lambda)
          .map(r => (r.getLong(0), r.getLong(1)) -> nullable(r, 2)).toMap
      val lam = byPair(aggregate(zip_with(col("qa"), col("qb"),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v), lambda = true)
      val got = byPair(vec.sqdist_long(col("qa"), col("qb")), lambda = false)
      assert(got.size == rows.size * rows.size)
      got.foreach { case (pair, d) => assert(d == lam(pair), s"pair $pair: $d vs ${lam(pair)}") }
      (cg, got)
    }
    val (cg, pairs) = run(wholeStage = true)
    assert(cg(2L) == ((0L, 2L)), "tie must pick the FIRST minimal centroid")
    assert(cg(4L) == ((null, null)) && cg(5L) == ((null, null)))
    assert(pairs.values.exists(d => d != null && d.asInstanceOf[Long] > 0))
    // the interpreted surface (nullSafeEval, what Spark falls back to when
    // codegen fails): no whole-stage codegen, every projection built by
    // the interpreted factory; same answers as the lambda forms and as the
    // codegen run
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ip = try {
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      run(wholeStage = false)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(ip == ((cg, pairs)), s"NO_CODEGEN $ip vs codegen ${(cg, pairs)}")
  }

  test("point_in_polygon: codegen path matches interpreted oracle on a concave polygon") {
    // concave "L" polygon
    val poly = Array(0.0, 0.0, 4.0, 0.0, 4.0, 1.0, 1.0, 1.0, 1.0, 4.0, 0.0, 4.0)
    val px = Array(0.0, 4.0, 4.0, 1.0, 1.0, 0.0)
    val py = Array(0.0, 0.0, 1.0, 1.0, 4.0, 4.0)
    val rnd = new scala.util.Random(7)
    val qs = Seq.fill(3000)((rnd.nextDouble() * 6 - 1, rnd.nextDouble() * 6 - 1))
    val df = qs.toDF("x", "y")
      .withColumn("in", graft.functions.geo.point_in_polygon($"x", $"y", poly))
    df.collect().foreach { r =>
      val expect = PointInPolygon.contains(px, py, r.getDouble(0), r.getDouble(1))
      assert(r.getBoolean(2) == expect, s"PIP(${r.getDouble(0)},${r.getDouble(1)})")
    }
    // known inside / outside points
    val known = Seq((0.5, 0.5, true), (2.0, 0.5, true), (2.0, 2.0, false),
                    (0.5, 3.5, true), (3.5, 3.5, false), (-0.5, 0.5, false))
    known.foreach { case (x, y, e) =>
      assert(PointInPolygon.contains(px, py, x, y) == e, s"known ($x,$y)")
    }
  }

  test("bin_rects equals the literal between/OR tree it replaces, nulls and " +
       "wrapped covers included, under codegen and NO_CODEGEN") {
    val rnd = new scala.util.Random(20261019)
    // centres near the sign lines too, so covers split in 2 or 4 (the
    // unsigned-bin wrap) and strict covers come out empty
    val boxes = Seq.fill(40) {
      val near0 = rnd.nextInt(3) == 0
      val cx = if (near0) rnd.nextDouble() * 0.4 - 0.2 else rnd.nextDouble() * 340 - 170
      val cy = if (near0) rnd.nextDouble() * 0.4 - 0.2 else rnd.nextDouble() * 160 - 80
      val h = 0.01 + rnd.nextDouble() * 0.5
      (CellIndex.BBox(cx - h, cy - h, cx + h, cy + h), rnd.nextBoolean())
    }
    val covers = boxes.map { case (b, strict) => CellIndex.coverRects(b, strict) }
    assert(Set(0, 1, 2, 4).subsetOf(covers.map(_.size).toSet), covers.map(_.size))
    // points around every box (bins, coordinates, and bin intervals for the
    // overlap form), with nulls, NaN and -0.0 sprinkled in
    def maybe[A](v: A): Option[A] = if (rnd.nextInt(8) == 0) None else Some(v)
    val rows = boxes.flatMap { case (b, _) =>
      Seq.fill(60) {
        val lon = b.minLon - 0.05 + rnd.nextDouble() * (b.maxLon - b.minLon + 0.1)
        val lat = b.minLat - 0.05 + rnd.nextDouble() * (b.maxLat - b.minLat + 0.1)
        val (xb, yb) = (CellIndex.xBin(lon), CellIndex.yBin(lat))
        (maybe(xb), maybe(yb), maybe(xb + rnd.nextInt(3)), maybe(yb + rnd.nextInt(3)),
          maybe(rnd.nextInt(40) match { case 0 => Double.NaN case 1 => -0.0 case _ => lon }),
          maybe(lat))
      }
    }
    val df = rows.toDF("x", "y", "x2", "y2", "lon", "lat")
    val x = $"x"; val y = $"y"
    val cols = boxes.zip(covers).zipWithIndex.flatMap { case (((b, _), cover), i) =>
      def orTree(f: (((Int, Int), (Int, Int))) => org.apache.spark.sql.Column) =
        cover.map(f).reduceOption(_ || _).getOrElse(lit(false))
      val rects = BinRects.of(cover)
      Seq(
        geo.in_rects(x, y, rects).as(s"p$i"),
        orTree { case ((x0, x1), (y0, y1)) => x.between(x0, x1) && y.between(y0, y1) }
          .as(s"pl$i"),
        geo.overlaps_rects(x, $"x2", y, $"y2", rects).as(s"o$i"),
        orTree { case ((x0, x1), (y0, y1)) =>
          x <= x1 && $"x2" >= x0 && y <= y1 && $"y2" >= y0 }.as(s"ol$i"),
        geo.in_rects($"lon", $"lat", BinRects.of(b)).as(s"c$i"),
        ($"lon" >= b.minLon && $"lon" <= b.maxLon && $"lat" >= b.minLat &&
          $"lat" <= b.maxLat).as(s"cl$i"))
    }
    // 8 boxes (48 columns) a select: whole-stage codegen stays on below
    // spark.sql.codegen.maxFields. Fresh frames per mode: a frame keeps
    // the physical plan it was first planned with.
    def dump(wholeStage: Boolean): Seq[Seq[Any]] = cols.grouped(48).toSeq.flatMap { cs =>
      val out = df.select(cs: _*)
      assert(out.queryExecution.executedPlan.toString.contains("*(") == wholeStage,
        s"whole-stage codegen ${if (wholeStage) "off" else "still on"}")
      out.collect().map(_.toSeq).toSeq
    }
    def check(got: Seq[Seq[Any]], mode: String): Unit = {
      got.zipWithIndex.foreach { case (r, j) =>
        r.grouped(2).zipWithIndex.foreach { case (Seq(a, b), k) =>
          assert(a == b, s"$mode row $j column pair $k: bin_rects $a vs literal $b")
        }
      }
      // the sample exercises every outcome
      assert(Set[Any](true, false, null).subsetOf(got.flatten.toSet), mode)
    }
    val cg = dump(wholeStage = true)
    check(cg, "codegen")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ip = try {
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      dump(wholeStage = false)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    check(ip, "NO_CODEGEN")
    assert(ip == cg)
  }
}
