package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.functions.geo
import graft.operators._

/**
 * Driver contract: one `queries` entry per implemented operator
 * (SURVEY.md §2 inventory + pipeline extensions), each with a DuckDB oracle
 * where ANSI-SQL-expressible. Geometry queries derive deterministic lon/lat
 * from testdata columns (positive quadrant: C-truncation == floor == DuckDB
 * TRUNC, so the unsigned-shift bin math is SQL-replicable); the Spark side
 * runs the REAL codegen expressions, the SQL side recomputes the math
 * independently — a cross-engine differential test of the encoder.
 */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic point cloud from events: lon in [1,171], lat in [1,81]. */
  private def eventPoints(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events").select(
      col("event_id"),
      (pmod(col("event_id") * 37, lit(17000L)) / 100.0 + 1.0).as("lon"),
      (pmod(col("event_id") * 101, lit(8000L)) / 100.0 + 1.0).as("lat"))
  private val eventPointsSql =
    """SELECT event_id,
      |       (event_id * 37 % 17000) / 100.0 + 1.0 AS lon,
      |       (event_id * 101 % 8000) / 100.0 + 1.0 AS lat
      |FROM events""".stripMargin

  /** Probe/build event streams for the temporal-join gates: even event ids
    * probe, odd ids build; epoch-micro timestamps (events.ts is
    * TIMESTAMP_NTZ; the NTZ->TIMESTAMP cast is a wall-clock identity under
    * the UTC session pinned in Verify/Bench, so `unix_micros` == DuckDB
    * `epoch_us` on the naive value), money as exact cents per the parity
    * rules. */
  private def temporalStreams(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = tbl(s, dir, "events").select(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("t"), col("user_id").as("k"),
      round(col("value") * 100).cast("long").as("cents"))
    (ev.where(pmod(col("event_id"), lit(2)) === 0)
       .select(col("event_id").as("probe_id"), col("k"), col("t")),
     ev.where(pmod(col("event_id"), lit(2)) === 1)
       .select(col("event_id").as("build_id"), col("k"), col("t"), col("cents")))
  }

  /** SQL twin of [[temporalStreams]]. */
  private val temporalCtes =
    """ev AS (SELECT event_id, epoch_us(ts) AS t, user_id AS k,
      |         CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |p AS (SELECT event_id AS probe_id, k, t FROM ev WHERE event_id % 2 = 0),
      |b AS (SELECT event_id AS build_id, k, t, cents FROM ev
      |      WHERE event_id % 2 = 1)""".stripMargin

  /** SQL twin of the level-0 bin math, valid for POSITIVE coords only. */
  private val xbinSql = "CAST(TRUNC(lon * 2147483647.0 / 180.0) AS BIGINT) // 262144"
  private val ybinSql = "CAST(TRUNC(lat * 2147483647.0 / 90.0) AS BIGINT) // 262144"

  // the test bbox used by extract queries (constants baked into both sides)
  private val qBox = BBox(40.0, 20.0, 60.0, 35.0)

  // triangle for the point-in-polygon query (generic slopes, CCW)
  private val tri = Array(30.013, 10.007, 80.021, 15.013, 50.017, 70.003)

  // kNN query points
  private val knnQs = Seq(Knn.Query(1, 50.005, 25.005),
                          Knn.Query(2, 150.005, 70.005),
                          Knn.Query(3, 10.005, 75.005))

  /** Derived planet-clone tables over events (both planet gate queries and
    * their shared oracle SQL assume exactly this shape): 1-based dense node
    * ids; way w = nodes [5w-4 .. 5w]; relation r = node members
    * (7r-6, 7r-3). Ingested through the REAL PlanetExtract pipeline
    * (first-node binning J5, relation anchoring J6). */
  private def derivedPlanet(s: SparkSession, dir: String,
                            danglingRefs: Boolean = false): PlanetExtract.PlanetTables = {
    val nodesRaw = eventPoints(s, dir)
      .select((col("event_id") + 1).as("id"), col("lon"), col("lat"))
    val waysRaw0 = nodesRaw.where(pmod(col("id"), lit(5)) === 0)
      .select((col("id") / 5).cast("long").as("id"),
              sequence(col("id") - 4, col("id")).as("refs"))
    // dangling-ref variant (strict-mode gate): every 11th way's LAST ref
    // points at a nonexistent node (wid + 1e10) — the reference reads a
    // zeroed page for it and emits a phantom node at cell 0 (vex.c:941-944)
    val waysRaw =
      if (!danglingRefs) waysRaw0
      else waysRaw0.withColumn("refs",
        when(pmod(col("id"), lit(11)) === 0,
          concat(slice(col("refs"), 1, 4), array(col("id") + 10000000000L)))
          .otherwise(col("refs")))
    val relsRaw = nodesRaw.where(pmod(col("id"), lit(7)) === 0)
      .select((col("id") / 7).cast("long").as("id"),
        array(
          struct(lit("outer").as("role"), lit(0).cast("byte").as("mtype"),
                 (col("id") - 6).as("ref")),
          struct(lit("inner").as("role"), lit(0).cast("byte").as("mtype"),
                 (col("id") - 3).as("ref"))).as("members"))
    PlanetExtract.ingest(nodesRaw, waysRaw, relsRaw)
  }

  /** Highway ways for the routable-graph gates: A-ways = the derived
    * planet's disjoint 5-node runs; B-ways (ids offset by 1e6) =
    * [id-20, id-10, id] for node ids ≡ 23 (mod 25) — each B ref hits an
    * INTERIOR position (≡3 mod 5) of an A-way, so B-ways create genuine
    * n_refs>=2 intersection vertices that split ways into segments. */
  private def routableWays(s: SparkSession, dir: String): DataFrame = {
    val nodesRaw = eventPoints(s, dir)
      .select((col("event_id") + 1).as("id"))
    val aWays = nodesRaw.where(pmod(col("id"), lit(5)) === 0)
      .select((col("id") / 5).cast("long").as("id"),
              sequence(col("id") - 4, col("id")).as("refs"),
              map(lit("highway"), lit("residential")).as("tags"))
    val bWays = nodesRaw.where(pmod(col("id"), lit(25)) === 23)
      .select(((col("id") - 23) / 25 + 1000000L).cast("long").as("id"),
              array(col("id") - 20, col("id") - 10, col("id")).as("refs"),
              map(lit("highway"), lit("primary")).as("tags"))
    aWays.unionByName(bWays)
  }

  /** 150-image fixture shared by q_image_neardup and q_image_dedup_corpus:
    * 120 broad-spectrum textured PNGs + JPEG re-encodes of the first 30 —
    * the planted (img_i, re_i) pairs land within Hamming<=6 of the 32x32
    * DCT pHash; fully deterministic. Synthesis is distributed
    * (range -> mapPartitions): each textured image costs ~25M cos() ops,
    * driver-serial would dominate. ONE definition: the composite gate's
    * documented relationship to the pair gate depends on both reading the
    * same corpus. */
  private def imageNearDupFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(150).mapPartitions(_.map { i =>
      if (i < 120) (f"img_$i%04d", Fixtures.makeTexturedPng(i))
      else { val j = i - 120
             (f"re_$j%04d", Raster.reencodeJpeg(Fixtures.makeTexturedPng(j), 0.9f)) }
    }).toDF("image_id", "bytes")
  }

  /** Flagship: the full images pipeline at small scale — synthesize the
    * graft input table, geocode with the codegen encoder, bbox-extract,
    * aggregate per tile. */
  def entry(spark: SparkSession): DataFrame = {
    val images = Fixtures.images(spark, 20000, withBytes = false).toDF()
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
    ImageTable.extractBBox(ImageTable.derive(images),
        BBox(c._1 - 1.5, c._2 - 1.0, c._1 + 1.5, c._2 + 1.0))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("cell"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- encoder / tiling (F1-F2, S4) ---------------------------------------
    "q_tile_assign" -> ((s, dir) => {
      eventPoints(s, dir)
        .select(geo.grid_cell(col("lon"), col("lat")).cast("long").as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("cell")).limit(50)
    }),
    "q_cell_occupancy" -> ((s, dir) => {    // A1 fill-factor analogue
      eventPoints(s, dir)
        .agg(countDistinct(geo.grid_cell(col("lon"), col("lat")).cast("long")).as("used_cells"),
             count(lit(1)).as("total_rows"))
    }),
    // ---- bbox extracts (P1, J1) ----------------------------------------------
    "q_bbox_cell_granular" -> ((s, dir) => {
      val pred = CellIndex.coverRects(qBox).map { case ((x0, x1), (y0, y1)) =>
        val cell = geo.grid_cell(col("lon"), col("lat"))
        shiftright(cell, 14).between(x0, x1) &&
          cell.bitwiseAND(lit(16383)).between(y0, y1)
      }.reduce(_ || _)
      eventPoints(s, dir).where(pred).select("event_id").orderBy("event_id")
    }),
    "q_bbox_exact" -> ((s, dir) => {
      eventPoints(s, dir).where(
        col("lon") >= qBox.minLon && col("lon") <= qBox.maxLon &&
        col("lat") >= qBox.minLat && col("lat") <= qBox.maxLat)
        .select("event_id").orderBy("event_id")
    }),
    "q_bbox_morton_ranges" -> ((s, dir) => {   // hierarchical-cell range scan
      // materialize c9 once as a column; range predicates then reference it
      // (inlining the encoder into each of the ~60 ranges defeats CSE)
      val pred = CellIndex.coverMortonRanges(qBox, 9)
        .map { case (lo, hi) => col("c9").between(lo, hi) }
        .reduceOption(_ || _).getOrElse(lit(false))
      eventPoints(s, dir)
        .withColumn("c9", geo.cell_at(col("lon"), col("lat"), 9))
        .where(pred).select("event_id").orderBy("event_id")
    }),
    "q_tile_pyramid" -> ((s, dir) => {      // §2.4 rollup: multi-resolution
      // tile pyramid in ONE pass — the Morton prefix property makes the
      // r7 -> r8 -> r9 chain a strict hierarchy, so ROLLUP's partial
      // aggregates ARE the coarser pyramid levels (nulls -> -1 so the
      // cross-engine compare never hashes NULL)
      eventPoints(s, dir)
        .select(geo.cell_at(col("lon"), col("lat"), 7).as("c7"),
                geo.cell_at(col("lon"), col("lat"), 8).as("c8"),
                geo.cell_at(col("lon"), col("lat"), 9).as("c9"))
        .rollup("c7", "c8", "c9").agg(count(lit(1)).as("n"))
        .select(coalesce(col("c7"), lit(-1L)).as("c7"),
                coalesce(col("c8"), lit(-1L)).as("c8"),
                coalesce(col("c9"), lit(-1L)).as("c9"), col("n"))
        .orderBy("c7", "c8", "c9")
    }),
    "q_mercator_tiles" -> ((s, dir) => {    // Web-Mercator tile assignment
      ImageTable.withMercatorTiles(eventPoints(s, dir), Seq(12))
        .groupBy("tile_z12_x", "tile_z12_y").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tile_z12_x"), col("tile_z12_y")).limit(100)
    }),
    // ---- polygon refinement (PIP) --------------------------------------------
    "q_polygon_extract" -> ((s, dir) => {
      eventPoints(s, dir)
        .where(geo.point_in_polygon(col("lon"), col("lat"), tri))
        .select("event_id").orderBy("event_id")
    }),
    // ---- kNN (ring expansion + window top-k) ----------------------------------
    "q_knn" -> ((s, dir) => {
      val pts = eventPoints(s, dir)
        .select(col("event_id").as("id"), col("lon"), col("lat"),
                geo.grid_cell(col("lon"), col("lat")).as("cell"))
      Knn.knn(pts, knnQs, 10)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rnk"))
        .orderBy("qid", "rnk")
    }),
    "q_knn_pruned" -> ((s, dir) => {        // kNN over a STORED p_cell-
      // partitioned table: the probe must survive directory pruning (the
      // PartitionFilters path) and still return the exact same neighbors
      val pts = eventPoints(s, dir)
        .select(col("event_id").as("id"), col("lon"), col("lat"),
                geo.grid_cell(col("lon"), col("lat")).as("cell"),
                geo.cell_at(col("lon"), col("lat"), 3).as("p_cell"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_knn_").toString
      // repartition on the partition column (one file per directory, not
      // #tasks x #dirs); res 3 = 64 dirs, sized to the gate data volume
      LeafWrite.byLeaf(pts, "p_cell")
        .write.mode("overwrite").partitionBy("p_cell").parquet(tmp)
      Knn.knn(s.read.parquet(tmp), knnQs, 10, pRes = 3)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rnk"))
        .orderBy("qid", "rnk")
    }),
    "q_knn_join_table" -> ((s, dir) => {    // Dataset-native kNN JOIN: the
      // query set is a TABLE (never driver-materialized) — disk-cell
      // explode on the query side, equi-join, guarantee-radius rounds;
      // must return exactly the brute-force neighbors
      val pts = eventPoints(s, dir)
        .select(col("event_id").as("id"), col("lon"), col("lat"),
                geo.grid_cell(col("lon"), col("lat")).as("cell"))
      val qs = tbl(s, dir, "events")
        .where(pmod(col("event_id"), lit(499)) === 7)
        .select(col("event_id").as("qid"),
          (pmod(col("event_id") * 53, lit(16000L)) / 100.0 + 1.5).as("qlon"),
          (pmod(col("event_id") * 89, lit(7500L)) / 100.0 + 1.5).as("qlat"))
      Knn.knnJoinTable(pts, qs, 10)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rnk"))
        .orderBy("qid", "rnk")
    }),
    "q_spatial_join" -> ((s, dir) => {      // radius distance join
      val pts = eventPoints(s, dir)
      val a = pts.where(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id").as("a_id"), col("lon"), col("lat"))
      val bPts = pts.select(col("event_id").as("b_id"), col("lon"), col("lat"))
        .withColumn("cell", geo.grid_cell(col("lon"), col("lat")))
      SpatialJoin.distanceJoin(a, bPts, 5000.0)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),
    "q_rect_join" -> ((s, dir) => {         // rectangle-overlap join: two
      // rect sets derived from events, coarse-cell equi-join candidates,
      // exact closed-interval intersection + area, arithmetic emit-once
      // (min-corner cell) — never a cross join, never a dropDuplicates
      val ev = tbl(s, dir, "events")
      def rect(p: String, m: Int, r: Int) = ev
        .where(pmod(col("event_id"), lit(m)) === r)
        .select(col("event_id").as(s"${p}_id"),
          pmod(col("event_id"), lit(1000)).as(s"${p}_x1"),
          pmod(expr("event_id DIV 1000"), lit(1000)).as(s"${p}_y1"),
          (pmod(col("event_id"), lit(1000)) +
            pmod(col("event_id"), lit(13))).as(s"${p}_x2"),
          (pmod(expr("event_id DIV 1000"), lit(1000)) +
            pmod(col("event_id"), lit(17))).as(s"${p}_y2"))
      SpatialJoin.rectJoin(rect("l", 7, 0), rect("r", 5, 3), cellSize = 64)
        .select("l_id", "r_id", "ov_area").orderBy("l_id", "r_id")
    }),
    "q_poly_join" -> ((s, dir) => {         // point-in-polygon SET join:
      // each polygon explodes to its bbox's coarse cells, points carry
      // their one cell, equi-join + codegen even-odd PIP refine; CCW
      // triangles by construction so the oracle's strict sign test is
      // SQL-expressible (interiors agree; edges dodged by the .x003/.x007
      // vertex offsets vs the .01-grid points)
      val ev = tbl(s, dir, "events")
      val x1 = pmod(col("event_id"), lit(140)).cast("double") + lit(1.2003)
      val y1 = pmod(expr("event_id DIV 140"), lit(60)).cast("double") + lit(1.1007)
      val tris = ev.where(pmod(col("event_id"), lit(199)) === 11)
        .select(col("event_id").as("poly_id"),
          array(x1,
                x1 + pmod(col("event_id"), lit(7)) + lit(3.0),
                x1 + pmod(col("event_id"), lit(5))).as("px"),
          array(y1, y1,
                y1 + pmod(col("event_id"), lit(11)) + lit(2.0)).as("py"))
      SpatialJoin.polyJoin(eventPoints(s, dir), tris, binDeg = 1.0)
        .select("poly_id", "event_id").orderBy("poly_id", "event_id")
    }),
    // ---- planet extract end-to-end (J1∘J2∘J3 + J4/J5/J6 over derived
    //      planet tables: nodes from events, ways = runs of 5 consecutive
    //      nodes, relations anchored at their first (node) member) ---------
    "q_planet_extract" -> ((s, dir) => {
      val t = derivedPlanet(s, dir)
      PlanetExtract.bbox(t, qBox)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    "q_planet_extract_stored" -> ((s, dir) => {   // S4: stored planet DB path
      val t = derivedPlanet(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stored_").toString
      // pBits sized to the gate data (64 dirs for ~10^5 rows): directory
      // count is a knob, not a constant — at planet scale it grows
      PlanetExtract.writeTables(t, tmp, pBits = 3)
      val stored = PlanetExtract.readTables(s, tmp)
      PlanetExtract.bboxStored(stored, qBox, pBits = 3)   // directory-pruned
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    "q_way_bounds" -> ((s, dir) => {        // per-way bin bounds (ingest
      // metadata behind the refined-extract pruning): min/max xbin/ybin
      // over ALL of each way's refs, recomputed by DuckDB from the same
      // derived planet
      val t = derivedPlanet(s, dir)
      t.ways.select(col("id"),
          col("xbin_min").cast("long").as("xbin_min"),
          col("xbin_max").cast("long").as("xbin_max"),
          col("ybin_min").cast("long").as("ybin_min"),
          col("ybin_max").cast("long").as("ybin_max"))
        .orderBy("id")
    }),
    "q_bbox_refined" -> ((s, dir) => {      // refined extract (the engine
      // extension fixing the reference's vex.c:883 TODO): nodes strictly
      // inside the bbox; ways touching it via ANY node — reached through
      // the per-way bound prefilter, never a full refs explode
      val t = derivedPlanet(s, dir)
      PlanetExtract.bboxRefined(t, qBox)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    // ---- joins & dedup shapes (J2/J3/J7) --------------------------------------
    "q_join_expand" -> ((s, dir) => {       // J2: 1:N expansion join
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
             sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    }),
    "q_semijoin" -> ((s, dir) => {          // J1 as semi-join
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders").where(col("o_totalprice") > 150000.0)
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    "q_emit_once" -> ((s, dir) => {         // J3: emit-once dedup
      tbl(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min("event_id").as("first_event"))
        .orderBy("user_id", "event_type")
    }),
    // ---- routable graph over the derived planet (J7 + A5/edges): A-ways
    //      are disjoint runs of 5 nodes; B-ways [id-20, id-10, id] for
    //      id%25==23 cross three A-way interiors, creating real
    //      intersection vertices that split ways into segments ------------
    "q_routable_vertices" -> ((s, dir) =>
      Routable.vertices(routableWays(s, dir))
        .select(col("node_id"), col("n_refs"),
                col("is_endpoint").cast("long").as("is_endpoint"))
        .orderBy("node_id")),
    "q_routable_edges" -> ((s, dir) =>
      Routable.edges(routableWays(s, dir),
          eventPoints(s, dir).select((col("event_id") + 1).as("id"),
            col("lon"), col("lat")))
        .select(col("way_id"), col("seg").cast("long").as("seg"),
                col("src"), col("dst"), col("n_legs"))
        .orderBy("way_id", "seg")),
    "q_intersections" -> ((s, dir) => {     // J7: shared-vertex detection
      tbl(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(countDistinct("l_orderkey").as("n_orders"))
        .where(col("n_orders") >= 2)
        .orderBy("l_partkey")
    }),
    // ---- aggregation / sort / top-k (A3-A5, O2) --------------------------------
    "q_agg_partial" -> ((s, dir) => {       // A3/partial-agg shape
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
             sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_tag_stats" -> ((s, dir) => {         // A4: token frequency, top-100 by weight
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("weight", (length(col("w")) + 2) * col("n"))
        .orderBy(desc("weight"), col("w")).limit(100)
        .select("w", "n", "weight")
    }),
    "q_role_stats" -> ((s, dir) => {        // F5 role codec census
      // (tagstats.py:84-99): roles drawn from a fixed 8-entry list by
      // rid — dictionary hits, unknown roles (collapse to [OTHER]), and
      // the strict prefix quirks ("out" -> outer, "s" -> south,
      // "" -> forward); fixed and strict modes emitted side by side
      val roleList = Seq("outer", "inner", "from", "via",
        "unknown_role", "out", "s", "")
      val rl = array(roleList.map(lit): _*)
      val relsRaw = eventPoints(s, dir)
        .select((col("event_id") + 1).as("id"))
        .where(pmod(col("id"), lit(7)) === 0)
        .select((col("id") / 7).cast("long").as("rid"))
        .select(col("rid"), array(
          struct(element_at(rl, pmod(col("rid"), lit(8)).cast("int") + 1).as("role"),
                 lit(0).cast("byte").as("mtype"), (col("rid") * 7 - 6).as("ref")),
          struct(element_at(rl, pmod(col("rid") + 3, lit(8)).cast("int") + 1).as("role"),
                 lit(0).cast("byte").as("mtype"), (col("rid") * 7 - 3).as("ref")))
          .as("members"))
      graft.functions.TagDict.roleStats(relsRaw, strict = false)
        .withColumn("mode", lit("fixed"))
        .unionByName(graft.functions.TagDict.roleStats(relsRaw, strict = true)
          .withColumn("mode", lit("strict")))
        .select("mode", "role", "n")
        .orderBy("mode", "role")
    }),
    "q_window_rank" -> ((s, dir) => {       // §2.5 window/top-k per key
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_suppkey")
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      tbl(s, dir, "lineitem")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("l_suppkey"), col("l_orderkey"), col("rnk").cast("long").as("rnk"))
        .orderBy("l_suppkey", "rnk", "l_orderkey")
    }),
    "q_topk" -> ((s, dir) =>                // O2: global top-k
      tbl(s, dir, "part")
        .orderBy(desc("p_retailprice"), col("p_partkey"))
        .limit(100)
        .select("p_partkey", "p_name")),
    "q_topk_grouped" -> ((s, dir) => {      // top-3 per group WITHOUT a
      // per-group sort: bounded-heap typed Aggregator — map-side partial
      // aggregation truncates every group to k rows per map task, so a
      // hot group never funnels its whole row set through one reducer
      // the way the window-rank formulation does
      val ev = tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        pmod(col("event_id"), lit(999983L)).as("v"))
      Frequency.topKPerGroup(ev, Seq("user_id"), "v", "event_id", k = 3)
        .orderBy("user_id", "rnk")
    }),
    // ---- text pipeline -----------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"))
        .orderBy("h")),
    "q_token_count" -> ((s, dir) =>
      TextOps.withTokenCounts(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("tokens_ws").cast("long").as("tokens_ws"),
                col("tokens_bpe").cast("long").as("tokens_bpe"))
        .orderBy("doc_id")),
    "q_quality" -> ((s, dir) =>
      TextOps.withQuality(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
                col("quality_pts"))
        .orderBy("doc_id")),
    "q_repetition" -> ((s, dir) =>          // Gopher-style repetition
      // signals as pure integer counts (cross-engine exact): total/top
      // word and bigram occurrence counts per document
      TextOps.repetitionStats(tbl(s, dir, "documents"))
        .select("doc_id", "n_words", "top_word_n", "n_bigrams", "top_bigram_n")
        .orderBy("doc_id")),
    "q_pii" -> ((s, dir) => {               // PII census + redaction over
      // deterministically planted email/phone/IP strings (every 10th doc);
      // counts AND the md5 of the redacted text are oracle-checked
      val planted = tbl(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" mail u"), col("doc_id").cast("string"),
            lit("@ex.com tel 555-0142 ip 10.0.0.7")))
          .otherwise(col("text")))
      TextOps.withPii(planted)
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          md5(col("text_redacted")).as("red_md5"))
        .orderBy("doc_id")
    }),
    "q_chunk" -> ((s, dir) =>               // context-window chunking: 16-word
      // windows, 4-word overlap; chunk text pinned cross-engine via md5
      TextOps.chunkDocs(tbl(s, dir, "documents"), chunkWords = 16, overlap = 4)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          md5(col("chunk_text")).as("chunk_md5"),
          col("n_chunk_words").cast("long").as("n_chunk_words"))
        .orderBy("doc_id", "chunk_id")),
    "q_corpus_stats" -> ((s, dir) =>        // per-language corpus report with
      // EXACT rank-based median (portable: rank selection, not engine-
      // specific percentile interpolation)
      TextOps.corpusStats(tbl(s, dir, "documents"))
        .select("lang_pred", "n_docs", "total_words", "median_words", "max_words")
        .orderBy("lang_pred")),
    "q_lang_id" -> ((s, dir) =>
      TextOps.withLangId(tbl(s, dir, "documents"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),
    "q_fingerprint" -> ((s, dir) =>         // portable md5 fingerprint (oracle=SQL)
      tbl(s, dir, "documents")
        .withColumn("fp", TextOps.fingerprintPortable(col("text")))
        .select("doc_id", "fp").orderBy("doc_id")),
    "q_fingerprint_roll" -> ((s, dir) =>    // rows-only (rolling xxhash64 variant)
      TextOps.withFingerprints(tbl(s, dir, "documents"))
        .select("doc_id", "fp").orderBy("doc_id")),
    "q_minhash_sig" -> ((s, dir) =>         // portable md5 minhash (oracle=SQL)
      Dedup.withMinhashPortable(tbl(s, dir, "documents"), nGram = 3, nHashes = 4)
        .select("doc_id", "sig_0", "sig_1", "sig_2", "sig_3").orderBy("doc_id")),
    "q_minhash_pairs" -> ((s, dir) =>       // FULL LSH pipeline: band bucket
      // join + exact-Jaccard verify, every stage oracle-checked. Bounded
      // to a deterministic 1000-doc slice: the cap is off for oracle
      // parity, so the input must be bounded instead
      Dedup.minhashLshPortable(
          tbl(s, dir, "documents").where(col("doc_id") < 1000), nGram = 3,
          nHashes = 4, bands = 4, threshold = 0.5, maxBucket = 0)
        .orderBy("a_id", "b_id")),
    "q_dedup_clusters" -> ((s, dir) =>      // near-dup CLUSTERS: connected
      // components over the verified MinHash-LSH pair list (min-label =
      // canonical survivor id); same bounded slice as q_minhash_pairs
      Dedup.connectedComponents(Dedup.minhashLshPortable(
          tbl(s, dir, "documents").where(col("doc_id") < 1000), nGram = 3,
          nHashes = 4, bands = 4, threshold = 0.5, maxBucket = 0))
        .orderBy("id")),
    "q_dedup_corpus" -> ((s, dir) => {      // end-to-end dedup: corpus ->
      // cluster canonicals only (pairs -> components -> anti-join)
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val pairs = Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 4,
        bands = 4, threshold = 0.5, maxBucket = 0)
      Dedup.dropClusterDuplicates(docs, pairs)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_dedup_incremental" -> ((s, dir) => { // online corpus maintenance:
      // dedup a NEW batch (ids 500..999) against the kept corpus (< 500) —
      // batch docs in any component touching the corpus drop; batch-only
      // clusters keep their minimum. Bounded slice, caps off, portable
      // signatures: the full decision is recomputed in DuckDB
      val slice = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      Dedup.dedupBatchAgainstCorpus(
          slice.where(col("doc_id") < 500), slice.where(col("doc_id") >= 500),
          nGram = 3, nHashes = 4, bands = 4, threshold = 0.5, maxBucket = 0)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_dedup_incremental_idx" -> ((s, dir) => { // the STORED-INDEX variant
      // of online corpus maintenance: the corpus's banded signatures are
      // persisted once (bucket-partitioned on the band-key hash) and the
      // batch probes only its own buckets — decision-identical to
      // q_dedup_incremental (same oracle SQL), but the corpus text is
      // never re-minhashed per batch (the round-4 VERDICT top item)
      val slice = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_dedup_idx_").toString
      Dedup.writeDedupIndex(slice.where(col("doc_id") < 500), idxDir,
        nGram = 3, nHashes = 4, bands = 4, buckets = 16, maxBucket = 0)
      Dedup.dedupBatchAgainstIndex(slice.where(col("doc_id") >= 500), idxDir,
          threshold = 0.5, maxBucket = 0)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_sample_mix" -> ((s, dir) => {        // deterministic stratified
      // sampling (data-mixing weights): md5-threshold membership, so the
      // sample itself is recomputable cross-engine
      val docs = tbl(s, dir, "documents")
      val stratum = when(length(col("text")) < 200, "short")
        .when(length(col("text")) < 1000, "medium").otherwise("long")
      Sampling.stratifiedSample(docs.withColumn("st", stratum), "doc_id",
          col("st"), Map("short" -> 0.1, "medium" -> 0.5, "long" -> 1.0),
          salt = "mix")
        .select("doc_id", "st").orderBy("doc_id")
    }),
    "q_pipeline_pack" -> ((s, dir) => {     // composed packing pipeline:
      // budget-capped mixing feeds shard assignment — the "select by
      // volume, then write reproducible fixed-size training shards" step;
      // both stages individually gated, this pins the COMPOSITION
      val mixed = Sampling.tokenBudgetMix(tbl(s, dir, "documents"),
        "doc_id", col("n_chars"), col("source"),
        Map("src0" -> 5000L, "src1" -> 1000000000L, "src3" -> 20000L),
        salt = "budget")
      Sampling.shardAssign(mixed, "doc_id", shardSize = 50L, salt = "pack")
        .select("doc_id", "source", "rnk", "shard").orderBy("doc_id")
    }),
    "q_shard_assign" -> ((s, dir) =>        // deterministic shuffle-shard
      // assignment: exact global rank in the md5-shuffled order + the
      // fixed-size shard it lands in; two-pass bucket ranking (the global
      // sort is never one window — bases broadcast, numbering per bucket)
      Sampling.shardAssign(tbl(s, dir, "documents"), "doc_id",
          shardSize = 100L, salt = "sh")
        .select("doc_id", "rnk", "shard").orderBy("doc_id")),
    "q_pack_sequences" -> ((s, dir) =>      // concat-and-chunk sequence
      // packing: exact global token offset in the md5-shuffled order +
      // the context windows each doc straddles; two-pass bucket cumsum
      // (the only full-width window sorts the 10k-row bucket histogram)
      Sampling.packSequences(tbl(s, dir, "documents"), "doc_id",
          col("n_chars"), windowLen = 2048L, salt = "pk")
        .select("doc_id", "tok_off", "win_start", "win_end", "win_off",
          "n_wins").orderBy("doc_id")),
    "q_neg_pairs" -> ((s, dir) =>           // contrastive negative mining:
      // md5-derived strides around the exact shuffled rank ring —
      // deterministic, self-pair-free, one rank equi-join, no cross join
      Sampling.negativePairs(tbl(s, dir, "documents"), "doc_id",
          nNeg = 3, salt = "neg")
        .orderBy("doc_id", "neg_idx")),
    "q_budget_mix" -> ((s, dir) => {        // budget-capped mixing: per
      // source keep docs in hash order until the source's n_chars budget
      // is spent (mixing by absolute volume; src1 unlimited, src2 zero,
      // all other sources have no budget and drop). Two-pass histogram
      // selection — only the boundary bucket pays a per-doc window
      Sampling.tokenBudgetMix(tbl(s, dir, "documents"), "doc_id",
          col("n_chars"), col("source"),
          Map("src0" -> 5000L, "src1" -> 1000000000L, "src2" -> 0L),
          salt = "budget")
        .select("doc_id", "source").orderBy("doc_id")
    }),
    "q_split_leakage" -> ((s, dir) => {     // leakage-safe train/test
      // split: membership keyed on the near-dup component REPRESENTATIVE,
      // so a cluster never straddles the boundary (same bounded slice +
      // portable pair recipe as q_dedup_clusters); the oracle recomputes
      // pairs, closure, and membership end to end
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val pairs = Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 4,
        bands = 4, threshold = 0.5, maxBucket = 0)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          testRate = 0.2, salt = "split")
        .select("doc_id", "rep", "split").orderBy("doc_id")
    }),
    "q_sample_fast" -> ((s, dir) =>         // rows-only (xxhash64-threshold
      // membership is not SQL-able in DuckDB; the md5 twin q_sample_mix is
      // the oracle-checked sibling of the same shape) — deterministic, so
      // the row set is stable across runs and scales
      Sampling.hashSampleFast(tbl(s, dir, "documents"), "doc_id", 0.3, seed = 7L)
        .select("doc_id").orderBy("doc_id")),
    "q_decontaminate" -> ((s, dir) => {     // benchmark decontamination:
      // containment of "benchmark" docs (even ids) in "corpus" docs (odd
      // ids) via the shingle-postings join, exact (no df cut) on the
      // bounded slice
      val slice = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      Dedup.crossContamination(
          slice.where(pmod(col("doc_id"), lit(2)) === 1),
          slice.where(pmod(col("doc_id"), lit(2)) === 0),
          nGram = 2, minContainment = 0.3, maxDocFreq = 0)
        .select("doc_id", "bench_id", "inter", "containment")
        .orderBy("doc_id", "bench_id")
    }),
    "q_decontaminate_bloom" -> ((s, dir) => { // decision-identical Bloom
      // prefilter twin: broadcast Bloom over the (small) benchmark's
      // shingles drops corpus shingles BEFORE the shuffle; no false
      // negatives + exact join after = same rows as q_decontaminate,
      // whose oracle is shared verbatim
      val slice = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      Dedup.crossContaminationBloom(
          slice.where(pmod(col("doc_id"), lit(2)) === 1),
          slice.where(pmod(col("doc_id"), lit(2)) === 0),
          nGram = 2, minContainment = 0.3, maxDocFreq = 0)
        .select("doc_id", "bench_id", "inter", "containment")
        .orderBy("doc_id", "bench_id")
    }),
    "q_pipeline_clean" -> ((s, dir) => {    // the composed text-cleaning
      // pipeline a training-data user actually runs: quality filter ->
      // language filter -> cluster dedup -> deterministic sample; every
      // stage individually oracle-proven, this gate pins the COMPOSITION
      val slice = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val scored = TextOps.withQuality(TextOps.withLangId(slice))
      val filtered = scored.where(
        col("quality_pts") >= 5000 && col("lang_pred") =!= "und")
      val pairs = Dedup.minhashLshPortable(slice, nGram = 3, nHashes = 4,
        bands = 4, threshold = 0.5, maxBucket = 0)
      val deduped = Dedup.dropClusterDuplicates(filtered, pairs)
      Sampling.hashSample(deduped, "doc_id", 0.5, salt = "clean")
        .select("doc_id", "lang_pred", "quality_pts").orderBy("doc_id")
    }),
    "q_dup_passages" -> ((s, dir) =>        // verbatim-span detection: every
      // 8-word window shared by >= 2 docs, with doc/occurrence counts
      Dedup.duplicatePassages(tbl(s, dir, "documents"), windowWords = 8)
        .select(md5(col("passage")).as("passage_md5"), col("n_docs"),
          col("n_occ"), col("min_doc"))
        .orderBy("passage_md5")),
    "q_simhash" -> ((s, dir) =>             // portable 60-bit simhash (oracle=SQL)
      Dedup.withSimhashPortable(tbl(s, dir, "documents"))
        .select("doc_id", "simhash").orderBy("doc_id")),
    "q_simhash_xx" -> ((s, dir) =>          // rows-only (xxhash64 fast path)
      Dedup.withSimhash(tbl(s, dir, "documents"))
        .select("doc_id", "simhash").orderBy("doc_id")),
    "q_ngram_jaccard" -> ((s, dir) =>       // exact pair list (oracle=SQL)
      Dedup.ngramJaccard(tbl(s, dir, "documents").where(col("doc_id") < 500),
          nGram = 2, threshold = 0.5, maxDocFreq = 0)
        .select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id")),
    // ---- embeddings --------------------------------------------------------------
    "q_embed_topk" -> ((s, dir) => {
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), q, 20)
        .select(col("vec_id"))
    }),
    "q_embed_knn_join" -> ((s, dir) => {    // exact small-fanout knn join
      import org.apache.spark.sql.expressions.Window
      val e = tbl(s, dir, "embeddings")
      val probes = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val w = Window.partitionBy("a_id").orderBy(desc("cos"), col("b_id"))
      probes.crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
        .where(col("a_id") =!= col("b_id"))
        .withColumn("cos", graft.functions.vec.cosine(col("ea"), col("eb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("a_id"), col("b_id"), col("rank").cast("long").as("rnk"))
        .orderBy("a_id", "rnk")
    }),
    "q_embed_lsh_ann" -> ((s, dir) => {     // rows-only (approximate)
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.lshTopK(tbl(s, dir, "embeddings"), q, 10,
          nTables = 8, bitsPerTable = 8)
        .select(col("vec_id"))
    }),
    "q_embed_ann_join" -> ((s, dir) =>      // SCALABLE banded ANN join (oracle=SQL)
      Similarity.axisKnnJoin(tbl(s, dir, "embeddings"), k = 5,
          nTables = 8, bits = 8, probePred = col("vec_id") < 20, maxBucket = 0)
        .select(col("a_id"), col("b_id"), col("rank").cast("long").as("rnk"))
        .orderBy("a_id", "rnk")),
    "q_embed_ann_recall" -> ((s, dir) => {  // per-probe recall of the banded
      import org.apache.spark.sql.expressions.Window   // join vs exact top-k
      val e = tbl(s, dir, "embeddings")
      val ann = Similarity.axisKnnJoin(e, k = 5, nTables = 8, bits = 8,
          probePred = col("vec_id") < 20, maxBucket = 0)
        .select("a_id", "b_id")
      val probes = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val w = Window.partitionBy("a_id").orderBy(desc("cos"), col("b_id"))
      val exact = probes
        .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")))
        .where(col("a_id") =!= col("b_id"))
        .withColumn("cos", graft.functions.vec.cosine(col("ea"), col("eb")))
        .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
        .select("a_id", "b_id")
      val hits = exact.join(ann, Seq("a_id", "b_id"), "left_semi")
        .groupBy("a_id").agg(count(lit(1)).as("n_hit"))
      probes.select("a_id").join(hits, Seq("a_id"), "left")
        .select(col("a_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("a_id")
    }),
    "q_embed_axis_ann" -> ((s, dir) => {    // ANN PROBE, oracle-checked: the
      // single-scan OR-filter shape of lshTopK with axis-sign buckets
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.axisTopK(tbl(s, dir, "embeddings"), q, 10, nTables = 8, bits = 8)
        .select(col("vec_id"))
    }),
    "q_embed_pq" -> ((s, dir) => {          // product-quantization codes
      // (oracle=SQL: the portable build — md5-ordered seed selection,
      // double squared-L2, first-min ties — is recomputed from the
      // embeddings table alone)
      val (codes, _) = Similarity.pqBuildPortable(tbl(s, dir, "embeddings"))
      codes.select((col("vec_id") +:
          (0 until 8).map(i => col(s"code_$i").cast("long").as(s"code_$i"))): _*)
        .orderBy("vec_id")
    }),
    "q_embed_pq_adc" -> ((s, dir) => {      // ADC ranking against vec 0's
      // embedding — the probe scans ONLY the code columns
      import org.apache.spark.sql.expressions.Window
      val embs = tbl(s, dir, "embeddings")
      val q = embs.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val (codes, cbs) = Similarity.pqBuildPortable(embs)
      Similarity.pqTopK(codes, cbs, q, 20)
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("adc"), col("vec_id"))).cast("long"))
        .select("vec_id", "rnk").orderBy("rnk")
    }),
    "q_embed_ivfpq" -> ((s, dir) => {       // STORED IVF+PQ index probe,
      // fully oracle-recomputed: portable IVF coarse lists (md5-ordered
      // seed centroids, cosine argmax) over portable PQ codes, ADC
      // ranking restricted to the top-3 probed list directories — the
      // composition of q_embed_ivf_portable's list math with
      // q_embed_pq_adc's ADC math, read back from the Hive-partitioned
      // store (PartitionFilters prune to nprobe/nLists of the codes)
      import org.apache.spark.sql.expressions.Window
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString + "/idx"
      Similarity.writeIvfPqIndex(e, idxDir, nLists = 8)
      Similarity.ivfPqTopK(s, idxDir, q, k = 20, nprobe = 3)
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("adc"), col("vec_id"))).cast("long"))
        .select("vec_id", "rnk").orderBy("rnk")
    }),
    "q_embed_kmeans" -> ((s, dir) => {      // distributed Lloyd k-means in
      // EXACT integer arithmetic (quantize -> md5-seeded -> 2 full
      // assignment/update rounds) — the WHOLE iteration is recomputed by
      // the DuckDB oracle, not just a fixed-seed assignment
      val (assigned, _) = Similarity.kmeansFitPortable(
        tbl(s, dir, "embeddings"), k = 4, iters = 2)
      assigned.orderBy("vec_id")
    }),
    "q_embed_kmeans_large" -> ((s, dir) => {  // the LARGE-k assignment
      // (kmeansPredict: one codegen argmin projection whose plan size is
      // independent of k) — bit-identical to the literal-codegen path by
      // construction: shares q_embed_kmeans's oracle VERBATIM
      val e = tbl(s, dir, "embeddings")
      val (_, cents) = Similarity.kmeansFitPortable(e, k = 4, iters = 2)
      Similarity.kmeansPredict(e, cents).orderBy("vec_id")
    }),
    "q_embed_kmeans_predict" -> ((s, dir) => {  // fit-once / apply-many:
      // fit on the 1/3 sample, round-trip the centroids through the
      // stored model sidecar, predict EVERY row — one codegen argmin
      // projection, no join, no shuffle
      val e = tbl(s, dir, "embeddings")
      val (_, cents) = Similarity.kmeansFitPortable(
        e.where(col("vec_id") % 3 === 0), k = 4, iters = 2)
      val mdir = java.nio.file.Files
        .createTempDirectory("graft_kmmodel_").toString
      Similarity.writeKmeansModel(s, mdir, cents)
      Similarity.kmeansPredict(e, Similarity.readKmeansModel(s, mdir))
        .orderBy("vec_id")
    }),
    "q_knn_classify" -> ((s, dir) =>        // exact kNN majority-label vote
      // for 20 probe rows (label-noise QA; probes broadcast by contract)
      Similarity.knnClassify(tbl(s, dir, "embeddings"), k = 10,
          probePred = col("vec_id") < 20)
        .orderBy("vec_id")),
    "q_knn_classify_ann" -> ((s, dir) =>    // banded-ANN twin: neighbors
      // from the axis-sig equi-join (q_embed_ann_join's exact candidates),
      // then the same majority vote
      Similarity.knnClassifyAnn(tbl(s, dir, "embeddings"), k = 5,
          nTables = 8, bits = 8, probePred = col("vec_id") < 20,
          maxBucket = 0)
        .orderBy("vec_id")),
    "q_cluster_purity" -> ((s, dir) =>      // per-cluster majority stored
      // label + counts over the k=4 portable clustering
      Similarity.clusterLabelPurity(tbl(s, dir, "embeddings"), k = 4,
          iters = 2)
        .orderBy("cluster")),
    "q_embed_semantic_dedup" -> ((s, dir) =>  // SemDeDup: cluster (k=8) then
      // drop rows with a smaller-id co-cluster member within quantized
      // L2^2 1.4e6 (~cos 0.3 on unit vectors) — pairs never cross
      // clusters; the oracle replays clustering AND the pair pass
      Similarity.semanticDedup(tbl(s, dir, "embeddings"), k = 8, iters = 2,
          d2Max = 1400000L)
        .orderBy("vec_id")),
    "q_embed_coreset" -> ((s, dir) =>       // cluster-balanced coreset:
      // the 25 most-central vectors per k-means cluster
      Similarity.clusterCoreset(tbl(s, dir, "embeddings"), k = 4, iters = 2,
          m = 25)
        .orderBy("cluster", "rnk")),
    "q_embed_neardup" -> ((s, dir) =>       // rows-only (random hyperplanes not
      // SQL-able; the oracle-checked banded variant is q_embed_ann_join).
      // threshold sized to the testdata: its embeddings have no true
      // near-dups (max pairwise cos ~0.47), so 0.4 yields a non-empty set
      Dedup.embeddingNearDup(tbl(s, dir, "embeddings"), cosThreshold = 0.4,
          nTables = 6, bitsPerTable = 10)
        .select("a_id", "b_id").orderBy("a_id", "b_id")),
    "q_embed_ivf" -> ((s, dir) => {         // rows-only (centroids not SQL-able)
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val (assigned, centroids) = Similarity.ivfBuild(e, nLists = 16, iters = 2)
      Similarity.ivfTopK(assigned, centroids, q, 10, nprobe = 4)
        .select(col("vec_id"))
    }),
    // ---- raster / multimodal (rows-only: testdata has no image bytes) -----------
    "q_raster_decode" -> ((s, dir) => {
      val imgs = Fixtures.images(s, 500, withBytes = true).toDF()
      Raster.decodeStats(imgs).toDF()
        .agg(count(lit(1)).as("n"), sum(when(col("ok"), 1).otherwise(0)).as("n_ok"))
    }),
    "q_frame_sample" -> ((s, dir) => {      // rows-only (fixture-built videos)
      import s.implicits._
      val vids = (0 until 50).map { v =>
        (f"vid_$v%04d", Raster.muxFrames(
          (0 until 8).map(i => Fixtures.makePng(v * 100L + i, Fixtures.DefaultSeed, 16, 16))))
      }.toDF("video_id", "bytes")
      Raster.sampleFrames(vids, everyK = 2).toDF()
        .groupBy("video_id").agg(count(lit(1)).as("n_frames"),
          sum(when(col("w") === 16 && col("h") === 16, 1).otherwise(0)).as("n_ok"))
        .orderBy("video_id")
    }),
    "q_image_extract" -> ((s, dir) => {     // rows-only flagship pipeline
      entry(s)
    }),
    "q_image_neardup" -> ((s, dir) =>       // rows-only (pHash of image bytes
      // is not SQL-able — sibling justification like q_raster_decode);
      // deterministic planted pairs, see imageNearDupFixture
      Raster.imageNearDup(imageNearDupFixture(s), maxHamming = 6)
        .select("a_id", "b_id").orderBy("a_id", "b_id")),
    "q_image_dedup_corpus" -> ((s, dir) => {  // rows-only composite (image
      // bytes not SQL-able; oracle-checked sibling of the same clustering
      // shape = q_dedup_corpus): pHash near-dup pairs -> connected
      // components -> canonical survivors only. The 30 planted re-encodes
      // cluster with their sources, so exactly the 120 base images (plus
      // any re-encode whose id sorts below its source — none do) survive.
      val pairs = Raster.imageNearDup(imageNearDupFixture(s), maxHamming = 6)
      // corpus side = ids only, built WITHOUT the image bytes: a select on
      // the mapPartitions fixture cannot prune the ~25M-cos-ops-per-image
      // synthesis, and the ids are a pure function of the range
      val ids = s.range(150).select(
        when(col("id") < 120, format_string("img_%04d", col("id")))
          .otherwise(format_string("re_%04d", col("id") - 120)).as("image_id"))
      Dedup.dropClusterDuplicates(ids, pairs, idCol = "image_id")
        .orderBy("image_id")
    }),
    // ---- PBF round trip (S1/S5 end-to-end: encode -> splittable decode) --------
    "q_pbf_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val nodesRaw = eventPoints(s, dir)
        .select((col("event_id") + 1).as("id"), col("lon"), col("lat"))
      val emptyTags = typedLit(Map.empty[String, String])
      val nodesT = nodesRaw.withColumn("tags", emptyTags).as[Fixtures.NodeRow]
      val waysT = nodesRaw.where(pmod(col("id"), lit(5)) === 0)
        .select((col("id") / 5).cast("long").as("id"),
                sequence(col("id") - 4, col("id")).as("refs"),
                emptyTags.as("tags")).as[Fixtures.WayRow]
      val relsT = nodesRaw.where(pmod(col("id"), lit(7)) === 0)
        .select((col("id") / 7).cast("long").as("id"),
          array(
            struct(lit("outer").as("role"), lit(0).cast("byte").as("mtype"),
                   (col("id") - 6).as("ref")),
            struct(lit("inner").as("role"), lit(0).cast("byte").as("mtype"),
                   (col("id") - 3).as("ref"))).as("members"),
          emptyTags.as("tags")).as[Fixtures.RelationRow]
      val tmp = java.nio.file.Files.createTempDirectory("graft_pbf_gate_")
      graft.sources.PbfSource.writePlanet(
        nodesT.repartition(8), waysT.repartition(4), relsT.repartition(2),
        tmp.toString)
      // concatenate the kind-ordered parts into ONE file and read it back
      // through the splittable path (frame index + range-partitioned decode)
      val one = tmp.resolve("planet_concat.osm")
      val os = java.nio.file.Files.newOutputStream(one)
      try new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".pbf")).sortBy(_.getName)
        .foreach(p => os.write(java.nio.file.Files.readAllBytes(p.toPath)))
      finally os.close()
      val split = graft.sources.PbfSource.readPlanetSplit(s, one.toString,
        parallelism = 8)
      // order-insensitive content digests the oracle recomputes from the
      // same derived-planet SQL (md5 -> 15-hex-digit int -> modular sum;
      // coords via ROUND(x*100): source values have 2 decimals, PBF
      // round-trip error is ~1e-7 deg, so both engines round identically)
      def dig(sCol: Column) = sum(pmod(
        conv(substring(md5(sCol), 1, 15), 16, 10).cast("long"),
        lit(1000000007L))).as("digest")
      val nd = split.nodes.select(concat_ws(",", col("id"),
        round(col("lon") * 100).cast("long"),
        round(col("lat") * 100).cast("long")).as("s"))
        .agg(count(lit(1)).as("n"), dig(col("s")))
        .select(lit("node").as("kind"), col("n"), col("digest"))
      val wd = split.ways.select(concat_ws(":", col("id"),
        concat_ws("-", transform(col("refs"), x => x.cast("string")))).as("s"))
        .agg(count(lit(1)).as("n"), dig(col("s")))
        .select(lit("way").as("kind"), col("n"), col("digest"))
      val rd = split.relations.select(concat_ws(":", col("id"),
        concat_ws(";", transform(col("members"), m => concat_ws(",",
          m.getField("role"), m.getField("mtype").cast("string"),
          m.getField("ref"))))).as("s"))
        .agg(count(lit(1)).as("n"), dig(col("s")))
        .select(lit("relation").as("kind"), col("n"), col("digest"))
      // evaluate EAGERLY (3 rows), then release the decoded cache and the
      // temp planet copy — a lazy result would pin both until the driver
      // happens to consume it
      val rows = nd.unionByName(wd).unionByName(rd).orderBy("kind").collect()
        .map(r0 => (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSeq
      split.unpersist()
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          new java.io.File(p.toString).listFiles().foreach(f => rm(f.toPath))
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(tmp)
      rows.toDF("kind", "n", "digest")
    }),
    "q_planet_extract_strict" -> ((s, dir) => {  // strict compat mode over a
      // planet WITH dangling way refs: the reference's zero-page quirk —
      // phantom nodes emitted at cell 0 for refs no node carries
      val t = derivedPlanet(s, dir, danglingRefs = true)
      PlanetExtract.bbox(t, qBox, strictCompat = true)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    "q_planet_extract_b1" -> ((s, dir) => { // J6 strict B1: relations whose
      // FIRST member is a way anchor at nodes[cumulative-ref-offset] — the
      // reference treats the way's node_ref_offset as a node id
      // (vex.c:311-313). Derived ways all carry 5 refs, so offset(w) =
      // 5*(w-1): the quirk is deterministic and SQL-replicable (w=1 =>
      // node 0 => absent => cell 0).
      val nodesRaw = eventPoints(s, dir)
        .select((col("event_id") + 1).as("id"), col("lon"), col("lat"))
      val waysRaw = nodesRaw.where(pmod(col("id"), lit(5)) === 0)
        .select((col("id") / 5).cast("long").as("id"),
                sequence(col("id") - 4, col("id")).as("refs"))
      val nw = nodesRaw.agg(max("id")).collect()(0).getLong(0) / 5
      val relsRaw = nodesRaw.where(pmod(col("id"), lit(7)) === 0)
        .select((col("id") / 7).cast("long").as("id"),
          array(
            struct(lit("outer").as("role"), lit(1).cast("byte").as("mtype"),
                   (pmod((col("id") / 7).cast("long") * 13, lit(nw)) + 1).as("ref")),
            struct(lit("inner").as("role"), lit(0).cast("byte").as("mtype"),
                   (col("id") - 3).as("ref"))).as("members"))
      val t = PlanetExtract.ingest(nodesRaw, waysRaw, relsRaw, strictB1 = true)
      PlanetExtract.bbox(t, qBox)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    "q_relation_closure" -> ((s, dir) => { // Q3 fix: one-level member closure —
      // selected relations' node members are fetched and unioned in
      val t = derivedPlanet(s, dir)
      PlanetExtract.bboxWithRelationClosure(t, qBox)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"))
        .orderBy("kind", "id")
    }),
    // ---- golden emission order (O1: the reference's exact output sequence) -----
    "q_golden_order" -> ((s, dir) => {
      val t = derivedPlanet(s, dir)
      PlanetExtract.bboxOrdered(t, qBox)
        .select(col("kind"), col("id"), col("cell").cast("long").as("cell"),
                col("emit_seq").cast("long").as("emit_seq"))
        .orderBy("emit_seq")
    }),
    "q_embed_ivf_portable" -> ((s, dir) => { // IVF probe, oracle-checked: the
      // portable build (md5-ordered init centroids, no Lloyd step) makes
      // the whole index+probe SQL-replicable; the Lloyd-iterated fast path
      // is the rows-only q_embed_ivf
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val (assigned, centroids) = Similarity.ivfBuildPortable(e, nLists = 16)
      Similarity.ivfTopK(assigned, centroids, q, 10, nprobe = 4)
        .select(col("vec_id"))
    }),
    // ---- temporal joins ----------------------------------------------------------
    "q_asof_join" -> ((s, dir) => {         // backward as-of join (union-
      // timeline window formulation, ONE shuffle on the key): each probe
      // event picks the latest build event at-or-before it per user;
      // m_build_tol additionally gates the match at 1-day tolerance (a
      // second tolerance-gated call, joined back on the unique probe id)
      val (p, b) = temporalStreams(s, dir)
      val base = Temporal.asofJoin(p, b, Seq("k"), "t", "build_id", Seq("cents"))
      val tol = Temporal.asofJoin(p, b, Seq("k"), "t", "build_id",
          tolerance = Some(86400000000L))
        .select(col("probe_id"), col("m_build_id").as("m_build_tol"))
      base.join(tol, Seq("probe_id"))
        .select("probe_id", "k", "t", "m_build_id", "m_t", "m_cents", "m_build_tol")
        .orderBy("probe_id")
    }),
    "q_asof_join_bucketed" -> ((s, dir) => { // the SKEW-SAFE as-of variant
      // (reducer load bounded by time-bucket population, never by key
      // population) — decision-identical to q_asof_join by contract, so it
      // shares that gate's oracle VERBATIM (the q_dedup_incremental_idx
      // pattern). 6-hour buckets << the per-user build spacing at sf0.01,
      // so the carry-in path does the bulk of the matching. m_build_tol
      // derives from the base match for free (tolerance gating == a match
      // recency test); the tolerance PARAMETER is spec-covered and
      // exercised by q_asof_join
      val (p, b) = temporalStreams(s, dir)
      Temporal.asofJoinBucketed(p, b, Seq("k"), "t", "probe_id",
          "build_id", Seq("cents"), bucketWidth = 21600000000L)
        .withColumn("m_build_tol",
          when(col("t") - col("m_t") <= 86400000000L, col("m_build_id")))
        .select("probe_id", "k", "t", "m_build_id", "m_t", "m_cents", "m_build_tol")
        .orderBy("probe_id")
    }),
    "q_interval_join" -> ((s, dir) => {     // keyed interval (range) join:
      // build events open 1-7h windows; probe events join every containing
      // window of their user. 2h buckets + maxSpanBuckets=4 leave giants
      // GENUINELY rare (only 7h windows straddling five buckets, a few
      // percent — the guard's contract) while still landing both the
      // explode and the broadcast path in the one oracle-checked set
      val (p, b) = temporalStreams(s, dir)
      val iv = b.select(col("build_id").as("interval_id"), col("k"),
        col("t").as("s_t"),
        (col("t") + (pmod(col("build_id"), lit(7)) + 1) * lit(3600000000L)).as("e_t"))
      Temporal.intervalJoin(p, iv, Seq("k"), "t", "s_t", "e_t",
          bucketWidth = 7200000000L, maxSpanBuckets = 4)
        .select("probe_id", "interval_id", "k", "t", "s_t", "e_t")
        .orderBy("probe_id", "interval_id")
    }),
    "q_weighted_sample" -> ((s, dir) =>     // length-proportional document
      // sampling: P(keep) = min(1, n_chars/600), a pure hash of doc_id
      Sampling.weightedSample(tbl(s, dir, "documents"), "doc_id",
          col("n_chars"), num = 1L, den = 600L, salt = "w")
        .select("doc_id", "n_chars").orderBy("doc_id")),
    "q_distinct_sketch" -> ((s, dir) =>     // linear-counting state: per
      // source, filled md5 buckets (m=64) over the word stream — the
      // bounded-memory distinct-count sketch, exact integer gate
      Frequency.distinctFilled(
          tbl(s, dir, "documents").select(col("source"),
            explode(graft.operators.Dedup.wsWords(col("text"))).as("w")),
          Seq("source"), col("w"), m = 64, salt = "lc")
        .orderBy("source")),
    "q_grid_smooth" -> ((s, dir) =>         // 3x3 box-kernel density over
      // the 1-degree grid: binning agg over points + offset explode over
      // the COUNTS table + cell-keyed join — never a spatial window
      SpatialJoin.gridSmooth(eventPoints(s, dir), col("lon"), col("lat"),
          radius = 1)
        .orderBy("ix", "iy")),
    "q_vocab_overlap" -> ((s, dir) =>       // exact 3-gram vocabulary
      // overlap between source pairs (postings self-join on the shingle,
      // pair rows bounded by the GROUP count) — contamination diagnostics
      TextOps.groupVocabOverlap(tbl(s, dir, "documents"), col("source"),
          nGram = 3)
        .orderBy("a_g", "b_g")),
    "q_cohort_retention" -> ((s, dir) => {  // weekly retention triangle:
      // cohort = bucket of the user's FIRST event; rows count distinct
      // users active `age` buckets later — two user-keyed hash aggs +
      // one join, no window
      val ev = tbl(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
      Temporal.cohortRetention(ev, "user_id", col("t"), 604800000000L)
        .orderBy("cohort", "age")
    }),
    "q_funnel" -> ((s, dir) => {            // ordered 4-step funnel
      // (signup -> view -> click -> purchase), each step strictly after
      // the previous one's earliest completion and within 7 days of
      // step 1 — a chain of filtered per-user min aggregates
      val ev = tbl(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"), col("event_type"))
      Temporal.funnel(ev, "user_id", col("t"), col("event_type"),
          Seq("signup", "view", "click", "purchase"), 604800000000L)
        .orderBy("step")
    }),
    "q_sessionize" -> ((s, dir) => {        // gap-based sessionization: a
      // 1-day silence opens a new session, labeled by its first event's ts
      // (deterministic, no global numbering); classic lag-flag + running
      // last formulation, ONE key-partitioned window
      val (p, _) = temporalStreams(s, dir)
      Temporal.sessionize(p, Seq("k"), "t", "probe_id", 86400000000L)
        .select("probe_id", "k", "t", "session_start")
        .orderBy("probe_id")
    }),
    "q_sessionize_bucketed" -> ((s, dir) => { // the SKEW-SAFE variant
      // (within-bucket windows + two running maxima over the tiny distinct
      // (key, bucket) frame) — decision-identical by contract, shares
      // q_sessionize's oracle VERBATIM. 6-hour buckets < the gap, so
      // plenty of sessions span buckets and exercise both carries
      val (p, _) = temporalStreams(s, dir)
      Temporal.sessionizeBucketed(p, Seq("k"), "t", "probe_id", 86400000000L,
          bucketWidth = 21600000000L)
        .select("probe_id", "k", "t", "session_start")
        .orderBy("probe_id")
    }),
    "q_resample_locf" -> ((s, dir) => {     // time-series resample to a
      // daily grid + forward fill: per-(user, day) max, gap buckets filled
      // with the latest earlier value. ONE partial+final hash agg builds
      // the bucket maxima; the gap explode is bounded by each key's own
      // span; the LOCF window partitions by key
      val ev = tbl(s, dir, "events")
      Temporal.resampleLocf(
          ev.select(col("user_id").as("k"),
            unix_micros(col("ts").cast("timestamp")).as("t"),
            round(col("value") * 100).cast("long").as("cents")),
          Seq("k"), col("t"), col("cents"), 86400000000L)
        .select("k", "b", "v_ff").orderBy("k", "b")
    }),
    "q_merge_intervals" -> ((s, dir) => {   // interval-union coverage: the
      // q_interval_join window set collapsed to disjoint per-user spans;
      // (start, end, id) total order makes the running-max frame
      // deterministic on both engines
      val (_, b) = temporalStreams(s, dir)
      val iv = b.select(col("build_id"), col("k"), col("t").as("s_t"),
        (col("t") + (pmod(col("build_id"), lit(7)) + 1) * lit(3600000000L)).as("e_t"))
      Temporal.mergeIntervals(iv, Seq("k"), "s_t", "e_t", "build_id")
        .select("k", "span_start", "span_end", "n_intervals")
        .orderBy("k", "span_start")
    }),
    "q_merge_intervals_bucketed" -> ((s, dir) => { // the SKEW-SAFE twin:
      // per-(key, 2h-bucket) local merge, cross-bucket pass over the
      // local-span frame — decision-identical (spans are connected
      // components of the union, hierarchical merge cannot change them);
      // shares q_merge_intervals' oracle VERBATIM
      val (_, b) = temporalStreams(s, dir)
      val iv = b.select(col("build_id"), col("k"), col("t").as("s_t"),
        (col("t") + (pmod(col("build_id"), lit(7)) + 1) * lit(3600000000L)).as("e_t"))
      Temporal.mergeIntervalsBucketed(iv, Seq("k"), "s_t", "e_t",
          "build_id", bucketWidth = 7200000000L)
        .select("k", "span_start", "span_end", "n_intervals")
        .orderBy("k", "span_start")
    }),
    "q_percentile" -> ((s, dir) => {        // per-group exact percentile
      // WITHOUT sorting raw rows: histogram + strictly-below cumulative
      // over the distinct-value frame, joined back — the cross-language
      // quality-score normalization shape
      val ev = tbl(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      Frequency.percentileByGroup(ev, Seq("event_type"), "cents")
        .select("event_id", "event_type", "cents", "pct_bp")
        .orderBy("event_id")
    }),
    "q_jsonl_roundtrip" -> ((s, dir) => {   // JSONL interchange: parquet
      // -> jsonl (one object per line) -> schema-pinned FAILFAST read;
      // the oracle reads the ORIGINAL parquet, so the gate proves
      // round-trip identity of the export format training pipelines
      // exchange
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val out = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString + "/docs"
      graft.sources.JsonlTable.write(docs, out, parts = 4)
      graft.sources.JsonlTable.read(s, out, docs.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "q_profile" -> ((s, dir) => {           // data-quality census: row
      // total + per-column non-null and EXACT distinct counts in ONE
      // aggregate (expand + partial agg — no per-column scans)
      Profile.profile(tbl(s, dir, "events"),
          Seq("event_id", "user_id", "event_type", "props"))
        .orderBy("col_name")
    }),
    "q_multimodal_dedup" -> ((s, dir) => {  // CROSS-MODAL dedup: one
      // component pass over the UNION of text near-dup edges (portable
      // minhash) and embedding ANN edges (axis-sign banded top-5) —
      // entities share the id space across modalities, so a text-dup of
      // an embedding-dup drops even when neither modality alone connects
      // them; survivors = component minima + untouched docs
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 1000)
      val textPairs = Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 4,
        bands = 4, threshold = 0.5, maxBucket = 0).select("a_id", "b_id")
      val embPairs = Similarity.axisKnnJoin(tbl(s, dir, "embeddings"), k = 5,
          nTables = 8, bits = 8, probePred = col("vec_id") < 20, maxBucket = 0)
        .select("a_id", "b_id")
      Dedup.dropClusterDuplicates(docs, textPairs.unionByName(embPairs))
        .select("doc_id").orderBy("doc_id")
    }),
    "q_rollup" -> ((s, dir) => {            // hierarchical subtotals in one
      // pass (ROLLUP grouping sets — partial-aggregated like any hash
      // agg); NULL group labels sentinel-coalesced because engines
      // disagree on NULL sort position
      val ev = tbl(s, dir, "events").select(col("event_type"),
        pmod(col("user_id"), lit(10)).as("ub"),
        round(col("value") * 100).cast("long").as("cents"))
      ev.rollup("event_type", "ub")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("ub"), lit(-1L)).as("ub"), col("n"), col("cents_sum"))
        .orderBy("event_type", "ub")
    }),
    "q_pivot" -> ((s, dir) => {             // wide per-type counts via
      // pivot with an EXPLICIT value list (no distinct-scan pre-pass);
      // absent combos coalesce to 0 on both sides
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = tbl(s, dir, "events").select(
        pmod(col("user_id"), lit(10)).as("ub"), col("event_type"))
      val wide = ev.groupBy("ub").pivot("event_type", types).count()
      wide.select(col("ub") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("ub")
    }),
    "q_props_extract" -> ((s, dir) => {     // semi-structured payload
      // extraction: JSON-path pull of props.k (codegen get_json_object)
      // aggregated per event type
      val ev = tbl(s, dir, "events").select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.groupBy("event_type")
        .agg(sum("k").as("k_sum"), max("k").as("k_max"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    "q_keyword_search" -> ((s, dir) => {    // stored inverted index +
      // bucket-pruned conjunctive search. NOTE the gate is self-contained
      // (index build + probe per invocation, the stored-gate convention),
      // so its bench time is dominated by the BUILD; the pruned-read
      // advantage is evidenced by PLANS.md (w_b PartitionFilters) and the
      // PostingsSpec assert, not this timing. "dup" is the corpus's rare
      // term, "scan" a common one, so the AND is genuinely selective
      val idxDir = java.nio.file.Files.createTempDirectory("graft_postings_").toString + "/idx"
      Postings.writePostingsIndex(tbl(s, dir, "documents"), idxDir, buckets = 32)
      Postings.searchAll(s, idxDir, Seq("scan", "dup")).orderBy("doc_id")
    }),
    "q_search_ranked" -> ((s, dir) => {     // PORTABLE ranked retrieval:
      // disjunctive top-k by integer reciprocal-df weighting — the score
      // is bit-identical across engines (no log, no doubles, integer sum),
      // so ranking AND scores are oracle-checked; same stored-index
      // convention (and the same pruned-probe plan shape) as
      // q_keyword_search
      val idxDir = java.nio.file.Files.createTempDirectory("graft_postings_").toString + "/idx"
      Postings.writePostingsIndex(tbl(s, dir, "documents"), idxDir, buckets = 32)
      Postings.searchRankedPortable(s, idxDir, Seq("scan", "dup"), k = 50,
          scale = 1000000000L)
        .orderBy(col("score").desc, col("doc_id"))
    }),
    "q_search_bm25" -> ((s, dir) => {       // rows-only (BM25's ln + double
      // accumulation are not cross-engine bit-portable; q_search_ranked is
      // the oracle-checked ranking sibling over the same index + probe
      // plumbing, and the spec proves BM25 against a Scala brute force)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_postings_").toString + "/idx"
      Postings.writePostingsIndex(tbl(s, dir, "documents"), idxDir, buckets = 32)
      Postings.searchBm25(s, idxDir, Seq("scan", "dup"), k = 20)
        .select(col("doc_id"))
    }),
    "q_group_quantiles" -> ((s, dir) => {   // EXACT per-group quantiles,
      // scale-safe: histogram + rank selection over the tiny distinct
      // (group, value) frame — never a per-group sort of raw rows;
      // quartiles+max of word counts per length band
      val docs = tbl(s, dir, "documents")
      val banded = docs.select(
        when(length(col("text")) < 200, "short")
          .when(length(col("text")) < 1000, "medium")
          .otherwise("long").as("band"),
        TextOps.tokenCountWs(col("text")).cast("long").as("v"))
      Frequency.groupQuantiles(banded, "band", "v",
          Seq(2500, 5000, 7500, 10000))
        .orderBy("band", "q_bp")
    }),
    "q_upsample" -> ((s, dir) => {          // deterministic fractional
      // upsampling (the over-1x half of data mixing): weights 1.0x /
      // 1.75x / 2.5x by doc_id residue; whole copies exact, the
      // fractional copy is pure md5-hash membership — one scan, no
      // shuffle, explode bounded by the weight
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      Sampling.upsample(docs, "doc_id",
          lit(10000L) + pmod(col("doc_id"), lit(3)) * 7500L, salt = "up")
        .orderBy("doc_id", "copy_n")
    }),
    "q_pagerank" -> ((s, dir) => {          // fixed-iteration INTEGER
      // PageRank (bit-identical across engines: truncating div, no
      // floats) over a deterministic event-derived digraph; 3 rounds,
      // one dst-keyed shuffle per round with map-side partial sums
      val ev = tbl(s, dir, "events").select(col("user_id"), col("event_id"))
      val dst = pmod(col("event_id") * 13 + 7, lit(150))
      val edges = ev.select(col("user_id").as("src"), dst.as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val nodes = ev.select(col("user_id").as("id")).distinct()
      Graph.pageRankInt(nodes, edges, iters = 3).orderBy("id")
    }),
    "q_heavy_words" -> ((s, dir) => {       // EXACT heavy hitters via the
      // bounded-shuffle two-pass: per-partition Misra-Gries candidates
      // (<= k keys ever leave an executor, any key cardinality), then an
      // exact recount of candidates only. Relative threshold 200bp (==
      // N/50+1, resolved against the sketch pass's own N — no pre-scan)
      // splits this corpus's bimodal vocabulary; k=64 satisfies the
      // completeness requirement at every sf
      Frequency.heavyWordsFrac(tbl(s, dir, "documents"), fracBp = 200, k = 64)
        .orderBy("word")
    }),
    "q_session_stats" -> ((s, dir) => {     // per-session rollup off the
      // sessionize labels: size + duration; partial-aggregated groupBy on
      // (key, session_start) — a giant session still combines map-side
      val (p, _) = temporalStreams(s, dir)
      Temporal.sessionize(p, Seq("k"), "t", "probe_id", 86400000000L)
        .groupBy("k", "session_start")
        .agg(count(lit(1)).as("n_events"),
          (max(col("t")) - min(col("t"))).as("dur_us"))
        .orderBy("k", "session_start")
    })
  )

  def oracleSql: Map[String, String] = {
    val rects = CellIndex.coverRects(qBox)
    def rectSqlOn(p: String) = rects.map { case ((x0, x1), (y0, y1)) =>
      s"(${p}xbin BETWEEN $x0 AND $x1 AND ${p}ybin BETWEEN $y0 AND $y1)"
    }.mkString(" OR ")
    val rectSql = rectSqlOn("")
    // axis-sign LSH signatures (q_embed_ann_*): pure sign tests, no float
    // arithmetic — bit-identical across engines by construction
    val annSigsSql = (0 until 8).map { t =>
      val sig = (0 until 8).map(j =>
        s"CASE WHEN embedding[${t * 8 + j + 1}] > 0 THEN ${1 << j} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, embedding, $t AS t, ($sig) AS sig FROM embeddings"
    }.mkString(" UNION ALL ")
    val annCandSql =
      s"""cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |         FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
         |         WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
         |scored AS (SELECT a_id, b_id,
         |           list_cosine_similarity(ea.embedding, eb.embedding) AS cos
         |           FROM cand JOIN embeddings ea ON ea.vec_id = cand.a_id
         |                     JOIN embeddings eb ON eb.vec_id = cand.b_id)""".stripMargin
    // product-quantization CTEs (q_embed_pq / q_embed_pq_adc): the portable
    // build recomputed from the embeddings table — seeds by md5(vec_id)
    // order, per-(vector, subspace, codeword) squared-L2 in DOUBLE with an
    // EXPLICIT left-associated ascending-dim term chain (list_sum's
    // accumulation order is not contractual; SQL `+` is left-assoc, exactly
    // Spark's reduce), argmin ties to the lowest code
    val pqTermSql = (0 until 8).map { j =>
      val t = s"(CAST(e.embedding[ss.s * 8 + $j + 1] AS DOUBLE) - " +
        s"CAST(sd.embedding[ss.s * 8 + $j + 1] AS DOUBLE))"
      s"($t * $t)"
    }.mkString(" + ")
    val pqCtes =
      s"""seeds AS (
         |  SELECT embedding, row_number() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
         |  FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |dists AS (
         |  SELECT e.vec_id, ss.s, sd.code, $pqTermSql AS d
         |  FROM embeddings e
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss
         |  CROSS JOIN seeds sd),
         |enc AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT vec_id, s, code,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
         |    FROM dists) WHERE rn = 1)""".stripMargin
    // portable-k-means CTEs (q_embed_kmeans / q_embed_semantic_dedup /
    // q_embed_coreset): the FULL iterated Lloyd pipeline recomputed from
    // the embeddings table — quantize (TRUNC spelled out: DuckDB's
    // double->BIGINT cast ROUNDS where Spark's truncates), md5-ordered
    // seeds, exact BIGINT squared-L2 argmin (first-min ties via
    // row_number (d2, cl)), truncating integer mean (`//` == Spark's Long
    // division on these all-positive values), empty clusters keeping the
    // previous centroid via LEFT JOIN COALESCE. Ends at `af`
    // (vec_id, cl, d2) = the final assignment. `fitWhere` restricts the
    // rows that SEED and ITERATE (the fit sample); the final assignment
    // always covers every row (fit-on-sample / predict-everything).
    def kmeansCtes(k: Int, iters: Int, fitWhere: String = "TRUE"): String = {
      def round(i: Int, prev: String): String =
        s"""d$i AS (SELECT qd.vec_id, c.cl,
           |  CAST(sum((qd.v - c.v) * (qd.v - c.v)) AS BIGINT) AS d2
           |  FROM qd JOIN $prev c ON qd.d = c.d GROUP BY 1, 2),
           |a$i AS (SELECT vec_id, cl FROM (
           |  SELECT vec_id, cl, row_number() OVER
           |    (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM d$i)
           |  WHERE rn = 1),
           |n$i AS (SELECT a.cl, qd.d,
           |  CAST(sum(qd.v) AS BIGINT) // count(*) AS v
           |  FROM a$i a JOIN qd ON a.vec_id = qd.vec_id GROUP BY 1, 2),
           |c$i AS (SELECT c.cl, c.d, COALESCE(n.v, c.v) AS v
           |  FROM $prev c LEFT JOIN n$i n ON n.cl = c.cl AND n.d = c.d)"""
          .stripMargin
      // iters = 0: no round CTEs at all (afd reads c0 directly) — an
      // empty segment must not leave a dangling comma
      val rounds =
        if (iters == 0) ""
        else (1 to iters).map(i => round(i, s"c${i - 1}"))
          .mkString("", ",\n", ",")
      s"""qall AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(TRUNC(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) + 2000)
         |    AS qv FROM embeddings),
         |q AS (SELECT * FROM qall WHERE $fitWhere),
         |qdall AS (SELECT vec_id, d, qv[d] AS v FROM
         |  (SELECT vec_id, qv, unnest(generate_series(1, 64)) AS d
         |   FROM qall)),
         |qd AS (SELECT qdall.* FROM qdall JOIN q USING (vec_id)),
         |sord AS (SELECT vec_id FROM q
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
         |seeds AS (SELECT row_number() OVER
         |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl,
         |    vec_id FROM sord),
         |c0 AS (SELECT s.cl, qd.d, qd.v
         |  FROM seeds s JOIN qd ON qd.vec_id = s.vec_id),
         |$rounds
         |afd AS (SELECT qdall.vec_id, c.cl,
         |  CAST(sum((qdall.v - c.v) * (qdall.v - c.v)) AS BIGINT) AS d2
         |  FROM qdall JOIN c$iters c ON qdall.d = c.d GROUP BY 1, 2),
         |af AS (SELECT vec_id, cl, d2 FROM (
         |  SELECT vec_id, cl, d2, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM afd)
         |  WHERE rn = 1)""".stripMargin
    }
    // morton ranges at res 9 are equivalent to the res-9 bin rectangle
    val xb9 = "CAST(TRUNC(lon * 2147483647.0 / 180.0) AS BIGINT) // 8388608"
    val yb9 = "CAST(TRUNC(lat * 2147483647.0 / 90.0) AS BIGINT) // 8388608"
    val r9 = (v: Double, isLon: Boolean) =>
      (if (isLon) CellIndex.toX(v) else CellIndex.toY(v)) >>> 23
    // triangle CCW cross-product strict-inside test (generic points only)
    val Array(x1, y1, x2, y2, x3, y3) = tri
    val triSql =
      s"""((($x2-$x1)*(lat-$y1) - (($y2-$y1))*(lon-$x1)) > 0 AND
         | (($x3-$x2)*(lat-$y2) - (($y3-$y2))*(lon-$x2)) > 0 AND
         | (($x1-$x3)*(lat-$y3) - (($y1-$y3))*(lon-$x3)) > 0)""".stripMargin
    val distSql = (qlon: Double, qlat: Double) =>
      s"SQRT(POW((((lon - $qlon + 540.0) % 360.0) - 180.0) * " +
        s"COS(RADIANS(($qlat + lat) / 2)), 2) + " +
        s"POW(lat - $qlat, 2)) * 111319.49079327358"
    val knnUnion = knnQs.map(q =>
      s"SELECT ${q.qid} AS qid, event_id AS id, ${distSql(q.lon, q.lat)} AS dist FROM pts")
      .mkString(" UNION ALL ")
    val langs = Seq("de", "en", "es", "fr", "it")
    val stopLists = Map(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"),
      "fr" -> Seq("le", "la", "les", "et", "des", "est", "que", "dans", "pour", "une"),
      "es" -> Seq("el", "la", "los", "que", "de", "y", "en", "es", "por", "una"),
      "it" -> Seq("il", "la", "che", "di", "e", "un", "per", "non", "sono", "con"))
    val scoreSql = langs.map { l =>
      val arr = stopLists(l).map(w => s"'$w'").mkString(", ")
      s"len(list_intersect(words, [$arr])) AS s_$l"
    }.mkString(", ")
    val bestSql = "GREATEST(s_de, s_en, s_es, s_fr, s_it)"
    val caseSql = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    // shared quality-score pieces (q_quality and the composed pipeline)
    def qualityCte(src: String) =
      s"""qparts AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
         |    CASE WHEN len(list_filter(string_split(text, ' '), t -> length(t) > 0)) > 0
         |      THEN CAST(length(text) - len(list_filter(string_split(text, ' '), t -> length(t) > 0)) + 1 AS DOUBLE)
         |           / len(list_filter(string_split(text, ' '), t -> length(t) > 0))
         |      ELSE 0.0 END AS mean_word_len,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / GREATEST(length(text), 1) AS alpha_ratio,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |      / GREATEST(length(text), 1) AS punct_ratio,
         |    CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS DOUBLE)
         |      / GREATEST(len(list_filter(string_split(text, ' '), t -> length(t) > 0)), 1) AS distinct_ratio
         |  FROM $src)""".stripMargin
    val qualityPtsSql =
      """(CASE WHEN n_words BETWEEN 10 AND 10000 THEN 3000 ELSE 0 END +
        |   CASE WHEN mean_word_len BETWEEN 2.5 AND 12.0 THEN 2000 ELSE 0 END +
        |   CASE WHEN alpha_ratio > 0.6 THEN 2000 ELSE 0 END +
        |   CASE WHEN punct_ratio < 0.2 THEN 1000 ELSE 0 END +
        |   CAST(TRUNC(distinct_ratio * 2000) AS BIGINT))""".stripMargin
    // shared CTE chain of the portable MinHash-LSH pipeline on the bounded
    // 1000-doc slice (q_minhash_pairs and the q_dedup_clusters closure)
    val minhashPairCtes =
      """d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
        |  t -> length(t) > 0) AS w FROM d),
        |sh AS (SELECT doc_id, list_distinct(list_filter(list_transform(
        |  range(1, greatest(len(w) - 2, 1) + 1),
        |  i -> array_to_string(w[i:i+2], ' ')), s -> length(s) > 0)) AS shs FROM ws),
        |sigs AS (SELECT doc_id, shs,
        |  list_min(list_transform(shs, s -> md5(s || '#0'))) AS sig0,
        |  list_min(list_transform(shs, s -> md5(s || '#1'))) AS sig1,
        |  list_min(list_transform(shs, s -> md5(s || '#2'))) AS sig2,
        |  list_min(list_transform(shs, s -> md5(s || '#3'))) AS sig3 FROM sh),
        |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.shs AS sa, b.shs AS sb
        |         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |           AND (a.sig0 = b.sig0 OR a.sig1 = b.sig1 OR
        |                a.sig2 = b.sig2 OR a.sig3 = b.sig3)),
        |scored AS (SELECT a_id, b_id, len(list_intersect(sa, sb)) AS inter,
        |           len(sa) AS na, len(sb) AS nb FROM cand)""".stripMargin
    // shared postings/vertices CTEs for the routable-graph gates (the SQL
    // twin of routableWays: A = 5-node runs, B = [id-20,id-10,id] crossers)
    val routablePostsSql =
      s"""WITH pts AS ($eventPointsSql),
         |nodes AS (SELECT event_id + 1 AS id FROM pts),
         |aw AS (SELECT id // 5 AS wid, id AS last_id FROM nodes WHERE id % 5 = 0),
         |ap AS (SELECT wid, p AS pos, last_id - 4 + p AS node_id, 5 AS len
         |       FROM aw, (SELECT unnest(range(0, 5)) AS p)),
         |bw AS (SELECT (id - 23) // 25 + 1000000 AS wid, id AS anchor
         |       FROM nodes WHERE id % 25 = 23),
         |bp AS (SELECT wid, p AS pos, anchor - 20 + 10 * p AS node_id, 3 AS len
         |       FROM bw, (SELECT unnest(range(0, 3)) AS p)),
         |posts AS (SELECT * FROM ap UNION ALL SELECT * FROM bp),
         |verts AS (SELECT node_id, count(*) AS n_refs,
         |          CAST(max(CASE WHEN pos = 0 OR pos = len - 1 THEN 1 ELSE 0 END) AS BIGINT) AS is_endpoint
         |          FROM posts GROUP BY node_id)""".stripMargin

    val base = Map(
      "q_tile_assign" ->
        s"""WITH pts AS ($eventPointsSql),
           |bins AS (SELECT $xbinSql AS xbin, $ybinSql AS ybin FROM pts)
           |SELECT xbin * 16384 + ybin AS cell, count(*) AS n
           |FROM bins GROUP BY 1 ORDER BY n DESC, cell LIMIT 50""".stripMargin,
      "q_cell_occupancy" ->
        s"""WITH pts AS ($eventPointsSql),
           |bins AS (SELECT $xbinSql AS xbin, $ybinSql AS ybin FROM pts)
           |SELECT count(DISTINCT xbin * 16384 + ybin) AS used_cells,
           |       count(*) AS total_rows FROM bins""".stripMargin,
      "q_bbox_cell_granular" ->
        s"""WITH pts AS ($eventPointsSql),
           |bins AS (SELECT event_id, $xbinSql AS xbin, $ybinSql AS ybin FROM pts)
           |SELECT event_id FROM bins WHERE $rectSql ORDER BY event_id""".stripMargin,
      "q_bbox_exact" ->
        s"""WITH pts AS ($eventPointsSql)
           |SELECT event_id FROM pts
           |WHERE lon >= ${qBox.minLon} AND lon <= ${qBox.maxLon}
           |  AND lat >= ${qBox.minLat} AND lat <= ${qBox.maxLat}
           |ORDER BY event_id""".stripMargin,
      "q_bbox_morton_ranges" ->
        s"""WITH pts AS ($eventPointsSql),
           |bins AS (SELECT event_id, $xb9 AS xb9, $yb9 AS yb9 FROM pts)
           |SELECT event_id FROM bins
           |WHERE xb9 BETWEEN ${r9(qBox.minLon, true)} AND ${r9(qBox.maxLon, true)}
           |  AND yb9 BETWEEN ${r9(qBox.minLat, false)} AND ${r9(qBox.maxLat, false)}
           |ORDER BY event_id""".stripMargin,
      "q_tile_pyramid" -> {
        // Morton interleave in pure-integer SQL: bit i of each axis bin
        // lands at position 2i(+1) of the cell id
        def morton(xb: String, yb: String, res: Int) = (0 until res).map(i =>
          s"((($xb >> $i) & 1) << ${2 * i + 1}) + ((($yb >> $i) & 1) << ${2 * i})")
          .mkString(" + ")
        def bin(axis: String, res: Int) = {
          val base = if (axis == "x") "CAST(TRUNC(lon * 2147483647.0 / 180.0) AS BIGINT)"
                     else "CAST(TRUNC(lat * 2147483647.0 / 90.0) AS BIGINT)"
          s"$base // ${1L << (32 - res)}"
        }
        val cells = Seq(7, 8, 9).map(r =>
          s"(${morton(s"x$r", s"y$r", r)}) AS c$r").mkString(", ")
        val bins = Seq(7, 8, 9).flatMap(r =>
          Seq(s"${bin("x", r)} AS x$r", s"${bin("y", r)} AS y$r")).mkString(", ")
        s"""WITH pts AS ($eventPointsSql),
           |bins AS (SELECT $bins FROM pts),
           |cells AS (SELECT $cells FROM bins),
           |rolled AS (SELECT c7, c8, c9, count(*) AS n FROM cells
           |           GROUP BY ROLLUP (c7, c8, c9))
           |SELECT COALESCE(c7, -1) AS c7, COALESCE(c8, -1) AS c8,
           |       COALESCE(c9, -1) AS c9, n
           |FROM rolled ORDER BY c7, c8, c9""".stripMargin
      },
      "q_mercator_tiles" ->
        s"""WITH pts AS ($eventPointsSql),
           |tiles AS (SELECT
           |  CAST(LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 4096), 0), 4095) AS BIGINT) AS tile_z12_x,
           |  CAST(LEAST(GREATEST(FLOOR((1.0 - LN(TAN(RADIANS(LEAST(GREATEST(lat, -85.05112877980659), 85.05112877980659)))
           |    + 1.0 / COS(RADIANS(LEAST(GREATEST(lat, -85.05112877980659), 85.05112877980659)))) / PI()) / 2.0 * 4096), 0), 4095) AS BIGINT) AS tile_z12_y
           |  FROM pts)
           |SELECT tile_z12_x, tile_z12_y, count(*) AS n FROM tiles
           |GROUP BY 1, 2 ORDER BY n DESC, tile_z12_x, tile_z12_y LIMIT 100""".stripMargin,
      "q_polygon_extract" ->
        s"""WITH pts AS ($eventPointsSql)
           |SELECT event_id FROM pts WHERE $triSql ORDER BY event_id""".stripMargin,
      "q_knn" ->
        s"""WITH pts AS ($eventPointsSql),
           |scored AS ($knnUnion),
           |ranked AS (SELECT qid, id,
           |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
           |  FROM scored)
           |SELECT qid, id, rnk FROM ranked WHERE rnk <= 10
           |ORDER BY qid, rnk""".stripMargin,
      // table-driven kNN join: the oracle recomputes every (query, point)
      // distance exactly (the brute-force cross join the engine must match
      // without ever performing)
      "q_knn_join_table" ->
        s"""WITH pts AS ($eventPointsSql),
           |qs AS (SELECT event_id AS qid,
           |  (event_id * 53 % 16000) / 100.0 + 1.5 AS qlon,
           |  (event_id * 89 % 7500) / 100.0 + 1.5 AS qlat
           |  FROM events WHERE event_id % 499 = 7),
           |scored AS (SELECT q.qid, p.event_id AS id,
           |  SQRT(POW((((p.lon - q.qlon + 540.0) % 360.0) - 180.0) *
           |    COS(RADIANS((q.qlat + p.lat) / 2)), 2) +
           |    POW(p.lat - q.qlat, 2)) * 111319.49079327358 AS dist
           |  FROM qs q CROSS JOIN pts p),
           |ranked AS (SELECT qid, id,
           |  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
           |  FROM scored)
           |SELECT qid, id, rnk FROM ranked WHERE rnk <= 10
           |ORDER BY qid, rnk""".stripMargin,
      // rect-overlap join: the naive formulation — range-predicate join
      // (DuckDB IEJoin) over the same derived rect sets + closed-interval
      // intersection area
      "q_rect_join" ->
        """WITH l AS (SELECT event_id AS l_id,
          |  event_id % 1000 AS l_x1, (event_id // 1000) % 1000 AS l_y1,
          |  event_id % 1000 + event_id % 13 AS l_x2,
          |  (event_id // 1000) % 1000 + event_id % 17 AS l_y2
          |  FROM events WHERE event_id % 7 = 0),
          |r AS (SELECT event_id AS r_id,
          |  event_id % 1000 AS r_x1, (event_id // 1000) % 1000 AS r_y1,
          |  event_id % 1000 + event_id % 13 AS r_x2,
          |  (event_id // 1000) % 1000 + event_id % 17 AS r_y2
          |  FROM events WHERE event_id % 5 = 3)
          |SELECT l_id, r_id,
          |  CAST((least(l_x2, r_x2) - greatest(l_x1, r_x1) + 1) *
          |       (least(l_y2, r_y2) - greatest(l_y1, r_y1) + 1) AS BIGINT)
          |    AS ov_area
          |FROM l JOIN r ON l_x1 <= r_x2 AND r_x1 <= l_x2
          |             AND l_y1 <= r_y2 AND r_y1 <= l_y2
          |ORDER BY l_id, r_id""".stripMargin,
      // point-in-polygon set join: brute-force cross join + the strict
      // CCW sign test (triangles are CCW by construction: cross product
      // of the first two edges is (m7+3)*(m11+2) > 0). Fractional vertex
      // offsets are cast to DOUBLE so DuckDB's arithmetic follows the
      // same double rounding sequence as the engine (a bare 1.2003
      // literal would be exact DECIMAL and can differ in the last bit)
      "q_poly_join" ->
        s"""WITH pts AS ($eventPointsSql),
           |tri AS (SELECT event_id AS poly_id,
           |  (event_id % 140) + 1.2003::DOUBLE AS x1,
           |  ((event_id // 140) % 60) + 1.1007::DOUBLE AS y1,
           |  (event_id % 140) + 1.2003::DOUBLE + (event_id % 7) + 3 AS x2,
           |  ((event_id // 140) % 60) + 1.1007::DOUBLE AS y2,
           |  (event_id % 140) + 1.2003::DOUBLE + (event_id % 5) AS x3,
           |  ((event_id // 140) % 60) + 1.1007::DOUBLE + (event_id % 11) + 2 AS y3
           |  FROM events WHERE event_id % 199 = 11)
           |SELECT t.poly_id, p.event_id FROM tri t JOIN pts p ON
           |  ((t.x2 - t.x1) * (p.lat - t.y1) - (t.y2 - t.y1) * (p.lon - t.x1)) > 0 AND
           |  ((t.x3 - t.x2) * (p.lat - t.y2) - (t.y3 - t.y2) * (p.lon - t.x2)) > 0 AND
           |  ((t.x1 - t.x3) * (p.lat - t.y3) - (t.y1 - t.y3) * (p.lon - t.x3)) > 0
           |ORDER BY poly_id, event_id""".stripMargin,
      "q_spatial_join" -> {
        val band = 5000.0 / 111319.49079327358 * 1.001   // lat prefilter band
        s"""WITH pts AS ($eventPointsSql),
           |a AS (SELECT event_id AS a_id, lon AS alon, lat AS alat FROM pts
           |      WHERE event_id % 20 = 0),
           |b AS (SELECT event_id AS b_id, lon AS blon, lat AS blat FROM pts)
           |SELECT a_id, b_id FROM a JOIN b
           |  ON blat BETWEEN alat - $band AND alat + $band
           |WHERE SQRT(POW((((blon - alon + 540.0) % 360.0) - 180.0) *
           |  COS(RADIANS((alat + blat) / 2)), 2) + POW(blat - alat, 2))
           |  * 111319.49079327358 <= 5000.0
           |ORDER BY a_id, b_id""".stripMargin
      },
      "q_join_expand" ->
        """SELECT c_mktsegment, count(*) AS n,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q_semijoin" ->
        """SELECT l_returnflag, count(*) AS n FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_emit_once" ->
        """SELECT user_id, event_type, min(event_id) AS first_event
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin,
      "q_intersections" ->
        """SELECT l_partkey, count(DISTINCT l_orderkey) AS n_orders
          |FROM lineitem GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 2
          |ORDER BY l_partkey""".stripMargin,
      "q_agg_partial" ->
        """SELECT l_returnflag, l_linestatus,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
          |       count(*) AS n
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q_tag_stats" ->
        """WITH words AS (
          |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |SELECT w, count(*) AS n, (length(w) + 2) * count(*) AS weight
          |FROM words WHERE length(w) > 0
          |GROUP BY w ORDER BY weight DESC, w LIMIT 100""".stripMargin,
      "q_window_rank" ->
        """WITH ranked AS (
          |  SELECT l_suppkey, l_orderkey,
          |    row_number() OVER (PARTITION BY l_suppkey
          |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
          |  FROM lineitem)
          |SELECT l_suppkey, l_orderkey, rnk FROM ranked WHERE rnk <= 3
          |ORDER BY l_suppkey, rnk, l_orderkey""".stripMargin,
      "q_topk" ->
        """SELECT p_partkey, p_name FROM part
          |ORDER BY p_retailprice DESC, p_partkey LIMIT 100""".stripMargin,
      // grouped top-k: the oracle is the window-rank formulation the
      // engine deliberately avoids (bounded-heap aggregate instead);
      // (v DESC, event_id ASC) is a total order so the two agree exactly
      "q_topk_grouped" ->
        """WITH scored AS (SELECT user_id, event_id,
          |  event_id % 999983 AS v FROM events),
          |ranked AS (SELECT user_id, event_id, v,
          |  row_number() OVER (PARTITION BY user_id
          |    ORDER BY v DESC, event_id) AS rnk FROM scored)
          |SELECT user_id, event_id, v, rnk FROM ranked WHERE rnk <= 3
          |ORDER BY user_id, rnk""".stripMargin,
      "q_dedup_exact" ->
        """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dupes
          |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
      "q_token_count" ->
        """SELECT doc_id,
          |  len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tokens_ws,
          |  CAST(COALESCE(list_sum(list_transform(
          |      list_filter(string_split_regex(text, '[^A-Za-z]+'), t -> length(t) > 0),
          |      t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0)
          |    + len(list_filter(string_split_regex(text, '[^0-9]+'), t -> length(t) > 0))
          |    + length(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g')) AS BIGINT)
          |    AS tokens_bpe
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_quality" ->
        s"""WITH ${qualityCte("documents")}
           |SELECT doc_id, n_words, $qualityPtsSql AS quality_pts
           |FROM qparts ORDER BY doc_id""".stripMargin,
      "q_lang_id" ->
        s"""WITH toks AS (
           |  SELECT doc_id, list_distinct(list_filter(
           |    string_split_regex(lower(text), '[^a-z]+'), t -> length(t) > 0)) AS words
           |  FROM documents),
           |scored AS (SELECT doc_id, $scoreSql FROM toks),
           |best AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_it, $bestSql AS m FROM scored)
           |SELECT CASE WHEN m = 0 THEN 'und' $caseSql END AS lang_pred,
           |       count(*) AS n
           |FROM best GROUP BY 1 ORDER BY lang_pred""".stripMargin,
      "q_embed_knn_join" ->
        """WITH pairs AS (
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          |         list_cosine_similarity(a.embedding, b.embedding) AS cos
          |  FROM embeddings a, embeddings b
          |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
          |ranked AS (SELECT a_id, b_id,
          |  row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rnk
          |  FROM pairs)
          |SELECT a_id, b_id, rnk FROM ranked WHERE rnk <= 5
          |ORDER BY a_id, rnk""".stripMargin,
      "q_embed_topk" ->
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          |SELECT vec_id FROM embeddings, q
          |ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id
          |LIMIT 20""".stripMargin,
      "q_embed_axis_ann" -> {
        def sig(c: String, t: Int) = (0 until 8).map(j =>
          s"CASE WHEN $c[${t * 8 + j + 1}] > 0 THEN ${1 << j} ELSE 0 END")
          .mkString(" + ")
        val pred = (0 until 8).map(t =>
          s"((${sig("embedding", t)}) = (${sig("qv", t)}))").mkString(" OR ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id FROM embeddings, q
           |WHERE $pred
           |ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id
           |LIMIT 10""".stripMargin
      },
      "q_embed_ann_join" ->
        s"""WITH sigs AS ($annSigsSql),
           |$annCandSql,
           |ranked AS (SELECT a_id, b_id,
           |  row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rnk
           |  FROM scored)
           |SELECT a_id, b_id, rnk FROM ranked WHERE rnk <= 5
           |ORDER BY a_id, rnk""".stripMargin,
      // PQ codes: the full portable encode recomputed cross-engine
      "q_embed_pq" -> {
        val codeCols = (0 until 8).map(s =>
          s"CAST(max(CASE WHEN s = $s THEN code END) AS BIGINT) AS code_$s")
          .mkString(", ")
        s"""WITH $pqCtes
           |SELECT vec_id,
           |  $codeCols
           |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin
      },
      // PQ ADC ranking: the query's LUT entries ARE its dists rows; the
      // per-row distance is the left-associated sum of the 8 pivoted
      // entries (same accumulation order as the engine's reduce)
      "q_embed_pq_adc" -> {
        val pivots = (0 until 8).map(s =>
          s"max(CASE WHEN e.s = $s THEN qd.d END) AS d$s").mkString(", ")
        val sum = (1 until 8).foldLeft("d0")((acc, s) => s"($acc + d$s)")
        s"""WITH $pqCtes,
           |qd AS (SELECT s, code, d FROM dists WHERE vec_id = 0),
           |pv AS (SELECT e.vec_id,
           |  $pivots
           |  FROM enc e JOIN qd ON qd.s = e.s AND qd.code = e.code
           |  GROUP BY e.vec_id),
           |ranked AS (SELECT vec_id,
           |  row_number() OVER (ORDER BY $sum, vec_id) AS rnk FROM pv)
           |SELECT vec_id, rnk FROM ranked WHERE rnk <= 20
           |ORDER BY rnk""".stripMargin
      },
      // stored IVF+PQ probe: q_embed_ivf_portable's coarse-list math
      // (md5-ordered seed centroids, LIMIT 8; argmax-cosine assignment
      // ties to lowest cid; top-3 probe lists) composed with
      // q_embed_pq_adc's ADC pivot, candidates restricted to the probed
      // lists before ranking
      "q_embed_ivfpq" -> {
        val pivots = (0 until 8).map(s =>
          s"max(CASE WHEN e.s = $s THEN qd.d END) AS d$s").mkString(", ")
        val sum = (1 until 8).foldLeft("d0")((acc, s) => s"($acc + d$s)")
        s"""WITH $pqCtes,
           |iord AS (SELECT vec_id, embedding FROM embeddings
           |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
           |icents AS (SELECT row_number() OVER
           |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           |    embedding AS cv FROM iord),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |iscored AS (SELECT e.vec_id, c.cid,
           |    list_cosine_similarity(e.embedding, c.cv) AS cs
           |  FROM embeddings e CROSS JOIN icents c),
           |assign AS (SELECT vec_id, cid FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cs DESC, cid) AS rn FROM iscored) WHERE rn = 1),
           |probes AS (SELECT c.cid FROM icents c, q
           |  ORDER BY list_cosine_similarity(c.cv, qv) DESC, c.cid LIMIT 3),
           |qd AS (SELECT s, code, d FROM dists WHERE vec_id = 0),
           |pv AS (SELECT e.vec_id,
           |  $pivots
           |  FROM enc e JOIN qd ON qd.s = e.s AND qd.code = e.code
           |  WHERE e.vec_id IN (SELECT vec_id FROM assign
           |                     WHERE cid IN (SELECT cid FROM probes))
           |  GROUP BY e.vec_id),
           |ranked AS (SELECT vec_id,
           |  row_number() OVER (ORDER BY $sum, vec_id) AS rnk FROM pv)
           |SELECT vec_id, rnk FROM ranked WHERE rnk <= 20
           |ORDER BY rnk""".stripMargin
      },
      // exact kNN classification: per-probe cosine ranking (the
      // cross-engine ranking agreement the q_embed_* gates prove), then
      // majority label with vote ties to the lowest label
      "q_knn_classify" ->
        s"""WITH p AS (SELECT vec_id AS a_id, embedding AS ea
           |  FROM embeddings WHERE vec_id < 20),
           |tk AS (SELECT a_id, lb FROM (
           |  SELECT p.a_id, e.label AS lb, row_number() OVER
           |    (PARTITION BY p.a_id ORDER BY
           |      list_cosine_similarity(e.embedding, p.ea) DESC, e.vec_id)
           |    AS rnk
           |  FROM embeddings e, p WHERE e.vec_id <> p.a_id) WHERE rnk <= 10),
           |v AS (SELECT a_id, lb, count(*) AS n FROM tk GROUP BY 1, 2)
           |SELECT a_id AS vec_id, CAST(lb AS BIGINT) AS label_pred,
           |  n AS votes
           |FROM (SELECT a_id, lb, n, row_number() OVER
           |    (PARTITION BY a_id ORDER BY n DESC, lb) AS r FROM v)
           |WHERE r = 1 ORDER BY vec_id""".stripMargin,
      // banded-ANN classification: q_embed_ann_join's candidate CTEs
      // verbatim, then the same majority vote
      "q_knn_classify_ann" ->
        s"""WITH sigs AS ($annSigsSql),
           |$annCandSql,
           |tk AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
           |  row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id)
           |    AS rnk FROM scored) WHERE rnk <= 5),
           |v AS (SELECT tk.a_id, e.label AS lb, count(*) AS n
           |  FROM tk JOIN embeddings e ON e.vec_id = tk.b_id GROUP BY 1, 2)
           |SELECT a_id AS vec_id, CAST(lb AS BIGINT) AS label_pred,
           |  n AS votes
           |FROM (SELECT a_id, lb, n, row_number() OVER
           |    (PARTITION BY a_id ORDER BY n DESC, lb) AS r FROM v)
           |WHERE r = 1 ORDER BY vec_id""".stripMargin,
      // cluster label purity over the k=4 portable clustering
      "q_cluster_purity" ->
        s"""WITH ${kmeansCtes(k = 4, iters = 2)},
           |lv AS (SELECT af.cl, e.label, count(*) AS n
           |  FROM af JOIN embeddings e ON e.vec_id = af.vec_id GROUP BY 1, 2),
           |tot AS (SELECT cl, CAST(sum(n) AS BIGINT) AS n_rows
           |  FROM lv GROUP BY 1),
           |mj AS (SELECT cl, label, n FROM (
           |  SELECT cl, label, n, row_number() OVER
           |    (PARTITION BY cl ORDER BY n DESC, label) AS r FROM lv)
           |  WHERE r = 1)
           |SELECT mj.cl AS cluster, tot.n_rows,
           |  CAST(mj.label AS BIGINT) AS label_major, mj.n AS n_major
           |FROM mj JOIN tot ON tot.cl = mj.cl
           |ORDER BY cluster""".stripMargin,
      // portable k-means family: the shared kmeansCtes block ends at the
      // final assignment `af` (vec_id, cl, d2)
      "q_embed_kmeans" ->
        s"""WITH ${kmeansCtes(k = 4, iters = 2)}
           |SELECT vec_id, cl AS cluster, d2 FROM af
           |ORDER BY vec_id""".stripMargin,
      // the large-k assignment twin is bit-identical by construction:
      // same oracle VERBATIM
      "q_embed_kmeans_large" ->
        s"""WITH ${kmeansCtes(k = 4, iters = 2)}
           |SELECT vec_id, cl AS cluster, d2 FROM af
           |ORDER BY vec_id""".stripMargin,
      // fit on the 1/3 sample (fitWhere restricts seeding + iteration),
      // final assignment covers every row
      "q_embed_kmeans_predict" ->
        s"""WITH ${kmeansCtes(k = 4, iters = 2, fitWhere = "vec_id % 3 = 0")}
           |SELECT vec_id, cl AS cluster, d2 FROM af
           |ORDER BY vec_id""".stripMargin,
      // SemDeDup greedy min-id survivor over the k=8 clustering: pairs
      // only WITHIN a cluster (the engine's equi-join on cluster id),
      // clusters over the cap opted out via the HAVING filter, exact
      // BIGINT pair distances
      "q_embed_semantic_dedup" ->
        s"""WITH ${kmeansCtes(k = 8, iters = 2)},
           |sz AS (SELECT cl FROM af GROUP BY cl HAVING count(*) <= 100000),
           |el AS (SELECT af.vec_id, af.cl FROM af JOIN sz USING (cl)),
           |pd AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
           |    CAST(sum((qa.v - qb.v) * (qa.v - qb.v)) AS BIGINT) AS pd2
           |  FROM el x JOIN el y ON x.cl = y.cl AND x.vec_id < y.vec_id
           |  JOIN qd qa ON qa.vec_id = x.vec_id
           |  JOIN qd qb ON qb.vec_id = y.vec_id AND qb.d = qa.d
           |  GROUP BY 1, 2),
           |dr AS (SELECT DISTINCT b_id FROM pd WHERE pd2 <= 1400000)
           |SELECT af.vec_id, af.cl AS cluster,
           |  CAST(CASE WHEN dr.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
           |    AS kept
           |FROM af LEFT JOIN dr ON dr.b_id = af.vec_id
           |ORDER BY vec_id""".stripMargin,
      // cluster-balanced coreset: 25 most-central rows per cluster
      "q_embed_coreset" ->
        s"""WITH ${kmeansCtes(k = 4, iters = 2)},
           |r AS (SELECT vec_id, cl, d2, row_number() OVER
           |    (PARTITION BY cl ORDER BY d2, vec_id) AS rnk FROM af)
           |SELECT vec_id, cl AS cluster, d2, rnk FROM r WHERE rnk <= 25
           |ORDER BY cluster, rnk""".stripMargin,
      "q_embed_ann_recall" ->
        s"""WITH sigs AS ($annSigsSql),
           |$annCandSql,
           |ann AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
           |  row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rnk
           |  FROM scored) WHERE rnk <= 5),
           |exact AS (SELECT a_id, b_id FROM (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    row_number() OVER (PARTITION BY a.vec_id
           |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
           |               b.vec_id) AS rnk
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |  WHERE a.vec_id < 20) WHERE rnk <= 5),
           |hits AS (SELECT e.a_id, count(*) AS n_hit
           |         FROM exact e JOIN ann USING (a_id, b_id) GROUP BY 1)
           |SELECT p.vec_id AS a_id, COALESCE(h.n_hit, 0) AS n_hit
           |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) p
           |LEFT JOIN hits h ON h.a_id = p.vec_id ORDER BY a_id""".stripMargin,
      "q_simhash" -> {
        val votes = (0 until 60).map(i =>
          s"SUM(CASE WHEN (hv >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v_$i")
          .mkString(", ")
        val bits = (0 until 60).map(i =>
          s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(list_filter(
           |  string_split(text, ' '), w -> length(w) > 0))) AS w FROM documents),
           |h AS (SELECT doc_id,
           |  CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM toks),
           |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
           |FROM votes ORDER BY doc_id""".stripMargin
      },
      "q_minhash_sig" ->
        // empty-shingle filter + LEFT JOIN from documents: a zero-word doc
        // keeps its row with NULL sigs (min over all-NULL), exactly like
        // Spark's array_min over an empty filtered shingle array
        """WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM documents),
          |sh AS (SELECT doc_id, s FROM (SELECT doc_id, unnest(list_transform(
          |  range(1, greatest(len(w) - 2, 1) + 1),
          |  i -> array_to_string(w[i:i+2], ' '))) AS s FROM ws)
          |  WHERE length(s) > 0)
          |SELECT d.doc_id,
          |  min(md5(s || '#0')) AS sig_0, min(md5(s || '#1')) AS sig_1,
          |  min(md5(s || '#2')) AS sig_2, min(md5(s || '#3')) AS sig_3
          |FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
      "q_minhash_pairs" ->
        s"""WITH $minhashPairCtes
           |SELECT a_id, b_id, inter / (na + nb - inter) AS jaccard
           |FROM scored WHERE inter / (na + nb - inter) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,
      // end-to-end dedup: survivors = docs whose component label is
      // themselves (or who have no near-dup pair at all)
      "q_dedup_corpus" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
           |ORDER BY doc_id""".stripMargin,
      // incremental dedup: closure over ALL pairs on the slice; a batch
      // doc (>= 500) survives iff its component has no corpus member
      // (corpus ids < 500 sort below every batch id, so "component label
      // < 500" IS corpus membership here) and it is its batch-only
      // component's minimum (or unpaired). Corpus-corpus edges present in
      // this closure but excluded by the engine cannot flip any batch
      // doc's fate: every path from a batch doc to the corpus already
      // crosses an engine-kept edge.
      "q_dedup_incremental" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
           |SELECT doc_id FROM d WHERE doc_id >= 500
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE label < 500)
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE label >= 500 AND id <> label)
           |ORDER BY doc_id""".stripMargin,
      // the stored-index variant is DECISION-IDENTICAL by contract: same
      // closure, same survivors — one oracle proves both paths agree
      "q_dedup_incremental_idx" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
           |SELECT doc_id FROM d WHERE doc_id >= 500
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE label < 500)
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE label >= 500 AND id <> label)
           |ORDER BY doc_id""".stripMargin,
      // deterministic stratified sample: md5-threshold membership per
      // length-band stratum (rates short 0.1 / medium 0.5 / long 1.0)
      "q_sample_mix" ->
        """WITH st AS (SELECT doc_id,
          |  CASE WHEN length(text) < 200 THEN 'short'
          |       WHEN length(text) < 1000 THEN 'medium'
          |       ELSE 'long' END AS st FROM documents),
          |b AS (SELECT doc_id, st,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15)
          |    AS BIGINT) % 10000 AS bkt FROM st)
          |SELECT doc_id, st FROM b
          |WHERE bkt < (CASE st WHEN 'short' THEN 1000
          |             WHEN 'medium' THEN 5000 ELSE 10000 END)
          |ORDER BY doc_id""".stripMargin,
      // composed packing: budget selection (naive running sum) -> global
      // row_number over the SURVIVORS in the 'pack' shuffle order
      "q_pipeline_pack" ->
        """WITH b AS (SELECT doc_id, source, n_chars,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'budget'),
          |    1, 15) AS BIGINT) % 10000 AS bkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'budget') AS h,
          |  CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 1000000000
          |    WHEN 'src3' THEN 20000 END AS bud
          |  FROM documents),
          |c AS (SELECT *, SUM(n_chars) OVER (PARTITION BY source
          |    ORDER BY bkt, h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM b WHERE bud IS NOT NULL),
          |sel AS (SELECT doc_id, source FROM c WHERE cum <= bud),
          |p AS (SELECT doc_id, source,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack'),
          |    1, 15) AS BIGINT) % 10000 AS pbkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'pack') AS ph FROM sel),
          |r AS (SELECT doc_id, source, CAST(row_number()
          |    OVER (ORDER BY pbkt, ph, doc_id) AS BIGINT) AS rnk FROM p)
          |SELECT doc_id, source, rnk, (rnk - 1) // 50 AS shard
          |FROM r ORDER BY doc_id""".stripMargin,
      // shard assignment: the naive formulation — one global row_number
      // over the md5-shuffled order (the two-pass engine must match it)
      "q_shard_assign" ->
        """WITH b AS (SELECT doc_id,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sh'),
          |    1, 15) AS BIGINT) % 10000 AS bkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'sh') AS h FROM documents),
          |r AS (SELECT doc_id, CAST(row_number()
          |    OVER (ORDER BY bkt, h, doc_id) AS BIGINT) AS rnk FROM b)
          |SELECT doc_id, rnk, (rnk - 1) // 100 AS shard
          |FROM r ORDER BY doc_id""".stripMargin,
      // sequence packing: the naive formulation — ONE global running sum
      // over the md5-shuffled order; window ids by integer division
      "q_pack_sequences" ->
        """WITH b AS (SELECT doc_id, n_chars,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pk'),
          |    1, 15) AS BIGINT) % 10000 AS bkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'pk') AS h
          |  FROM documents WHERE n_chars > 0),
          |o AS (SELECT doc_id, n_chars, CAST(coalesce(SUM(n_chars)
          |    OVER (ORDER BY bkt, h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS tok_off FROM b)
          |SELECT doc_id, tok_off,
          |  tok_off // 2048 AS win_start,
          |  (tok_off + n_chars - 1) // 2048 AS win_end,
          |  tok_off % 2048 AS win_off,
          |  (tok_off + n_chars - 1) // 2048 - tok_off // 2048 + 1 AS n_wins
          |FROM o ORDER BY doc_id""".stripMargin,
      // negative pairs: the naive replay — one global row_number for the
      // rank ring, stride = md5(id,salt,j) mod (n-1) + 1, partner joined
      // by rank (both % operands non-negative, so % == pmod)
      "q_neg_pairs" ->
        """WITH b AS (SELECT doc_id,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'neg'),
          |    1, 15) AS BIGINT) % 10000 AS bkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'neg') AS h FROM documents),
          |r AS (SELECT doc_id, CAST(row_number()
          |    OVER (ORDER BY bkt, h, doc_id) AS BIGINT) AS rnk FROM b),
          |n AS (SELECT count(*) AS n FROM r),
          |a AS (SELECT doc_id, rnk, unnest(range(1, 4)) AS neg_idx FROM r),
          |s AS (SELECT a.doc_id, CAST(a.neg_idx AS BIGINT) AS neg_idx,
          |        (a.rnk - 1 + CAST('0x' || substr(md5(
          |           CAST(a.doc_id AS VARCHAR) || 'neg' || '#' ||
          |           CAST(a.neg_idx AS VARCHAR)), 1, 15) AS BIGINT)
          |           % (n.n - 1) + 1) % n.n + 1 AS pr
          |      FROM a, n)
          |SELECT s.doc_id, s.neg_idx, r2.doc_id AS neg_id
          |FROM s JOIN r r2 ON r2.rnk = s.pr
          |ORDER BY s.doc_id, s.neg_idx""".stripMargin,
      // budget-capped mixing: the naive formulation of the same selection
      // — global per-source running sum in hash order, keep while <= budget
      "q_budget_mix" ->
        """WITH b AS (SELECT doc_id, source, n_chars,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'budget'),
          |    1, 15) AS BIGINT) % 10000 AS bkt,
          |  md5(CAST(doc_id AS VARCHAR) || 'budget') AS h,
          |  CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 1000000000
          |    WHEN 'src2' THEN 0 END AS bud
          |  FROM documents),
          |c AS (SELECT *, SUM(n_chars) OVER (PARTITION BY source
          |    ORDER BY bkt, h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM b WHERE bud IS NOT NULL)
          |SELECT doc_id, source FROM c WHERE cum <= bud
          |ORDER BY doc_id""".stripMargin,
      // leakage-safe split: md5 membership of the component representative
      // (closure over the portable minhash pairs), not of the doc itself
      "q_split_leakage" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
           |rp AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep
           |       FROM d LEFT JOIN labels l ON l.id = d.doc_id)
           |SELECT doc_id, rep,
           |  CASE WHEN CAST('0x' || substr(md5(CAST(rep AS VARCHAR) || 'split'),
           |         1, 15) AS BIGINT) % 10000 < 2000
           |       THEN 'test' ELSE 'train' END AS split
           |FROM rp ORDER BY doc_id""".stripMargin,
      // duplicate passages: 8-word stride-1 windows in >= 2 docs
      "q_dup_passages" ->
        """WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM documents),
          |wins AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
          |  THEN list_transform(range(1, len(w) - 8 + 2),
          |       i -> array_to_string(w[i:i+7], ' '))
          |  ELSE [] END) AS p FROM ws),
          |g AS (SELECT p, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
          |      min(doc_id) AS min_doc FROM wins GROUP BY p)
          |SELECT md5(p) AS passage_md5, n_docs, n_occ, min_doc
          |FROM g WHERE n_docs >= 2 ORDER BY passage_md5""".stripMargin,
      // chunking: 16-word windows, step 12; DuckDB list slice l[a:b] is
      // 1-based INCLUSIVE and clamps past the end, matching Spark slice
      "q_chunk" ->
        """WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM documents),
          |nc AS (SELECT doc_id, w,
          |  CASE WHEN len(w) <= 16 THEN 1
          |       ELSE 1 + (len(w) - 16 + 11) // 12 END AS n FROM ws),
          |ch AS (SELECT doc_id, w, unnest(range(0, n)) AS chunk_id FROM nc),
          |sl AS (SELECT doc_id, chunk_id,
          |  w[chunk_id * 12 + 1 : chunk_id * 12 + 16] AS c FROM ch)
          |SELECT doc_id, chunk_id, md5(array_to_string(c, ' ')) AS chunk_md5,
          |       CAST(len(c) AS BIGINT) AS n_chunk_words
          |FROM sl ORDER BY doc_id, chunk_id""".stripMargin,
      // per-language corpus stats; median = rank (n+1)//2 by (n_words,
      // doc_id) — exact in both engines, no percentile interpolation
      "q_corpus_stats" ->
        s"""WITH toks AS (
           |  SELECT doc_id, text, list_distinct(list_filter(
           |    string_split_regex(lower(text), '[^a-z]+'), t -> length(t) > 0)) AS words
           |  FROM documents),
           |scored AS (SELECT doc_id, text, $scoreSql FROM toks),
           |best AS (SELECT doc_id, text, s_de, s_en, s_es, s_fr, s_it,
           |         $bestSql AS m FROM scored),
           |lang AS (SELECT doc_id,
           |  CASE WHEN m = 0 THEN 'und' $caseSql END AS lang_pred,
           |  CAST(len(list_filter(string_split(text, ' '),
           |    t -> length(t) > 0)) AS BIGINT) AS n_words FROM best),
           |r AS (SELECT lang_pred, doc_id, n_words,
           |  row_number() OVER (PARTITION BY lang_pred ORDER BY n_words, doc_id) AS rn,
           |  count(*) OVER (PARTITION BY lang_pred) AS cnt FROM lang)
           |SELECT lang_pred, count(*) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_words,
           |  CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN n_words END) AS BIGINT)
           |    AS median_words,
           |  CAST(max(n_words) AS BIGINT) AS max_words
           |FROM r GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
      // per-way bin bounds: min/max bins over each way's 5-node ref run,
      // recomputed with a generate_series join
      "q_way_bounds" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |ways AS (SELECT id // 5 AS wid, id AS last_id FROM nodes WHERE id % 5 = 0),
           |refs AS (SELECT wid, unnest(generate_series(last_id - 4, last_id)) AS ref
           |         FROM ways)
           |SELECT r.wid AS id,
           |  min(n.xbin) AS xbin_min, max(n.xbin) AS xbin_max,
           |  min(n.ybin) AS ybin_min, max(n.ybin) AS ybin_max
           |FROM refs r JOIN nodes n ON n.id = r.ref
           |GROUP BY r.wid ORDER BY id""".stripMargin,
      // refined extract: nodes strictly inside the bbox; a way is in iff
      // ANY of its refs is an in-box node (the bound prefilter is
      // conservative, so the oracle needs only the exact semantics)
      "q_bbox_refined" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell FROM nodes),
           |nin AS (SELECT n.id, c.cell FROM nodes n JOIN cells c ON c.id = n.id
           |        WHERE n.lon >= ${qBox.minLon} AND n.lon <= ${qBox.maxLon}
           |          AND n.lat >= ${qBox.minLat} AND n.lat <= ${qBox.maxLat}),
           |ways AS (SELECT id // 5 AS wid, id AS last_id FROM nodes WHERE id % 5 = 0),
           |win AS (SELECT DISTINCT w.wid, fc.cell FROM ways w
           |        JOIN cells fc ON fc.id = w.last_id - 4
           |        JOIN nin ON nin.id BETWEEN w.last_id - 4 AND w.last_id)
           |SELECT 'node' AS kind, id, cell FROM nin
           |UNION ALL SELECT 'way', wid, cell FROM win
           |ORDER BY kind, id""".stripMargin,
      // F5 role census: the oracle maps each synthesized role index to its
      // canonical form independently from the reference dictionary
      // (tags.c:294-316) — fixed = exact match or [OTHER]; strict = the
      // prefix compare in scan order ("out"->outer, "s"->south,
      // ""->forward)
      "q_role_stats" ->
        s"""WITH pts AS ($eventPointsSql),
           |rids AS (SELECT (event_id + 1) // 7 AS rid FROM pts
           |         WHERE (event_id + 1) % 7 = 0),
           |m AS (SELECT rid % 8 AS i FROM rids
           |      UNION ALL SELECT (rid + 3) % 8 FROM rids),
           |canon AS (SELECT
           |  CASE i WHEN 0 THEN 'outer' WHEN 1 THEN 'inner' WHEN 2 THEN 'from'
           |         WHEN 3 THEN 'via' ELSE '[OTHER]' END AS fixed_role,
           |  CASE i WHEN 0 THEN 'outer' WHEN 1 THEN 'inner' WHEN 2 THEN 'from'
           |         WHEN 3 THEN 'via' WHEN 4 THEN '[OTHER]' WHEN 5 THEN 'outer'
           |         WHEN 6 THEN 'south' WHEN 7 THEN 'forward' END AS strict_role
           |  FROM m)
           |SELECT 'fixed' AS mode, fixed_role AS role, count(*) AS n
           |FROM canon GROUP BY 2
           |UNION ALL SELECT 'strict', strict_role, count(*) FROM canon GROUP BY 2
           |ORDER BY mode, role""".stripMargin,
      // repetition census: total/top occurrence counts of words and
      // word-bigrams (bigrams NON-distinct; DuckDB range() is
      // end-exclusive, list slicing 1-based)
      "q_repetition" ->
        """WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM documents),
          |wt AS (SELECT doc_id, t, count(*) AS c FROM
          |  (SELECT doc_id, unnest(w) AS t FROM ws) GROUP BY doc_id, t),
          |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
          |       CAST(max(c) AS BIGINT) AS top_word_n FROM wt GROUP BY doc_id),
          |bt AS (SELECT doc_id, g, count(*) AS c FROM
          |  (SELECT doc_id, unnest(list_transform(range(1, len(w)),
          |     i -> w[i] || ' ' || w[i + 1])) AS g FROM ws) GROUP BY doc_id, g),
          |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |       CAST(max(c) AS BIGINT) AS top_bigram_n FROM bt GROUP BY doc_id)
          |SELECT d.doc_id,
          |  COALESCE(wa.n_words, 0) AS n_words,
          |  COALESCE(wa.top_word_n, 0) AS top_word_n,
          |  COALESCE(ba.n_bigrams, 0) AS n_bigrams,
          |  COALESCE(ba.top_bigram_n, 0) AS top_bigram_n
          |FROM documents d
          |LEFT JOIN wa ON wa.doc_id = d.doc_id
          |LEFT JOIN ba ON ba.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin,
      // PII census + redaction: same planting, same patterns (restricted
      // to syntax Java regex and RE2 read identically), same email ->
      // phone -> ipv4 replacement order
      "q_pii" -> {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b[0-9]{3}-[0-9]{4}\\b"
        val ipv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
        s"""WITH planted AS (SELECT doc_id,
           |  CASE WHEN doc_id % 10 = 0
           |    THEN text || ' mail u' || CAST(doc_id AS VARCHAR) ||
           |         '@ex.com tel 555-0142 ip 10.0.0.7'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email', 0)) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$phone', 0)) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(text, '$ipv4', 0)) AS BIGINT) AS n_ipv4,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '$email', '<PII>', 'g'), '$phone', '<PII>', 'g'),
           |    '$ipv4', '<PII>', 'g')) AS red_md5
           |FROM planted ORDER BY doc_id""".stripMargin
      },
      // decontamination: benchmark-in-corpus containment over 2-gram
      // shingle postings (odd ids = corpus, even ids = benchmark)
      "q_decontaminate" ->
        """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
          |ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM d),
          |sh AS (SELECT doc_id, list_distinct(list_filter(list_transform(
          |  range(1, greatest(len(w) - 1, 1) + 1),
          |  i -> array_to_string(w[i:i+1], ' ')), s -> length(s) > 0)) AS shs FROM ws),
          |cp AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 2 = 1),
          |bp AS (SELECT doc_id AS bench_id, len(shs) AS nb, unnest(shs) AS s
          |       FROM sh WHERE doc_id % 2 = 0),
          |j AS (SELECT cp.doc_id, bp.bench_id, bp.nb, count(*) AS inter
          |      FROM cp JOIN bp ON cp.s = bp.s GROUP BY 1, 2, 3)
          |SELECT doc_id, bench_id, inter,
          |       inter / greatest(nb, 1) AS containment
          |FROM j WHERE inter / greatest(nb, 1) >= 0.3
          |ORDER BY doc_id, bench_id""".stripMargin,
      // the composed cleaning pipeline: quality >= 5000 pts AND a detected
      // language AND not a non-canonical cluster member AND in the 50%
      // deterministic sample — each stage the same SQL proven by its own
      // gate, composed over the bounded slice
      "q_pipeline_clean" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
           |toks AS (SELECT doc_id, list_distinct(list_filter(
           |  string_split_regex(lower(text), '[^a-z]+'), t -> length(t) > 0)) AS words
           |  FROM d),
           |lsc AS (SELECT doc_id, $scoreSql FROM toks),
           |lbest AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_it, $bestSql AS m FROM lsc),
           |lang AS (SELECT doc_id, CASE WHEN m = 0 THEN 'und' $caseSql END AS lang_pred
           |         FROM lbest),
           |${qualityCte("d")},
           |qual AS (SELECT doc_id, $qualityPtsSql AS quality_pts FROM qparts)
           |SELECT d.doc_id, lang.lang_pred, qual.quality_pts
           |FROM d JOIN lang ON lang.doc_id = d.doc_id
           |       JOIN qual ON qual.doc_id = d.doc_id
           |WHERE qual.quality_pts >= 5000 AND lang.lang_pred <> 'und'
           |  AND d.doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
           |  AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'clean'), 1, 15)
           |      AS BIGINT) % 10000 < 5000
           |ORDER BY d.doc_id""".stripMargin,
      // near-dup clusters: connected components of the verified pair list
      // via a recursive reachability closure; label = component minimum
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |prs AS (SELECT a_id, b_id FROM scored
           |        WHERE inter / (na + nb - inter) >= 0.5),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r)
           |SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id
           |ORDER BY id""".stripMargin,
      "q_fingerprint" ->
        """SELECT doc_id, md5(array_to_string(list_filter(
          |  string_split_regex(text, '\s+'), t -> length(t) > 0), ' ')) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_ngram_jaccard" ->
        """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
          |ws AS (SELECT doc_id, list_filter(string_split(text, ' '),
          |  t -> length(t) > 0) AS w FROM d),
          |sh AS (SELECT doc_id, list_distinct(list_filter(list_transform(
          |  range(1, greatest(len(w) - 1, 1) + 1),
          |  i -> array_to_string(w[i:i+1], ' ')), s -> length(s) > 0)) AS shs FROM ws),
          |p AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS s FROM sh),
          |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |          a.sz AS na, b.sz AS nb, count(*) AS inter
          |          FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
          |          GROUP BY 1, 2, 3, 4)
          |SELECT a_id, b_id, inter / (na + nb - inter) AS jaccard
          |FROM pairs WHERE inter / (na + nb - inter) >= 0.5
          |ORDER BY a_id, b_id""".stripMargin,
      "q_routable_vertices" ->
        s"""$routablePostsSql
           |SELECT node_id, n_refs, is_endpoint FROM verts
           |WHERE is_endpoint = 1 OR n_refs >= 2 ORDER BY node_id""".stripMargin,
      "q_routable_edges" ->
        s"""$routablePostsSql,
           |vset AS (SELECT node_id FROM verts WHERE is_endpoint = 1 OR n_refs >= 2),
           |legs AS (SELECT p.wid, p.pos, p.node_id,
           |           CASE WHEN v.node_id IS NOT NULL THEN 1 ELSE 0 END AS isv,
           |           lead(p.node_id) OVER (PARTITION BY p.wid ORDER BY p.pos) AS nxt
           |         FROM posts p LEFT JOIN vset v ON v.node_id = p.node_id),
           |segd AS (SELECT wid, pos, node_id, nxt,
           |           CAST(SUM(isv) OVER (PARTITION BY wid ORDER BY pos
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
           |         FROM legs)
           |SELECT wid AS way_id, seg, arg_min(node_id, pos) AS src,
           |       arg_max(nxt, pos) AS dst, count(*) AS n_legs
           |FROM segd WHERE nxt IS NOT NULL
           |GROUP BY wid, seg ORDER BY way_id, seg""".stripMargin,
      "q_planet_extract" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell, xbin, ybin FROM nodes),
           |selways AS (SELECT last.id // 5 AS wid, fn.cell, last.id AS last_id
           |            FROM nodes last JOIN cells fn ON fn.id = last.id - 4
           |            WHERE last.id % 5 = 0 AND (${rectSqlOn("fn.")})),
           |selnodes AS (SELECT DISTINCT r.ref FROM
           |  (SELECT unnest(generate_series(last_id - 4, last_id)) AS ref
           |   FROM selways) r),
           |selrels AS (SELECT n.id // 7 AS rid, a.cell
           |            FROM nodes n JOIN cells a ON a.id = n.id - 6
           |            WHERE n.id % 7 = 0 AND (${rectSqlOn("a.")}))
           |SELECT 'node' AS kind, c.id AS id, c.cell AS cell
           |FROM selnodes s JOIN cells c ON c.id = s.ref
           |UNION ALL SELECT 'way', wid, cell FROM selways
           |UNION ALL SELECT 'relation', rid, cell FROM selrels
           |ORDER BY kind, id""".stripMargin,
      // strict mode over dangling refs (B-quirk family): every 11th way's
      // last ref is the nonexistent wid + 1e10; strict emits it as a
      // phantom node at cell 0 (LEFT JOIN + COALESCE replicates the
      // reference's zeroed-page read). qBox has no sign wrap, so strict
      // and fixed rectangle covers coincide and rectSql is shared.
      "q_planet_extract_strict" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell, xbin, ybin FROM nodes),
           |selways AS (SELECT last.id // 5 AS wid, fn.cell, last.id AS last_id
           |            FROM nodes last JOIN cells fn ON fn.id = last.id - 4
           |            WHERE last.id % 5 = 0 AND (${rectSqlOn("fn.")})),
           |selrefs AS (SELECT DISTINCT ref FROM (
           |  SELECT unnest(generate_series(last_id - 4, last_id)) AS ref
           |  FROM selways WHERE wid % 11 <> 0
           |  UNION ALL
           |  SELECT unnest(generate_series(last_id - 4, last_id - 1)) AS ref
           |  FROM selways WHERE wid % 11 = 0
           |  UNION ALL
           |  SELECT wid + 10000000000 AS ref FROM selways WHERE wid % 11 = 0) r),
           |selrels AS (SELECT n.id // 7 AS rid, a.cell
           |            FROM nodes n JOIN cells a ON a.id = n.id - 6
           |            WHERE n.id % 7 = 0 AND (${rectSqlOn("a.")}))
           |SELECT 'node' AS kind, s.ref AS id, COALESCE(c.cell, 0) AS cell
           |FROM selrefs s LEFT JOIN cells c ON c.id = s.ref
           |UNION ALL SELECT 'way', wid, cell FROM selways
           |UNION ALL SELECT 'relation', rid, cell FROM selrels
           |ORDER BY kind, id""".stripMargin,
      // strict B1 anchoring: relation rid's first member is way
      // wref = (rid*13) % nw + 1; the strict anchor node id is the way's
      // cumulative ref offset 5*(wref-1) (all derived ways have 5 refs);
      // node id 0 (wref=1) is absent => cell 0, bins 0 => never selected
      "q_planet_extract_b1" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell, xbin, ybin FROM nodes),
           |selways AS (SELECT last.id // 5 AS wid, fn.cell, last.id AS last_id
           |            FROM nodes last JOIN cells fn ON fn.id = last.id - 4
           |            WHERE last.id % 5 = 0 AND (${rectSqlOn("fn.")})),
           |selnodes AS (SELECT DISTINCT r.ref FROM
           |  (SELECT unnest(generate_series(last_id - 4, last_id)) AS ref
           |   FROM selways) r),
           |nw AS (SELECT max(id) // 5 AS n FROM nodes),
           |relsb AS (SELECT n.id // 7 AS rid,
           |            5 * (((n.id // 7) * 13) % (SELECT n FROM nw) + 1 - 1) AS anchor
           |          FROM nodes n WHERE n.id % 7 = 0),
           |anch AS (SELECT r.rid, COALESCE(c.cell, 0) AS cell,
           |           COALESCE(c.xbin, 0) AS xbin, COALESCE(c.ybin, 0) AS ybin
           |         FROM relsb r LEFT JOIN cells c ON c.id = r.anchor),
           |selrels AS (SELECT rid, cell FROM anch WHERE (${rectSqlOn("")}))
           |SELECT 'node' AS kind, c.id AS id, c.cell AS cell
           |FROM selnodes s JOIN cells c ON c.id = s.ref
           |UNION ALL SELECT 'way', wid, cell FROM selways
           |UNION ALL SELECT 'relation', rid, cell FROM selrels
           |ORDER BY kind, id""".stripMargin,
      // relation closure (Q3 fix): base extract + the selected relations'
      // node members (the derived planet's relations carry exactly two node
      // members, id-6 and id-3), each emitted once
      "q_relation_closure" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell, xbin, ybin FROM nodes),
           |selways AS (SELECT last.id // 5 AS wid, fn.cell, last.id AS last_id
           |            FROM nodes last JOIN cells fn ON fn.id = last.id - 4
           |            WHERE last.id % 5 = 0 AND (${rectSqlOn("fn.")})),
           |selnodes AS (SELECT DISTINCT r.ref FROM
           |  (SELECT unnest(generate_series(last_id - 4, last_id)) AS ref
           |   FROM selways) r),
           |selrels AS (SELECT n.id // 7 AS rid, n.id - 6 AS r1, n.id - 3 AS r2, a.cell
           |            FROM nodes n JOIN cells a ON a.id = n.id - 6
           |            WHERE n.id % 7 = 0 AND (${rectSqlOn("a.")})),
           |membernodes AS (SELECT DISTINCT ref FROM
           |  (SELECT r1 AS ref FROM selrels UNION ALL SELECT r2 FROM selrels)),
           |unioned AS (
           |  SELECT 'node' AS kind, c.id AS id, c.cell AS cell
           |  FROM selnodes s JOIN cells c ON c.id = s.ref
           |  UNION ALL SELECT 'way', wid, cell FROM selways
           |  UNION ALL SELECT 'relation', rid, cell FROM selrels
           |  UNION ALL SELECT 'node', c.id, c.cell
           |  FROM membernodes m JOIN cells c ON c.id = m.ref)
           |SELECT DISTINCT kind, id, CAST(cell AS BIGINT) AS cell FROM unioned
           |ORDER BY kind, id""".stripMargin,
      // PBF round trip: the oracle recomputes the per-kind counts and
      // content digests from the SAME derived-planet SQL — any wire-codec
      // bug (delta/zigzag/varint/string-table/quantization) flips a digest.
      // Digest = sum of md5-15-hex-digit ints mod 1e9+7 (the q_simhash
      // int-parse recipe); coords digested as ROUND(x*100) — source values
      // have 2 decimals, PBF granularity error ~1e-7, so both engines
      // round to the same integer.
      "q_pbf_roundtrip" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat FROM pts),
           |nh AS (SELECT CAST('0x' || substr(md5(
           |    CAST(id AS VARCHAR) || ',' ||
           |    CAST(CAST(ROUND(lon * 100) AS BIGINT) AS VARCHAR) || ',' ||
           |    CAST(CAST(ROUND(lat * 100) AS BIGINT) AS VARCHAR)), 1, 15) AS BIGINT)
           |    % 1000000007 AS h FROM nodes),
           |ways AS (SELECT id // 5 AS wid, id AS last_id FROM nodes WHERE id % 5 = 0),
           |wh AS (SELECT CAST('0x' || substr(md5(
           |    CAST(wid AS VARCHAR) || ':' ||
           |    array_to_string(generate_series(last_id - 4, last_id), '-')), 1, 15) AS BIGINT)
           |    % 1000000007 AS h FROM ways),
           |rels AS (SELECT id // 7 AS rid, id - 6 AS r1, id - 3 AS r2
           |         FROM nodes WHERE id % 7 = 0),
           |rh AS (SELECT CAST('0x' || substr(md5(
           |    CAST(rid AS VARCHAR) || ':outer,0,' || CAST(r1 AS VARCHAR) ||
           |    ';inner,0,' || CAST(r2 AS VARCHAR)), 1, 15) AS BIGINT)
           |    % 1000000007 AS h FROM rels)
           |SELECT 'node' AS kind, count(*) AS n, CAST(sum(h) AS BIGINT) AS digest FROM nh
           |UNION ALL SELECT 'way', count(*), CAST(sum(h) AS BIGINT) FROM wh
           |UNION ALL SELECT 'relation', count(*), CAST(sum(h) AS BIGINT) FROM rh
           |ORDER BY kind""".stripMargin,
      // golden emission order: stage (node<way<relation) x cell-major
      // (xbin, ybin) x 32-slot LIFO way blocks x first-occurrence nodes x
      // LIFO relations — pure window arithmetic over the derived planet
      "q_golden_order" ->
        s"""WITH pts AS ($eventPointsSql),
           |nodes AS (SELECT event_id + 1 AS id, lon, lat,
           |  $xbinSql AS xbin, $ybinSql AS ybin FROM pts),
           |cells AS (SELECT id, xbin * 16384 + ybin AS cell, xbin, ybin FROM nodes),
           |selways AS (SELECT last.id // 5 AS wid, fn.cell, fn.xbin, fn.ybin,
           |              last.id AS last_id
           |            FROM nodes last JOIN cells fn ON fn.id = last.id - 4
           |            WHERE last.id % 5 = 0 AND (${rectSqlOn("fn.")})),
           |wslot AS (SELECT wid, cell, xbin, ybin, last_id,
           |            row_number() OVER (PARTITION BY cell ORDER BY wid) - 1 AS slot
           |          FROM selways),
           |wrank AS (SELECT wid, cell, last_id,
           |            row_number() OVER (ORDER BY xbin, ybin,
           |              (slot // 32) DESC, slot) AS wr
           |          FROM wslot),
           |occ AS (SELECT wr, p AS pos, last_id - 4 + p AS node_id
           |        FROM wrank, (SELECT unnest(range(0, 5)) AS p)),
           |firstocc AS (SELECT node_id, min(wr * 8 + pos) AS mk FROM occ
           |             GROUP BY node_id),
           |noderows AS (SELECT 0 AS stage, 'node' AS kind, f.node_id AS id,
           |               c.cell, f.mk // 8 AS k1, f.mk % 8 AS k2
           |             FROM firstocc f JOIN cells c ON c.id = f.node_id),
           |wayrows AS (SELECT 1 AS stage, 'way' AS kind, wid AS id, cell,
           |              wr AS k1, 0 AS k2 FROM wrank),
           |selrels AS (SELECT n.id // 7 AS rid, a.cell
           |            FROM nodes n JOIN cells a ON a.id = n.id - 6
           |            WHERE n.id % 7 = 0 AND (${rectSqlOn("a.")})),
           |relrows AS (SELECT 2 AS stage, 'relation' AS kind, rid AS id, cell,
           |              cell AS k1, -rid AS k2 FROM selrels),
           |allrows AS (SELECT * FROM noderows UNION ALL SELECT * FROM wayrows
           |            UNION ALL SELECT * FROM relrows)
           |SELECT kind, id, CAST(cell AS BIGINT) AS cell,
           |  row_number() OVER (ORDER BY stage, k1, k2) AS emit_seq
           |FROM allrows ORDER BY emit_seq""".stripMargin,
      // portable IVF: centroids = first 16 rows in md5(vec_id) order (no
      // float math in the selection), assignment = per-row argmax cosine
      // (ties -> lowest centroid id, matching Spark's first-max
      // array_position), probe = top-4 lists by centroid-query cosine
      "q_embed_ivf_portable" ->
        """WITH ordered AS (SELECT vec_id, embedding FROM embeddings
          |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
          |cents AS (SELECT row_number() OVER
          |    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
          |    embedding AS cv FROM ordered),
          |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          |scored AS (SELECT e.vec_id, e.embedding, c.cid,
          |    list_cosine_similarity(e.embedding, c.cv) AS cs
          |  FROM embeddings e CROSS JOIN cents c),
          |assign AS (SELECT vec_id, embedding, cid FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id
          |      ORDER BY cs DESC, cid) AS rn FROM scored) WHERE rn = 1),
          |probes AS (SELECT c.cid FROM cents c, q
          |  ORDER BY list_cosine_similarity(c.cv, qv) DESC, c.cid LIMIT 4)
          |SELECT vec_id FROM assign, q
          |WHERE cid IN (SELECT cid FROM probes)
          |ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id
          |LIMIT 10""".stripMargin,
      // backward as-of join, replicated as the SAME union-timeline window
      // the engine runs: builds sort before probes at equal ts (inclusive
      // semantics), ties among builds resolve to the greatest build_id via
      // the running last_value over (t, side, seq). The matched payload is
      // ONE struct — like the engine's _m — so a NULL payload field could
      // never make a field skip back to an older build than m_build_id
      "q_asof_join" ->
        s"""WITH $temporalCtes,
           |u AS (
           |  SELECT k, t, 0 AS side, build_id AS seq,
           |         struct_pack(b := build_id, bt := t, c := cents) AS m,
           |         NULL AS probe_id FROM b
           |  UNION ALL
           |  SELECT k, t, 1, 0, NULL, probe_id FROM p
           |),
           |w AS (
           |  SELECT probe_id, k, t, side,
           |    last_value(m IGNORE NULLS) OVER (
           |      PARTITION BY k ORDER BY t, side, seq
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           |  FROM u
           |)
           |SELECT probe_id, k, t, m.b AS m_build_id, m.bt AS m_t,
           |  m.c AS m_cents,
           |  CASE WHEN t - m.bt <= 86400000000 THEN m.b END AS m_build_tol
           |FROM w WHERE side = 1 ORDER BY probe_id""".stripMargin,
      // keyed interval join: plain range predicate — the engine's bucket
      // explode + giant-broadcast split must reproduce exactly this set
      "q_interval_join" ->
        s"""WITH $temporalCtes,
           |iv AS (SELECT build_id AS interval_id, k, t AS s_t,
           |         t + (build_id % 7 + 1) * 3600000000 AS e_t FROM b)
           |SELECT p.probe_id, iv.interval_id, p.k, p.t, iv.s_t, iv.e_t
           |FROM p JOIN iv ON p.k = iv.k AND p.t >= iv.s_t AND p.t <= iv.e_t
           |ORDER BY probe_id, interval_id""".stripMargin,
      // gap-based sessionization: identical lag-flag + running-last window
      // formulation; session label = first event's ts
      // weighted sampling: the hashBucket md5 recipe with a per-row rate
      "q_weighted_sample" ->
        """SELECT doc_id, n_chars FROM documents
          |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'w'),
          |         1, 15) AS BIGINT) % 10000) * 600 < n_chars * 10000
          |ORDER BY doc_id""".stripMargin,
      // linear-counting sketch state: filled md5 buckets per source
      "q_distinct_sketch" ->
        """WITH w0 AS (SELECT source, unnest(list_filter(
          |    string_split(text, ' '), t -> length(t) > 0)) AS w
          |  FROM documents),
          |b AS (SELECT DISTINCT source,
          |    CAST('0x' || substr(md5(w || 'lc'), 1, 15) AS BIGINT) % 64
          |      AS bkt FROM w0)
          |SELECT source, CAST(count(*) AS BIGINT) AS filled
          |FROM b GROUP BY 1 ORDER BY source""".stripMargin,
      // 3x3 grid smoothing (positive-quadrant trunc bins)
      "q_grid_smooth" ->
        s"""WITH pts AS ($eventPointsSql),
           |c AS (SELECT CAST(TRUNC(lon) AS BIGINT) AS ix,
           |    CAST(TRUNC(lat) AS BIGINT) AS iy,
           |    CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
           |o AS (SELECT dx, dy
           |  FROM (SELECT unnest(generate_series(-1, 1)) AS dx),
           |       (SELECT unnest(generate_series(-1, 1)) AS dy)),
           |s AS (SELECT c.ix + o.dx AS ix, c.iy + o.dy AS iy,
           |    CAST(sum(n) AS BIGINT) AS smooth_n FROM c, o GROUP BY 1, 2)
           |SELECT c.ix, c.iy, c.n, s.smooth_n
           |FROM c JOIN s USING (ix, iy) ORDER BY ix, iy""".stripMargin,
      // 3-gram source-vocabulary overlap (the q_minhash_sig shingle
      // construction, grouped by source)
      "q_vocab_overlap" ->
        """WITH ws AS (SELECT source AS g, list_filter(string_split(text, ' '),
          |    t -> length(t) > 0) AS w FROM documents),
          |sh AS (SELECT g, s FROM (SELECT g, unnest(list_transform(
          |    range(1, greatest(len(w) - 2, 1) + 1),
          |    i -> array_to_string(w[i:i+2], ' '))) AS s FROM ws)
          |  WHERE length(s) > 0),
          |w AS (SELECT DISTINCT g, s FROM sh),
          |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS sz FROM w GROUP BY 1),
          |i AS (SELECT a.g AS a_g, b.g AS b_g,
          |    CAST(count(*) AS BIGINT) AS n_common
          |  FROM w a JOIN w b ON a.s = b.s AND a.g < b.g GROUP BY 1, 2)
          |SELECT i.a_g, i.b_g, i.n_common,
          |  sa.sz + sb.sz - i.n_common AS n_union
          |FROM i JOIN sz sa ON sa.g = i.a_g JOIN sz sb ON sb.g = i.b_g
          |ORDER BY a_g, b_g""".stripMargin,
      // weekly cohort retention (positive epoch micros: // == bucketCol's
      // floor-pmod arithmetic)
      "q_cohort_retention" ->
        """WITH e AS (SELECT user_id AS u,
          |    epoch_us(ts) // 604800000000 AS bkt FROM events),
          |c AS (SELECT u, min(bkt) AS cohort FROM e GROUP BY 1),
          |a AS (SELECT DISTINCT u, bkt FROM e)
          |SELECT c.cohort, a.bkt - c.cohort AS age,
          |  CAST(count(*) AS BIGINT) AS n_users
          |FROM a JOIN c ON c.u = a.u GROUP BY 1, 2
          |ORDER BY cohort, age""".stripMargin,
      // ordered funnel: the same chain of per-user min aggregates
      "q_funnel" ->
        """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
          |    event_type AS et FROM events),
          |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'signup'
          |  GROUP BY 1),
          |s2 AS (SELECT e.u, min(s1.t1) AS t1, min(e.t) AS t2
          |  FROM e JOIN s1 ON s1.u = e.u
          |  WHERE e.et = 'view' AND e.t > s1.t1
          |    AND e.t <= s1.t1 + 604800000000 GROUP BY 1),
          |s3 AS (SELECT e.u, min(s2.t1) AS t1, min(e.t) AS t3
          |  FROM e JOIN s2 ON s2.u = e.u
          |  WHERE e.et = 'click' AND e.t > s2.t2
          |    AND e.t <= s2.t1 + 604800000000 GROUP BY 1),
          |s4 AS (SELECT e.u, min(e.t) AS t4
          |  FROM e JOIN s3 ON s3.u = e.u
          |  WHERE e.et = 'purchase' AND e.t > s3.t3
          |    AND e.t <= s3.t1 + 604800000000 GROUP BY 1)
          |SELECT CAST(1 AS BIGINT) AS step, CAST(count(*) AS BIGINT) AS users FROM s1
          |UNION ALL SELECT 2, count(*) FROM s2
          |UNION ALL SELECT 3, count(*) FROM s3
          |UNION ALL SELECT 4, count(*) FROM s4
          |ORDER BY step""".stripMargin,
      "q_sessionize" ->
        s"""WITH $temporalCtes,
           |x AS (SELECT probe_id, k, t,
           |        lag(t) OVER (PARTITION BY k ORDER BY t, probe_id) AS prev
           |      FROM p),
           |y AS (SELECT probe_id, k, t,
           |        CASE WHEN prev IS NULL OR t - prev > 86400000000
           |             THEN t END AS st FROM x)
           |SELECT probe_id, k, t,
           |  last_value(st IGNORE NULLS) OVER (PARTITION BY k
           |    ORDER BY t, probe_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    AS session_start
           |FROM y ORDER BY probe_id""".stripMargin,
      // resample + LOCF: the naive formulation — per-(key, day) max,
      // dense grid via generate_series (END-INCLUSIVE, unlike range()),
      // forward fill with IGNORE NULLS last_value
      "q_resample_locf" ->
        """WITH e AS (SELECT user_id AS k, epoch_us(ts) // 86400000000 AS b,
          |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
          |m AS (SELECT k, b, max(v) AS mv FROM e GROUP BY 1, 2),
          |r AS (SELECT k, min(b) AS b0, max(b) AS b1 FROM m GROUP BY 1),
          |g AS (SELECT k, unnest(generate_series(b0, b1)) AS b FROM r),
          |j AS (SELECT g.k, g.b, m.mv FROM g
          |      LEFT JOIN m ON g.k = m.k AND g.b = m.b)
          |SELECT k, b, last_value(mv IGNORE NULLS) OVER (PARTITION BY k
          |    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |  AS v_ff
          |FROM j ORDER BY k, b""".stripMargin,
      // interval union: same running-max + span-count formulation over
      // the (start, end, id) total order, grouped to spans
      "q_merge_intervals" ->
        s"""WITH $temporalCtes,
           |iv AS (SELECT build_id, k, t AS s_t,
           |         t + (build_id % 7 + 1) * 3600000000 AS e_t FROM b),
           |x AS (SELECT build_id, k, s_t, e_t,
           |        max(e_t) OVER (PARTITION BY k ORDER BY s_t, e_t, build_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           |      FROM iv),
           |y AS (SELECT build_id, k, s_t, e_t,
           |        CASE WHEN pm IS NULL OR s_t > pm THEN 1 ELSE 0 END AS nw
           |      FROM x),
           |z AS (SELECT k, s_t, e_t,
           |        sum(nw) OVER (PARTITION BY k ORDER BY s_t, e_t, build_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
           |      FROM y)
           |SELECT k, min(s_t) AS span_start, max(e_t) AS span_end,
           |       CAST(count(*) AS BIGINT) AS n_intervals
           |FROM z GROUP BY k, sp ORDER BY k, span_start""".stripMargin,
      // exact per-row percentile: (rank() - 1) counts strictly-smaller
      // values (ties share the minimum rank), integer // matches the
      // engine's div — bit-equal by construction
      "q_percentile" ->
        """WITH e AS (SELECT event_id, event_type,
          |    CAST(round(value * 100) AS BIGINT) AS cents FROM events
          |  WHERE value IS NOT NULL)
          |SELECT event_id, event_type, cents,
          |  (rank() OVER (PARTITION BY event_type ORDER BY cents) - 1)
          |    * 10000 // (count(*) OVER (PARTITION BY event_type)) AS pct_bp
          |FROM e ORDER BY event_id""".stripMargin,
      // jsonl round trip: the oracle never sees the jsonl — it reads the
      // original parquet, so any export/parse infidelity hash-mismatches
      "q_jsonl_roundtrip" ->
        """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_profile" ->
        """SELECT * FROM (
          |  SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(count(event_id) AS BIGINT) AS n_nonnull,
          |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
          |  UNION ALL
          |  SELECT 'user_id', CAST(count(*) AS BIGINT),
          |    CAST(count(user_id) AS BIGINT),
          |    CAST(count(DISTINCT user_id) AS BIGINT) FROM events
          |  UNION ALL
          |  SELECT 'event_type', CAST(count(*) AS BIGINT),
          |    CAST(count(event_type) AS BIGINT),
          |    CAST(count(DISTINCT event_type) AS BIGINT) FROM events
          |  UNION ALL
          |  SELECT 'props', CAST(count(*) AS BIGINT),
          |    CAST(count(props) AS BIGINT),
          |    CAST(count(DISTINCT props) AS BIGINT) FROM events
          |) ORDER BY col_name""".stripMargin,
      // cross-modal dedup: text-minhash pairs UNION axis-sign ANN top-5
      // pairs, one reachability closure, survivors = component minima
      "q_multimodal_dedup" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |tp AS (SELECT a_id, b_id FROM scored
           |       WHERE inter / (na + nb - inter) >= 0.5),
           |esigs AS ($annSigsSql),
           |ecand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           |          FROM esigs a JOIN esigs b ON a.t = b.t AND a.sig = b.sig
           |          WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
           |escored AS (SELECT a_id, b_id,
           |            list_cosine_similarity(ea.embedding, eb.embedding) AS cos
           |            FROM ecand JOIN embeddings ea ON ea.vec_id = ecand.a_id
           |                       JOIN embeddings eb ON eb.vec_id = ecand.b_id),
           |ep AS (SELECT a_id, b_id FROM (
           |         SELECT a_id, b_id, row_number() OVER (
           |           PARTITION BY a_id ORDER BY cos DESC, b_id) AS rnk
           |         FROM escored) WHERE rnk <= 5),
           |prs AS (SELECT * FROM tp UNION SELECT * FROM ep),
           |edges AS (SELECT a_id AS src, b_id AS dst FROM prs
           |          UNION SELECT b_id, a_id FROM prs),
           |reach AS (SELECT src AS id, dst AS r FROM edges
           |          UNION
           |          SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
           |labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
           |SELECT doc_id FROM d
           |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
           |ORDER BY doc_id""".stripMargin,
      "q_rollup" ->
        """WITH ev AS (SELECT event_type, user_id % 10 AS ub,
          |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          |SELECT coalesce(event_type, '(all)') AS event_type,
          |  coalesce(ub, -1) AS ub, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS BIGINT) AS cents_sum
          |FROM ev GROUP BY ROLLUP(event_type, ub)
          |ORDER BY event_type, ub""".stripMargin,
      // pivot: replicated as conditional aggregation (the portable form)
      "q_pivot" ->
        """WITH ev AS (SELECT user_id % 10 AS ub, event_type FROM events)
          |SELECT ub,
          |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
          |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
          |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
          |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
          |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
          |FROM ev GROUP BY ub ORDER BY ub""".stripMargin,
      // props.k via regex (DuckDB side); the engine uses the JSON path —
      // identical on this fixed {"k": N} payload shape
      "q_props_extract" ->
        """WITH ev AS (SELECT event_type,
          |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
          |  FROM events)
          |SELECT event_type, CAST(sum(k) AS BIGINT) AS k_sum,
          |  max(k) AS k_max, CAST(count(*) AS BIGINT) AS n
          |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
      // conjunctive keyword search: the index is internal — the oracle is
      // the plain corpus formulation the pruned probe must reproduce
      "q_keyword_search" ->
        """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
          |             t -> length(t) > 0)) AS word FROM documents),
          |p AS (SELECT doc_id, word, count(*) AS tf FROM w
          |      WHERE word IN ('scan', 'dup') GROUP BY doc_id, word)
          |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total FROM p
          |GROUP BY doc_id HAVING count(DISTINCT word) = 2
          |ORDER BY doc_id""".stripMargin,
      // portable ranked retrieval: reciprocal-df weights in pure integer
      // arithmetic (scale // df truncates identically in both engines for
      // positive values; the score sum is an integer — no accumulation-
      // order hazard), ties on doc_id
      "q_search_ranked" ->
        """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
          |             t -> length(t) > 0)) AS word FROM documents),
          |p AS (SELECT doc_id, word, count(*) AS tf FROM w
          |      WHERE word IN ('scan', 'dup') GROUP BY doc_id, word),
          |d AS (SELECT word, count(*) AS df FROM p GROUP BY word)
          |SELECT p.doc_id, CAST(sum(p.tf * (1000000000 // d.df)) AS BIGINT) AS score
          |FROM p JOIN d USING (word) GROUP BY p.doc_id
          |ORDER BY score DESC, p.doc_id LIMIT 50""".stripMargin,
      // exact lower quantiles: identical histogram + integer rank
      // selection (ceil via (n*q+9999)//10000) — bit-equal by construction
      "q_group_quantiles" ->
        """WITH d AS (SELECT
          |    CASE WHEN length(text) < 200 THEN 'short'
          |         WHEN length(text) < 1000 THEN 'medium'
          |         ELSE 'long' END AS band,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      t -> length(t) > 0)) AS BIGINT) AS v FROM documents),
          |h AS (SELECT band, v, count(*) AS c FROM d
          |      WHERE v IS NOT NULL GROUP BY band, v),
          |w AS (SELECT band, v, c,
          |    sum(c) OVER (PARTITION BY band ORDER BY v) AS cum,
          |    sum(c) OVER (PARTITION BY band) AS tot FROM h),
          |q AS (SELECT band, v, c, cum, tot,
          |    unnest([2500, 5000, 7500, 10000]) AS q_bp FROM w)
          |SELECT band, q_bp, v AS q_val FROM q
          |WHERE cum - c < (tot * q_bp + 9999) // 10000
          |  AND (tot * q_bp + 9999) // 10000 <= cum
          |ORDER BY band, q_bp""".stripMargin,
      // fractional upsampling: floor(w/10000) copies + one more iff the
      // md5 bucket clears w mod 10000; copies unrolled via range()
      "q_upsample" ->
        """WITH d AS (SELECT doc_id,
          |    10000 + (doc_id % 3) * 7500 AS w FROM documents),
          |b AS (SELECT doc_id, w,
          |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'up'), 1, 15)
          |    AS BIGINT) % 10000 AS bkt FROM d),
          |c AS (SELECT doc_id,
          |    w // 10000 + CASE WHEN bkt < w % 10000 THEN 1 ELSE 0 END AS n
          |  FROM b)
          |SELECT doc_id, unnest(range(1, n + 1)) AS copy_n
          |FROM c WHERE n > 0 ORDER BY doc_id, copy_n""".stripMargin,
      // integer PageRank: the same three rounds unrolled as CTEs — every
      // quantity integral (// floors == truncation in the positive
      // quadrant), so the values match bit-for-bit
      "q_pagerank" -> {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst AS id, sum(r${i - 1}.r // deg.d) AS c
             |  FROM edges e JOIN r${i - 1} ON e.src = r${i - 1}.id
             |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT n.id, 150000000 + (85 * COALESCE(c$i.c, 0)) // 100 AS r
             |  FROM nodes n LEFT JOIN c$i ON n.id = c$i.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id, event_id FROM events),
           |nodes AS (SELECT DISTINCT user_id AS id FROM ev),
           |edges AS (SELECT DISTINCT user_id AS src,
           |            (event_id * 13 + 7) % 150 AS dst FROM ev
           |          WHERE user_id <> (event_id * 13 + 7) % 150),
           |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
           |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes),
           |$rounds
           |SELECT id, CAST(r AS BIGINT) AS r FROM r3 ORDER BY id""".stripMargin
      },
      // exact heavy hitters: the sketch only bounds the candidate set, so
      // the oracle is the plain full-count formulation
      "q_heavy_words" ->
        """WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
          |             t -> length(t) > 0)) AS word FROM documents),
          |tot AS (SELECT count(*) AS nw FROM w)
          |SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word
          |HAVING count(*) >= (SELECT nw // 50 + 1 FROM tot)
          |ORDER BY word""".stripMargin,
      "q_session_stats" ->
        s"""WITH $temporalCtes,
           |x AS (SELECT probe_id, k, t,
           |        lag(t) OVER (PARTITION BY k ORDER BY t, probe_id) AS prev
           |      FROM p),
           |y AS (SELECT probe_id, k, t,
           |        CASE WHEN prev IS NULL OR t - prev > 86400000000
           |             THEN t END AS st FROM x),
           |s AS (SELECT k, t,
           |        last_value(st IGNORE NULLS) OVER (PARTITION BY k
           |          ORDER BY t, probe_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |          AS session_start
           |      FROM y)
           |SELECT k, session_start, CAST(count(*) AS BIGINT) AS n_events,
           |       max(t) - min(t) AS dur_us
           |FROM s GROUP BY k, session_start
           |ORDER BY k, session_start""".stripMargin
    )
    // storage-path twins: identical result sets through the partitioned
    // write -> directory-pruned read round trip, so the oracle SQL is
    // shared verbatim (the oracle is storage-agnostic by construction)
    base + ("q_planet_extract_stored" -> base("q_planet_extract")) +
      ("q_knn_pruned" -> base("q_knn")) +
      // the skew-safe bucketed paths are decision-identical by contract:
      // one oracle proves each pair agrees
      ("q_asof_join_bucketed" -> base("q_asof_join")) +
      ("q_sessionize_bucketed" -> base("q_sessionize")) +
      ("q_merge_intervals_bucketed" -> base("q_merge_intervals")) +
      // Bloom prefilter has no false negatives and the exact join kills
      // the false positives — decision-identical to the unfiltered path
      ("q_decontaminate_bloom" -> base("q_decontaminate"))
  }
}
