package graft

import org.apache.spark.sql.DataFrame

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.oracle.RefOracle

/** Differential tests: the Spark engine's bbox extract must return the SAME
  * row set and tile (cell) assignments as the reference-model oracle on
  * planet-clone fixtures — the north_rule exact-match criterion. */
class PlanetExtractSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val planet = Fixtures.localPlanet(4000, 1200, 250)
  private lazy val nodesDF = planet.nodes.toDF()
  private lazy val waysDF = planet.ways.toDF()
  private lazy val relsDF = planet.relations.toDF()

  private lazy val tStrict = {
    val t = PlanetExtract.ingest(nodesDF, waysDF, relsDF, strictB1 = true)
    PlanetExtract.PlanetTables(t.nodes.cache(), t.ways.cache(), t.relations.cache())
  }
  private lazy val tFixed = {
    val t = PlanetExtract.ingest(nodesDF, waysDF, relsDF, strictB1 = false)
    PlanetExtract.PlanetTables(t.nodes.cache(), t.ways.cache(), t.relations.cache())
  }
  private lazy val oStrict = new RefOracle(planet, strictB1 = true)
  private lazy val oFixed = new RefOracle(planet, strictB1 = false)

  private def rowSet(df: DataFrame): Set[(String, Long, Int)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
  private def oracleSet(rows: Seq[RefOracle#ExtractRow]): Set[(String, Long, Int)] =
    rows.map(r => (r.kind, r.id, r.cell)).toSet

  private val centers = Fixtures.cityCenters(Fixtures.DefaultSeed)
  private val bboxes = Seq(
    "city0-small" -> BBox(centers(0)._1 - 0.6, centers(0)._2 - 0.5,
                          centers(0)._1 + 0.6, centers(0)._2 + 0.5),
    "city1-wide"  -> BBox(centers(1)._1 - 2.0, centers(1)._2 - 1.5,
                          centers(1)._1 + 2.0, centers(1)._2 + 1.5),
    "far-corner"  -> BBox(150.0, 70.0, 160.0, 80.0),
    "full-quadrant" -> BBox(0.01, 0.01, 179.99, 89.99))

  for ((name, b) <- bboxes) {
    test(s"bbox extract matches oracle row set + cells [$name, strictB1]") {
      val engine = rowSet(PlanetExtract.bbox(tStrict, b))
      val oracle = oracleSet(oStrict.extract(b))
      assert(engine == oracle,
        s"engine-only=${(engine -- oracle).take(5)} oracle-only=${(oracle -- engine).take(5)}")
      if (name == "full-quadrant") assert(engine.nonEmpty)
    }
  }

  test("bbox extract matches oracle in FIXED (B1-corrected) mode") {
    val b = bboxes(3)._2   // full quadrant: every indexed entity
    val engine = rowSet(PlanetExtract.bbox(tFixed, b))
    val oracle = oracleSet(oFixed.extract(b))
    assert(engine == oracle)
  }

  test("B1 strict vs fixed modes differ only on way-first-member relations") {
    val b = bboxes(3)._2
    val s = rowSet(PlanetExtract.bbox(tStrict, b))
    val f = rowSet(PlanetExtract.bbox(tFixed, b))
    val diff = (s diff f) union (f diff s)
    assert(diff.forall(_._1 == "relation"), s"non-relation diff: ${diff.take(5)}")
    // fixture guarantees at least one way-first-member relation whose bug
    // cell differs from the fixed cell
    assert(diff.nonEmpty, "fixture produced no B1 divergence — weak coverage")
  }

  test("Q1 quirk: sign-crossing bbox is empty in strict-compat mode; the " +
       "fixed cover equals the union of per-sign extracts") {
    val wrap = BBox(-0.5, 20.0, 0.5, 21.0)
    assert(PlanetExtract.bbox(tStrict, wrap, strictCompat = true).count() == 0)
    val engine = rowSet(PlanetExtract.bbox(tStrict, wrap))
    val west = oracleSet(oStrict.extract(BBox(-0.5, 20.0, -1e-4, 21.0)))
    val east = oracleSet(oStrict.extract(BBox(1e-9, 20.0, 0.5, 21.0)))
    assert(engine == (west union east))
  }

  test("extract output is cell-granular (Q2): superset of bbox, first-node binning") {
    val b = bboxes(0)._2
    val rows = PlanetExtract.bbox(tStrict, b)
    // every emitted way's cell is inside the covered rectangle
    val cells = CellIndex.coverCells(b).toSet
    rows.where($"kind" === "way").collect()
      .foreach(r => assert(cells.contains(r.getInt(2))))
    // nodes may fall OUTSIDE covered cells (pulled in whole-way): verify the
    // fixture actually exercises this
    val outsideNodes = rows.where($"kind" === "node").collect()
      .count(r => !cells.contains(r.getInt(2)))
    assert(outsideNodes > 0, "no way crossed a cell boundary — weak fixture")
  }

  test("ways are never duplicated in an extract (Q5 invariant)") {
    val rows = PlanetExtract.bbox(tStrict, bboxes(1)._2)
    val ways = rows.where($"kind" === "way").select("id").collect().map(_.getLong(0))
    assert(ways.length == ways.distinct.length)
  }

  test("relation closure (Q3 fix): members of extracted relations are pulled in") {
    val b = bboxes(1)._2
    val base = rowSet(PlanetExtract.bbox(tStrict, b))
    val closed = rowSet(PlanetExtract.bboxWithRelationClosure(tStrict, b))
    assert(base.subsetOf(closed))
    // oracle: base plus every node/way member of the extracted relations
    // (and the member ways' nodes), deduped by (kind, id)
    val relIds = base.collect { case ("relation", id, _) => id }.toSet
    val members = planet.relations.filter(r => relIds(r.id)).flatMap(_.members)
    val memberWayIds = members.filter(_.mtype == 1).map(_.ref).toSet
    val wayById = planet.ways.map(w => w.id -> w).toMap
    val memberNodeIds = members.filter(_.mtype == 0).map(_.ref).toSet ++
      memberWayIds.flatMap(id => wayById.get(id).map(_.refs.toSet).getOrElse(Set.empty))
    val expected = (base.map(r => (r._1, r._2)) ++
      memberNodeIds.filter(planet.nodes.map(_.id).toSet).map(id => ("node", id)) ++
      memberWayIds.filter(wayById.contains).map(id => ("way", id)))
    assert(closed.map(r => (r._1, r._2)) == expected)
    assert(closed.size > base.size, "fixture produced no closure growth")
  }

  test("bboxOrdered reproduces the reference's exact emission SEQUENCE " +
       "(O1: stage x cell-major x LIFO blocks x emit-once first-win)") {
    for ((name, b) <- bboxes.take(2)) {
      val engine = PlanetExtract.bboxOrdered(tStrict, b).collect()
        .sortBy(_.getInt(3))
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      val oracle = oStrict.extract(b).map(r => (r.kind, r.id, r.cell))
      assert(engine == oracle, s"[$name] first diff at index " +
        engine.zip(oracle).indexWhere { case (a, b2) => a != b2 } +
        s" of ${oracle.size}")
      assert(engine.nonEmpty)
    }
  }

  test("dangling way refs: strict mode emits the phantom node at cell 0 " +
       "(mmap zero-page semantics), fixed mode drops it") {
    // hand-built planet: way 1 = [1, 2, 99] where node 99 does not exist
    val nodes = Seq(
      Fixtures.NodeRow(1, 10.0, 20.0, Map.empty),
      Fixtures.NodeRow(2, 10.1, 20.1, Map.empty))
    val ways = Seq(Fixtures.WayRow(1, Array(1L, 2L, 99L), Map.empty))
    val planet = Fixtures.Planet(nodes, ways, Seq.empty)
    val t = PlanetExtract.ingest(nodes.toDF(), ways.toDF(),
      spark.emptyDataset[Fixtures.RelationRow].toDF())
    val b = BBox(9.0, 19.0, 11.0, 21.0)
    val strict = rowSet(PlanetExtract.bbox(t, b, strictCompat = true))
    val fixed = rowSet(PlanetExtract.bbox(t, b))
    assert(strict == oracleSet(new RefOracle(planet).extract(b)))
    assert(strict.contains(("node", 99L, 0)))
    assert(strict -- fixed == Set(("node", 99L, 0)))
  }

  test("refined extract returns only rows inside the bbox and is a subset " +
       "of nodes; ways touch the box") {
    val b = bboxes(0)._2
    val refined = PlanetExtract.bboxRefined(tStrict, b)
    val nodeIds = refined.where($"kind" === "node").select("id")
      .collect().map(_.getLong(0)).toSet
    val inBox = planet.nodes.filter(n => n.lon >= b.minLon && n.lon <= b.maxLon &&
                                         n.lat >= b.minLat && n.lat <= b.maxLat)
      .map(_.id).toSet
    assert(nodeIds == inBox)
    val wayIds = refined.where($"kind" === "way").select("id")
      .collect().map(_.getLong(0)).toSet
    val expectWays = planet.ways.filter(_.refs.exists(inBox)).map(_.id).toSet
    assert(wayIds == expectWays)
  }

  test("per-way bin bounds match brute force over each way's resolvable refs") {
    val nodeBins = planet.nodes.map(n =>
      n.id -> (CellIndex.xBin(n.lon), CellIndex.yBin(n.lat))).toMap
    val expect = planet.ways.flatMap { w =>
      val bins = w.refs.flatMap(nodeBins.get)
      if (bins.isEmpty) None
      else Some(w.id -> (bins.map(_._1).min, bins.map(_._1).max,
                         bins.map(_._2).min, bins.map(_._2).max))
    }.toMap
    val got = tFixed.ways
      .select("id", "xbin_min", "xbin_max", "ybin_min", "ybin_max")
      .where($"xbin_min".isNotNull)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    assert(got == expect)
    // a way with only dangling refs carries null bounds
    assert(tFixed.ways.count() == planet.ways.size)
  }

  test("refined extract through the bound prefilter equals the full-explode " +
       "path, and the prefilter actually prunes") {
    val b = bboxes(0)._2
    val pruned = rowSet(PlanetExtract.bboxRefined(tFixed, b))
    // force the legacy full-explode path by hiding the bounds columns
    val noBounds = PlanetExtract.PlanetTables(tFixed.nodes,
      tFixed.ways.drop("xbin_min", "xbin_max", "ybin_min", "ybin_max"),
      tFixed.relations)
    val full = rowSet(PlanetExtract.bboxRefined(noBounds, b))
    assert(pruned == full)
    // the bound filter must shrink the exploded input for a small bbox
    val kept = tFixed.ways.where(PlanetExtract.wayBoundsOverlap(b)).count()
    assert(kept < tFixed.ways.count(), s"prefilter kept all $kept ways")
    assert(kept >= pruned.count(_._1 == "way"))
  }

  test("bbox and refined extracts over a box in other cells compile no new " +
       "classes: the box rides as a reference object") {
    def box(c: (Double, Double)) = BBox(c._1 - 0.6, c._2 - 0.5, c._1 + 0.6, c._2 + 0.5)
    val (b1, b2) = (box(centers(0)), box(centers(1)))
    assert(CellIndex.coverCells(b1).toSet.intersect(CellIndex.coverCells(b2).toSet).isEmpty)
    var second, refined = Set.empty[(String, Long, Int)]
    val compiled = WriteProbe.withoutAqe(spark) {
      assert(rowSet(PlanetExtract.bbox(tFixed, b1)).nonEmpty)
      assert(rowSet(PlanetExtract.bboxRefined(tFixed, b1)).nonEmpty)
      WriteProbe.compileCount {
        second = rowSet(PlanetExtract.bbox(tFixed, b2))
        refined = rowSet(PlanetExtract.bboxRefined(tFixed, b2))
      }
    }
    assert(compiled == 0)
    assert(second == oracleSet(oFixed.extract(b2)) && refined.nonEmpty)
  }
}
