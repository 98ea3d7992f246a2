package graft

import java.nio.file.Files

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.oracle.RefOracle
import graft.serving.ExtractServer
import graft.sources.PbfCodec

/** Stored-DB lifecycle: LOAD -> partitioned parquet DB -> pruned EXTRACT
  * must equal both the in-memory extract and the reference-model oracle,
  * and must directory-prune. */
class StoredPlanetSpec extends SparkFunSuite {
  import spark.implicits._

  test("stored extract == in-memory extract == oracle; partitions prune") {
    val planet = Fixtures.localPlanet(3000, 900, 150)
    val t = PlanetExtract.ingest(planet.nodes.toDF(), planet.ways.toDF(),
      planet.relations.toDF(), strictB1 = true)
    val dir = Files.createTempDirectory("graft_planetdb_").toString
    PlanetExtract.writeTables(t, dir)
    val stored = PlanetExtract.readTables(spark, dir)

    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
    val b = BBox(c._1 - 0.8, c._2 - 0.6, c._1 + 0.8, c._2 + 0.6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

    val fromStored = rows(PlanetExtract.bbox(stored, b))
    val fromMemory = rows(PlanetExtract.bbox(t, b))
    val oracle = new RefOracle(planet, strictB1 = true).extract(b)
      .map(r => (r.kind, r.id, r.cell)).toSet
    assert(fromStored == fromMemory)
    assert(fromStored == oracle)
    assert(fromStored.nonEmpty)

    // directory pruning is visible in the physical plan
    val plan = PlanetExtract.bbox(stored, b)
      .queryExecution.executedPlan.toString
    // ways/relations scans carry non-empty partition filters (the nodes
    // scan joins by id and legitimately has none)
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no non-empty partition filters in:\n${plan.take(2000)}")

    // wrap bbox over stored tables: strict mode empty, fixed mode covers both sides
    val wrap = BBox(-0.5, 20.0, 0.5, 21.0)
    assert(PlanetExtract.bbox(stored, wrap, strictCompat = true).count() == 0)
    val wrapRows = rows(PlanetExtract.bbox(stored, wrap))
    assert(wrapRows == rows(PlanetExtract.bbox(t, wrap)))

    // each stored table holds exactly one file per p directory, and a
    // directory for every p value it holds
    for (table <- Seq("nodes", "ways", "relations")) {
      val files = WriteProbe.dataFilesPerLeaf(s"$dir/$table")
      val ps = spark.read.parquet(s"$dir/$table").select("p").distinct()
        .collect().map(r => s"p=${r.getAs[Number](0).longValue}").toSet
      assert(files.keySet == ps, table)
      assert(files.values.forall(_ == 1), s"$table: ${files.filter(_._2 > 1)}")
    }
  }

  private lazy val planet = Fixtures.localPlanet(3000, 900, 150)
  private lazy val tables = PlanetExtract.ingest(planet.nodes.toDF(),
    planet.ways.toDF(), planet.relations.toDF())
  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
  private def partitionFilters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString).map(_.group(1)).toSeq

  /** (kind, id) of the PBF an ExtractServer over `t` serves for `b`. */
  private def served(t: PlanetExtract.PlanetTables, b: BBox): Set[(String, Long)] = {
    val srv = new ExtractServer(t, "127.0.0.1", 0)
    val port = srv.start()
    val body = try {
      val in = new java.net.URL(s"http://127.0.0.1:$port/?west=${b.minLon}&south=${b.minLat}" +
        s"&east=${b.maxLon}&north=${b.maxLat}").openStream()
      try in.readAllBytes() finally in.close()
    } finally srv.stop()
    val d = PbfCodec.decodeFile(body)
    (d.nodes.map(n => ("node", n.id)) ++ d.ways.map(w => ("way", w.id)) ++
      d.rels.map(r => ("relation", r.id))).toSet
  }

  test("stores at pBits 3 and 5 serve pruned extracts equal to the in-memory " +
       "bbox; a store without its sidecar serves the same rows unpruned") {
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(2)
    val b = BBox(c._1 - 0.8, c._2 - 0.6, c._1 + 0.8, c._2 + 0.6)
    val expected = rowSet(PlanetExtract.bbox(tables, b))
    assert(expected.nonEmpty)
    for (pBits <- Seq(3, 5)) {
      val dir = Files.createTempDirectory(s"graft_planetdb_p${pBits}_").toString
      PlanetExtract.writeTables(tables, dir, pBits)
      val stored = PlanetExtract.readTables(spark, dir)
      assert(stored.pBits.contains(pBits))
      // the serving selection: ways and relations scans prune on p
      val (_, ways, rels) = PlanetExtract.selectedEntityFrames(stored, b)
      for (df <- Seq(ways, rels))
        assert(partitionFilters(df).exists(_.contains("p#")),
          s"pBits $pBits: ${df.queryExecution.executedPlan}")
      assert(rowSet(PlanetExtract.bbox(stored, b)) == expected, s"pBits $pBits")
      assert(served(stored, b) == expected.map(r => (r._1, r._2)), s"pBits $pBits, served")

      // without the sidecar: no pBits, no partition filters, same rows
      new java.io.File(dir, "_planet_meta.json").delete()
      val bare = PlanetExtract.readTables(spark, dir)
      assert(bare.pBits.isEmpty)
      val (_, bareWays, bareRels) = PlanetExtract.selectedEntityFrames(bare, b)
      assert(Seq(bareWays, bareRels).forall(df => partitionFilters(df).forall(_.isEmpty)))
      assert(rowSet(PlanetExtract.bbox(bare, b)) == expected, s"pBits $pBits, no sidecar")
      assert(served(bare, b) == expected.map(r => (r._1, r._2)), s"pBits $pBits, no sidecar")
    }
  }

  test("a stored extract over a box in other cells compiles no new classes") {
    val dir = Files.createTempDirectory("graft_planetdb_cg_").toString
    PlanetExtract.writeTables(tables, dir, pBits = 5)
    val stored = PlanetExtract.readTables(spark, dir)
    val cs = Fixtures.cityCenters(Fixtures.DefaultSeed)
    def box(c: (Double, Double)) = BBox(c._1 - 0.6, c._2 - 0.5, c._1 + 0.6, c._2 + 0.5)
    var second = Set.empty[(String, Long, Int)]
    WriteProbe.withoutAqe(spark) {
      assert(rowSet(PlanetExtract.bbox(stored, box(cs(0)))).nonEmpty)
      assert(WriteProbe.compileCount {
        second = rowSet(PlanetExtract.bbox(stored, box(cs(1))))
      } == 0)
    }
    assert(second.nonEmpty && second == rowSet(PlanetExtract.bbox(tables, box(cs(1)))))
  }
}
