package graft

import java.nio.file.Files

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.oracle.RefOracle

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

    val fromStored = rows(PlanetExtract.bboxStored(stored, b))
    val fromMemory = rows(PlanetExtract.bbox(t, b))
    val oracle = new RefOracle(planet, strictB1 = true).extract(b)
      .map(r => (r.kind, r.id, r.cell)).toSet
    assert(fromStored == fromMemory)
    assert(fromStored == oracle)
    assert(fromStored.nonEmpty)

    // directory pruning is visible in the physical plan
    val plan = PlanetExtract.bboxStored(stored, b)
      .queryExecution.executedPlan.toString
    // ways/relations scans carry non-empty partition filters (the nodes
    // scan joins by id and legitimately has none)
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no non-empty partition filters in:\n${plan.take(2000)}")

    // wrap bbox over stored tables: strict mode empty, fixed mode covers both sides
    val wrap = BBox(-0.5, 20.0, 0.5, 21.0)
    assert(PlanetExtract.bboxStored(stored, wrap, strictCompat = true).count() == 0)
    val wrapRows = rows(PlanetExtract.bboxStored(stored, wrap))
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
}
