package graft

import java.net.{HttpURLConnection, URL}
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import org.apache.spark.sql.functions._

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.serving.ExtractServer
import graft.sources.{PbfCodec, VexSink}

/** S7 HTTP serving layer: the vexserver.js contract (query parsing, the
  * reference's exact 400 messages, octet-stream + attachment headers)
  * over a live ephemeral-port server, with the PBF body decoded back and
  * compared against the engine's own bbox extract row set. */
class ExtractServerSpec extends SparkFunSuite with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val planet = Fixtures.localPlanet(1500, 400, 80)
  private lazy val tables = PlanetExtract.ingest(
    planet.nodes.toDF(), planet.ways.toDF(), planet.relations.toDF())

  /** [[tables]] written and read back as a store: what a deployment serves. */
  private val storeDir = Files.createTempDirectory("graft_serve_store_")
  private lazy val stored = {
    PlanetExtract.writeTables(tables, storeDir.toString)
    PlanetExtract.readTables(spark, storeDir.toString)
  }

  override def afterAll(): Unit =
    try {
      val all = Files.walk(storeDir)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally all.close()
    } finally super.afterAll()

  private def get(port: Int, path: String): (Int, Array[Byte], Map[String, String]) = {
    val conn = new URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(30000)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = in.readAllBytes(); in.close()
    val headers = Seq("Content-Type", "Content-Disposition", "X-Vex-Nodes",
      "X-Vex-Ways").flatMap(h =>
        Option(conn.getHeaderField(h)).map(h -> _)).toMap
    (code, body, headers)
  }

  private def query(b: BBox, vex: Boolean = false): String =
    s"/?west=${b.minLon}&south=${b.minLat}&east=${b.maxLon}&north=${b.maxLat}" +
      (if (vex) "&format=vex" else "")

  /** Serve `t` from a fresh server on an ephemeral port, then stop it. */
  private def served[A](t: PlanetExtract.PlanetTables = tables)(body: Int => A): A = {
    val srv = new ExtractServer(t, "127.0.0.1", 0)
    val port = srv.start()
    try body(port) finally srv.stop()
  }

  /** Driver-side encodes of the fixture entities whose ids
    * [[PlanetExtract.bbox]] selects for `b`, sorted by id per kind: the PBF
    * body, the VEX body, and the VEX (nodes, ways) counts. */
  private def driverEncodes(b: BBox): (Array[Byte], Array[Byte], (Long, Long)) = {
    val ids = PlanetExtract.bbox(tables, b).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val nodes = planet.nodes.filter(n => ids(("node", n.id))).sortBy(_.id)
    val ways = planet.ways.filter(w => ids(("way", w.id))).sortBy(_.id)
    val rels = planet.relations.filter(r => ids(("relation", r.id))).sortBy(_.id)
    val pbf = new java.io.ByteArrayOutputStream()
    PbfCodec.writePbfFile(pbf, nodes, ways, rels)
    val vex = new java.io.ByteArrayOutputStream()
    val counts = VexSink.write(vex, nodes, ways)
    (pbf.toByteArray, vex.toByteArray, counts)
  }

  private val emptyBox = BBox(-120.0, -60.0, -110.0, -50.0)

  private def kindsIn(b: BBox): Set[String] =
    PlanetExtract.bbox(tables, b).select("kind").distinct().collect().map(_.getString(0)).toSet

  /** A box around a city centre whose extract holds all three kinds. */
  private lazy val cityBox: BBox = Fixtures.cityCenters(Fixtures.DefaultSeed).iterator
    .map(c => BBox(c._1 - 3.0, c._2 - 2.0, c._1 + 3.0, c._2 + 2.0))
    .find(kindsIn(_) == Set("node", "way", "relation")).get

  /** A one-degree box around a way's first node whose extract holds ways
    * but no relations. */
  private lazy val noRelationsBox: BBox = {
    val nodeById = planet.nodes.map(n => n.id -> n).toMap
    planet.ways.iterator.map { w =>
      val n = nodeById(w.refs(0))
      BBox(n.lon - 0.5, n.lat - 0.5, n.lon + 0.5, n.lat + 0.5)
    }.find { b => val kinds = kindsIn(b); kinds("way") && !kinds("relation") }.get
  }

  test("serves a PBF extract matching the engine's bbox row set, with the " +
       "reference's headers; rejects bad boxes with the reference's messages") {
    val srv = new ExtractServer(tables, "127.0.0.1", 0)
    val port = srv.start()
    try {
      val b = BBox(40.0, 20.0, 60.0, 35.0)
      val (code, body, headers) =
        get(port, s"/?west=${b.minLon}&south=${b.minLat}&east=${b.maxLon}&north=${b.maxLat}")
      assert(code == 200)
      assert(headers("Content-Type") == "application/octet-stream")
      assert(headers("Content-Disposition").startsWith("attachment;filename=osm_export_"))
      assert(headers("Content-Disposition").endsWith(".pbf"))
      val d = PbfCodec.decodeFile(body)
      val got = d.nodes.map(n => ("node", n.id)) ++
        d.ways.map(w => ("way", w.id)) ++ d.rels.map(r => ("relation", r.id))
      val expected = PlanetExtract.bbox(tables, b).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got.sorted == expected.sorted)
      assert(got.nonEmpty, "weak fixture: empty extract")
      // refs and tags survive the HTTP round trip
      val wayById = planet.ways.map(w => w.id -> w).toMap
      d.ways.foreach(w => assert(w.refs.toSeq == wayById(w.id).refs.toSeq))

      // one-letter aliases, any order (vexserver.js:23-26)
      val (code2, body2, _) =
        get(port, s"/?n=${b.maxLat}&e=${b.maxLon}&s=${b.minLat}&w=${b.minLon}")
      assert(code2 == 200 && body2.sameElements(body))

      // integral midpoints print JS-style (no trailing .0 — the reference
      // filename comes out of JS number stringification, vexserver.js:60)
      val (c2b, _, h2b) = get(port, "/?north=30&south=20&east=40&west=20")
      assert(c2b == 200)
      assert(h2b("Content-Disposition") ==
        "attachment;filename=osm_export_25_30.pbf", h2b("Content-Disposition"))

      // the reference's exact 400s (vexserver.js:27-52)
      val (c3, b3, _) = get(port, "/?north=10&south=5&east=abc&west=1")
      assert(c3 == 400 && new String(b3, "UTF-8").startsWith("Usage:"))
      val (c4, b4, _) = get(port, "/?north=5&south=10&east=2&west=1")
      assert(c4 == 400 && new String(b4, "UTF-8")
        .contains("North must be north of south"))
      val (c5, b5, _) = get(port, "/?north=95&south=10&east=2&west=1")
      assert(c5 == 400 && new String(b5, "UTF-8")
        .contains("Latitudes must be between -90 and 90"))
      val (c6, b6, _) = get(port, "/?north=5&south=1&east=185&west=1")
      assert(c6 == 400 && new String(b6, "UTF-8")
        .contains("Longitudes must be between -180 and 180"))

      // format=vex: the VEX encoding with counts in headers (the format
      // itself carries none)
      val (c7, b7, h7) = get(port,
        s"/?west=${b.minLon}&south=${b.minLat}&east=${b.maxLon}&north=${b.maxLat}&format=vex")
      assert(c7 == 200 && h7("Content-Disposition").endsWith(".vex"))
      val (vn, vw) = VexSink.read(new java.io.ByteArrayInputStream(b7),
        h7("X-Vex-Nodes").toLong, h7("X-Vex-Ways").toLong)
      assert(vn.map(_.id) == d.nodes.map(_.id).sorted)
      assert(vw.map(_.id) == d.ways.map(_.id).sorted)
    } finally srv.stop()
  }

  private def spools(): Set[String] = WriteProbe.tempFiles("graft_vex_")

  test("a malformed percent-escape gets the usage 400, not a 500") {
    val usage = "Usage: ?north=<lat>&south=<lat>&east=<lon>&west=<lon>\n" +
      "   or: ?n=<lat>&s=<lat>&e=<lon>&w=<lon>\norder is not important"
    val malformed = Seq("north=%zz&south=1&east=2&west=1",
      "north=5&south=1&east=2&west=1%", "n=5&s=1%2&e=2&w=1")
    for (q <- malformed) assert(ExtractServer.parse(q) == Left(usage), q)
    // an undecodable parameter the box does not need is ignored
    assert(ExtractServer.parse("north=30&south=20&east=40&west=20&x%zz=1&format=%v") ==
      Right((BBox(20.0, 20.0, 40.0, 30.0), false)))
    // over HTTP the JDK server rejects such a request line itself: a 400,
    // never the handler's 500
    val srv = new ExtractServer(tables, "127.0.0.1", 0)
    val port = srv.start()
    try for (q <- malformed) assert(get(port, s"/?$q")._1 == 400, q)
    finally srv.stop()
  }

  test("VEX is spooled: the body is byte-identical to the buffered encoding " +
       "and no spool file is left after success or failure") {
    val b = BBox(40.0, 20.0, 60.0, 35.0)
    val query = s"/?west=${b.minLon}&south=${b.minLat}&east=${b.maxLon}&north=${b.maxLat}" +
      "&format=vex"
    val before = spools()
    val srv = new ExtractServer(tables, "127.0.0.1", 0)
    val port = srv.start()
    val (code, body, h) = try get(port, query) finally srv.stop()
    assert(code == 200)
    val ids = PlanetExtract.bbox(tables, b).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val bos = new java.io.ByteArrayOutputStream()
    val (nn, nw) = VexSink.write(bos,
      planet.nodes.filter(n => ids(("node", n.id))).sortBy(_.id),
      planet.ways.filter(w => ids(("way", w.id))).sortBy(_.id))
    assert(nn > 0 && nw > 0)
    assert(h("X-Vex-Nodes") == nn.toString && h("X-Vex-Ways") == nw.toString)
    assert(body.toSeq == bos.toByteArray.toSeq)
    assert(spools() == before)

    // an encode that fails mid-stream: a 500, and the spool is gone
    val broken = tables.copy(nodes = tables.nodes.withColumn("lon",
      when(col("id") % 2 === 0, raise_error(lit("boom"))).otherwise(col("lon"))))
    val bad = new ExtractServer(broken, "127.0.0.1", 0)
    val badPort = bad.start()
    val (c2, _, _) = try get(badPort, query) finally bad.stop()
    assert(c2 == 500)
    assert(spools() == before)
  }

  test("a PBF or VEX extract over a box in other cells compiles no new classes") {
    val cs = Fixtures.cityCenters(Fixtures.DefaultSeed)
    def box(c: (Double, Double)) = BBox(c._1 - 3.0, c._2 - 2.0, c._1 + 3.0, c._2 + 2.0)
    served() { port =>
      WriteProbe.withoutAqe(spark) {
        for (vex <- Seq(false, true)) {
          val (c1, b1, _) = get(port, query(box(cs(0)), vex))
          assert(c1 == 200 && b1.nonEmpty)
          // the codegen metric is JVM-wide: open the window only once no
          // earlier work can still compile
          WriteProbe.quiesce(spark)
          var second = (0, Array.empty[Byte], Map.empty[String, String])
          val compiled = WriteProbe.compileCount {
            second = get(port, query(box(cs(1)), vex))
          }
          val clue = if (compiled == 0) "" else
            PlanetExtract.taggedEntities(tables, box(cs(1)), relations = !vex)
              .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          assert(compiled == 0, s"vex=$vex: $compiled classes compiled; served plan:\n$clue")
          assert(second._1 == 200 && second._2.nonEmpty && !second._2.sameElements(b1))
        }
      }
    }
  }

  test("one served request runs a pinned number of Spark jobs: one tagged plan, " +
       "not one per entity kind") {
    // (box, VEX?, jobs with adaptive execution off): the node broadcast,
    // the range sample (two jobs when one input partition is oversized, as
    // here), and one job per result partition. Planning one query per
    // kind ran 17, 7, 13 and 6.
    val pins = Seq((cityBox, false, 7), (emptyBox, false, 3),
                   (cityBox, true, 7), (emptyBox, true, 3))
    served(stored) { port =>
      for ((b, vex, pinned) <- pins) {
        WriteProbe.quiesce(spark)
        val jobs = WriteProbe.jobCount(spark, anyThread = true) {
          assert(get(port, query(b, vex))._1 == 200)
        }
        assert(jobs == pinned, s"box=$b vex=$vex")
      }
    }
  }

  test("an extract over several result partitions streams nodes, ways, then " +
       "relations, byte-identical to a driver-side encode") {
    val (pbf, vex, (nn, nw)) = driverEncodes(cityBox)
    val rows = PlanetExtract.bbox(tables, cityBox).count().toInt
    val partitions = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(partitions)
    // adaptive execution off, so the range exchange keeps its partition
    // count: over 2 partitions one holds two kinds; over twice as many
    // partitions as rows every row samples as a bound of its own, so each
    // kind boundary falls between partitions
    val layouts = WriteProbe.withoutAqe(spark) {
      try for (n <- Seq(2, 2 * rows)) yield {
        spark.conf.set(partitions, n.toString)
        val kinds = PlanetExtract.taggedEntities(tables, cityBox).rdd
          .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toVector)).collect()
          .filter(_.nonEmpty).toSeq
        assert(kinds.flatten == kinds.flatten.sorted && kinds.flatten.distinct == Seq(0, 1, 2))
        served() { port =>
          val (c, body, _) = get(port, query(cityBox))
          assert(c == 200 && body.toSeq == pbf.toSeq, s"PBF over $n partitions")
          val (cv, bodyV, h) = get(port, query(cityBox, vex = true))
          assert(cv == 200 && bodyV.toSeq == vex.toSeq, s"VEX over $n partitions")
          assert(h("X-Vex-Nodes") == nn.toString && h("X-Vex-Ways") == nw.toString)
        }
        kinds
      } finally spark.conf.set(partitions, prev)
    }
    assert(layouts.forall(_.size > 1), "one result partition")
    assert(layouts.exists(_.exists(_.distinct.size > 1)),
      "no result partition holds two kinds")
    assert(layouts.exists(_.sliding(2).exists(p => p.size == 2 && p(0).last < p(1).head)),
      "no kind boundary between result partitions")
  }

  test("a box with no relations and an empty box: the driver-side encodes; " +
       "VEX carries no relations and its counts match the body") {
    assert(PlanetExtract.bbox(tables, emptyBox).isEmpty, "weak fixture: box not empty")
    val header = new java.io.ByteArrayOutputStream()
    PbfCodec.writePbfFile(header, Nil, Nil, Nil)
    served() { port =>
      for (b <- Seq(noRelationsBox, emptyBox, cityBox)) {
        val (pbf, vex, (nn, nw)) = driverEncodes(b)
        val (c, body, _) = get(port, query(b))
        assert(c == 200 && body.toSeq == pbf.toSeq, s"PBF $b")
        val d = PbfCodec.decodeFile(body)
        if (b == noRelationsBox) assert(d.ways.nonEmpty && d.rels.isEmpty)
        if (b == emptyBox) {
          assert(body.length == 65 && body.toSeq == header.toByteArray.toSeq)
          assert(d.nodes.isEmpty && d.ways.isEmpty && d.rels.isEmpty)
        }
        val (cv, bodyV, h) = get(port, query(b, vex = true))
        assert(cv == 200 && bodyV.toSeq == vex.toSeq, s"VEX $b")
        assert(h("X-Vex-Nodes") == nn.toString && h("X-Vex-Ways") == nw.toString)
        // the counts read the whole body: no relation bytes follow the ways
        val in = new java.io.ByteArrayInputStream(bodyV)
        val (vn, vw) = VexSink.read(in, nn, nw)
        assert(vn.size == nn && vw.size == nw && in.read() == -1, s"VEX $b")
        assert(vn.map(_.id) == d.nodes.map(_.id) && vw.map(_.id) == d.ways.map(_.id))
      }
    }
  }
}
