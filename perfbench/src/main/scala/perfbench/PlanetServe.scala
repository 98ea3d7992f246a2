package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.net.{HttpURLConnection, URL}

import org.apache.spark.sql.SparkSession

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.operators.PlanetExtract.PlanetTables
import graft.serving.ExtractServer
import graft.sources.{PbfCodec, PbfSource, VexSink}

/**
 * Workload `planet-serve`: the reference's life cycle. Write a planet-clone
 * PBF (the coarse [[Region]]), load it (`PbfSource.readPlanetSplit` -> `PlanetExtract.ingest` ->
 * `writeTables` -> `readTables`), then serve it with `ExtractServer` to one
 * closed-loop HTTP client: a seeded sequence of boxes from inside one cell
 * to about 1 degree, over city centres and sparse background, 4 PBF : 1
 * VEX, plus malformed queries that must get the reference's 400 text.
 * Per-request Spark fixed cost dominates; no PIP runs.
 */
object PlanetServe {

  /** The coarse fixture world: a load writes one file per coarse cell of
    * each of three tables, and over the fixtures' own quadrant that file
    * count would set the load time (see [[Region]]). */
  val region: Region = Region.Coarse

  /** One request: a box to extract (and whether as VEX), or a malformed
    * query with the reference's exact 400 message. */
  final case class Req(query: String, box: Option[BBox], vex: Boolean, error: Option[String])

  private val usage = "Usage: ?north=<lat>&south=<lat>&east=<lon>&west=<lon>\n" +
    "   or: ?n=<lat>&s=<lat>&e=<lon>&w=<lon>\norder is not important"

  /** Seeded request stream: every 10th request is malformed (cycling the
    * four rejections); of the extracts, every 5th is VEX and every 5th is
    * centred on sparse background (the rest on a city blob), and edges
    * cycle through 8 log-spaced classes from 10^-2 to 10^0 fixture degrees
    * (inside one cell to about 1 degree before the region's scaling). */
  def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(seed ^ 0x5E4FEL)
    var extracts = 0
    (0 until n).map { i =>
      if (i % 10 == 9) (i / 10) % 4 match {
        case 0 => Req(s"/?north=${rnd.nextInt(80)}&south=1&east=abc&west=1", None, false, Some(usage))
        case 1 => Req("/?north=5&south=10&east=20&west=10", None, false,
          Some("North must be north of south; east must be east of west"))
        case 2 => Req(s"/?north=${91 + rnd.nextInt(9)}&south=10&east=20&west=10", None, false,
          Some("Latitudes must be between -90 and 90"))
        case _ => Req(s"/?north=20&south=10&east=${181 + rnd.nextInt(9)}&west=10", None, false,
          Some("Longitudes must be between -180 and 180"))
      } else {
        val h = region.size(rnd, -2, 0, extracts, 8) / 2
        val (clon, clat) = region.point(rnd, seed, background = extracts % 5 == 2)
        val b = BBox(clon - h, clat - h, clon + h, clat + h)
        val vex = extracts % 5 == 4
        extracts += 1
        Req(s"/?west=${b.minLon}&south=${b.minLat}&east=${b.maxLon}&north=${b.maxLat}" +
          (if (vex) "&format=vex" else ""), Some(b), vex, None)
      }
    }
  }

  final case class Resp(code: Int, body: Array[Byte], vexCounts: Option[(Long, Long)])

  def get(port: Int, query: String): Resp = {
    val conn = new URL(s"http://127.0.0.1:$port$query").openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000); conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = try in.readAllBytes() finally in.close()
    val vex = for (n <- Option(conn.getHeaderField("X-Vex-Nodes"));
                   w <- Option(conn.getHeaderField("X-Vex-Ways"))) yield (n.toLong, w.toLong)
    Resp(code, body, vex)
  }

  /** Entities of a response body: (kind, id) -> node coordinates (nodes)
    * plus the decoded rows, for the output check and the encode timing. */
  final case class Decoded(nodes: Seq[Fixtures.NodeRow], ways: Seq[Fixtures.WayRow],
                           rels: Seq[Fixtures.RelationRow]) {
    def keys: Set[(String, Long)] = nodes.map(n => ("node", n.id)).toSet ++
      ways.map(w => ("way", w.id)) ++ rels.map(r => ("relation", r.id))
  }

  def decode(req: Req, resp: Resp): Decoded =
    if (req.vex) {
      val (nn, nw) = resp.vexCounts.get
      val (n, w) = VexSink.read(new ByteArrayInputStream(resp.body), nn, nw)
      Decoded(n, w, Nil)
    } else {
      val d = PbfCodec.decodeFile(resp.body)
      Decoded(d.nodes, d.ways, d.rels)
    }

  /** Cell of a decoded node, up to the format's coordinate quantum (1e-7
    * degree in PBF, 2^-31 of the axis in VEX): the cells of the corners of
    * a 1e-7 degree box around the decoded point. */
  private def cellsNear(lon: Double, lat: Double): Set[Int] =
    (for (dx <- Seq(-1e-7, 0.0, 1e-7); dy <- Seq(-1e-7, 0.0, 1e-7))
      yield CellIndex.gridCellOf(lon + dx, lat + dy)).toSet

  /** The served entities equal the engine's own extract of the same box,
    * and each node sits in the cell the extract assigns it. VEX carries no
    * relations, so it is compared on nodes and ways. */
  def matches(t: PlanetTables, req: Req, d: Decoded): Boolean = {
    val rows = PlanetExtract.bbox(t, req.box.get).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getInt(2))).toMap
    val expected = if (req.vex) rows.keySet.filter(_._1 != "relation") else rows.keySet
    d.keys == expected &&
      d.nodes.forall(n => cellsNear(n.lon, n.lat).contains(rows(("node", n.id))))
  }

  /** Parquet files under `path`: (count, bytes). */
  def dirStats(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  def run(ctx: Ctx, r: Report): Unit = {
    val (nNodes, nWays, nRels) = if (ctx.toy) (3000, 600, 100) else (20000, 4000, 700)
    val entities = nNodes + nWays + nRels
    val spark = ctx.session(ctx.nproc)
    val pbf = ctx.dir("planet.osm.pbf")

    // set-up: the engine's PBF write of the generated planet (the fixture
    // generation itself is not timed)
    val planet = region.planet(nNodes, nWays, nRels, ctx.seed)
    r.setup(1.0)(PbfSource.writePbfFileLocal(pbf, planet.nodes, planet.ways, planet.relations))

    def load(dir: String): PlanetTables = {
      val sp = PbfSource.readPlanetSplit(spark, pbf)
      try PlanetExtract.writeTables(PlanetExtract.ingest(sp.nodes, sp.ways, sp.relations), dir)
      finally sp.unpersist()
      PlanetExtract.readTables(spark, dir)
    }

    val reqs = requests(ctx.seed, if (ctx.toy) 12 else 400)
    // warm-up: one load and the first eight requests (JIT, codegen, file
    // system); with fewer, the first measured requests still ran about a
    // fifth slower than the same box sizes later in the run
    val warm = new ExtractServer(load(ctx.dir("planet-warm")), "127.0.0.1", 0)
    try { val p = warm.start(); reqs.take(8).foreach(q => get(p, q.query)) } finally warm.stop()

    Log("warm-up done")
    val tracer = if (ctx.trace) Some(SparkCounters.install(spark)) else None
    JvmStats.reset()
    val jvm0 = (JvmStats.gcMs, JvmStats.jitMs)

    // measured: two loads, each into its own table directory, then the
    // closed loop on the last one for the run's seconds
    val loads = (1 to 2).flatMap(i => r.op(s"load $i")(load(ctx.dir(s"planet-$i"))))
    val tables = loads.last._2
    JvmStats.checkpoint()
    Log(f"loads: ${loads.map(_._1).mkString(", ")} s")

    // the traced run's Spark counts cover the serving loop: a load's job
    // count varies by a few jobs with the timing of its concurrent writes
    val before = tracer.map(_.snapshot(spark))
    val start = System.nanoTime()
    val server = new ExtractServer(tables, "127.0.0.1", 0)
    val port = server.start()
    val latencies = Seq.newBuilder[Double]
    val kept = Seq.newBuilder[(Req, Resp)]
    var bytes = 0L
    try {
      val traced = if (ctx.trace) Some(if (ctx.toy) 6 else 20) else None
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      var pbf, vex = 0
      // at least 10 requests, so every run sends a VEX and a malformed one
      while (traced.fold(elapsed < ctx.seconds || i < 10)(i < _) && i < reqs.length) {
        val q = reqs(i)
        r.op(s"request $i")(get(port, q.query)).foreach { case (s, resp) =>
          if (q.error.isDefined) {
            r.check(s"request $i is rejected with the reference's 400 text")(
              resp.code == 400 && new String(resp.body, "UTF-8") == q.error.get)
          } else {
            r.check(s"request $i succeeds")(resp.code == 200)
            latencies += s * 1e3
            bytes += resp.body.length
            // keep the first four PBF and two VEX responses for the checks
            if (if (q.vex) vex < 2 else pbf < 4) {
              kept += ((q, resp)); if (q.vex) vex += 1 else pbf += 1 }
          }
        }
        i += 1
      }
    } finally server.stop()
    val wall = (System.nanoTime() - start) / 1e9
    val served = tracer.map(_.snapshot(spark) - before.get)
    JvmStats.checkpoint()
    val peak = JvmStats.peakLiveMb
    val lat = latencies.result()
    Log(f"${lat.length} extracts, median ${Timing.median(lat)}%.1f ms; in order: " +
      lat.map(x => f"$x%.0f").mkString(" "))

    // output checks (outside the measured loop)
    r.check("loaded tables hold every entity")(
      (tables.nodes.count(), tables.ways.count(), tables.relations.count()) ==
        ((nNodes.toLong, nWays.toLong, nRels.toLong)))
    val checked = kept.result()
    checked.foreach { case (q, resp) =>
      r.check(s"served ${if (q.vex) "VEX" else "PBF"} for ${q.box.get} equals PlanetExtract.bbox")(
        matches(tables, q, decode(q, resp)))
    }
    r.check("checked extracts include PBF and VEX, and non-empty ones")(
      checked.exists(_._1.vex) && checked.exists(!_._1.vex) &&
        checked.exists { case (q, resp) => decode(q, resp).nodes.nonEmpty })

    val loadS = Timing.median(loads.map(_._1))
    r.metric("rows_per_s", entities / loadS, "1/s")
    r.latencies("extract", lat)
    r.metric("peak_live_heap_mb", peak, "MB")
    r.detail("load_entities_per_s") = entities / loadS

    tracer.foreach { tr =>
      Layers.spark(r, served.get, wall, ctx.nproc)
      Layers.jvm(r, jvm0)
      Layers.cells(r, checked.map(_._1.box.get))
      r.metric("sources.response_bytes", bytes.toDouble / math.max(1, lat.length), "bytes")
      traceLayers(ctx, r, spark, tr, pbf, tables, checked)
      r.metric("trace.rows_per_s", entities / loadS, "1/s")
    }
  }

  /** The traced run's split of one load and of each kept extract into
    * layers. The PBF decode is lazy; here it is forced with a `count()`
    * right after `readPlanetSplit`, which adds one job the untraced load
    * does not run. */
  private def traceLayers(ctx: Ctx, r: Report, spark: SparkSession, tr: SparkCounters,
                          pbf: String, tables: PlanetTables, kept: Seq[(Req, Resp)]): Unit = {
    val index = Timing.median((1 to 3).map(_ => Timing.time(PbfSource.indexBlobs(spark, pbf))._1))
    val (readS, sp) = Timing.time {
      val sp = PbfSource.readPlanetSplit(spark, pbf); sp.nodes.count(); sp }
    val dir = ctx.dir("planet-traced")
    val (writeS, _) = Timing.time(
      PlanetExtract.writeTables(PlanetExtract.ingest(sp.nodes, sp.ways, sp.relations), dir))
    sp.unpersist()
    val (files, bytes) = dirStats(dir)
    r.metric("sources.pbf_index_ms", index * 1e3, "ms")
    r.metric("sources.pbf_decode_ms", (readS - index) * 1e3, "ms")
    r.metric("planet.ingest_write_ms", writeS * 1e3, "ms")
    r.metric("planet.files_written", files.toDouble, "count")
    r.metric("planet.bytes_written", bytes.toDouble, "bytes")

    // per extract: the HTTP request, the forced engine selection, and the
    // encoders on the decoded entities
    final case class Split(request: Counts, select: Counts, requestS: Double, selectS: Double,
                           pbfS: Double, vexS: Double, overheadS: Double, rowsOut: Long)
    val server = new ExtractServer(tables, "127.0.0.1", 0)
    val port = server.start()
    val splits = try kept.map { case (q, resp) =>
      val d = decode(q, resp)
      val c0 = tr.snapshot(spark)
      val (requestS, _) = Timing.time(get(port, q.query))
      val c1 = tr.snapshot(spark)
      val (selectS, sel) = Timing.time(PlanetExtract.bbox(tables, q.box.get).collect())
      val c2 = tr.snapshot(spark)
      val pbfS = Timing.time(PbfCodec.writePbfFile(new ByteArrayOutputStream(), d.nodes, d.ways, d.rels))._1
      val vexS = Timing.time(VexSink.write(new ByteArrayOutputStream(), d.nodes, d.ways))._1
      Split(c1 - c0, c2 - c1, requestS, selectS, pbfS, vexS,
        requestS - selectS - (if (q.vex) vexS else pbfS), sel.length)
    } finally server.stop()
    def med(f: Split => Double) = Timing.median(splits.map(f))
    r.metric("serving.request_ms", med(_.requestS) * 1e3, "ms")
    r.metric("serving.jobs_per_request", med(_.request("jobs").toDouble), "count")
    r.metric("serving.tasks_per_request", med(_.request("tasks").toDouble), "count")
    r.metric("serving.overhead_ms", med(_.overheadS) * 1e3, "ms")
    r.metric("planet.select_ms", med(_.selectS) * 1e3, "ms")
    r.metric("planet.jobs_per_extract", med(_.select("jobs").toDouble), "count")
    r.metric("planet.tasks_per_extract", med(_.select("tasks").toDouble), "count")
    r.metric("sources.pbf_encode_ms", med(_.pbfS) * 1e3, "ms")
    r.metric("sources.vex_encode_ms", med(_.vexS) * 1e3, "ms")
    Layers.scan(r, splits.map(_.select).reduce(_ + _), splits.length, splits.map(_.rowsOut).sum)
  }
}
