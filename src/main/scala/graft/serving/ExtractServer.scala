package graft.serving

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures.{NodeRow, RelMemberRow, RelationRow, WayRow}
import graft.operators.PlanetExtract
import graft.operators.PlanetExtract.PlanetTables
import graft.sources.{PbfCodec, VexSink}

/**
 * S7: the reference's HTTP serving layer (vexserver.js:19-75) re-expressed
 * as a driver-embedded endpoint over the Spark tables — the same pattern
 * as Spark's own UI server: the engine stays a library, and this thin
 * JDK-httpserver wrapper exposes the bounded-extract surface.
 *
 * Contract replicated from vexserver.js:
 *  - `GET /?north=<lat>&south=<lat>&east=<lon>&west=<lon>` (or the
 *    one-letter aliases `n/s/e/w`), any parameter order;
 *  - missing/non-numeric params -> 400 with the reference's usage text
 *    (vexserver.js:27-34); inverted or out-of-range boxes -> 400 with the
 *    reference's exact messages (vexserver.js:36-52);
 *  - success -> `application/octet-stream` with the reference's
 *    `osm_export_<midlat>_<midlon>.pbf` attachment name
 *    (vexserver.js:56-61) and a PBF body (nodes -> ways -> relations,
 *    streamed in 8k blocks);
 *  - extension: `&format=vex` serves the VEX encoding instead (the
 *    reference selects VEX by output-file extension, vex.c:866-869 —
 *    a server query param is the HTTP analogue), with the entity counts
 *    the format itself lacks in `X-Vex-Nodes` / `X-Vex-Ways` headers
 *    (spooled to a temp file while counting, then streamed).
 *
 * Extract semantics = [[PlanetExtract.bbox]] fixed mode (cell-granular,
 * emit-once nodes), pulled to the driver one result partition at a time —
 * serving is a small-result surface; planet-scale output goes through the
 * distributed sinks instead. Over tables from
 * [[PlanetExtract.readTables]] whose store carries the `pBits` sidecar,
 * each request reads only the ways and relations `p` directories its box
 * touches; a store without the sidecar is served unpruned. The box rides
 * in the generated code as a reference object, so a new box compiles no
 * new classes.
 */
final class ExtractServer(t: PlanetTables, host: String = "0.0.0.0",
                          port: Int = 8282) {

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null)   // serve on the dispatcher thread (bounded use)

  /** Start serving; returns the BOUND port (pass port=0 for ephemeral). */
  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)

  private def respond(ex: HttpExchange, code: Int, ctype: String,
                      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, body.length.toLong)
    try ex.getResponseBody.write(body) finally ex.close()
  }
  private def bad(ex: HttpExchange, msg: String): Unit =
    respond(ex, 400, "text/plain", msg.getBytes("UTF-8"))

  private def handle(ex: HttpExchange): Unit =
    try handleInner(ex)
    catch {
      case e: Throwable =>
        try respond(ex, 500, "text/plain",
          s"extract failed: ${e.getMessage}".getBytes("UTF-8"))
        catch { case _: Throwable => ex.close() }
    }

  private def handleInner(ex: HttpExchange): Unit =
    ExtractServer.parse(Option(ex.getRequestURI.getRawQuery).getOrElse("")) match {
      case Left(msg) => bad(ex, msg)
      case Right((b, vexFormat)) => serve(ex, b, vexFormat)
    }

  private def serve(ex: HttpExchange, b: BBox, vexFormat: Boolean): Unit = {
    val (nodes, ways, rels) = extractEntityIters(b)
    val suffix = if (vexFormat) "vex" else "pbf"
    val disposition =
      s"attachment;filename=osm_export_${jsNum((b.maxLat + b.minLat) / 2)}_" +
        s"${jsNum((b.maxLon + b.minLon) / 2)}.$suffix"
    if (vexFormat) {
      // VEX entity COUNTS ride in response headers (the format itself has
      // none), and headers must be committed before the first body byte:
      // the encoder spools to a temp file while counting, then the file
      // streams with its length. Driver memory holds one result partition
      // and one entity, never the body; a failed encode is still a 500.
      val (file, nn, nw) = VexSink.spool(nodes, ways)
      try {
        ex.getResponseHeaders.set("X-Vex-Nodes", nn.toString)
        ex.getResponseHeaders.set("X-Vex-Ways", nw.toString)
        ex.getResponseHeaders.set("Content-Disposition", disposition)
        ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
        ex.sendResponseHeaders(200, Files.size(file))
        try Files.copy(file, ex.getResponseBody) finally ex.close()
      } finally Files.deleteIfExists(file)
    } else {
      // STREAMED response (vexserver.js:65-68 pipes the child's stdout
      // the same way): chunked transfer, the encoder pulls lazily from
      // the per-kind toLocalIterator, so driver memory holds one result
      // partition + one 8k entity block — never the whole extract
      // (round 6; the buffered form materialized all three entity sets
      // AND the full PBF byte array). A mid-stream failure can no longer
      // become a 500 (headers are committed) — the truncated-body
      // tradeoff every streaming server makes.
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      ex.getResponseHeaders.set("Content-Disposition", disposition)
      ex.sendResponseHeaders(200, 0)
      try PbfCodec.writePbfFileStreaming(ex.getResponseBody, nodes, ways, rels)
      finally ex.close()
    }
  }

  /** JS Number stringification for the attachment name: integral values
    * print without the ".0" Java's Double.toString would add (the
    * reference's midpoints come out of JS arithmetic, vexserver.js:60). */
  private def jsNum(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  private def mapOf(r: Row, field: String): Map[String, String] =
    if (r.schema.fieldNames.contains(field))
      Option(r.getAs[Map[String, String]](field)).getOrElse(Map.empty)
    else Map.empty

  /** Entity-level bbox extract — exactly [[PlanetExtract.bbox]]'s row set
    * (fixed mode, via the SHARED PlanetExtract.selectedEntityFrames
    * selection so the HTTP surface cannot drift from the extract
    * semantics) with full payloads, as LAZY per-kind iterators:
    * `toLocalIterator` fetches one result partition at a time, so the
    * driver never holds a whole entity set (round 6 — the collect() form
    * was the one scale-unsafe driver materialization left in the repo).
    * Emission order inside each kind is id-ascending: orderBy produces
    * range-partitioned output, and toLocalIterator walks partitions in
    * order, so the streamed order equals the collected order
    * (deterministic responses; byte-golden reference order is
    * [[PlanetExtract.bboxOrdered]]'s job). */
  private def extractEntityIters(b: BBox)
      : (Iterator[NodeRow], Iterator[WayRow], Iterator[RelationRow]) = {
    import scala.jdk.CollectionConverters._
    val (selNodes, selWays, selRels) =
      PlanetExtract.selectedEntityFrames(t, b)
    val nodes = selNodes
      .select(t.nodes.columns.map(col): _*).orderBy("id")
      .toLocalIterator().asScala
      .map(r => NodeRow(r.getAs[Long]("id"), r.getAs[Double]("lon"),
        r.getAs[Double]("lat"), mapOf(r, "tags")))
    val ways = selWays.orderBy("id").toLocalIterator().asScala
      .map(r => WayRow(r.getAs[Long]("id"),
        r.getAs[scala.collection.Seq[Long]]("refs").toArray,
        mapOf(r, "tags")))
    val rels = selRels.orderBy("id").toLocalIterator().asScala
      .map(r => RelationRow(r.getAs[Long]("id"),
        r.getAs[scala.collection.Seq[Row]]("members").map(m =>
          RelMemberRow(m.getAs[String]("role"), m.getAs[Byte]("mtype"),
            m.getAs[Long]("ref"))).toArray,
        mapOf(r, "tags")))
    (nodes, ways, rels)
  }
}

object ExtractServer {

  /** The reference's query contract (vexserver.js:23-52): the box and
    * whether VEX was asked for, or the exact 400 message. A malformed
    * percent-escape (`%zz`, a trailing `%`) makes URLDecoder throw; such a
    * value decodes to None, which no parameter accepts (a number reads as
    * non-numeric, so the usage text). The JDK server already answers 400
    * to a request line whose URI holds one; this keeps the parser total
    * on its own. */
  private[graft] def parse(rawQuery: String): Either[String, (BBox, Boolean)] = {
    def decoded(s: String): Option[String] =
      try Some(java.net.URLDecoder.decode(s, "UTF-8"))
      catch { case _: IllegalArgumentException => None }
    val q = rawQuery.split("&").filter(_.contains("=")).flatMap { kv =>
      val Array(k, v) = kv.split("=", 2)
      decoded(k).map(_ -> decoded(v))
    }.toMap
    def num(full: String, short: String): Double =
      q.get(full).orElse(q.get(short)).flatten.map(s =>
        try s.toDouble catch { case _: NumberFormatException => Double.NaN })
        .getOrElse(Double.NaN)
    val north = num("north", "n"); val south = num("south", "s")
    val east = num("east", "e"); val west = num("west", "w")
    if (north.isNaN || south.isNaN || east.isNaN || west.isNaN)
      Left("Usage: ?north=<lat>&south=<lat>&east=<lon>&west=<lon>\n" +
        "   or: ?n=<lat>&s=<lat>&e=<lon>&w=<lon>\norder is not important")
    else if (north <= south || east <= west)
      Left("North must be north of south; east must be east of west")
    else if (north < -90 || north > 90 || south < -90 || south > 90)
      Left("Latitudes must be between -90 and 90")
    else if (west < -180 || west > 180 || east < -180 || east > 180)
      Left("Longitudes must be between -180 and 180")
    else Right((BBox(west, south, east, north), q.get("format").flatten.contains("vex")))
  }
}
