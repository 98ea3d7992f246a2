package graft.sources

import java.io.{BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.nio.file.{Files, Path}

import graft.cells.CellIndex
import graft.fixtures.Fixtures.{NodeRow, WayRow}

/**
 * S6: the reference's VEX binary sink (vex.c:656-768) — "a much simpler
 * binary format" than PBF: delta-coded ids/coords as zigzag varints,
 * length-prefixed tag strings. Reference-faithful byte semantics:
 *
 *  - shared write state (last_x, last_y, last_node_id, last_way_id), all
 *    initialized to 0 once per file (vexbin_write_init, vex.c:662-668);
 *  - node (vexbin_write_node, vex.c:726-743): sint(id delta),
 *    sint(x delta), sint(y delta), varint(ntags), then per tag a
 *    length-prefixed key and value; x/y are the i32 coord quantization
 *    (CellIndex.toX/toY = vex.c:80-93), and the x/y deltas wrap in int32
 *    exactly as the reference's `int32_t x_delta` subtraction does;
 *  - way (vexbin_write_way, vex.c:745-768): sint(id delta vs last way id),
 *    varint(n_refs), then per ref sint(ref delta vs last_node_id) — the
 *    node-id delta state is SHARED across ways and with the preceding
 *    node stage ("Delta code way references (even across ways)"), tags;
 *  - relations: never implemented in the reference's VEX path
 *    (vex.c:893 "TODO Output relations in VEX format") — same here.
 *
 * Tags are written in key-sorted order so the byte stream is
 * deterministic (the reference emits its internal storage order, which a
 * Map cannot reproduce; the format itself does not constrain order).
 *
 * The stream is NOT self-delimiting: the reference writes no counts or
 * section markers and ships no reader (a one-way dump feeding "a
 * subsequent data compression pass", vex.c:703). [[read]] is therefore a
 * test-only decoder taking the entity counts externally — [[write]]
 * returns them.
 */
object VexSink {

  // ---- varint primitives (protobuf conventions, vex.c:673-696) --------------
  // zigzag shared with the PBF wire codec (PbfCodec.Varint) — one
  // definition, no cross-sink drift

  private def writeVarint(os: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { os.write(((v & 0x7FL) | 0x80L).toInt); v >>>= 7 }
    os.write((v & 0x7FL).toInt)
  }
  private def writeSint(os: OutputStream, v: Long): Unit =
    writeVarint(os, PbfCodec.Varint.zigzag(v))
  private def writeBuf(os: OutputStream, b: Array[Byte]): Unit = {
    writeVarint(os, b.length.toLong); os.write(b)
  }
  private def writeTags(os: OutputStream, tags: Map[String, String]): Unit = {
    writeVarint(os, tags.size.toLong)
    tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      writeBuf(os, k.getBytes("UTF-8")); writeBuf(os, v.getBytes("UTF-8"))
    }
  }

  private def readVarint(in: InputStream): Long = {
    var v = 0L; var shift = 0
    while (true) {
      val b = in.read()
      if (b < 0) throw new EOFException("truncated VEX varint")
      v |= (b & 0x7FL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      if (shift > 63) throw new java.io.IOException("VEX varint too long")
    }
    v   // unreachable
  }
  private def readSint(in: InputStream): Long =
    PbfCodec.Varint.unzigzag(readVarint(in))
  private def readBuf(in: InputStream): String = {
    val n = readVarint(in).toInt
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException("truncated VEX string")
      off += r
    }
    new String(b, "UTF-8")
  }
  private def readTags(in: InputStream): Map[String, String] = {
    val n = readVarint(in).toInt
    (0 until n).map(_ => readBuf(in) -> readBuf(in)).toMap
  }

  // ---- sink -------------------------------------------------------------------

  /** Write nodes then ways in VEX format (the reference's stage order,
    * vex.c:884-951). Iterator-driven: memory is bounded by one entity.
    * Returns (nNodes, nWays) — the counts [[read]] needs, since the
    * format carries none. */
  def write(os: OutputStream, nodes: IterableOnce[NodeRow],
            ways: IterableOnce[WayRow]): (Long, Long) = {
    var lastNodeId = 0L; var lastWayId = 0L
    var lastX = 0; var lastY = 0
    var nNodes = 0L; var nWays = 0L
    nodes.iterator.foreach { n =>
      writeSint(os, n.id - lastNodeId)
      val x = CellIndex.toX(n.lon); val y = CellIndex.toY(n.lat)
      // int32 wraparound semantics of the reference's `int32_t x_delta`
      writeSint(os, (x - lastX).toLong)
      writeSint(os, (y - lastY).toLong)
      writeTags(os, n.tags)
      lastNodeId = n.id; lastX = x; lastY = y; nNodes += 1
    }
    ways.iterator.foreach { w =>
      writeSint(os, w.id - lastWayId)
      writeVarint(os, w.refs.length.toLong)
      w.refs.foreach { r => writeSint(os, r - lastNodeId); lastNodeId = r }
      writeTags(os, w.tags)
      lastWayId = w.id; nWays += 1
    }
    (nNodes, nWays)
  }

  /** Test-only decoder (the reference ships no reader — see class doc):
    * replays the shared delta state over exactly `nNodes` nodes then
    * `nWays` ways. Coordinates come back through the i32 quantization
    * (lossy like the reference's own storage, vex.c:80-93). */
  def read(in: InputStream, nNodes: Long, nWays: Long): (Seq[NodeRow], Seq[WayRow]) = {
    var lastNodeId = 0L; var lastWayId = 0L
    var lastX = 0; var lastY = 0
    val nodes = Seq.newBuilder[NodeRow]
    var i = 0L
    while (i < nNodes) {
      lastNodeId += readSint(in)
      lastX += readSint(in).toInt
      lastY += readSint(in).toInt
      nodes += NodeRow(lastNodeId, CellIndex.getLon(lastX),
        CellIndex.getLat(lastY), readTags(in))
      i += 1
    }
    val ways = Seq.newBuilder[WayRow]
    i = 0L
    while (i < nWays) {
      lastWayId += readSint(in)
      val nRefs = readVarint(in).toInt
      val refs = new Array[Long](nRefs)
      var j = 0
      while (j < nRefs) {
        lastNodeId += readSint(in)
        refs(j) = lastNodeId
        j += 1
      }
      ways += WayRow(lastWayId, refs, readTags(in))
      i += 1
    }
    (nodes.result(), ways.result())
  }

  /** Encode nodes then ways into a fresh temp file (`graft_vex_*.vex` in
    * the JVM temp dir), counting as it goes: memory holds one entity, not
    * the body. Returns (file, nNodes, nWays); the caller streams the file
    * and deletes it. On failure the file is deleted before the exception
    * propagates. */
  def spool(nodes: IterableOnce[NodeRow], ways: IterableOnce[WayRow])
      : (Path, Long, Long) = {
    val file = Files.createTempFile("graft_vex_", ".vex")
    try {
      val os = new BufferedOutputStream(Files.newOutputStream(file))
      val (nn, nw) = try write(os, nodes, ways) finally os.close()
      (file, nn, nw)
    } catch {
      case e: Throwable => Files.deleteIfExists(file); throw e
    }
  }

}
