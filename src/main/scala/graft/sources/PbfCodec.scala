package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.fixtures.Fixtures.{NodeRow, RelMemberRow, RelationRow, WayRow}

/**
 * OSM PBF wire codec, hand-rolled (no protobuf runtime on the classpath —
 * the container is offline). Implements exactly the subset of the protobuf
 * wire format the OSM PBF schema uses: varint (wire 0) and length-delimited
 * (wire 2) fields, packed repeated scalars, zigzag sint64.
 *
 * Schema per the reference's proto files:
 *  - file framing  = [4B big-endian len][BlobHeader][Blob]
 *    (fileformat.proto:28-50; reference reader pbf-read.c:239-253)
 *  - Blob          = raw:1 | raw_size:2 | zlib_data:3 (inflate cap 32 MiB,
 *    pbf-read.c:57-60)
 *  - PrimitiveBlock= stringtable:1, primitivegroup:2, granularity:17,
 *    lat_offset:19, lon_offset:20 (osmformat.proto:101-105)
 *  - groups        = nodes:1, dense:2, ways:3, relations:4
 *  - DenseNodes    = id:1 / lat:8 / lon:9 packed sint64 DELTA coded,
 *    keys_vals:10 = ((k v)* 0)* (osmformat.proto:204-227;
 *    decode loop pbf-read.c:166-209)
 *  - Way           = id:1, keys:2, vals:3, refs:8 packed sint64 DELTA
 *  - Relation      = id:1, keys:2, vals:3, roles_sid:8, memids:9 (DELTA),
 *    types:10
 *  - coordinates: lat = 1e-9 * (lat_offset + granularity * raw)
 *    (osmformat.proto:38, pbf-read.c:141-143,162-163)
 *
 * Entity metadata (Info/DenseInfo) is not written and skipped on read —
 * the same projection the reference applies on load (vex.c:466-580).
 */
object PbfCodec {

  final val BlockSize = 8000          // entities per block (pbf-write.c:103)
  final val MaxInflated = 32 << 20    // sanity cap (pbf-read.c:57-60)
  final val MaxHeaderLen = 64 << 10   // BlobHeader cap (fileformat.proto)
  final val Granularity = 100L        // default: 100 nanodeg units

  // ---- protobuf primitives ---------------------------------------------------

  /** The zigzag transform — ONE definition shared by the protobuf wire
    * codec ([[PbOut]]/[[PbIn]]) and the VEX sink ([[VexSink]]), so the two
    * hand-rolled sinks cannot drift on the subtle bit-twiddling. */
  private[sources] object Varint {
    @inline def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
    @inline def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)
  }

  final class PbOut {
    val buf = new ByteArrayOutputStream()
    def writeVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      buf.write(v.toInt)
    }
    def writeTag(field: Int, wire: Int): Unit = writeVarint((field << 3) | wire)
    def writeSint(field: Int, v: Long): Unit = {
      writeTag(field, 0); writeVarint(Varint.zigzag(v))
    }
    def writeInt(field: Int, v: Long): Unit = { writeTag(field, 0); writeVarint(v) }
    def writeBytes(field: Int, b: Array[Byte]): Unit = {
      writeTag(field, 2); writeVarint(b.length); buf.write(b)
    }
    def writeString(field: Int, s: String): Unit =
      writeBytes(field, s.getBytes("UTF-8"))
    def writeMessage(field: Int, m: PbOut): Unit = writeBytes(field, m.toBytes)
    /** Packed repeated varints (optionally zigzag), as one wire-2 field. */
    def writePacked(field: Int, vs: Iterable[Long], zigzag: Boolean): Unit = {
      if (vs.isEmpty) return
      val p = new PbOut
      vs.foreach(v => p.writeVarint(if (zigzag) Varint.zigzag(v) else v))
      writeBytes(field, p.toBytes)
    }
    def toBytes: Array[Byte] = buf.toByteArray
  }

  final class PbIn(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val b = buf(pos); pos += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def readSint(): Long = Varint.unzigzag(readVarint())
    def readTag(): Int = readVarint().toInt       // (field << 3) | wire
    def readLen(): Int = readVarint().toInt
    def sub(): PbIn = { val n = readLen(); val s = new PbIn(buf, pos, pos + n); pos += n; s }
    def readBytes(): Array[Byte] = {
      val n = readLen(); val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n; out
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => pos += 8
      case 2 => pos += readLen()
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
    def readPacked(zigzag: Boolean): Array[Long] = {
      val s = sub()
      val out = mutable.ArrayBuffer.empty[Long]
      while (s.hasNext) out += (if (zigzag) s.readSint() else s.readVarint())
      out.toArray
    }
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end(); out.toByteArray
  }
  private def inflate(b: Array[Byte], rawSize: Int): Array[Byte] = {
    require(rawSize <= MaxInflated, s"blob too large: $rawSize")
    val inf = new Inflater()
    inf.setInput(b)
    val out = new Array[Byte](rawSize)
    var off = 0
    try {
      while (!inf.finished() && off < rawSize) {
        val n = inf.inflate(out, off, rawSize - off)
        // truncated/corrupt zlib: inflate returns 0 with needsInput (or
        // needsDictionary) set and finished() false — fail instead of
        // spinning forever on a malformed blob
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new java.io.IOException(
            s"truncated or corrupt zlib blob: $off of $rawSize bytes inflated")
        off += n
      }
      // a raw_size that disagrees with the stream would otherwise pass
      // silently: short leaves trailing zeros, long drops the tail
      if (off < rawSize || inf.inflate(new Array[Byte](1)) > 0)
        throw new java.io.IOException(
          s"zlib blob does not inflate to its raw_size of $rawSize bytes")
      out
    } finally inf.end()
  }

  // ---- file framing -----------------------------------------------------------

  /** Frame one blob: [len(BlobHeader) BE][BlobHeader{type,datasize}][Blob]. */
  def frameBlob(os: java.io.OutputStream, blobType: String,
                payload: Array[Byte], compress: Boolean = true): Unit = {
    val blob = new PbOut
    if (compress) {
      blob.writeInt(2, payload.length)          // raw_size
      blob.writeBytes(3, deflate(payload))      // zlib_data
    } else blob.writeBytes(1, payload)          // raw
    val blobBytes = blob.toBytes
    val header = new PbOut
    header.writeString(1, blobType)
    header.writeInt(3, blobBytes.length)        // datasize
    val headerBytes = header.toBytes
    os.write(Array[Byte](
      (headerBytes.length >>> 24).toByte, (headerBytes.length >>> 16).toByte,
      (headerBytes.length >>> 8).toByte, headerBytes.length.toByte))
    os.write(headerBytes)
    os.write(blobBytes)
  }

  /** One frame of a PBF stream: [start, start+len) covers the whole
    * [4B len][BlobHeader][Blob] unit, decodable in isolation; the Blob is
    * its last `dataSize` bytes. */
  final case class BlobFrame(start: Long, len: Int, blobType: String,
                             dataSize: Int) {
    def blobStart: Long = start + len - dataSize
  }

  /** Parse the BlobHeader of the frame at `offset` of an input of `size`
    * bytes; `read(pos, buf)` fills `buf` from input position `pos`. The
    * ONE framing parser: the driver's header-only index of a file and the
    * in-memory [[frames]] both go through it. The lengths come from the
    * input, so each is checked before it sizes a buffer or a seek: a header
    * length outside (0, [[MaxHeaderLen]]], a `datasize` outside
    * [0, [[MaxInflated]]], or a frame that ends past the input is an
    * IOException naming the offset (and `source`, when given). */
  def frameAt(offset: Long, size: Long, source: String = "")(
      read: (Long, Array[Byte]) => Unit): BlobFrame = {
    def corrupt(msg: String) = corruptFrame(offset, source, msg, null)
    if (offset + 4 > size)
      throw corrupt(s"${size - offset} trailing bytes, too few for a header length")
    val lenBuf = new Array[Byte](4)
    read(offset, lenBuf)
    val hLen = java.nio.ByteBuffer.wrap(lenBuf).getInt   // big-endian
    if (hLen <= 0 || hLen > MaxHeaderLen)
      throw corrupt(s"BlobHeader length $hLen outside (0, $MaxHeaderLen]")
    if (offset + 4 + hLen > size)
      throw corrupt(s"BlobHeader of $hLen bytes ends past the input ($size bytes)")
    val hBytes = new Array[Byte](hLen)
    read(offset + 4, hBytes)
    var tpe = ""; var dataSize = -1L
    try {
      val h = new PbIn(hBytes, 0, hLen)
      while (h.hasNext) {
        val t = h.readTag()
        (t >> 3, t & 7) match {
          case (1, 2) => tpe = new String(h.readBytes(), "UTF-8")
          case (3, 0) => dataSize = h.readVarint()
          case (_, w) => h.skip(w)
        }
      }
    } catch {
      case e @ (_: IndexOutOfBoundsException | _: IllegalArgumentException) =>
        throw corrupt(s"unparsable BlobHeader (${e.getMessage})")
    }
    if (dataSize < 0 || dataSize > MaxInflated)
      throw corrupt(s"datasize $dataSize outside [0, $MaxInflated]")
    val f = BlobFrame(offset, 4 + hLen + dataSize.toInt, tpe, dataSize.toInt)
    if (offset + f.len > size)
      throw corrupt(s"frame of ${f.len} bytes ends past the input ($size bytes)")
    f
  }

  private def corruptFrame(offset: Long, source: String, msg: String,
                           cause: Throwable) = new java.io.IOException(
    s"corrupt PBF frame at offset $offset${if (source.isEmpty) "" else s" of $source"}: $msg",
    cause)

  /** `body` over the payload of frame `f` of `source`. Any failure in it (a
    * zlib error, an unknown wire type, a length past the block) means a
    * corrupt payload behind a valid header: it is rethrown as an
    * IOException naming the frame's offset and `source`, with the original
    * failure as its cause. */
  private[sources] def inFrame[T](f: BlobFrame, source: String)(body: => T): T =
    try body catch {
      case NonFatal(e) => throw corruptFrame(f.start, source, s"malformed Blob payload ($e)", e)
    }

  /** Iterate the frames of a PBF byte stream with their inflated payloads.
    * `bytes` starts at offset `base` of `source`, so a failure names the
    * frame's offset in the whole file. */
  def frames(bytes: Array[Byte], base: Long = 0L,
             source: String = ""): Iterator[(BlobFrame, Array[Byte])] =
    new Iterator[(BlobFrame, Array[Byte])] {
      private var pos = 0L
      def hasNext: Boolean = pos < bytes.length
      def next(): (BlobFrame, Array[Byte]) = {
        val f = frameAt(base + pos, base + bytes.length, source) { (p, buf) =>
          System.arraycopy(bytes, (p - base).toInt, buf, 0, buf.length) }
        pos += f.len
        val payload = inFrame(f, source) {
          val start = (f.blobStart - base).toInt
          val b = new PbIn(bytes, start, start + f.dataSize)
          var raw: Array[Byte] = null; var rawSize = -1; var zlib: Array[Byte] = null
          while (b.hasNext) {
            val t = b.readTag()
            (t >> 3, t & 7) match {
              case (1, 2) => raw = b.readBytes()
              case (2, 0) => rawSize = b.readVarint().toInt
              case (3, 2) => zlib = b.readBytes()
              case (_, w) => b.skip(w)
            }
          }
          if (raw != null) raw
          else if (zlib != null) inflate(zlib, rawSize)
          else throw new java.io.IOException("Blob holds neither raw nor zlib_data")
        }
        (f, payload)
      }
    }

  // ---- PrimitiveBlock encode ---------------------------------------------------

  private final class StringTable {
    private val idx = mutable.LinkedHashMap[String, Int]("" -> 0)  // slot 0 blank
    def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
    def encode: PbOut = {
      val st = new PbOut
      idx.keysIterator.foreach(s => st.writeBytes(1, s.getBytes("UTF-8")))
      st
    }
  }

  private def nano(deg: Double): Long = math.round(deg * 1e9 / Granularity)

  /** Encode one PrimitiveBlock holding a dense-node group. */
  def encodeNodeBlock(nodes: Seq[NodeRow]): Array[Byte] = {
    val st = new StringTable
    val dense = new PbOut
    dense.writePacked(1, deltas(nodes.map(_.id)), zigzag = true)
    dense.writePacked(8, deltas(nodes.map(n => nano(n.lat))), zigzag = true)
    dense.writePacked(9, deltas(nodes.map(n => nano(n.lon))), zigzag = true)
    if (nodes.exists(_.tags.nonEmpty)) {
      val kv = mutable.ArrayBuffer.empty[Long]
      nodes.foreach { n =>
        n.tags.foreach { case (k, v) => kv += st.id(k); kv += st.id(v) }
        kv += 0L
      }
      dense.writePacked(10, kv, zigzag = false)
    }
    val group = new PbOut
    group.writeMessage(2, dense)
    block(st, group)
  }

  def encodeWayBlock(ways: Seq[WayRow]): Array[Byte] = {
    val st = new StringTable
    val group = new PbOut
    ways.foreach { w =>
      val m = new PbOut
      m.writeInt(1, w.id)
      m.writePacked(2, w.tags.keys.map(st.id(_).toLong), zigzag = false)
      m.writePacked(3, w.tags.values.map(st.id(_).toLong), zigzag = false)
      m.writePacked(8, deltas(w.refs.toSeq), zigzag = true)
      group.writeMessage(3, m)
    }
    block(st, group)
  }

  def encodeRelationBlock(rels: Seq[RelationRow]): Array[Byte] = {
    val st = new StringTable
    val group = new PbOut
    rels.foreach { r =>
      val m = new PbOut
      m.writeInt(1, r.id)
      m.writePacked(2, r.tags.keys.map(st.id(_).toLong), zigzag = false)
      m.writePacked(3, r.tags.values.map(st.id(_).toLong), zigzag = false)
      m.writePacked(8, r.members.map(mm => st.id(mm.role).toLong).toSeq, zigzag = false)
      m.writePacked(9, deltas(r.members.map(_.ref).toSeq), zigzag = true)
      m.writePacked(10, r.members.map(_.mtype.toLong).toSeq, zigzag = false)
      group.writeMessage(4, m)
    }
    block(st, group)
  }

  private def block(st: StringTable, group: PbOut): Array[Byte] = {
    val blk = new PbOut
    blk.writeMessage(1, st.encode)
    blk.writeMessage(2, group)
    // granularity/offsets omitted => proto defaults (100, 0, 0)
    blk.toBytes
  }

  private def deltas(vs: Seq[Long]): Seq[Long] = {
    var prev = 0L
    vs.map { v => val d = v - prev; prev = v; d }
  }

  def encodeHeaderBlock(): Array[Byte] = {
    val h = new PbOut
    h.writeString(4, "OsmSchema-V0.6")
    h.writeString(4, "DenseNodes")
    h.writeString(16, "graft")
    h.toBytes
  }

  /** Write a complete single-file PBF: header + blocked entity streams in
    * the canonical nodes -> ways -> relations order (the invariant the
    * reference enforces on read, pbf-read.c:94-135). */
  def writePbfFile(os: java.io.OutputStream, nodes: Seq[NodeRow],
                   ways: Seq[WayRow], rels: Seq[RelationRow],
                   blockSize: Int = BlockSize): Unit =
    writePbfFileStreaming(os, nodes.iterator, ways.iterator, rels.iterator,
      blockSize)

  /** [[writePbfFile]] over LAZY entity iterators: header + blocked
    * nodes -> ways -> relations, pulling at most `blockSize` entities of
    * one kind into memory at a time — the whole-file sibling of
    * [[writePbfStream]], byte-identical to the Seq form (which delegates
    * here). The shape that lets a server stream an extract without
    * materializing it (vexserver.js pipes the child's stdout the same
    * way). */
  def writePbfFileStreaming(os: java.io.OutputStream, nodes: Iterator[NodeRow],
                            ways: Iterator[WayRow], rels: Iterator[RelationRow],
                            blockSize: Int = BlockSize): Unit = {
    frameBlob(os, "OSMHeader", encodeHeaderBlock())
    nodes.grouped(blockSize).foreach(g => frameBlob(os, "OSMData", encodeNodeBlock(g)))
    ways.grouped(blockSize).foreach(g => frameBlob(os, "OSMData", encodeWayBlock(g)))
    rels.grouped(blockSize).foreach(g => frameBlob(os, "OSMData", encodeRelationBlock(g)))
  }

  /** Streaming single-kind PBF write: header + one OSMData block per
    * `blockSize` entities pulled LAZILY from the iterator — task memory is
    * bounded by one block regardless of partition size (the reference's
    * own sink streams 8,000-entity blocks, pbf-write.c:103; buffering the
    * whole partition made sink task memory grow with partition size). */
  def writePbfStream[T](os: java.io.OutputStream, it: Iterator[T],
                        blockSize: Int = BlockSize)(
      encodeBlock: Seq[T] => Array[Byte]): Unit = {
    frameBlob(os, "OSMHeader", encodeHeaderBlock())
    it.grouped(blockSize).foreach(g => frameBlob(os, "OSMData", encodeBlock(g)))
  }

  // ---- PrimitiveBlock decode -----------------------------------------------------

  final case class Decoded(nodes: Seq[NodeRow], ways: Seq[WayRow],
                           rels: Seq[RelationRow],
                           kindsSeen: Set[String])

  /** Which entity kinds to materialize — the column/phase-pruning analogue
    * of the reference's callback-driven early exit (pbf-read.c:94-135). */
  final case class Wanted(nodes: Boolean = true, ways: Boolean = true,
                          relations: Boolean = true)

  def decodePrimitiveBlock(bytes: Array[Byte], want: Wanted = Wanted()): Decoded = {
    val in = new PbIn(bytes, 0, bytes.length)
    var strings: Array[String] = Array("")
    var granularity = 100L; var latOff = 0L; var lonOff = 0L
    val groups = mutable.ArrayBuffer.empty[(Int, PbIn)]
    while (in.hasNext) {
      val t = in.readTag()
      (t >> 3, t & 7) match {
        case (1, 2) =>
          val st = in.sub()
          val ss = mutable.ArrayBuffer.empty[String]
          while (st.hasNext) {
            val tt = st.readTag()
            if ((tt >> 3) == 1 && (tt & 7) == 2) ss += new String(st.readBytes(), "UTF-8")
            else st.skip(tt & 7)
          }
          strings = ss.toArray
        case (2, 2) => groups += ((2, in.sub()))
        case (17, 0) => granularity = in.readVarint()
        case (19, 0) => latOff = in.readVarint()
        case (20, 0) => lonOff = in.readVarint()
        case (_, w) => in.skip(w)
      }
    }
    def deg(off: Long, raw: Long): Double = 1e-9 * (off + granularity * raw)

    val nodes = mutable.ArrayBuffer.empty[NodeRow]
    val ways = mutable.ArrayBuffer.empty[WayRow]
    val rels = mutable.ArrayBuffer.empty[RelationRow]
    var kinds = Set.empty[String]

    groups.foreach { case (_, g) =>
      while (g.hasNext) {
        val t = g.readTag()
        (t >> 3, t & 7) match {
          case (1, 2) =>                       // sparse Node
            kinds += "node"
            val m = g.sub()
            if (want.nodes) {
              var id = 0L; var lat = 0L; var lon = 0L
              var keys = Array.empty[Long]; var vals = Array.empty[Long]
              while (m.hasNext) {
                val tt = m.readTag()
                (tt >> 3, tt & 7) match {
                  case (1, 0) => id = m.readSint()
                  case (2, 2) => keys = m.readPacked(zigzag = false)
                  case (3, 2) => vals = m.readPacked(zigzag = false)
                  case (8, 0) => lat = m.readSint()
                  case (9, 0) => lon = m.readSint()
                  case (_, w) => m.skip(w)
                }
              }
              nodes += NodeRow(id, deg(lonOff, lon), deg(latOff, lat),
                keys.zip(vals).map { case (k, v) =>
                  strings(k.toInt) -> strings(v.toInt) }.toMap)
            }
          case (2, 2) =>                       // DenseNodes
            kinds += "node"
            val m = g.sub()
            if (want.nodes) {
              var ids = Array.empty[Long]; var lats = Array.empty[Long]
              var lons = Array.empty[Long]; var kvs = Array.empty[Long]
              while (m.hasNext) {
                val tt = m.readTag()
                (tt >> 3, tt & 7) match {
                  case (1, 2) => ids = m.readPacked(zigzag = true)
                  case (8, 2) => lats = m.readPacked(zigzag = true)
                  case (9, 2) => lons = m.readPacked(zigzag = true)
                  case (10, 2) => kvs = m.readPacked(zigzag = false)
                  case (_, w) => m.skip(w)
                }
              }
              var id = 0L; var la = 0L; var lo = 0L; var kp = 0
              var i = 0
              while (i < ids.length) {
                id += ids(i); la += lats(i); lo += lons(i)   // running deltas
                val tags = mutable.Map.empty[String, String]
                while (kp < kvs.length && kvs(kp) != 0L) {
                  tags += strings(kvs(kp).toInt) -> strings(kvs(kp + 1).toInt)
                  kp += 2
                }
                if (kp < kvs.length) kp += 1                 // consume delimiter
                nodes += NodeRow(id, deg(lonOff, lo), deg(latOff, la), tags.toMap)
                i += 1
              }
            }
          case (3, 2) =>                       // Way
            kinds += "way"
            val m = g.sub()
            if (want.ways) {
              var id = 0L
              var keys = Array.empty[Long]; var vals = Array.empty[Long]
              var refs = Array.empty[Long]
              while (m.hasNext) {
                val tt = m.readTag()
                (tt >> 3, tt & 7) match {
                  case (1, 0) => id = m.readVarint()
                  case (2, 2) => keys = m.readPacked(zigzag = false)
                  case (3, 2) => vals = m.readPacked(zigzag = false)
                  case (8, 2) => refs = m.readPacked(zigzag = true)
                  case (_, w) => m.skip(w)
                }
              }
              var acc = 0L
              ways += WayRow(id, refs.map { d => acc += d; acc },
                keys.zip(vals).map { case (k, v) =>
                  strings(k.toInt) -> strings(v.toInt) }.toMap)
            }
          case (4, 2) =>                       // Relation
            kinds += "relation"
            val m = g.sub()
            if (want.relations) {
              var id = 0L
              var keys = Array.empty[Long]; var vals = Array.empty[Long]
              var roles = Array.empty[Long]; var memids = Array.empty[Long]
              var types = Array.empty[Long]
              while (m.hasNext) {
                val tt = m.readTag()
                (tt >> 3, tt & 7) match {
                  case (1, 0) => id = m.readVarint()
                  case (2, 2) => keys = m.readPacked(zigzag = false)
                  case (3, 2) => vals = m.readPacked(zigzag = false)
                  case (8, 2) => roles = m.readPacked(zigzag = false)
                  case (9, 2) => memids = m.readPacked(zigzag = true)
                  case (10, 2) => types = m.readPacked(zigzag = false)
                  case (_, w) => m.skip(w)
                }
              }
              var acc = 0L
              val members = memids.indices.map { i =>
                acc += memids(i)
                RelMemberRow(strings(roles(i).toInt), types(i).toByte, acc)
              }.toArray
              rels += RelationRow(id, members,
                keys.zip(vals).map { case (k, v) =>
                  strings(k.toInt) -> strings(v.toInt) }.toMap)
            }
          case (_, w) => g.skip(w)
        }
      }
    }
    Decoded(nodes.toSeq, ways.toSeq, rels.toSeq, kinds)
  }

  /**
   * Decode a whole PBF byte stream with phase early-exit: blocks arrive
   * nodes -> ways -> relations, so once a block introduces a kind past the
   * last wanted one, the remaining blocks cannot contain wanted entities
   * and the scan stops (pbf-read.c:94-135 semantics).
   */
  def decodeFile(bytes: Array[Byte], want: Wanted = Wanted()): Decoded = {
    val nodes = mutable.ArrayBuffer.empty[NodeRow]
    val ways = mutable.ArrayBuffer.empty[WayRow]
    val rels = mutable.ArrayBuffer.empty[RelationRow]
    var kinds = Set.empty[String]
    val lastWanted =
      if (want.relations) 3 else if (want.ways) 2 else if (want.nodes) 1 else 0
    val it = frames(bytes)
    var stop = false
    while (it.hasNext && !stop) {
      val (f, payload) = it.next()
      if (f.blobType == "OSMData") {
        val d = inFrame(f, "")(decodePrimitiveBlock(payload, want))
        nodes ++= d.nodes; ways ++= d.ways; rels ++= d.rels; kinds ++= d.kindsSeen
        val phase = if (d.kindsSeen.contains("relation")) 3
                    else if (d.kindsSeen.contains("way")) 2
                    else if (d.kindsSeen.contains("node")) 1 else 0
        if (phase > lastWanted) stop = true   // nothing wanted can follow
      }
    }
    Decoded(nodes.toSeq, ways.toSeq, rels.toSeq, kinds)
  }
}
