package graft

import java.nio.file.{Files, Paths}

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.PlanetExtract
import graft.oracle.RefOracle
import graft.sources.{PbfCodec, PbfSource}

/** PBF source/sink (S1/S2/S5): byte-level round-trips of the hand-rolled
  * protobuf codec, phase early-exit pruning, the splittable Spark read
  * path, frame checks on corrupt input, and an end-to-end PBF -> ingest ->
  * extract differential vs the reference-model oracle built from the
  * decoded planet. */
class PbfSourceSpec extends SparkFunSuite {

  private lazy val planet = Fixtures.localPlanet(1500, 400, 80)
  private lazy val pbfDir = {
    val d = Files.createTempDirectory("graft_pbf_").toString
    PbfSource.writePbfFileLocal(s"$d/planet.pbf",
      planet.nodes, planet.ways, planet.relations)
    d
  }
  private def pbfBytes = Files.readAllBytes(Paths.get(s"$pbfDir/planet.pbf"))

  /** `bytes` as a .pbf file in a fresh temp dir; returns its path. */
  private def pbfFile(bytes: Array[Byte]): String = {
    val f = Files.createTempDirectory("graft_pbf_").resolve("planet.pbf")
    Files.write(f, bytes)
    f.toString
  }

  test("varint/zigzag primitives round-trip (incl. 64-bit edges)") {
    val vs = Seq(0L, 1L, -1L, 127L, 128L, 300L, -300L,
      Int.MaxValue.toLong, Int.MinValue.toLong, Long.MaxValue, Long.MinValue,
      0x7FFFFFFFFL, -0x7FFFFFFFFL)
    val out = new PbfCodec.PbOut
    vs.foreach(v => out.writeVarint((v << 1) ^ (v >> 63)))   // zigzag stream
    val in = new PbfCodec.PbIn(out.toBytes, 0, out.toBytes.length)
    vs.foreach(v => assert(in.readSint() == v))
    assert(!in.hasNext)
  }

  test("file framing: header frame + data frames, zlib round-trip") {
    val fs = PbfCodec.frames(pbfBytes).toSeq
    assert(fs.head._1.blobType == "OSMHeader")
    assert(fs.tail.forall(_._1.blobType == "OSMData"))
    // 1500 nodes / 8000 per block = 1 node block, 1 way block, 1 rel block
    assert(fs.size == 4)
  }

  test("decode(encode(planet)) round-trips ids, refs, members and tags " +
       "exactly; coords within the 100-nanodegree granularity quantum") {
    val d = PbfCodec.decodeFile(pbfBytes)
    assert(d.nodes.size == planet.nodes.size)
    assert(d.ways.size == planet.ways.size)
    assert(d.rels.size == planet.relations.size)
    d.nodes.zip(planet.nodes).foreach { case (got, exp) =>
      assert(got.id == exp.id && got.tags == exp.tags)
      assert(math.abs(got.lat - exp.lat) <= 5.1e-8, s"node ${exp.id} lat")
      assert(math.abs(got.lon - exp.lon) <= 5.1e-8, s"node ${exp.id} lon")
    }
    d.ways.zip(planet.ways).foreach { case (got, exp) =>
      assert(got.id == exp.id && got.refs.toSeq == exp.refs.toSeq &&
        got.tags == exp.tags)
    }
    d.rels.zip(planet.relations).foreach { case (got, exp) =>
      assert(got.id == exp.id && got.tags == exp.tags)
      assert(got.members.toSeq == exp.members.toSeq)   // roles/types/refs
    }
  }

  test("phase pruning: a nodes-only decode stops before way blocks (S3)") {
    val d = PbfCodec.decodeFile(pbfBytes,
      PbfCodec.Wanted(nodes = true, ways = false, relations = false))
    assert(d.nodes.size == planet.nodes.size)
    assert(d.ways.isEmpty && d.rels.isEmpty)
    // the scan stopped at the first ways block: relation kind never seen
    assert(!d.kindsSeen.contains("relation"))
  }

  test("sparse (non-dense) Node messages decode too") {
    // hand-encode a sparse node: id 7, lat 1.5, lon 2.5, one tag
    val st = new PbfCodec.PbOut
    st.writeBytes(1, "".getBytes); st.writeBytes(1, "k".getBytes)
    st.writeBytes(1, "v".getBytes)
    val n = new PbfCodec.PbOut
    n.writeSint(1, 7L)
    n.writePacked(2, Seq(1L), zigzag = false)
    n.writePacked(3, Seq(2L), zigzag = false)
    n.writeSint(8, 15000000L)    // 1.5 deg at granularity 100
    n.writeSint(9, 25000000L)
    val g = new PbfCodec.PbOut
    g.writeMessage(1, n)
    val blk = new PbfCodec.PbOut
    blk.writeMessage(1, st); blk.writeMessage(2, g)
    val d = PbfCodec.decodePrimitiveBlock(blk.toBytes)
    assert(d.nodes == Seq(Fixtures.NodeRow(7, 2.5, 1.5, Map("k" -> "v"))))
  }

  test("split read of one file: typed datasets match the local decode") {
    import spark.implicits._
    val split = PbfSource.readPlanetSplit(spark, s"$pbfDir/planet.pbf")
    val nodes = split.nodes.as[Fixtures.NodeRow].collect().sortBy(_.id)
    assert(nodes.length == planet.nodes.size)
    assert(nodes.map(_.id).toSeq == planet.nodes.map(_.id))
    val ways = split.ways.as[Fixtures.WayRow].collect().sortBy(_.id)
    assert(ways.map(_.refs.toSeq).toSeq == planet.ways.map(_.refs.toSeq))
    val rels = split.relations.as[Fixtures.RelationRow].collect().sortBy(_.id)
    assert(rels.length == planet.relations.size)
    split.unpersist()
  }

  test("end-to-end: PBF -> ingest -> bbox extract matches the oracle built " +
       "from the decoded planet (coords quantize identically)") {
    val split = PbfSource.readPlanetSplit(spark, s"$pbfDir/planet.pbf")
    val t = PlanetExtract.ingest(split.nodes, split.ways, split.relations,
      strictB1 = true)
    val decoded = PbfCodec.decodeFile(pbfBytes)
    val oraclePlanet = Fixtures.Planet(decoded.nodes, decoded.ways, decoded.rels)
    val oracle = new RefOracle(oraclePlanet, strictB1 = true)
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
    val b = BBox(c._1 - 1.5, c._2 - 1.0, c._1 + 1.5, c._2 + 1.0)
    val engine = PlanetExtract.bbox(t, b).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSet
    val expect = oracle.extract(b).map(x => (x.kind, x.id, x.cell)).toSet
    assert(engine == expect,
      s"engine-only=${(engine -- expect).take(5)} oracle-only=${(expect -- engine).take(5)}")
    assert(engine.nonEmpty)
    split.unpersist()
  }

  test("randomized round-trip: huge ids, negative coords, unicode tags, " +
       "empty tag maps, odd roles (seeded property sweep)") {
    (0 until 10).foreach { seed =>
      val r = new scala.util.Random(900 + seed)
      def rid(): Long = if (r.nextBoolean()) r.nextInt(1000000).toLong
                        else math.abs(r.nextLong()) % (1L << 40)
      def rstr(): String = {
        val pool = "abcXYZ äöü 日本語 :#=%\\"
        (0 until 1 + r.nextInt(8)).map(_ => pool(r.nextInt(pool.length))).mkString
      }
      def rtags(): Map[String, String] =
        (0 until r.nextInt(4)).map(_ => rstr() -> rstr()).toMap
      val nodes = (0 until 50).map { _ =>
        Fixtures.NodeRow(rid(), r.nextDouble() * 360 - 180,
          r.nextDouble() * 180 - 90, rtags())
      }.distinctBy(_.id)
      val ways = (0 until 20).map { _ =>
        Fixtures.WayRow(rid(),
          Array.fill(1 + r.nextInt(6))(rid()), rtags())
      }.distinctBy(_.id)
      val rels = (0 until 10).map { _ =>
        Fixtures.RelationRow(rid(), Array.fill(1 + r.nextInt(4))(
          Fixtures.RelMemberRow(rstr(), r.nextInt(3).toByte, rid())), rtags())
      }.distinctBy(_.id)
      val bos = new java.io.ByteArrayOutputStream()
      PbfCodec.writePbfFile(bos, nodes, ways, rels, blockSize = 16)
      val d = PbfCodec.decodeFile(bos.toByteArray)
      assert(d.nodes.map(n => (n.id, n.tags)) == nodes.map(n => (n.id, n.tags)),
        s"seed $seed nodes")
      d.nodes.zip(nodes).foreach { case (g, e) =>
        assert(math.abs(g.lat - e.lat) <= 5.1e-8 && math.abs(g.lon - e.lon) <= 5.1e-8,
          s"seed $seed coords of ${e.id}")
      }
      assert(d.ways.map(w => (w.id, w.refs.toSeq, w.tags)) ==
        ways.map(w => (w.id, w.refs.toSeq, w.tags)), s"seed $seed ways")
      assert(d.rels.map(x => (x.id, x.members.toSeq, x.tags)) ==
        rels.map(x => (x.id, x.members.toSeq, x.tags)), s"seed $seed rels")
      // the lazy-iterator whole-file form (the streamed-HTTP-response
      // encoder) is byte-identical to the Seq form AND never holds more
      // than one block of entities: a strict one-shot iterator instrumented
      // to track the high-water mark of un-consumed pulls per block
      val pulled = new java.util.concurrent.atomic.AtomicInteger(0)
      var maxBetweenBlocks = 0
      def counting[T](xs: Seq[T]): Iterator[T] = xs.iterator.map { x =>
        maxBetweenBlocks = math.max(maxBetweenBlocks, pulled.incrementAndGet())
        x
      }
      val bos2 = new java.io.ByteArrayOutputStream() {
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          pulled.set(0)   // a framed block flushed: its entities are free
          super.write(b, off, len)
        }
      }
      PbfCodec.writePbfFileStreaming(bos2, counting(nodes), counting(ways),
        counting(rels), blockSize = 16)
      assert(java.util.Arrays.equals(bos2.toByteArray, bos.toByteArray),
        s"seed $seed streaming bytes != Seq bytes")
      assert(maxBetweenBlocks <= 16,
        s"seed $seed streamed encoder buffered $maxBetweenBlocks > blockSize entities")
    }
  }

  test("splittable single-file read: blob index covers the file exactly; " +
       "4-way split decode equals the whole-file decode") {
    val frames = PbfSource.indexBlobs(spark, s"$pbfDir/planet.pbf")
    // index covers the byte stream with no gaps or overlaps
    assert(frames.head.start == 0)
    frames.sliding(2).foreach { case Seq(a, b) =>
      assert(a.start + a.len == b.start); case _ => }
    assert(frames.last.start + frames.last.len == pbfBytes.length)
    assert(frames.head.blobType == "OSMHeader")
    assert(frames.count(_.blobType == "OSMData") == 3)

    // a MANY-block copy (small blocks) so the 4-way split carries real work
    val manyDir = java.nio.file.Files.createTempDirectory("graft_pbf_many_")
    val os = java.nio.file.Files.newOutputStream(manyDir.resolve("planet.pbf"))
    try graft.sources.PbfCodec.writePbfFile(os, planet.nodes, planet.ways,
      planet.relations, blockSize = 128) finally os.close()
    val manyFrames = PbfSource.indexBlobs(spark, s"$manyDir/planet.pbf")
    assert(manyFrames.count(_.blobType == "OSMData") >= 14)   // 12+4+1 blocks

    val passesBefore = PbfSource.indexPasses.get()
    val split = PbfSource.readPlanetSplit(spark, s"$manyDir/planet.pbf",
      parallelism = 4)
    val (n, w, r) = (split.nodes, split.ways, split.relations)
    assert(n.count() == planet.nodes.size)
    assert(PbfSource.indexPasses.get() - passesBefore == 1,
      "readPlanetSplit must index the file exactly ONCE for all three kinds")
    assert(w.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      planet.ways.map(_.id))
    assert(r.count() == planet.relations.size)
    // content identical to the whole-file decode
    val whole = PbfCodec.decodeFile(pbfBytes).nodes
      .map(x => (x.id, x.lon, x.lat)).toSet
    val splitRows = n.select("id", "lon", "lat").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2))).toSet
    assert(whole == splitRows)
    split.unpersist()
  }

  test("truncated zlib blob fails fast with an IOException (no infinite " +
       "inflate loop)") {
    def varint(v0: Long): Array[Byte] = {
      var v = v0
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((v & ~0x7FL) != 0) { out += ((v & 0x7F) | 0x80).toByte; v >>>= 7 }
      out += v.toByte
      out.toArray
    }
    // deflate 1000 bytes, keep only the first half: inflate will stall
    // with needsInput() at some offset < rawSize
    val payload = Array.tabulate(1000)(i => (i * 37 % 251).toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](4096)
    val n = d.deflate(buf); d.end()
    val trunc = buf.take(n / 2)
    val blob = Array[Byte](0x10) ++ varint(1000) ++            // raw_size
      Array[Byte](0x1A) ++ varint(trunc.length) ++ trunc       // zlib_data
    val hdrName = "OSMData".getBytes("UTF-8")
    val header = Array[Byte](0x0A) ++ varint(hdrName.length) ++ hdrName ++
      Array[Byte](0x18) ++ varint(blob.length)                 // datasize
    val file = Array[Byte](
      (header.length >>> 24).toByte, (header.length >>> 16).toByte,
      (header.length >>> 8).toByte, header.length.toByte) ++ header ++ blob
    val ex = intercept[java.io.IOException] {
      graft.sources.PbfCodec.frames(file).next()
    }
    assert(ex.getMessage.contains("truncated or corrupt"))
  }

  test("streaming sink: entities past the block size land in FURTHER " +
       "OSMData frames (iterator is consumed lazily, never buffered whole)") {
    val nodes = (1L to 35L).map(i =>
      Fixtures.NodeRow(i, i * 0.001, i * 0.0005, Map("k" -> s"v$i")))
    val bos = new java.io.ByteArrayOutputStream()
    PbfCodec.writePbfStream(bos, nodes.iterator, blockSize = 10)(
      PbfCodec.encodeNodeBlock)
    val bytes = bos.toByteArray
    val frames = PbfCodec.frames(bytes).toSeq
    assert(frames.head._1.blobType == "OSMHeader")
    assert(frames.count(_._1.blobType == "OSMData") == 4)   // ceil(35/10)
    val d = PbfCodec.decodeFile(bytes)
    assert(d.nodes.map(_.id) == nodes.map(_.id))
    assert(d.nodes.map(_.tags) == nodes.map(_.tags))
  }

  test("distributed PBF sink: part files re-read to the same row set") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft_pbf_out_").toString
    PbfSource.writePlanet(
      planet.nodes.toDS().repartition(3),
      planet.ways.toDS().repartition(2),
      planet.relations.toDS().repartition(2), outDir)
    val parts = new java.io.File(outDir).listFiles().map(_.getName).sorted
    assert(parts.head.startsWith("part-0-nodes"))
    assert(parts.last.startsWith("part-2-relations"))
    // the parts concatenated in name order form one valid stream
    val one = Files.createTempDirectory("graft_pbf_concat_").resolve("planet.pbf")
    Files.write(one, parts.flatMap(p => Files.readAllBytes(Paths.get(outDir, p))))
    val split = PbfSource.readPlanetSplit(spark, one.toString)
    val (n2, w2, r2) = (split.nodes, split.ways, split.relations)
    assert(n2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      planet.nodes.map(_.id))
    assert(w2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      planet.ways.map(_.id))
    assert(r2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      planet.relations.map(_.id))
    split.unpersist()
  }

  test("corrupt framing: a garbage header length or a file cut off " +
       "mid-blob is an IOException naming the offset, from both readers; " +
       "the split read fails on the driver, at index time") {
    val good = pbfBytes
    val frames = PbfSource.indexBlobs(spark, pbfFile(good))
    val second = frames(1).start
    def withLen(at: Long, len: Int): Array[Byte] = {
      val b = good.clone()
      java.nio.ByteBuffer.wrap(b).putInt(at.toInt, len)
      b
    }
    val cases = Seq(
      "negative header length" -> (withLen(0, -1), 0L),
      "header length past 64 KiB" -> (withLen(second, (64 << 10) + 1), second),
      "huge header length" -> (withLen(second, Int.MaxValue), second),
      "cut off mid-blob" -> (good.take(good.length - 10), frames.last.start),
      "cut off inside a length prefix" ->
        (good.take(frames.last.start.toInt + 2), frames.last.start))
    cases.foreach { case (what, (bytes, offset)) =>
      val local = intercept[java.io.IOException](PbfCodec.decodeFile(bytes))
      assert(local.getMessage.contains(s"offset $offset"), s"$what: ${local.getMessage}")
      val file = pbfFile(bytes)
      var ex: java.io.IOException = null
      val jobs = WriteProbe.jobCount(spark) {
        ex = intercept[java.io.IOException](PbfSource.readPlanetSplit(spark, file))
      }
      assert(jobs == 0, s"$what: the split read ran $jobs Spark jobs before failing")
      assert(ex.getMessage.contains(s"offset $offset") && ex.getMessage.contains(file),
        s"$what: ${ex.getMessage}")
    }
    // a datasize past MaxInflated is rejected before any buffer is sized
    val hdr = new PbfCodec.PbOut
    hdr.writeString(1, "OSMData")
    hdr.writeInt(3, PbfCodec.MaxInflated + 1L)
    val h = hdr.toBytes
    val big = java.nio.ByteBuffer.allocate(4 + h.length).putInt(h.length).put(h).array()
    val ex = intercept[java.io.IOException](PbfCodec.decodeFile(big))
    assert(ex.getMessage.contains("datasize"), ex.getMessage)
  }

  test("corrupt payload: a flipped byte behind a valid header is an " +
       "IOException naming the frame's offset, and on the split read also " +
       "the file, with the decode failure as its cause") {
    val good = pbfBytes
    val starts = PbfSource.indexBlobs(spark, pbfFile(good)).map(_.start)
    val Named = "(?s)corrupt PBF frame at offset (\\d+).*".r
    def flipped(at: Int) = { val b = good.clone(); b(at) = (b(at) ^ 0xFF).toByte; b }
    // offsets whose flip fails in a frame's payload, with that frame's start
    val payloadFailures = (120 until math.min(5000, good.length)).flatMap { at =>
      try { PbfCodec.decodeFile(flipped(at)); None }
      catch {
        case e: java.io.IOException =>
          val offset = e.getMessage match {
            case Named(o) => o.toLong
            case m => fail(s"flip at $at: $m")
          }
          if (e.getCause == null) None       // a header field: framing checks
          else {
            assert(offset == starts.filter(_ <= at).max, s"flip at $at: ${e.getMessage}")
            Some(at -> offset)
          }
      }
    }
    assert(payloadFailures.size > 1000, s"${payloadFailures.size} payload failures")
    val picked = payloadFailures.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    picked.foreach { case (at, offset) =>
      val file = pbfFile(flipped(at))
      val split = PbfSource.readPlanetSplit(spark, file)
      val ex = try intercept[Exception](split.nodes.count()) finally split.unpersist()
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[java.io.IOException] && t.getCause != null &&
          t.getMessage.contains(s"offset $offset of $file")),
        s"flip at $at: ${chain.map(_.getMessage).mkString(" <- ")}")
    }
  }

  test("a single-file split read runs a pinned number of Spark jobs " +
       "(adaptive execution off)") {
    val file = pbfFile(pbfBytes)
    var split: PbfSource.SplitPlanet = null
    val jobs = WriteProbe.jobCount(spark) {
      split = PbfSource.readPlanetSplit(spark, file)
      assert(split.nodes.count() == planet.nodes.size)
    }
    split.unpersist()
    // the range partitioner's sample of the frame index, then the count;
    // the driver's index pass runs no job
    assert(jobs == 2, s"$jobs jobs")
  }
}
