package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.cells.CellIndex
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.{NodeRow, WayRow}
import graft.sources.VexSink

/** S6 VEX sink (vex.c:656-768): byte-level hand vectors + round-trips
  * through the test-only reader, incl. the shared node-id delta state
  * crossing from the node stage into way refs and int32 coord-delta
  * wraparound. Pure codec — no Spark session needed. */
class VexSinkSpec extends AnyFunSuite {

  private def roundTrip(nodes: Seq[NodeRow], ways: Seq[WayRow])
      : (Seq[NodeRow], Seq[WayRow]) = {
    val bos = new ByteArrayOutputStream()
    val (nn, nw) = VexSink.write(bos, nodes, ways)
    assert(nn == nodes.size && nw == ways.size)
    VexSink.read(new ByteArrayInputStream(bos.toByteArray), nn, nw)
  }

  test("hand vector: first node and way delta-code against zeroed state") {
    val bos = new ByteArrayOutputStream()
    VexSink.write(bos,
      Seq(NodeRow(1L, 0.0, 0.0, Map.empty)),
      Seq(WayRow(1L, Array(1L), Map.empty)))
    // node: sint(1)=02 sint(0)=00 sint(0)=00 ntags=00
    // way:  sint(1)=02 nrefs=01 sint(1-1)=00 ntags=00
    assert(bos.toByteArray.toSeq == Seq[Byte](2, 0, 0, 0, 2, 1, 0, 0))
  }

  test("round-trip: ids, quantized coords, sorted tags, shared ref deltas") {
    val planet = Fixtures.localPlanet(800, 200, 0)
    val (n2, w2) = roundTrip(planet.nodes, planet.ways)
    assert(n2.map(_.id) == planet.nodes.map(_.id))
    // coords come back through the i32 quantization (vex.c:80-93 lossy)
    planet.nodes.zip(n2).foreach { case (a, b) =>
      assert(b.lon == CellIndex.getLon(CellIndex.toX(a.lon)))
      assert(b.lat == CellIndex.getLat(CellIndex.toY(a.lat)))
      assert(b.tags == a.tags)
    }
    assert(w2.map(_.id) == planet.ways.map(_.id))
    planet.ways.zip(w2).foreach { case (a, b) =>
      assert(b.refs.toSeq == a.refs.toSeq)
      assert(b.tags == a.tags)
    }
  }

  test("int32 coord-delta wraparound survives (±180 lon swing) and way-ref " +
       "deltas continue from the LAST NODE of the node stage") {
    val nodes = Seq(
      NodeRow(10L, -179.999, -89.9, Map("a" -> "1")),
      NodeRow(12L, 179.999, 89.9, Map.empty),     // x delta wraps int32
      NodeRow(15L, 0.5, 0.25, Map("k" -> "v", "b" -> "2")))
    val ways = Seq(
      WayRow(3L, Array(10L, 12L), Map("highway" -> "x")),
      WayRow(7L, Array(15L, 12L, 10L), Map.empty))  // descending refs: negative deltas
    val (n2, w2) = roundTrip(nodes, ways)
    assert(n2.map(_.id) == Seq(10L, 12L, 15L))
    assert(n2(1).lon == CellIndex.getLon(CellIndex.toX(179.999)))
    assert(w2.map(_.refs.toSeq) == Seq(Seq(10L, 12L), Seq(15L, 12L, 10L)))
    assert(n2(2).tags == Map("k" -> "v", "b" -> "2"))
  }

  test("empty stream and zero-way files round-trip") {
    val (n0, w0) = roundTrip(Seq.empty, Seq.empty)
    assert(n0.isEmpty && w0.isEmpty)
    val (n1, w1) = roundTrip(Seq(NodeRow(5L, 1.0, 2.0, Map.empty)), Seq.empty)
    assert(n1.map(_.id) == Seq(5L) && w1.isEmpty)
  }

  test("truncated stream fails loudly") {
    val bos = new ByteArrayOutputStream()
    VexSink.write(bos, Seq(NodeRow(1L, 1.0, 1.0, Map("k" -> "v"))), Seq.empty)
    val bytes = bos.toByteArray.dropRight(2)
    intercept[java.io.IOException] {
      VexSink.read(new ByteArrayInputStream(bytes), 1L, 0L)
    }
  }

  test("spool: one-shot iterators give a file byte-identical to the buffered " +
       "form; no temp file is left after a failure") {
    val planet = Fixtures.localPlanet(800, 200, 0)
    val bos = new ByteArrayOutputStream()
    val counts = VexSink.write(bos, planet.nodes, planet.ways)
    // each element may be pulled once: a second pass would find nothing
    var pulled = 0
    def once[A](xs: Seq[A]): Iterator[A] = xs.iterator.map { x => pulled += 1; x }
    val (file, nn, nw) = VexSink.spool(once(planet.nodes), once(planet.ways))
    try {
      assert(pulled == planet.nodes.size + planet.ways.size)
      assert((nn, nw) == counts)
      assert(java.nio.file.Files.readAllBytes(file).toSeq == bos.toByteArray.toSeq)
    } finally java.nio.file.Files.delete(file)

    def spools() = WriteProbe.tempFiles("graft_vex_")
    val before = spools()
    val failing = planet.ways.iterator.map { w =>
      if (w.id == planet.ways(100).id) throw new IllegalStateException("boom") else w }
    val e = intercept[IllegalStateException](VexSink.spool(planet.nodes, failing))
    assert(e.getMessage == "boom")
    assert(spools() == before)
  }
}
