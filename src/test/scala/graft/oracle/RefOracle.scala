package graft.oracle

import scala.collection.mutable

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures._

/**
 * Reference-model oracle: a tiny, obviously-correct in-memory restatement of
 * the reference engine's load + bbox-extract semantics (vex.c:466-580 load,
 * vex.c:837-957 extract), used as the differential-test ground truth
 * (SURVEY.md §5 item 2). Nested loops over Scala maps — deliberately naive.
 *
 * Replicated semantics:
 *  - node cell = bin of quantized coord; way indexed ONLY in the cell of its
 *    FIRST node (vex.c:511); relation indexed in the cell of its first
 *    member (vex.c:302-320), where: single-member => unindexed,
 *    relation-type first member => unindexed, way-type first member =>
 *    strict mode reproduces bug B1 (nodes[way.node_ref_offset] — a node-refs
 *    ARRAY OFFSET used as node id, vex.c:311-313), fixed mode uses the way's
 *    actual first node.
 *  - way chains: 32-slot blocks, LIFO block chaining, FIFO slots within a
 *    block, emission stops at the first non-positive slot (vex.c:513-528,
 *    911-917). Relation chains are pure LIFO (vex.c:573-576, 891-903).
 *  - extract stages NODE -> WAY -> RELATION over the inclusive bin
 *    rectangle, x outer / y inner ascending; NODE stage walks each selected
 *    way's refs and emits each node at most once per extract (global
 *    IDTracker, vex.c:882-951). Standalone nodes are NEVER emitted.
 *  - missing entities read as zeroed structs (mmap sparse-file semantics):
 *    absent node => coord (0,0).
 *  - bbox whose bin range wraps (sign crossing) iterates zero times => empty
 *    extract (Q1) — the oracle is strict-compat by construction here.
 */
final class RefOracle(planet: Planet, strictB1: Boolean = true) {

  final val WayBlockSize = 32

  private val nodeCoord: Map[Long, (Int, Int)] =
    planet.nodes.map(n => n.id -> (CellIndex.toX(n.lon), CellIndex.toY(n.lat))).toMap
  private val wayById: Map[Long, WayRow] = planet.ways.map(w => w.id -> w).toMap
  private val relById: Map[Long, RelationRow] =
    planet.relations.map(r => r.id -> r).toMap

  private def coordOf(nodeId: Long): (Int, Int) =
    nodeCoord.getOrElse(nodeId, (0, 0))
  private def cellOfCoord(c: (Int, Int)): Int =
    CellIndex.gridCell(CellIndex.bin(c._1), CellIndex.bin(c._2))
  def nodeCell(id: Long): Int = cellOfCoord(coordOf(id))

  /** node_ref_offset per way: cumulative ref count in load (id) order —
    * needed to replicate B1 exactly. */
  private val nodeRefOffset: Map[Long, Long] = {
    var off = 0L
    val m = Map.newBuilder[Long, Long]
    planet.ways.sortBy(_.id).foreach { w => m += (w.id -> off); off += w.refs.length }
    m.result()
  }

  def wayCell(w: WayRow): Int = cellOfCoord(coordOf(w.refs(0)))

  /** Relation's index cell, or None if unindexed. */
  def relationCell(r: RelationRow): Option[Int] = {
    if (r.members.isEmpty) return None          // skipped on load entirely
    if (r.members.length == 1) return None      // negated first id => skip
    val m = r.members(0)
    m.mtype match {
      case 0 => Some(cellOfCoord(coordOf(m.ref)))              // node member
      case 1 =>                                                // way member
        val anchorNode: Long =
          if (strictB1) nodeRefOffset.get(m.ref) match {
            case Some(off) => off        // BUG B1: offset used as node id
            case None => 0L              // absent way => zeroed struct
          }
          else wayById.get(m.ref).map(_.refs(0)).getOrElse(0L)
        Some(cellOfCoord(coordOf(anchorNode)))
      case _ => None                                           // relation member
    }
  }

  /** Per-cell way chains in EMISSION order: newest block first, slots FIFO
    * within block. Built by simulating 32-slot block insertion. */
  private val wayChains: Map[Int, List[Long]] = {
    val blocks = mutable.Map.empty[Int, List[mutable.ArrayBuffer[Long]]]
    planet.ways.sortBy(_.id).foreach { w =>
      val cell = wayCell(w)
      val chain = blocks.getOrElse(cell, Nil)
      val chain2 =
        if (chain.isEmpty || chain.head.size >= WayBlockSize)
          mutable.ArrayBuffer.empty[Long] :: chain   // new block at head
        else chain
      chain2.head += w.id
      blocks(cell) = chain2
    }
    blocks.map { case (cell, chain) => cell -> chain.flatMap(_.toList) }.toMap
  }

  /** Per-cell relation chains, LIFO emission order. */
  private val relChains: Map[Int, List[Long]] = {
    val m = mutable.Map.empty[Int, List[Long]]
    planet.relations.sortBy(_.id).foreach { r =>
      relationCell(r).foreach { cell => m(cell) = r.id :: m.getOrElse(cell, Nil) }
    }
    m.toMap
  }

  final case class ExtractRow(kind: String, id: Long, cell: Int)

  /** Staged bbox extract in exact reference emission order. */
  def extract(b: BBox): Seq[ExtractRow] = {
    val minX = CellIndex.xBin(b.minLon); val maxX = CellIndex.xBin(b.maxLon)
    val minY = CellIndex.yBin(b.minLat); val maxY = CellIndex.yBin(b.maxLat)
    val out = mutable.ArrayBuffer.empty[ExtractRow]
    val emitted = mutable.Set.empty[Long]        // IDTracker analogue
    // stage order NODE=0, WAY=1, RELATION=2
    var stage = 0
    while (stage <= 2) {
      var x = minX
      while (x <= maxX) {                        // wrapped range: zero iters
        var y = minY
        while (y <= maxY) {
          val cell = CellIndex.gridCell(x, y)
          if (stage == 2) {
            relChains.getOrElse(cell, Nil).foreach { rid =>
              out += ExtractRow("relation", rid, cell)
            }
          } else {
            wayChains.getOrElse(cell, Nil).foreach { wid =>
              if (stage == 1) out += ExtractRow("way", wid, cell)
              else wayById(wid).refs.foreach { nid =>
                if (emitted.add(nid)) out += ExtractRow("node", nid, nodeCell(nid))
              }
            }
          }
          y += 1
        }
        x += 1
      }
      stage += 1
    }
    out.toSeq
  }
}
