package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.functions.{BinRects, geo}

/**
 * Planet-clone ingest + bbox extract — the Spark-native restatement of the
 * reference's LOAD (vex.c:818-831) and EXTRACT (vex.c:837-957) pipelines.
 *
 * The reference's pointer-chased index becomes columns + joins:
 *  - per-entity `cell` / `xbin` / `ybin` columns (computed by the codegen
 *    cell encoder) replace the in-memory grid; partition pruning + parquet
 *    min-max skipping on these columns replace the cell chains;
 *  - the way -> first-node binning (vex.c:511, J5) is an ingest-time equi
 *    join; the relation -> first-member anchor (vex.c:302-320, J6) likewise;
 *  - the extract is: rectangle predicate (J1/J4 pruned scans), way-refs
 *    explode + dedup (J2/J3), staged union.
 */
object PlanetExtract {

  /** Ingested tables: each carries (xbin, ybin, cell); relations' bins are
    * null when unindexed (single-member / relation-type first member).
    * `pBits` is set on tables read back by [[readTables]] from a store whose
    * sidecar records the write's partition prefix bits: extracts then add
    * the stored `p` ranges and prune directories. None (in-memory tables,
    * stores without a sidecar): no directory pruning, same rows. */
  final case class PlanetTables(nodes: DataFrame, ways: DataFrame,
                                relations: DataFrame, pBits: Option[Int] = None)

  private def withBins(df: DataFrame, cell: Column): DataFrame =
    df.withColumn("cell", cell)
      .withColumn("xbin", shiftright(col("cell"), CellIndex.GridBits))
      .withColumn("ybin", col("cell").bitwiseAND(lit(CellIndex.GridDim - 1)))

  /**
   * Ingest raw planet tables.
   * @param strictB1 replicate reference bug B1 (way-first-member relations
   *   anchored at nodes[cumulative-ref-offset], vex.c:311-313). The strict
   *   path needs a global ordered window (compat/test only — NOT the scale
   *   path); fixed mode (default) anchors at the way's real first node and
   *   is pure equi-joins.
   */
  def ingest(nodesRaw: DataFrame, waysRaw: DataFrame, relsRaw: DataFrame,
             strictB1: Boolean = false): PlanetTables = {
    val nodes = withBins(nodesRaw, geo.grid_cell(col("lon"), col("lat")))

    // J5: way cell = cell of FIRST node (reference semantics: a way lives in
    // exactly one cell, vex.c:511 + TODO vex.c:883)
    val firstNodeCell = nodes.select(col("id").as("_fn_id"),
                                     col("cell").as("_fn_cell"))
    // per-way bin BOUNDS over ALL refs — the pruning metadata that fixes the
    // reference's acknowledged single-cell way index limitation (vex.c:883
    // TODO): [[bboxRefined]] pre-filters ways on bbox-overlap of these
    // bounds instead of exploding every way's refs per extract. One
    // aggregate over the ref explode, paid once at ingest. Dangling refs
    // contribute nothing (inner join); a way with NO resolvable ref gets
    // null bounds — it has no geometry and can never match a refined
    // extract.
    val wayBounds = waysRaw.select(col("id"), explode(col("refs")).as("_r"))
      .join(nodes.select(col("id").as("_r"), col("xbin").as("_bx"),
        col("ybin").as("_by")), "_r")
      .groupBy("id")
      .agg(min("_bx").as("xbin_min"), max("_bx").as("xbin_max"),
           min("_by").as("ybin_min"), max("_by").as("ybin_max"))
    val ways = withBins(
      waysRaw.withColumn("_first_ref", element_at(col("refs"), 1))
        .join(firstNodeCell, col("_first_ref") === col("_fn_id"), "left"),
      coalesce(col("_fn_cell"), lit(0)))   // absent node => zeroed coord => cell 0
      .drop("_first_ref", "_fn_id", "_fn_cell")
      .join(wayBounds, Seq("id"), "left")

    // J6: relation anchor. mtype: 0=node, 1=way, 2=relation.
    val m1 = element_at(col("members"), 1)
    val relsBase = relsRaw
      .withColumn("_n_mem", size(col("members")))
      .withColumn("_m1_type", m1.getField("mtype"))
      .withColumn("_m1_ref", m1.getField("ref"))

    val anchoredViaNode = relsBase
      .where(col("_n_mem") >= 2 && col("_m1_type") === 0)
      .join(firstNodeCell, col("_m1_ref") === col("_fn_id"), "left")
      .withColumn("_cell", coalesce(col("_fn_cell"), lit(0)))
      .drop("_fn_id", "_fn_cell")

    val anchoredViaWay = {
      val base = relsBase.where(col("_n_mem") >= 2 && col("_m1_type") === 1)
      if (strictB1) {
        // B1: anchor node id = way's node_ref_offset (cumulative count of
        // refs over ways loaded before it, i.e. lower ids)
        val offsets = waysRaw.select(col("id").as("_w_id"), size(col("refs")).as("_len"))
          .withColumn("_nro", coalesce(sum(col("_len"))
            .over(Window.orderBy("_w_id").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select(col("_w_id"), col("_nro"))
        base.join(offsets, col("_m1_ref") === col("_w_id"), "left")
          .join(firstNodeCell, col("_nro") === col("_fn_id"), "left")
          .withColumn("_cell", coalesce(col("_fn_cell"), lit(0)))
          .drop("_w_id", "_nro", "_fn_id", "_fn_cell")
      } else {
        // fixed: anchor at the way's actual first node = the way's own cell
        val wayCells = ways.select(col("id").as("_w_id"), col("cell").as("_w_cell"))
        base.join(wayCells, col("_m1_ref") === col("_w_id"), "left")
          .withColumn("_cell", coalesce(col("_w_cell"), lit(0)))
          .drop("_w_id", "_w_cell")
      }
    }

    val unindexed = relsBase
      .where(col("_n_mem") <= 1 || col("_m1_type") === 2)
      .withColumn("_cell", lit(null).cast("int"))

    val rels = withBins(
      anchoredViaNode.unionByName(anchoredViaWay).unionByName(unindexed),
      col("_cell"))
      .drop("_cell", "_n_mem", "_m1_type", "_m1_ref")

    PlanetTables(nodes, ways, rels)
  }

  /** Rectangle predicate over (xbin, ybin): the bin cover of `b` (1, 2 or
    * 4 rectangles after the wrap split, none for a wrapped strict box —
    * then `false`). The rectangles ride as a [[BinRects]] reference object,
    * so the generated code is the same for every box and a new box
    * compiles nothing; in exchange the test is not a parquet pushed
    * filter. Stored tables prune directories through the `p` ranges that
    * [[selectedEntityFrames]] adds instead. */
  def bboxPredicate(b: BBox, strictCompat: Boolean = false): Column =
    geo.in_rects(col("xbin"), col("ybin"), BinRects.of(CellIndex.coverRects(b, strictCompat)))

  /** [[bboxPredicate]] plus, on stored tables with a known `pBits`, the
    * coarse partition-column ranges that directory-prune the scan. The `p`
    * ranges stay plain literals: they are partition filters, evaluated at
    * planning and never compiled. Only valid on frames filtered by their
    * OWN cell (a node fetched by way ref may sit in any directory). */
  private def cellPredicate(t: PlanetTables, b: BBox, strictCompat: Boolean): Column =
    t.pBits.fold(bboxPredicate(b, strictCompat)) { pBits =>
      val shift = CellIndex.GridBits - pBits
      val pPred = CellIndex.coverRects(b, strictCompat).map {
        case ((x0, x1), (y0, y1)) =>
          col("p").between((x0 >> shift) * (1 << pBits) + (y0 >> shift),
                           (x1 >> shift) * (1 << pBits) + (y1 >> shift)) &&
          (col("p") % (1 << pBits)).between(y0 >> shift, y1 >> shift)
      }.reduceOption(_ || _).getOrElse(lit(false))
      pPred && bboxPredicate(b, strictCompat)
    }

  /**
   * Staged bbox extract (J1 ∘ J2 ∘ J3 + J4): returns (kind, id, cell) rows —
   * identical row set and tile assignments as the reference's PBF output
   * (order-insensitive; the reference's emission order is a storage quirk,
   * SURVEY.md §8 Q4).
   *
   * Semantics replicated on purpose (Q2): cell-granular, NO exact bbox
   * refinement — whole ways anchored in covered cells, ALL their nodes even
   * outside the bbox, ways with first node elsewhere missed. For refined
   * extracts see [[bboxRefined]].
   *
   * Dangling refs (a way referencing an absent node): the reference reads a
   * zeroed struct off the sparse mmap and emits the node with coord (0,0) =>
   * cell 0 (vex.c:941-944). strictCompat replicates that via a LEFT join +
   * cell 0 backfill; fixed mode (default) uses an inner join and drops the
   * phantom node — dangling refs are data corruption, not geometry.
   */
  def bbox(t: PlanetTables, b: BBox, strictCompat: Boolean = false): DataFrame = {
    val (selNodes, selWays, selRels) = selectedEntityFrames(t, b, strictCompat)
    selNodes.select(lit("node").as("kind"), col("id"), col("cell"))
      .unionByName(selWays.select(lit("way").as("kind"), col("id"), col("cell")))
      .unionByName(selRels
        .select(lit("relation").as("kind"), col("id"), col("cell")))
  }

  /** The J1/J2/J3(+J4) entity SELECTION of [[bbox]] with full payload
    * columns: (nodes, ways, relations) frames for the covered cells —
    * shared with the serving layer so the HTTP surface can never drift
    * from the extract semantics. Strict mode narrows nodes to (id, cell)
    * with cell-0 phantoms (see [[selectNodes]]).
    *
    * On stored tables with a known `pBits` (see [[PlanetTables]]) the ways
    * and relations scans read only the `p` directories the cover touches;
    * nodes are fetched by the selected ways' refs, which may lie in any
    * directory, so their scan is not pruned. The generated code is the
    * same for every box ([[bboxPredicate]]). */
  private[graft] def selectedEntityFrames(t: PlanetTables, b: BBox,
                                          strictCompat: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val pred = cellPredicate(t, b, strictCompat)
    val selWays = t.ways.where(pred)
    // J2 prep + J3: union of selected ways' refs, emit-once
    val wayNodeIds = selWays.select(explode(col("refs")).as("id")).distinct()
    (selectNodes(t.nodes, wayNodeIds, strictCompat), selWays,
      t.relations.where(pred))
  }

  /** The selection of [[selectedEntityFrames]] (fixed mode) as ONE frame in
    * the order a served extract streams it: `kind` (0 node, 1 way,
    * 2 relation — the reference's stage order, vex.c:884-951), `id`, and the
    * payload columns `lon`, `lat`, `tags`, `refs` and `members`; each kind
    * leaves the other kinds' columns null. `relations = false` (VEX, which
    * carries none) leaves the relations branch out but keeps its columns,
    * so the node and way branches compile to the same code either way. A
    * payload column no table has (`tags`) is left out.
    *
    * One `orderBy("kind", "id")` range-partitions the union, so walking its
    * partitions in index order (`toLocalIterator`) yields every node, then
    * every way, then every relation, each kind id-ascending — one plan per
    * request where per-kind frames would plan and run three. In a session
    * with adaptive execution on, a non-empty box runs at most 5 jobs (the
    * ways' refs `distinct`, the node broadcast, the range sample, the
    * sort's shuffle, one result stage), and a box with no ways fewer.
    * `toLocalIterator` holds one result partition on the driver at a time,
    * never the extract. */
  private[graft] def taggedEntities(t: PlanetTables, b: BBox,
                                    relations: Boolean = true): DataFrame = {
    val (selNodes, selWays, selRels) = selectedEntityFrames(t, b)
    // each payload column with its type, from the first table that has it
    def typed(c: String, owners: DataFrame*) =
      owners.find(_.columns.contains(c)).map(df => c -> df.schema(c).dataType)
    val payload = Seq(typed("lon", t.nodes), typed("lat", t.nodes),
      typed("tags", t.nodes, t.ways, t.relations), typed("refs", t.ways),
      typed("members", t.relations)).flatten
    def tagged(kind: Int, df: DataFrame): DataFrame =
      df.select(lit(kind).as("kind") +: col("id") +: payload.map { case (c, tpe) =>
        if (df.columns.contains(c)) col(c) else lit(null).cast(tpe).as(c) }: _*)
    val kinds = Seq(tagged(0, selNodes), tagged(1, selWays)) ++
      (if (relations) Seq(tagged(2, selRels)) else Nil)
    kinds.reduce(_.unionByName(_)).orderBy("kind", "id")
  }

  /** J2 node fetch for a set of selected way refs — shared by the in-memory
    * and stored extract paths so strict mode behaves identically on both.
    * strictCompat: LEFT join + cell-0 phantom for dangling refs (the
    * reference's zeroed-page read, vex.c:941-944); fixed: inner join. */
  private def selectNodes(nodes: DataFrame, wayNodeIds: DataFrame,
                          strictCompat: Boolean): DataFrame =
    if (strictCompat)
      wayNodeIds.join(nodes.select(col("id"), col("cell")), Seq("id"), "left")
        .withColumn("cell", coalesce(col("cell"), lit(0)))
    else nodes.join(wayNodeIds, "id")

  /** WAY_BLOCK_SIZE (vex.c:54): slots per way block — the unit of the
    * reference's LIFO block chains, needed to replicate emission order. */
  final val WayBlockSize = 32

  /**
   * Golden-file extract: same row set as [[bbox]] but ORDERED exactly as
   * the reference emits (SURVEY.md §8 Q4 / O1) with an `emit_seq` column:
   *  - stages node(0) -> way(1) -> relation(2) (vex.c:886);
   *  - per stage, covered cells x asc then y asc (vex.c:887-888);
   *  - ways within a cell walk the 32-slot block chain: blocks LIFO
   *    (newest first), slots FIFO within a block (vex.c:513-528, 911-917);
   *  - nodes emit at their FIRST occurrence while walking each selected
   *    way's refs in order (emit-once, vex.c:929-937);
   *  - relations within a cell are pure LIFO (vex.c:573-576, 891-903) —
   *    descending id, since load order is id order.
   *
   * COMPAT/EXPORT MODE ONLY: total emission order needs global windows
   * (single-partition sorts) — byte-identical golden files are a bounded-
   * extract concern, not the 100 TB scan path ([[bbox]] stays
   * order-insensitive and fully parallel).
   */
  def bboxOrdered(t: PlanetTables, b: BBox,
                  strictCompat: Boolean = false): DataFrame = {
    val pred = cellPredicate(t, b, strictCompat)
    // way emission rank: cell-major, block LIFO, slot FIFO
    val slotW = Window.partitionBy("cell").orderBy("id")
    val rankW = Window.orderBy(col("xbin"), col("ybin"),
      col("_blk").desc, col("_slot"))
    val ways = t.ways.where(pred)
      .withColumn("_slot", row_number().over(slotW) - 1)
      .withColumn("_blk", floor(col("_slot") / WayBlockSize))
      .withColumn("_wrank", row_number().over(rankW))
      .drop("_slot", "_blk")
    // node emission key: min (way rank, ref position) over occurrences
    val occ = ways.select(col("_wrank"),
      posexplode(col("refs")).as(Seq("_pos", "id")))
    val firstOcc = occ.groupBy("id")
      .agg(min(struct(col("_wrank"), col("_pos"))).as("_fo"))
      .select(col("id"), col("_fo._wrank").as("_k1"), col("_fo._pos").as("_k2"))
    val nodeCells =
      if (strictCompat)
        firstOcc.join(t.nodes.select(col("id"), col("cell")), Seq("id"), "left")
          .withColumn("cell", coalesce(col("cell"), lit(0)))
      else firstOcc.join(t.nodes.select(col("id"), col("cell")), "id")
    val nodeRows = nodeCells.select(lit(0).as("_stage"), lit("node").as("kind"),
      col("id"), col("cell"), col("_k1"), col("_k2"))
    val wayRows = ways.select(lit(1).as("_stage"), lit("way").as("kind"),
      col("id"), col("cell"), col("_wrank").as("_k1"), lit(0).as("_k2"))
    val relRows = t.relations.where(pred)
      .select(lit(2).as("_stage"), lit("relation").as("kind"), col("id"),
        col("cell"),
        (col("xbin").cast("long") * CellIndex.GridDim + col("ybin")).as("_k1"),
        (-col("id")).as("_k2"))
    val seqW = Window.orderBy(col("_stage"), col("_k1"), col("_k2"))
    nodeRows.unionByName(wayRows).unionByName(relRows)
      .withColumn("emit_seq", row_number().over(seqW))
      .select("kind", "id", "cell", "emit_seq")
      .orderBy("emit_seq")
  }

  /** Engine extension (fixes Q3: "no relation closure; relations may
    * dangle", vex.c:302-320): one-level member closure — selected
    * relations' node/way members are fetched and unioned in (plus the way
    * members' own nodes), each emitted once. No recursion into relation
    * members (matches the reference's own TODO scope). */
  def bboxWithRelationClosure(t: PlanetTables, b: BBox): DataFrame = {
    val base = bbox(t, b)
    val rels = t.relations.where(cellPredicate(t, b, strictCompat = false))
    val members = rels.select(explode(col("members")).as("m"))
      .select(col("m.mtype").as("mtype"), col("m.ref").as("ref")).distinct()
    val memberWays = t.ways.join(
      members.where(col("mtype") === 1).select(col("ref").as("id")), "id")
    val memberWayNodeIds = memberWays.select(explode(col("refs")).as("id"))
    val memberNodeIds = members.where(col("mtype") === 0)
      .select(col("ref").as("id")).unionByName(memberWayNodeIds).distinct()
    val memberNodes = t.nodes.join(memberNodeIds, "id")
    base
      .unionByName(memberNodes.select(lit("node").as("kind"), col("id"), col("cell")))
      .unionByName(memberWays.select(lit("way").as("kind"), col("id"), col("cell")))
      .dropDuplicates("kind", "id")
  }

  /** Persist ingested planet tables as the on-disk "DB" (the reference's
    * LOAD -> mmap-DB step, vex.c:806-831): Hive-partitioned parquet on a
    * coarse cell prefix so stored extracts directory-prune. Unindexed
    * relations land in partition p=-1 (still scanned only when relations
    * are requested un-pruned). `pBits` is recorded in a sidecar
    * (`_planet_meta.json`, through the shared [[IndexMeta]]) that
    * [[readTables]] reads back, so extracts prune with the write's own
    * value. The sidecar is removed before the writes and written after all
    * three succeed: a failed write leaves a store that reads unpruned, never
    * one pruned with a stale value. */
  def writeTables(t: PlanetTables, path: String, pBits: Int = 5): Unit = {
    val spark = t.nodes.sparkSession
    val meta = metaPath(path)
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, false)
    // coarse prefix of the packed cell: top pBits of each axis interleaved
    // would be Morton; for pruning purposes plain (xbin >> (14-pBits)) <<
    // pBits | (ybin >> (14-pBits)) works identically with range predicates
    // repartition on the partition column first: otherwise every input
    // task opens a writer in every output directory — #tasks x #dirs tiny
    // files (write amplification that dominates wall time even at sf0.1;
    // at planet scale it would also blow up the namenode/file listing)
    def write(df: DataFrame, table: String): Unit =
      LeafWrite.byLeaf(df.withColumn("p",
          when(col("cell").isNull, lit(-1)).otherwise(
            shiftright(col("xbin"), CellIndex.GridBits - pBits) * (1 << pBits) +
              shiftright(col("ybin"), CellIndex.GridBits - pBits))), "p")
        .write.mode("overwrite").partitionBy("p").parquet(s"$path/$table")
    // the three writes are INDEPENDENT jobs: submit them concurrently so
    // each job's tail (the last few partition-writer tasks) is back-filled
    // by the next job's tasks instead of idling the executors (guide-§2.6
    // overlap; FIFO scheduling gives exactly the back-fill behavior). They
    // run on a pool of their own, not the global one: blocking Spark
    // actions would otherwise hold global-pool threads other callers need.
    // Failures propagate: Await rethrows the first failed write.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3, { (r: Runnable) =>
      val th = new Thread(r, "graft-write-tables")
      th.setDaemon(true)
      th
    })
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Seq(Future(write(t.nodes, "nodes")), Future(write(t.ways, "ways")),
          Future(write(t.relations, "relations")))
        .foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    IndexMeta.write(spark, meta, Seq("pBits" -> pBits))
  }

  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(path, "_planet_meta.json")

  /** Tables of a store written by [[writeTables]], with the write's `pBits`
    * from its sidecar: [[bbox]] and the serving layer then prune `p`
    * directories. A store without the sidecar reads with `pBits = None`
    * and extracts unpruned. */
  def readTables(spark: org.apache.spark.sql.SparkSession, path: String): PlanetTables = {
    val meta = metaPath(path)
    PlanetTables(
      spark.read.parquet(s"$path/nodes"),
      spark.read.parquet(s"$path/ways"),
      spark.read.parquet(s"$path/relations"),
      if (IndexMeta.exists(spark, meta))
        Some(IndexMeta.read(spark, meta, "planet meta", "planet", Seq("pBits")).head)
      else None)
  }

  /** A1 fill-factor report (vex.c:588-597): occupied cells and ratio.
    * The reference counts ONLY cells with a non-empty WAY chain
    * (`head_way_block != 0`, vex.c:593) — relation chains do not count. */
  def fillFactor(t: PlanetTables): (Long, Double) = {
    val used = t.ways.select("cell")
      .where(col("cell").isNotNull).distinct().count()
    (used, used.toDouble / (CellIndex.GridDim.toLong * CellIndex.GridDim))
  }

  /** S5 sink analogue: persist an extract as a parquet result table
    * partitioned by entity kind (the staged-PBF-stream equivalent: readers
    * consume kind=node, then kind=way, then kind=relation). */
  def writeExtract(extract: DataFrame, path: String): Unit =
    extract.write.mode("overwrite").partitionBy("kind").parquet(path)

  /** bbox-overlap predicate over the per-way bin bounds columns written by
    * [[ingest]] — true iff the way's bound rectangle intersects any cover
    * rect of `b`. Conservative by construction: a way with a node inside
    * the bbox has that node's bins inside its bounds, so it always
    * overlaps. Null bounds (no resolvable refs) test null and are
    * dropped — such ways have no geometry to match. */
  def wayBoundsOverlap(b: BBox): Column =
    geo.overlaps_rects(col("xbin_min"), col("xbin_max"), col("ybin_min"), col("ybin_max"),
      BinRects.of(CellIndex.coverRects(b)))

  /** Engine-extension extract: cell pruning THEN exact refinement — nodes
    * strictly inside the bbox, ways intersecting it via any node.
    *
    * Scale path: ways are PRE-FILTERED on the stored per-way bin bounds
    * ([[wayBoundsOverlap]]) before their refs are exploded, so a
    * planet-scale refined extract explodes only the ways whose bound
    * rectangles touch the bbox, never the whole table. The exact semi-join
    * against the in-box nodes remains the decider; the bound filter only
    * shrinks its input. Tables ingested before bounds existed (no xbin_min
    * column) fall back to the full explode. Every rectangle here (bound
    * overlap, bin cover, coordinate box) is a [[BinRects]] reference
    * object, so a new box compiles nothing; stored nodes with a known
    * `pBits` also prune `p` directories. */
  def bboxRefined(t: PlanetTables, b: BBox): DataFrame = {
    val nodesIn = t.nodes.where(cellPredicate(t, b, strictCompat = false))
      .where(geo.in_rects(col("lon"), col("lat"), BinRects.of(b)))
    val nodeIds = nodesIn.select(col("id").as("_nid"))
    val waysPruned =
      if (t.ways.columns.contains("xbin_min")) t.ways.where(wayBoundsOverlap(b))
      else t.ways
    val waysIn = waysPruned
      .select(col("*"), explode(col("refs")).as("_ref"))
      .join(nodeIds, col("_ref") === col("_nid"), "left_semi")
      .dropDuplicates("id")
    nodesIn.select(lit("node").as("kind"), col("id"), col("cell"))
      .unionByName(waysIn.select(lit("way").as("kind"), col("id"), col("cell")))
  }
}
