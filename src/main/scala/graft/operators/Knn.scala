package graft.operators

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.operators.Materialized.materialize

/**
 * k-nearest-neighbor join: cell-disk expansion + distance-bounded top-k
 * window (the kNN shape the design derives from the reference's grid,
 * SURVEY.md §2.3 last row / §7.6). One implementation, [[knnJoinTable]];
 * [[knn]] runs it on driver-side queries.
 *
 * Rounds r ∈ {1,4,16,64} explode the unresolved queries into their disk(r)
 * cells ([[SpatialJoin.neighbourCells]]) and equi-join them to the points.
 * A query resolves when it has ≥ k candidates whose k-th distance is below
 * the geometric guarantee radius of disk(r) (any point outside the disk is
 * at least r·minCellExtent away). Stragglers (sparse regions) get one exact
 * pass over the whole table — rare by construction on skewed data.
 *
 * Distance = equirectangular meters ([[graft.functions.geo.dist_meters]],
 * the column form of CellIndex.distMeters), deterministic ties broken by
 * point id.
 */
object Knn {

  final case class Query(qid: Long, lon: Double, lat: Double)

  /** Straggler-pass broadcast cap (rows): beyond it the exact pass runs as
    * a partitioned cartesian instead of broadcasting the query side
    * (~40-80 MB of UnsafeRows per 1M rows — sized for a modest driver). */
  private val MaxBroadcastQueries = 1000000L

  private def distCol = graft.functions.geo.dist_meters(
    col("qlon"), col("qlat"), col("lon"), col("lat"))

  /** [[knnJoinTable]] over a driver-side query list. */
  def knn(points: DataFrame, queries: Seq[Query], k: Int, pRes: Int = 5): DataFrame =
    knnJoinTable(points,
      points.sparkSession.createDataFrame(queries).toDF("qid", "qlon", "qlat"), k, pRes)

  /** Morton spread of the low 16 bits into even bit positions — the column
    * twin of CellIndex.spread16 (spec-enforced bit-identical). */
  private def spread16Col(v: Column): Column = {
    var x = v.cast("long").bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Coarse Morton cell of a candidate grid cell (xw, yb) at resolution
    * `res` — the column twin of CellIndex.coarseCellOfGrid. */
  private[graft] def coarseCellCol(xw: Column, yb: Column, res: Int): Column =
    shiftleft(spread16Col(shiftrightunsigned(xw, CellIndex.GridBits - res)), 1)
      .bitwiseOR(spread16Col(shiftrightunsigned(yb, CellIndex.GridBits - res)))

  /** Guaranteed minimum distance (meters) from a query anywhere in its cell
    * to any point OUTSIDE disk(r): r full cell extents on the tighter axis,
    * with cos taken at the far edge of the disk (worst case). The far
    * latitude is capped at the pole itself: a cap short of 90° overstates
    * the column width of a disk that reaches past it, so the bound goes to
    * ~0 there and such queries fall through to the exact pass. */
  private def boundCol(qlat: Column, r: Int): Column = {
    val dLat = 180.0 / CellIndex.GridDim
    val dLon = 360.0 / CellIndex.GridDim
    val farLat = least(lit(90.0), abs(qlat) + (r + 1) * dLat)
    lit(r) * least(lit(dLat), lit(dLon) * cos(radians(farLat))) *
      lit(CellIndex.MetersPerDegree)
  }

  /**
   * kNN JOIN: queries arrive as a DataFrame (qid, qlon, qlat) and are never
   * driver-materialized.
   *
   * Each round r in {1,4,16,64} explodes the still-unresolved queries into
   * their disk(r) cells (two generates, [[SpatialJoin.neighbourCells]]),
   * equi-joins `points` on `cell`, takes the per-query distance top-k
   * window, and resolves queries whose k-th distance is inside the disk
   * guarantee radius. When the points frame carries the coarse partition
   * column `p_cell`, the candidate's p_cell is derived on the query side
   * (Morton column math) and added to the join keys — with a partitioned
   * store that is the dynamic-partition-pruning shape (the scan skips
   * directories no surviving query touches). Stragglers after r=64 get one
   * exact pass — query side broadcast while broadcast-sized, a partitioned
   * cartesian beyond that (bounded rarity by construction).
   *
   * Round results land in one scratch parquet ([[Dedup.scratchResult]],
   * `knn_` prefix) and every per-round materialized block is released
   * deterministically (the connectedComponents discipline).
   *
   * @param points (id: long, lon, lat, cell: int) — e.g. the derived images
   *   table (with image_id projected to an id) or planet nodes, optionally
   *   with the coarse Morton partition column `p_cell` (ImageTable.derive).
   * @param pRes resolution of the `p_cell` column when present (the
   *   ImageTable.DefaultPRes layout is 5).
   * @return (qid, id, dist, rank) — exactly k rows per query (fewer iff the
   *   whole table has < k rows).
   */
  def knnJoinTable(points: DataFrame, queries: DataFrame, k: Int,
                   pRes: Int = 5): DataFrame = {
    require(k >= 1)
    val spark = points.sparkSession
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    val norm = (df: DataFrame) => df
      .select(col("qid").cast("long"), col("id").cast("long"),
        col("dist").cast("double"), col("rank").cast("int"))

    // the unresolved-set size is the count the materialization pays
    // anyway — no separate count job per round. Per-round results are NOT
    // written per round: each round's topk stays materialized (Q x k rows,
    // bounded) and ONE union write lands everything — rounds-1 parquet
    // write jobs saved; every block is still released deterministically
    // when the call returns or fails (round 6).
    Using.Manager { use =>
      val roundResults = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var un = use(materialize(queries.select(col("qid"), col("qlon"), col("qlat"))))
      for (r <- Seq(1, 4, 16, 64) if un.count > 0) {
        val topk = use(materialize(roundTopK(points, un.df, r, k, pRes))).df
        val resolved = topk.groupBy("qid", "qlat")
          .agg(count(lit(1)).as("_n"), max("dist").as("_maxd"))
          .where(col("_n") === k && col("_maxd") <= boundCol(col("qlat"), r))
          .select("qid")
        roundResults += norm(topk.join(resolved, "qid"))
        val unNext = use(materialize(un.df.join(resolved, Seq("qid"), "left_anti")))
        un.release()
        un = unNext
      }
      if (un.count > 0) {
        // stragglers: exact top-k. Broadcast the query side only while it
        // is genuinely broadcast-sized — a HUGE straggler set is possible
        // (k > |points| means NO query ever resolves), and an unbounded
        // broadcast of the full query table would OOM the driver; past
        // the cap the pass degrades to a partitioned cartesian (slow but
        // memory-bounded, matching the contract that stragglers are the
        // exception, not the plan)
        val qside = un.df.select(col("qid"), col("qlon"), col("qlat"))
        val qb = if (un.count <= MaxBroadcastQueries) broadcast(qside) else qside
        roundResults += norm(points.crossJoin(qb)
          .withColumn("dist", distCol)
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= k)
          .select("qid", "id", "dist", "rank"))
      }
      if (roundResults.nonEmpty)
        Dedup.scratchResult(roundResults.reduce(_ unionByName _), "knn")
      else   // empty query table: nothing to write
        spark.range(0).select(col("id").as("qid"), col("id"),
          lit(0.0).as("dist"), lit(0).as("rank"))
    }.get
  }

  /** One [[knnJoinTable]] round's candidate top-k frame (lazy): the
    * disk(r) explode of the unresolved queries, equi-joined to `points` on
    * `cell` — plus the Morton-derived `p_cell` key when the store carries
    * it — with the per-query distance window. Factored out as the
    * plan-evidence surface (PLANS.md) so the audited plan IS the executed
    * plan. */
  private[graft] def roundTopK(points: DataFrame, un: DataFrame, r: Int,
                               k: Int, pRes: Int): DataFrame = {
    val hasPCell = points.columns.contains("p_cell")
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    val qc0 = SpatialJoin.neighbourCells(un,
      graft.functions.geo.grid_cell(col("qlon"), col("qlat")), lit(r), lit(r))
    val qc =
      if (!hasPCell) qc0.select("qid", "qlon", "qlat", "cell")
      else qc0.withColumn("p_cell", coarseCellCol(col("_xw"), col("_yb"), pRes))
        .select("qid", "qlon", "qlat", "cell", "p_cell")
    val joinKeys = if (hasPCell) Seq("cell", "p_cell") else Seq("cell")
    points.join(qc, joinKeys)
      .withColumn("dist", distCol)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("qlat"), col("id"), col("dist"), col("rank"))
  }
}
