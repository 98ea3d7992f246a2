package graft.operators

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.operators.Materialized.materialize

/**
 * k-nearest-neighbor join: cell-disk expansion + distance-bounded top-k
 * window (the kNN shape the design derives from the reference's grid,
 * SURVEY.md §2.3 last row / §7.6).
 *
 * Rounds r ∈ {1,4,16,64}: per-query disk(r) cells become a broadcast literal
 * table equi-joined on `cell`, and — when the table carries the coarse
 * partition column `p_cell` — a literal `p_cell IN (...)` predicate derived
 * from the same disk cells makes the probe a directory-PRUNED scan
 * (PartitionFilters + row-group skipping), never a full scan per round.
 * A query resolves when it has ≥ k candidates
 * whose k-th distance is below the geometric guarantee radius of disk(r)
 * (any point outside the disk is at least r·minCellExtent away). Stragglers
 * (sparse regions) fall back to one broadcast range join over the remaining
 * queries — rare by construction on skewed data.
 *
 * Distance = equirectangular meters (CellIndex.distMeters), deterministic
 * ties broken by point id.
 */
object Knn {

  final case class Query(qid: Long, lon: Double, lat: Double)

  /** Guaranteed minimum distance (meters) from a query anywhere in its cell
    * to any point OUTSIDE disk(r): r full cell extents on the tighter axis.
    * cos evaluated at the far edge of the disk (worst case). */
  def diskBoundMeters(qlat: Double, r: Int): Double = {
    val dLat = 180.0 / CellIndex.GridDim          // cell height in degrees
    val dLon = 360.0 / CellIndex.GridDim
    val farLat = math.min(89.99, math.abs(qlat) + (r + 1) * dLat)
    val width = dLon * math.cos(math.toRadians(farLat))
    r * math.min(dLat, width) * CellIndex.MetersPerDegree
  }

  private def distCol = {
    val meanLat = radians((col("qlat") + col("lat")) / 2)
    // shorter-arc longitude difference — bit-identical to CellIndex.distMeters
    val dLon = ((col("lon") - col("qlon") + 540.0) % 360.0) - 180.0
    val dx = dLon * cos(meanLat)
    val dy = col("lat") - col("qlat")
    sqrt(dx * dx + dy * dy) * lit(CellIndex.MetersPerDegree)
  }

  /**
   * @param points DataFrame with (id: long, lon, lat, cell: int) — e.g. the
   *   derived images table (with image_id projected to an id) or planet nodes.
   *   If the frame also carries the coarse Morton partition column `p_cell`
   *   (the images-table layout, ImageTable.derive), each round's probe adds
   *   a LITERAL `p_cell IN (...)` predicate derived from the disk cells —
   *   that is what turns the probe into a directory-pruned scan
   *   (PartitionFilters in the plan) instead of a full-table scan per round.
   * @param pRes resolution of the `p_cell` column when present (the
   *   ImageTable.DefaultPRes layout is 5).
   * @param maxCandRows cap on broadcast candidate rows per probe job (disk
   *   cells are driver-materialized); rounds needing more are chunked.
   * @return (qid, id, dist, rank) — exactly k rows per query (fewer iff the
   *   whole table has < k rows).
   */
  def knn(points: DataFrame, queries: Seq[Query], k: Int,
          pRes: Int = 5, maxCandRows: Long = 4000000L): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(k >= 1)
    val hasPCell = points.columns.contains("p_cell")
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))

    var unresolved = queries
    // kNN results are Q*k rows — inherently driver-small (the queries came
    // from the driver). Each round's result is collected ONCE; nothing is
    // recomputed when the returned DataFrame is consumed repeatedly.
    val resolvedRows = List.newBuilder[(Long, Long, Double, Int)]
    def drain(df: DataFrame): Unit =
      df.collect().foreach(r => resolvedRows +=
        ((r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))

    // the r=64 round (disk = 129^2 = ~16.6k cells/query, still a broadcast
    // literal + pruned scan) exists to keep genuinely sparse queries OFF the
    // exact full-scan fallback: a query that is unresolved past r=64 has no
    // neighbor within ~64 cell extents, which on any real dataset is a
    // handful of queries, so the remaining fallback is a bounded rarity.
    // Candidate-table cap: the disk cells are DRIVER-materialized and
    // broadcast, so each PROBE is bounded to maxCandRows rows. A round
    // whose |unresolved| x (2r+1)^2 exceeds the cap is CHUNKED into
    // cap-sized probe jobs (at r=1 the chunk holds ~444k queries, so huge
    // query sets still resolve through the cheap pruned path); only when a
    // round would need more than maxChunks probes is it skipped — those
    // queries fall through to later rounds or the bounded distributed
    // fallback instead of OOMing the driver or flooding the scheduler.
    val maxChunks = 16
    for (r <- Seq(1, 4, 16, 64) if unresolved.nonEmpty) {
      val diskSize = (2L * r + 1) * (2L * r + 1)
      val chunkLen = math.max(1L, maxCandRows / diskSize).toInt
      val nChunks = (unresolved.size.toLong + chunkLen - 1) / chunkLen
      if (nChunks <= maxChunks) {
        val resolvedThisRound = Set.newBuilder[Long]
        for (chunk <- unresolved.grouped(chunkLen)) {
          val diskCells = chunk.map { q =>
            q -> CellIndex.disk(CellIndex.xBin(q.lon), CellIndex.yBin(q.lat), r)
          }
          val cand = diskCells.flatMap { case (q, cells) =>
            cells.map(c => (q.qid, q.lon, q.lat, c))
          }.toDF("qid", "qlon", "qlat", "cell")
          // partition pruning: the disk cells' coarse Morton prefixes as a
          // literal predicate — Catalyst turns it into PartitionFilters, so
          // the probe scans only the touched directories, never the whole
          // table
          val probe =
            if (!hasPCell) points
            else {
              val pCells = diskCells.iterator.flatMap(_._2)
                .map(c => CellIndex.coarseCellOfGrid(c, pRes)).toSeq.distinct
              points.where(col("p_cell").isin(pCells: _*))
            }
          val topk = probe
            .join(broadcast(cand), "cell")
            .withColumn("dist", distCol)
            .withColumn("rank", row_number().over(w))
            .where(col("rank") <= k)
            .select(col("qid"), col("qlat"), col("id"), col("dist"), col("rank"))
            .collect()                       // one evaluation per chunk
          // resolution check: k-th neighbor inside the guarantee radius
          val byQ = topk.groupBy(_.getLong(0))
          val resolved = byQ.collect {
            case (qid, rows) if rows.length >= k &&
              rows.map(_.getDouble(3)).max <= diskBoundMeters(rows.head.getDouble(1), r) => qid
          }.toSet
          if (resolved.nonEmpty) {
            topk.filter(r0 => resolved(r0.getLong(0))).foreach(r0 => resolvedRows +=
              ((r0.getLong(0), r0.getLong(2), r0.getDouble(3), r0.getInt(4))))
            resolvedThisRound ++= resolved
          }
        }
        val resolvedSet = resolvedThisRound.result()
        if (resolvedSet.nonEmpty)
          unresolved = unresolved.filterNot(q => resolvedSet(q.qid))
      }
    }

    if (unresolved.nonEmpty) {
      // fallback: exact top-k over the full table for the stragglers
      val qdf = unresolved.map(q => (q.qid, q.lon, q.lat)).toDF("qid", "qlon", "qlat")
      drain(points.crossJoin(broadcast(qdf))
        .withColumn("dist", distCol)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "id", "dist", "rank"))
    }

    resolvedRows.result().toDF("qid", "id", "dist", "rank")
  }

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

  /** The disk guarantee radius as a column — the twin of
    * [[diskBoundMeters]] (same expressions, same operation order). */
  private def boundCol(qlat: Column, r: Int): Column = {
    val dLat = 180.0 / CellIndex.GridDim
    val dLon = 360.0 / CellIndex.GridDim
    val farLat = least(lit(89.99), abs(qlat) + (r + 1) * dLat)
    lit(r) * least(lit(dLat), lit(dLon) * cos(radians(farLat))) *
      lit(CellIndex.MetersPerDegree)
  }

  /**
   * Dataset-native kNN JOIN: queries arrive as a DataFrame
   * (qid, qlon, qlat) and are never driver-materialized — the shape for
   * query sets too large for [[knn]]'s broadcast-literal rounds (whose
   * chunking exhausts at ~7M queries and falls back to a full crossJoin).
   *
   * Same guarantee-radius resolution as [[knn]], as filtered passes: each
   * round r in {1,4,16,64} EXPLODES the still-unresolved queries into
   * their disk(r) cells (two generates: dx x dy, longitude wrapped,
   * latitude clamped — bit-identical to CellIndex.disk), equi-joins
   * `points` on `cell`, takes the per-query distance top-k window, and
   * resolves queries whose k-th distance is inside the disk guarantee
   * radius. When the points frame carries the coarse partition column
   * `p_cell`, the candidate's p_cell is derived on the query side (Morton
   * column math) and added to the join keys — with a partitioned store
   * that is the dynamic-partition-pruning shape (the scan skips
   * directories no surviving query touches). Stragglers after r=64 get
   * one exact pass — query side broadcast while broadcast-sized, a
   * partitioned cartesian beyond that (bounded rarity by construction).
   *
   * Round results land in one scratch parquet ([[Dedup.scratchResult]],
   * `knn_` prefix) and every per-round materialized block is released
   * deterministically (the connectedComponents discipline).
   * Returns (qid, id, dist, rank) — exactly k rows per query (fewer iff
   * the whole table has < k rows).
   *
   * @param maxBroadcastQueries straggler-fallback broadcast cap (rows):
   *   beyond it the exact pass runs as a partitioned cartesian instead of
   *   broadcasting the query side (~40-80 MB of UnsafeRows per 1M rows —
   *   sized for a modest driver, and a parameter because the right value
   *   is deployment-specific).
   */
  def knnJoinTable(points: DataFrame, queries: DataFrame, k: Int,
                   pRes: Int = 5,
                   maxBroadcastQueries: Long = 1000000L): DataFrame = {
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
        val qb = if (un.count <= maxBroadcastQueries) broadcast(qside) else qside
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
    * disk(r) explode of the unresolved queries (two generates, lon
    * wrapped, lat clamped), equi-joined to `points` on `cell` — plus the
    * Morton-derived `p_cell` key when the store carries it — with the
    * per-query distance window. Factored out as the plan-evidence surface
    * (PLANS.md) so the audited plan IS the executed plan. */
  private[graft] def roundTopK(points: DataFrame, un: DataFrame, r: Int,
                               k: Int, pRes: Int): DataFrame = {
    val hasPCell = points.columns.contains("p_cell")
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("id"))
    val qc0 = un
      .withColumn("_qcell", graft.functions.geo.grid_cell(col("qlon"), col("qlat")))
      .withColumn("_qx", shiftright(col("_qcell"), CellIndex.GridBits))
      .withColumn("_qy", col("_qcell").bitwiseAND(lit(CellIndex.GridDim - 1)))
      .withColumn("_dx", explode(sequence(lit(-r), lit(r))))
      .withColumn("_dy", explode(sequence(lit(-r), lit(r))))
      .withColumn("_yb", col("_qy") + col("_dy"))
      .where(col("_yb").between(0, CellIndex.GridDim - 1))   // clamp lat
      .withColumn("_xw", pmod(col("_qx") + col("_dx"), lit(CellIndex.GridDim)))
      .withColumn("cell",
        shiftleft(col("_xw"), CellIndex.GridBits).bitwiseOR(col("_yb")))
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
