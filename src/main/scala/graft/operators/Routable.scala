package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Routable-graph construction — the Spark restatement of the reference's
 * 4-pass experiment (routable.c.experiment:43-237): find graph vertices
 * (intersections + way endpoints) among highway ways, then build edges
 * between consecutive vertices along each way with equirectangular lengths.
 *
 * The reference needs 4 passes + pre-sized CSR arrays (count then fill,
 * A5); declaratively it is one grouped aggregate for vertices and one
 * windowed segmentation for edges.
 */
object Routable {

  /** is_highway (routable.c.experiment:28-36). strict replicates the
    * strncmp quirk: any tag key that is a PREFIX of "highway" matches. */
  def isHighway(tags: Column, strict: Boolean = false): Column =
    if (strict) exists(map_keys(tags), k => lit("highway").startsWith(k))
    else map_contains_key(tags, "highway")

  /**
   * Vertices: a node is a vertex iff it is the first or last ref of some
   * highway way, or is referenced >= 2 times across highway ways (counting
   * repeats within one way — the reference's seen-again rule,
   * routable.c.experiment:43-62). Returns (node_id, n_refs, is_endpoint).
   */
  def vertices(ways: DataFrame, strict: Boolean = false): DataFrame =
    ways.where(isHighway(col("tags"), strict))
      .select(posexplode(col("refs")).as(Seq("pos", "node_id")),
              size(col("refs")).as("_len"))
      .groupBy("node_id")
      .agg(count(lit(1)).as("n_refs"),
           max(col("pos") === 0 || col("pos") === col("_len") - 1).as("is_endpoint"))
      .where(col("is_endpoint") || col("n_refs") >= 2)

  /**
   * Edges: segments of each highway way between consecutive vertices.
   * Returns (way_id, seg, src, dst, n_legs, length_m). Lengths use the
   * same equirectangular approximation as the reference's decimeter
   * projection (routable.c.experiment:90-110).
   */
  def edges(ways: DataFrame, nodes: DataFrame, strict: Boolean = false): DataFrame = {
    val vs = vertices(ways, strict)
      .select(col("node_id").as("_vid"), lit(true).as("_isv"))
    val legsBase = ways.where(isHighway(col("tags"), strict))
      .select(col("id").as("way_id"), posexplode(col("refs")).as(Seq("pos", "node_id")))
      .join(nodes.select(col("id").as("node_id"), col("lon"), col("lat")), "node_id")
      .join(vs, col("node_id") === col("_vid"), "left")
      .withColumn("is_vertex", coalesce(col("_isv"), lit(false)))
      .drop("_vid", "_isv")
    val w = Window.partitionBy("way_id").orderBy("pos")
    val withNext = legsBase
      .withColumn("nxt_node", lead("node_id", 1).over(w))
      .withColumn("nxt_lon", lead("lon", 1).over(w))
      .withColumn("nxt_lat", lead("lat", 1).over(w))
      .withColumn("nxt_isv", lead("is_vertex", 1).over(w))
      // leg i belongs to the segment opened by the latest vertex at pos <= i
      .withColumn("seg", sum(when(col("is_vertex"), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .where(col("nxt_node").isNotNull)
    withNext
      .withColumn("leg_m", graft.functions.geo.dist_meters(
        col("lon"), col("lat"), col("nxt_lon"), col("nxt_lat")))
      .groupBy("way_id", "seg")
      .agg(min_by(col("node_id"), col("pos")).as("src"),
           max_by(col("nxt_node"), col("pos")).as("dst"),
           count(lit(1)).as("n_legs"),
           sum("leg_m").as("length_m"))
  }
}
