package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cells.CellIndex
import graft.fixtures.Fixtures

/**
 * A fixture world: the seeded fixtures with every coordinate divided by
 * `scale`. [[Region.Quadrant]] is the fixtures' own (+,+) quadrant;
 * [[Region.Coarse]] maps it onto one 45 x 22.5 degree region with the same
 * city blobs and background. Both stored layouts write one file per coarse
 * partition (`p` / `p_cell`, 11.25 x 5.6 degree cells) from one task, so
 * the quadrant's 256 coarse cells make file count, not data, set a write's
 * time; the coarse region has 16.
 */
final case class Region(scale: Int) {

  def images(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val s = scale
    Fixtures.images(spark, rows, seed, withBytes = false).map { r =>
      r.copy(phash = CellIndex.packCoord(CellIndex.unpackX(r.phash) / s,
        CellIndex.unpackY(r.phash) / s))
    }.toDF()
  }

  def planet(nodes: Int, ways: Int, relations: Int, seed: Long): Fixtures.Planet = {
    val p = Fixtures.localPlanet(nodes, ways, relations, seed)
    p.copy(nodes = p.nodes.map(n => n.copy(lon = n.lon / scale, lat = n.lat / scale)))
  }

  /** A seeded point where the data is: in a random city blob (the
    * fixtures' spread), or uniform over the region for `background`.
    * Callers fix the share of background points by position in their
    * sequence, so every seed gives the same mix. */
  def point(rnd: scala.util.Random, seed: Long, background: Boolean): (Double, Double) = {
    val cs = Fixtures.cityCenters(seed)
    if (!background) {
      val c = cs(rnd.nextInt(cs.length))
      ((c._1 + rnd.nextGaussian() * 0.4) / scale, (c._2 + rnd.nextGaussian() * 0.3) / scale)
    } else ((0.5 + rnd.nextDouble() * 179) / scale, (0.5 + rnd.nextDouble() * 89) / scale)
  }

  /** A seeded edge length in the `k`-th of `classes` equal log-spaced
    * classes between 10^lo and 10^hi fixture degrees; cycling `k` gives
    * every seed the same spread of sizes. */
  def size(rnd: scala.util.Random, lo: Double, hi: Double, k: Int, classes: Int): Double =
    math.pow(10, lo + (hi - lo) * (k % classes + rnd.nextDouble()) / classes) / scale
}

object Region {
  val Quadrant: Region = Region(1)
  val Coarse: Region = Region(4)
}
