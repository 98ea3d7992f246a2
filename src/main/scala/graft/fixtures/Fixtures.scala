package graft.fixtures

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.cells.CellIndex

/**
 * Deterministic synthetic fixtures (FIXTURES.md). Every row is a pure
 * function of (id, seed), so the same rows can be produced locally (tiny
 * oracle tests) or distributed via spark.range().mapPartitions (bench
 * scale) with zero driver materialization and bit-identical content.
 *
 * Spatial placement: K seeded city centers with Gaussian blobs + uniform
 * background, all inside one sign quadrant (lon, lat > 0) to stay clear of
 * the reference's antimeridian quirk (SURVEY.md §8 Q1); quirk fixtures are
 * generated explicitly by tests that need them.
 */
object Fixtures {

  final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int,
                            h: Int, fmt: String, caption: String, phash: Long)
  final case class NodeRow(id: Long, lon: Double, lat: Double,
                           tags: Map[String, String])
  final case class WayRow(id: Long, refs: Array[Long], tags: Map[String, String])
  final case class RelMemberRow(role: String, mtype: Byte, ref: Long)
  final case class RelationRow(id: Long, members: Array[RelMemberRow],
                               tags: Map[String, String])

  val DefaultSeed = 42L

  // 12 city centers in the (+,+) quadrant; mirrors the skew the reference
  // observed (7.48% cell occupancy, vex.c:583-586): hot blobs + thin tail.
  def cityCenters(seed: Long): Array[(Double, Double)] = {
    val r = new scala.util.Random(seed ^ 0xC171E5L)
    Array.fill(12)((2.0 + r.nextDouble() * 170.0, 2.0 + r.nextDouble() * 84.0))
  }

  /** Deterministic per-id RNG: id and seed mixed through SplitMix64. */
  private def rng(id: Long, seed: Long): scala.util.Random =
    new scala.util.Random(mix64(id * 0x9E3779B97F4A7C15L ^ seed))
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Clustered-or-background placement shared by images and planet nodes. */
  def place(id: Long, seed: Long, centers: Array[(Double, Double)]): (Double, Double) = {
    val r = rng(id, seed)
    if (r.nextDouble() < 0.8) {
      // Zipf-ish cluster pick: low-index cities much hotter (drives salting)
      val c = centers(math.min(centers.length - 1,
        (math.pow(r.nextDouble(), 2.5) * centers.length).toInt))
      val lon = (c._1 + r.nextGaussian() * 0.4).max(0.5).min(179.5)
      val lat = (c._2 + r.nextGaussian() * 0.3).max(0.5).min(89.5)
      (lon, lat)
    } else (0.5 + r.nextDouble() * 179.0, 0.5 + r.nextDouble() * 89.0)
  }

  private val adjectives = Array("quiet", "vivid", "ancient", "bright",
    "misty", "golden", "hidden", "rugged")
  private val nouns = Array("harbor", "market", "bridge", "garden", "tower",
    "station", "plaza", "canal")

  /** Deterministic PNG: gradient + id-seeded noise. Lossless => extract
    * invariant is exact pixel equality (FIXTURES.md §1). */
  def makePng(id: Long, seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val r = rng(id ^ 0x1A6EL, seed)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = ((x * 255 / w) << 16) | ((y * 255 / h) << 8)
        img.setRGB(x, y, base | (r.nextInt(256)))
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Smooth variant (gradient + low-amplitude noise) for the lossy-re-encode
    * fixture subset: JPEG at high quality keeps these above the 40dB PSNR
    * invariant bound, unlike the full-noise PNGs. */
  def makeSmoothPng(id: Long, seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val r = rng(id ^ 0x50F7L, seed)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val blue = ((x + y) * 255 / (w + h)) + r.nextInt(5) - 2
        img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) |
          math.max(0, math.min(255, blue)))
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic BROAD-SPECTRUM image: a random-sign 9x9 low-frequency
    * DCT coefficient field rendered to pixels. pHash thresholds DCT
    * coefficients at their median — the "few bits move under re-encode"
    * contract needs every hashed coefficient well above codec noise (the
    * 1/f spectrum natural photos have); gradients/noise PNGs don't provide
    * that. Used by the image near-dup gate and RasterSpec. */
  def makeTexturedPng(id: Long, w: Int = 64, h: Int = 64): Array[Byte] = {
    val rnd = new scala.util.Random(id * 1013904223L + 12345)
    val amp = Array.tabulate(9, 9)((u, v) =>
      (if (rnd.nextBoolean()) 1 else -1) * 60.0 / (1 + u + v))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      var s = 0.0
      for (u <- 0 until 9; v <- 0 until 9 if u != 0 || v != 0)
        s += amp(u)(v) * math.cos((2 * x + 1) * u * math.Pi / (2.0 * w)) *
          math.cos((2 * y + 1) * v * math.Pi / (2.0 * h))
      val c = math.max(0, math.min(255, 128 + s.toInt))
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** One image row; pure function of (id, seed, withBytes). */
  def imageRow(id: Long, seed: Long = DefaultSeed, withBytes: Boolean = true,
               centers: Array[(Double, Double)] = null): ImageRow = {
    val cs = if (centers == null) cityCenters(seed) else centers
    val (lon, lat) = place(id, seed, cs)
    val r = rng(id ^ 0xD1AE5L, seed)
    val dims = Array(16, 32, 64)
    val w = dims(r.nextInt(3)); val h = dims(r.nextInt(3))
    val caption = f"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))} at ($lat%.5f,$lon%.5f) #$id"
    val phash = CellIndex.packCoord(CellIndex.toX(lon), CellIndex.toY(lat))
    ImageRow(f"img_$id%012d",
      if (withBytes) makePng(id, seed, w, h) else Array.emptyByteArray,
      w, h, "png", caption, phash)
  }

  /** Local (driver-side) images — tiny/small scales for oracle tests. */
  def localImages(n: Int, seed: Long = DefaultSeed,
                  withBytes: Boolean = true): Seq[ImageRow] = {
    val cs = cityCenters(seed)
    (0 until n).map(i => imageRow(i.toLong, seed, withBytes, cs))
  }

  /** Distributed images — same rows, generated in executors (bench scale).
    * No shuffle: spark.range splits the id space evenly. */
  def images(spark: SparkSession, n: Long, seed: Long = DefaultSeed,
             withBytes: Boolean = false): Dataset[ImageRow] = {
    import spark.implicits._
    val cs = cityCenters(seed)
    val bc = spark.sparkContext.broadcast(cs)
    spark.range(n).mapPartitions(_.map(id => imageRow(id, seed, withBytes, bc.value)))
  }

  // ---- planet-clone tables (OSM analogue, FIXTURES.md §2) -------------------

  private val tagKeys = Array("highway", "building", "name", "amenity",
    "waterway", "created_by", "source", "tiger:county", "railway")
  private val tagVals = Array("residential", "primary", "yes", "school",
    "river", "JOSM", "bing", "Hennepin, MN", "rail")
  private val roles = Array("inner", "outer", "stop", "platform",
    "main_stream", "weird_role_xyz")  // last one is outside any dictionary

  def nodeRow(id: Long, seed: Long, centers: Array[(Double, Double)]): NodeRow = {
    val (lon, lat) = place(id, seed ^ 0x90DEL, centers)
    val r = rng(id ^ 0x7A95L, seed)
    val nTags = r.nextInt(3)
    val tags = (0 until nTags).map { _ =>
      val i = r.nextInt(tagKeys.length)
      tagKeys(i) -> tagVals(r.nextInt(tagVals.length))
    }.toMap
    NodeRow(id, lon, lat, tags)
  }

  /** Ways sample runs of nearby node ids (consecutive ids are NOT spatially
    * near under hashing placement, which deliberately creates ways whose
    * first node sits in a different cell than the rest — exercising the
    * reference's first-node binning semantics, vex.c:511). Shared endpoints
    * between consecutive ways exercise node-emit dedup (J3). */
  /** Node/way/relation ids are 1-based: the reference treats id 0 as an
    * empty slot / end-of-chain marker (vex.c:916-917 `way_id <= 0` break,
    * vex.c:891 `relation_id > 0`), so id 0 entities are invisible quirks we
    * choose not to generate. */
  def wayRow(wid: Long, seed: Long, nNodes: Long): WayRow = {
    val r = rng(wid ^ 0x3A1FL, seed)
    val len = 2 + r.nextInt(9)
    val base = 1 + math.abs(mix64(wid ^ seed)) % math.max(1, nNodes - len)
    // stride 1 keeps most refs in one blob; ~15% of ways jump far for the
    // first ref (first-node-elsewhere case, vex.c:511 binning semantics)
    val refs = new Array[Long](len)
    refs(0) = if (r.nextDouble() < 0.15) 1 + math.abs(mix64(wid ^ 0xFEEDL)) % nNodes
              else base
    var i = 1
    while (i < len) { refs(i) = base + i; i += 1 }
    // ~30%: share last ref with the next run's base (junction, exercises J3)
    if (r.nextDouble() < 0.3) refs(len - 1) = math.min(nNodes, base + len)
    WayRow(wid, refs, if (r.nextBoolean())
      Map("highway" -> tagVals(r.nextInt(2))) else Map("building" -> "yes"))
  }

  def relationRow(rid: Long, seed: Long, nNodes: Long, nWays: Long): RelationRow = {
    val r = rng(rid ^ 0x5E1AL, seed)
    val nMem = 1 + r.nextInt(4)   // includes single-member (unindexed) cases
    val members = (0 until nMem).map { _ =>
      val t = r.nextInt(10)
      if (t < 5) RelMemberRow(roles(r.nextInt(roles.length)), 0.toByte,
        1 + math.abs(mix64(rid * 31 + t)) % nNodes)             // node member
      else if (t < 9) RelMemberRow(roles(r.nextInt(roles.length)), 1.toByte,
        1 + math.abs(mix64(rid * 37 + t)) % nWays)              // way member
      else RelMemberRow("outer", 2.toByte, 1 + math.abs(mix64(rid * 41 + t)) % 100)
    }.toArray
    RelationRow(rid, members, Map("type" -> "multipolygon"))
  }

  final case class Planet(nodes: Seq[NodeRow], ways: Seq[WayRow],
                          relations: Seq[RelationRow])

  /** Local planet fixture; ids dense 0..n-1 (holes don't change semantics —
    * the reference's sparse files are an encoding detail). */
  def localPlanet(nNodes: Int, nWays: Int, nRels: Int,
                  seed: Long = DefaultSeed): Planet = {
    val cs = cityCenters(seed)
    Planet(
      (1 to nNodes).map(i => nodeRow(i.toLong, seed, cs)),
      (1 to nWays).map(i => wayRow(i.toLong, seed, nNodes.toLong)),
      (1 to nRels).map(i => relationRow(i.toLong, seed, nNodes.toLong, nWays.toLong)))
  }

}
