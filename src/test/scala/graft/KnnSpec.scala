package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.functions.geo
import graft.operators.{Knn, LeafWrite}

/** kNN against a brute-force top-k ordered by (distance, id), through every
  * entry point: [[Knn.knn]] and [[Knn.knnJoinTable]], each over an
  * in-memory frame and over a stored `p_cell`-partitioned copy. */
class KnnSpec extends SparkFunSuite {
  import spark.implicits._

  private type Lists = Map[Long, Seq[(Long, Double)]]

  /** Neighbour lists (id, dist) in rank order, per entry point. */
  private def allPaths(pts: Seq[(Long, Double, Double)], qs: Seq[Knn.Query],
                       k: Int): Map[String, Lists] = {
    val mem = pts.toDF("id", "lon", "lat")
      .withColumn("cell", geo.grid_cell(col("lon"), col("lat")))
    val dir = Files.createTempDirectory("graft_knn_spec_").toString
    LeafWrite.partitioned(mem.withColumn("p_cell", geo.cell_at(col("lon"), col("lat"), 3)),
      Seq("p_cell")).mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val qdf = qs.map(q => (q.qid, q.lon, q.lat)).toDF("qid", "qlon", "qlat")
    def lists(df: DataFrame): Lists = df.collect().groupBy(_.getLong(0)).map {
      case (qid, rows) =>
        val ranked = rows.sortBy(_.getInt(3))
        assert(ranked.map(_.getInt(3)).toSeq == (1 to ranked.length), s"ranks of $qid")
        qid -> ranked.map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }
    Map("knn" -> lists(Knn.knn(mem, qs, k)),
      "knn over the stored table" -> lists(Knn.knn(stored, qs, k, pRes = 3)),
      "knnJoinTable" -> lists(Knn.knnJoinTable(mem, qdf, k)),
      "knnJoinTable over the stored table" ->
        lists(Knn.knnJoinTable(stored, qdf, k, pRes = 3)))
  }

  private def brute(pts: Seq[(Long, Double, Double)], qs: Seq[Knn.Query], k: Int): Lists =
    qs.map { q =>
      q.qid -> pts.map { case (id, lon, lat) =>
        (id, CellIndex.distMeters(q.lon, q.lat, lon, lat))
      }.sortBy { case (id, d) => (d, id) }.take(k)
    }.toMap

  private def assertBrute(pts: Seq[(Long, Double, Double)], qs: Seq[Knn.Query],
                          k: Int): Unit = {
    val expect = brute(pts, qs, k)
    allPaths(pts, qs, k).foreach { case (path, got) =>
      qs.foreach { q =>
        assert(got.getOrElse(q.qid, Nil) == expect(q.qid), s"$path, query $q")
      }
    }
  }

  test("kNN across the equator: the nearer point on the other side wins") {
    // ybin 0 lies just north of the equator and 16383 just south. From
    // (10, 0.004) the point across the equator is 891 m away and the one
    // on the same side 1,169 m, inside disk(1)'s guarantee radius of
    // 1,223 m; the mirrored case sits at lon 50
    val pts = Seq((1L, 10.0, -0.004), (2L, 10.0, 0.0145),
      (3L, 50.0, 0.004), (4L, 50.0, -0.0145))
    val qs = Seq(Knn.Query(1, 10.0, 0.004), Knn.Query(2, 50.0, -0.004))
    allPaths(pts, qs, 1).foreach { case (path, got) =>
      assert(got(1L).map(_._1) == Seq(1L), s"$path, north of the equator")
      assert(got(2L).map(_._1) == Seq(3L), s"$path, south of the equator")
    }
    assertBrute(pts, qs, 1)
  }

  test("kNN near the pole: a point two columns out still wins") {
    // columns are ~1e-6 of their equatorial width here: A, two columns
    // east, is 0.0086 m away and B, in the query's own column, 0.336 m
    val pts = Seq((1L, 10.0441, 89.9999), (2L, 10.0, 89.999903),
      (3L, 10.0441, -89.9999), (4L, 10.0, -89.999903))
    val qs = Seq(Knn.Query(1, 10.0, 89.9999), Knn.Query(2, 10.0, -89.9999))
    allPaths(pts, qs, 1).foreach { case (path, got) =>
      assert(got(1L).map(_._1) == Seq(1L), s"$path, north pole")
      assert(got(2L).map(_._1) == Seq(3L), s"$path, south pole")
    }
    assertBrute(pts, qs, 1)
  }

  test("kNN equals a seeded brute-force top-k ordered by (dist, id)") {
    val rnd = new scala.util.Random(20261021L)
    def around(n: Int, lon: Double, lat: Double, sd: Double) = Seq.fill(n) {
      val x = lon + rnd.nextGaussian() * sd
      (if (x >= 180) x - 360 else if (x < -180) x + 360 else x,
        math.max(-90.0, math.min(90.0, lat + rnd.nextGaussian() * sd)))
    }
    val dup = Seq((2.35, 48.85), (2.3501, 48.85), (-0.0001, 51.5))
    val coords =
      around(400, 12.3, 45.6, 0.05) ++ around(400, -73.9, 40.7, 0.05) ++
      around(300, 151.2, -33.8, 0.05) ++                       // dense
      Seq.fill(300)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)) ++
      around(100, 10.0, 0.0, 0.02) ++                          // equator
      around(60, 0.0, 90.0, 0.05) ++ around(60, 0.0, -90.0, 0.05) ++   // poles
      around(60, 180.0, 20.0, 0.05) ++                         // antimeridian
      around(60, 0.0, 51.5, 0.05) ++                           // prime meridian
      dup.flatMap(c => Seq.fill(3)(c))                         // tied coordinates
    val pts = coords.zipWithIndex.map { case ((lon, lat), i) => (i.toLong, lon, lat) }
    val qs = Seq((12.31, 45.61), (-73.9, 40.7), (151.2, -33.8),
      (-140.0, -50.0), (60.0, -60.0), (100.0, 10.0),               // sparse
      (10.0, 0.004), (10.0, -0.004), (10.0, 0.0), (10.05, -0.0001),
      (0.0, 89.99), (120.0, 89.9999), (-60.0, -89.99), (30.0, -89.9999),
      (179.99, 20.05), (-179.99, 20.05), (180.0, 19.95),
      (0.0, 51.5), (-0.0001, 51.5), (0.0001, 51.45),
      (2.35, 48.85), (2.35005, 48.85))
      .zipWithIndex.map { case ((lon, lat), i) => Knn.Query(i + 1L, lon, lat) }
    assertBrute(pts, qs, 5)
    // k above the table's row count: every query gets the whole table
    val tiny = Seq((1L, 10.0, 0.001), (2L, 10.0, -0.001), (3L, 179.99, 5.0),
      (4L, -179.99, 5.0), (5L, 0.0, 89.99), (6L, 0.0, -89.99), (7L, 10.0, 0.001))
    assertBrute(tiny, Seq(Knn.Query(1, 10.0, 0.0), Knn.Query(2, -179.0, 5.0),
      Knn.Query(3, 0.0, -89.0)), 10)
  }
}
