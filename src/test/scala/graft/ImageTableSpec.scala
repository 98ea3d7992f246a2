package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.functions.PointInPolygon
import graft.operators.{ImageTable, Knn}
import graft.plans.SnapshotLog

/** Images-table pipeline: geocoding parity with the reference math, salted
  * partitioned ingest with snapshot lineage, resume, bbox/polygon extracts,
  * kNN vs brute-force oracle. */
class ImageTableSpec extends SparkFunSuite {
  import spark.implicits._

  private val N = 20000
  private lazy val rows = Fixtures.localImages(N, withBytes = false)
  private lazy val imagesDF = rows.toDF()
  private lazy val tmp = Files.createTempDirectory("graft_images_").toString

  private lazy val snap = ImageTable.ingest(imagesDF, s"$tmp/images",
    saltThreshold = 500, maxSalt = 8)
  private lazy val table = {
    snap
    ImageTable.readCommitted(spark, s"$tmp/images").cache()
  }

  test("derive: geocoding and tile assignment match the reference math per row") {
    val sample = ImageTable.derive(imagesDF).limit(5000).collect()
    sample.foreach { r =>
      val phash = r.getAs[Long]("phash")
      val x = CellIndex.unpackX(phash); val y = CellIndex.unpackY(phash)
      assert(r.getAs[Double]("lon") == CellIndex.getLon(x))
      assert(r.getAs[Double]("lat") == CellIndex.getLat(y))
      assert(r.getAs[Int]("cell") ==
        CellIndex.gridCell(CellIndex.bin(x), CellIndex.bin(y)))
      assert(r.getAs[Long]("cell_r9") == CellIndex.cellId(x, y, 9))
      // prefix property ties the partition key to the fine cells
      assert(r.getAs[Long]("cell_r7") == (r.getAs[Long]("cell_r9") >>> 4))
      assert(r.getAs[Long]("p_cell") == (r.getAs[Long]("cell_r7") >>> 4))
    }
  }

  test("ingest commits a snapshot whose lineage accounts for every row") {
    assert(snap.id == 0 && snap.parent == -1)
    assert(snap.partitions.map(_.rows).sum == N)
    assert(snap.metrics("total_rows") == N.toDouble)
    assert(table.count() == N)
    // lineage checksum matches a recomputation from the table
    val recomputed = table.groupBy("p_cell", "p_salt")
      .agg(sum(pmod(xxhash64(col("image_id"), col("phash")), lit(1000000007L))).as("ck")).collect()
      .map(r => s"p_cell=${r.getAs[Number](0).longValue}/p_salt=${r.getAs[Number](1).intValue}" -> r.getLong(2)).toMap
    snap.partitions.foreach { p =>
      assert(recomputed(p.partition) == p.checksum, s"checksum ${p.partition}")
    }
  }

  test("hot cells are salted into multiple buckets; cold cells are not") {
    val perCell = snap.partitions
      .groupBy(_.partition.split("/")(0))
      .view.mapValues(ps => (ps.size, ps.map(_.rows).sum)).toMap
    val hot = perCell.filter(_._2._2 > 500)
    assert(hot.nonEmpty, "fixture produced no hot cell — weak skew")
    hot.foreach { case (cell, (nSalts, rows)) =>
      assert(nSalts > 1, s"hot cell $cell (${rows} rows) not salted")
    }
    val cold = perCell.filter(_._2._2 <= 500)
    assert(cold.nonEmpty)
    // salted partitions stay bounded (threshold x small constant slack)
    snap.partitions.foreach(p => assert(p.rows <= 500 * 3, s"${p.partition} too big"))
  }

  test("resume: second half of the input lands without touching committed partitions") {
    val dir = s"$tmp/resume"
    // first run sees only images whose p_cell is "even" (simulated partial load)
    val derived = ImageTable.derive(imagesDF)
    val firstHalf = imagesDF.join(
      derived.where(pmod(col("p_cell"), lit(2)) === 0).select("image_id"), "image_id")
    val s1 = ImageTable.ingest(firstHalf, dir, saltThreshold = 500, maxSalt = 8)
    val c1 = SnapshotLog.committedPartitions(dir)
    // resume with the FULL input: only the odd cells are written
    val (s2, written) = ImageTable.ingestResume(imagesDF, dir, saltThreshold = 500)
    assert(s2.id == s1.id + 1 && s2.parent == s1.id)
    assert(written > 0)
    val s2cells = s2.partitions.map(_.partition).toSet
    assert(c1.subsetOf(s2cells), "resume dropped committed partitions")
    // final table is complete, no dupes
    val fin = ImageTable.readCommitted(spark, dir)
    assert(fin.count() == N)
    assert(fin.select("image_id").distinct().count() == N)
    // third run: nothing left to do
    val (s3, w3) = ImageTable.ingestResume(imagesDF, dir, saltThreshold = 500)
    assert(w3 == 0 && s3.id == s2.id)
  }

  test("write path: one write task per shuffle partition, no partition " +
       "discovery, one file per lineage leaf") {
    val dir = s"$tmp/write_path"
    val (s, run) = WriteProbe.record(spark) {
      ImageTable.ingest(imagesDF, dir, saltThreshold = 500, maxSalt = 8)
    }
    val leaves = s.partitions.map(_.partition).toSet
    val slots = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(leaves.size > slots, "weak fixture: fewer leaves than write tasks")
    // AQE coalescing the write's shuffle by bytes would fold it into one task
    assert(run.writeStageTasks == Seq(math.min(leaves.size, slots)),
      s"write stages ran ${run.writeStageTasks} tasks")
    // lineage comes from the input: the table is never listed back
    val listings = run.jobDescriptions.filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"partition discovery inside ingest: $listings")
    val files = WriteProbe.dataFilesPerLeaf(dir)
    assert(files.keySet == leaves)
    assert(files.values.forall(_ == 1), s"leaves with several files: ${files.filter(_._2 > 1)}")
  }

  test("re-ingest over fewer salt buckets drops the stale leaves: ids stay " +
       "unique and lineage matches the committed table") {
    val dir = s"$tmp/reingest"
    val all = Fixtures.localImages(4000, withBytes = false).toDF()
    ImageTable.ingest(all, dir, saltThreshold = 200, maxSalt = 8)
    val s2 = ImageTable.ingest(all.limit(1000), dir, saltThreshold = 200, maxSalt = 8)
    val t = ImageTable.readCommitted(spark, dir)
    val n = t.count()
    assert(t.select("image_id").distinct().count() == n, "duplicated image ids")
    val recomputed = t.groupBy("p_cell", "p_salt").agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(col("image_id"), col("phash")), lit(1000000007L))).as("ck"))
      .collect().map(r => s"p_cell=${r.getAs[Number](0).longValue}/p_salt=" +
        s"${r.getAs[Number](1).intValue}" -> (r.getLong(2), r.getLong(3))).toMap
    assert(s2.partitions.map(p => p.partition -> (p.rows, p.checksum)).toMap == recomputed)
    // nothing on disk outside the committed lineage
    assert(WriteProbe.dataFilesPerLeaf(dir).keySet == recomputed.keySet)
  }

  test("bbox extracts: cell-granular matches per-row binning; exact matches coordinates") {
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
    val b = BBox(c._1 - 0.7, c._2 - 0.5, c._1 + 0.7, c._2 + 0.5)
    val cells = CellIndex.coverCells(b).toSet
    val expectedCellGranular = rows.filter { r =>
      cells.contains(CellIndex.gridCell(
        CellIndex.bin(CellIndex.unpackX(r.phash)),
        CellIndex.bin(CellIndex.unpackY(r.phash))))
    }.map(_.image_id).toSet
    val got = ImageTable.extractBBox(table, b)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(got == expectedCellGranular)

    val exact = ImageTable.extractBBoxExact(table, b)
      .select("image_id").collect().map(_.getString(0)).toSet
    val expectedExact = rows.filter { r =>
      val lon = CellIndex.getLon(CellIndex.unpackX(r.phash))
      val lat = CellIndex.getLat(CellIndex.unpackY(r.phash))
      lon >= b.minLon && lon <= b.maxLon && lat >= b.minLat && lat <= b.maxLat
    }.map(_.image_id).toSet
    assert(exact == expectedExact)
    assert(exact.subsetOf(got))
  }

  test("polygon extract matches brute-force ray casting") {
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(1)
    // concave polygon around city 1
    val poly = Array(
      c._1 - 1.0, c._2 - 1.0,  c._1 + 1.0, c._2 - 1.0,
      c._1 + 1.0, c._2 + 1.0,  c._1,       c._2,          // notch
      c._1 - 1.0, c._2 + 1.0)
    val px = Array(poly(0), poly(2), poly(4), poly(6), poly(8))
    val py = Array(poly(1), poly(3), poly(5), poly(7), poly(9))
    val expected = rows.filter { r =>
      PointInPolygon.contains(px, py,
        CellIndex.getLon(CellIndex.unpackX(r.phash)),
        CellIndex.getLat(CellIndex.unpackY(r.phash)))
    }.map(_.image_id).toSet
    val got = ImageTable.extractPolygon(table, poly)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "weak fixture: empty polygon extract")
  }

  test("compact merges multi-file append leaves to one file per dir, " +
       "preserves rows, and is a no-op when already compact") {
    val dir = s"$tmp/append_store"
    // three append batches -> >= 3 files per touched p_cell dir (the
    // streaming-append shape)
    for (b <- 0 until 3) {
      ImageTable.derive(rows.slice(b * 300, (b + 1) * 300).toDF())
        .write.mode("append").partitionBy("p_cell").parquet(dir)
    }
    val before = spark.read.parquet(dir).collect()
      .map(_.getAs[String]("image_id")).sorted.toSeq
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def maxFiles: Int = fs.listStatus(hPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_cell="))
      .map(cd => fs.listStatus(cd.getPath).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")))
      .max
    assert(maxFiles >= 3, s"append fixture expected >=3 files, got $maxFiles")
    // convergence guard: when current file counts already meet the target
    // (tiny targetFileBytes -> targetN >= files), nothing is rewritten
    assert(ImageTable.compact(spark, dir, targetFileBytes = 1L) == 0L)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val n = ImageTable.compact(spark, dir)
    assert(n > 0)
    assert(maxFiles == 1, s"leaves still hold $maxFiles files")
    val after = spark.read.parquet(dir).collect()
      .map(_.getAs[String]("image_id")).sorted.toSeq
    assert(after == before)
    // second pass: nothing left to do; and compact pinned no blocks
    assert(ImageTable.compact(spark, dir) == 0L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"compact pinned: $leaked")
  }

  test("compact on a streaming-sink store: retires _spark_metadata, drops " +
       "uncommitted orphans, preserves committed rows, converges") {
    val base = Files.createTempDirectory("graft_compact_stream_").toString
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    for (b <- 0 until 3) {
      rows.slice(b * 300, (b + 1) * 300).toDF()
        .coalesce(1).write.mode("append").parquet(src)
      graft.streaming.StreamingIngest.ingestOnce(spark, src, dest, ckpt)
    }
    val hPath = new org.apache.hadoop.fs.Path(dest)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dest, "_spark_metadata")))
    // reads resolve through the sink log at this point
    val before = spark.read.parquet(dest).collect()
      .map(_.getAs[String]("image_id")).sorted.toSeq
    // plant an ORPHAN the log never committed, in a cell compaction will
    // not touch: once the log is retired it would silently resurrect
    val someFile = fs.listFiles(hPath, true)
    var donor: org.apache.hadoop.fs.Path = null
    while (someFile.hasNext && donor == null) {
      val st = someFile.next()
      if (st.getPath.getName.startsWith("part-")) donor = st.getPath
    }
    val orphanDir = new org.apache.hadoop.fs.Path(dest, "p_cell=999999")
    fs.mkdirs(orphanDir)
    val orphan = new org.apache.hadoop.fs.Path(orphanDir, "part-orphan.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    // an orphan inside a REAL (affected) cell: the dynamic overwrite only
    // rewrites leaves it has rows for, so without the all-cell sweep this
    // file would survive log retirement and resurrect as rows
    val affectedOrphan = new org.apache.hadoop.fs.Path(
      donor.getParent, "part-orphan-affected.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs, affectedOrphan, false,
      spark.sparkContext.hadoopConfiguration)
    // an AFFECTED cell consisting ONLY of orphans (a crashed sink batch):
    // the log-filtered read yields no rows for it, so only the sweep can
    // clean it
    val allOrphanDir = new org.apache.hadoop.fs.Path(dest, "p_cell=999998")
    fs.mkdirs(allOrphanDir)
    val allOrphans = (0 until 3).map { i =>
      val p = new org.apache.hadoop.fs.Path(allOrphanDir, s"part-orphan-$i.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs, p, false,
        spark.sparkContext.hadoopConfiguration)
      p
    }
    val n = ImageTable.compact(spark, dest)
    assert(n > 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dest, "_spark_metadata")),
      "sink log not retired")
    assert(!fs.exists(orphan), "uncommitted orphan resurrected")
    assert(!fs.exists(affectedOrphan), "affected-cell orphan resurrected")
    allOrphans.foreach(p => assert(!fs.exists(p), s"all-orphan leaf survived: $p"))
    val after = spark.read.parquet(dest).collect()
      .map(_.getAs[String]("image_id")).sorted.toSeq
    assert(after == before)
    assert(ImageTable.compact(spark, dest) == 0L)
  }

  test("compact guard seam: a mid-pass append into a brand-new cell aborts " +
       "a sink-log compact (no store change) but not a plain-store one") {
    val conf = spark.sparkContext.hadoopConfiguration
    def plantHook(fs: org.apache.hadoop.fs.FileSystem,
                  store: String): org.apache.hadoop.fs.Path = {
      // donor: any data file already in the store
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(store), true)
      var donor: org.apache.hadoop.fs.Path = null
      while (it.hasNext && donor == null) {
        val st = it.next()
        if (st.getPath.getName.startsWith("part-")) donor = st.getPath
      }
      val planted = new org.apache.hadoop.fs.Path(store,
        "p_cell=888888/part-concurrent.parquet")
      val d = donor
      ImageTable.onCompactBeforeGuard = () => {
        fs.mkdirs(planted.getParent)
        org.apache.hadoop.fs.FileUtil.copy(fs, d, fs, planted, false, conf)
      }
      planted
    }
    try {
      // PLAIN store: append into an untouched (new) cell is harmless —
      // the pass must proceed and leave the appended file alone
      val plain = s"$tmp/guard_plain"
      for (b <- 0 until 2)
        ImageTable.derive(rows.slice(b * 300, (b + 1) * 300).toDF())
          .write.mode("append").partitionBy("p_cell").parquet(plain)
      val fs = new org.apache.hadoop.fs.Path(plain).getFileSystem(conf)
      val plantedPlain = plantHook(fs, plain)
      assert(ImageTable.compact(spark, plain) > 0)
      assert(fs.exists(plantedPlain), "plain store: concurrent append destroyed")
      ImageTable.onCompactBeforeGuard = () => ()

      // SINK-LOG store: the same append must ABORT the pass (the orphan
      // sweep would otherwise destroy it), leaving log and files intact
      val base = Files.createTempDirectory("graft_guard_stream_").toString
      val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
      for (b <- 0 until 2) {
        rows.slice(b * 300, (b + 1) * 300).toDF()
          .coalesce(1).write.mode("append").parquet(src)
        graft.streaming.StreamingIngest.ingestOnce(spark, src, dest, ckpt)
      }
      val fs2 = new org.apache.hadoop.fs.Path(dest).getFileSystem(conf)
      val plantedSink = plantHook(fs2, dest)
      val e = intercept[IllegalStateException] { ImageTable.compact(spark, dest) }
      assert(e.getMessage.contains("quiesce"))
      assert(fs2.exists(new org.apache.hadoop.fs.Path(dest, "_spark_metadata")),
        "aborted pass must not retire the log")
      assert(fs2.exists(plantedSink), "aborted pass must not delete files")
    } finally ImageTable.onCompactBeforeGuard = () => ()
  }

  test("kNN matches the brute-force oracle (dense city + sparse ocean queries)") {
    val cs = Fixtures.cityCenters(Fixtures.DefaultSeed)
    val queries = Seq(
      Knn.Query(1, cs(0)._1, cs(0)._2),          // hot cluster: resolves round 1
      Knn.Query(2, cs(3)._1 + 0.2, cs(3)._2),
      Knn.Query(3, 170.0, 85.0),                 // sparse corner: expansion/fallback
      Knn.Query(4, 90.0, 45.0))
    val k = 10
    val pts = table.select(col("image_id"), col("lon"), col("lat"), col("cell"))
      .withColumn("id", expr("cast(substring(image_id, 5) as long)"))
    val got = Knn.knn(pts, queries, k).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    val coords = rows.map { r =>
      (r.image_id.stripPrefix("img_").toLong,
       CellIndex.getLon(CellIndex.unpackX(r.phash)),
       CellIndex.getLat(CellIndex.unpackY(r.phash)))
    }
    queries.foreach { q =>
      val brute = coords.map { case (id, lon, lat) =>
        (id, CellIndex.distMeters(q.lon, q.lat, lon, lat))
      }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      assert(got(q.qid) == brute, s"qid=${q.qid}")
    }
    // a candidate cap small enough to force CHUNKED rounds (each probe job
    // bounded, several per round) must return the identical neighbor lists
    val chunked = Knn.knn(pts, queries, k, maxCandRows = 40).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    assert(chunked == got, "chunked rounds diverged from unchunked")

    // the Dataset-native kNN JOIN (queries as a table, never driver-
    // materialized) must return the identical neighbor lists — both on the
    // plain frame and on a stored p_cell-partitioned table (the derived
    // p_cell join-key path)
    val qdf = queries.map(q => (q.qid, q.lon, q.lat)).toDF("qid", "qlon", "qlat")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    assert(asMap(Knn.knnJoinTable(pts, qdf, k)) == got,
      "knnJoinTable diverged from knn")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"knnJoinTable pinned: $leaked")
    val storeDir = Files.createTempDirectory("graft_knnjt_").toString
    pts.withColumn("p_cell", graft.functions.geo.cell_at(col("lon"), col("lat"), 3))
      .repartition(col("p_cell"))
      .write.mode("overwrite").partitionBy("p_cell").parquet(storeDir)
    assert(asMap(Knn.knnJoinTable(spark.read.parquet(storeDir), qdf, k, pRes = 3))
      == got, "knnJoinTable over the stored p_cell table diverged")
  }

  test("knnJoinTable runs a fixed number of Spark jobs") {
    val cs = Fixtures.cityCenters(Fixtures.DefaultSeed)
    val qdf = Seq((1L, cs(0)._1, cs(0)._2), (2L, cs(3)._1 + 0.2, cs(3)._2),
      (3L, 170.0, 85.0), (4L, 90.0, 45.0)).toDF("qid", "qlon", "qlat")
    val pts = table.select(col("image_id"), col("lon"), col("lat"), col("cell"))
      .withColumn("id", expr("cast(substring(image_id, 5) as long)"))
    pts.count()   // the fixture's cache is built outside the probe
    assert(WriteProbe.jobCount(spark)(Knn.knnJoinTable(pts, qdf, k = 10)) == 16)
  }

  test("knnJoinTable equals knn on a randomized 40-query cloud (seeded)") {
    val pts = table.select(col("image_id"), col("lon"), col("lat"), col("cell"))
      .withColumn("id", expr("cast(substring(image_id, 5) as long)"))
    val rnd = new scala.util.Random(7)
    val queries = (1 to 40).map(i =>
      Knn.Query(i.toLong, rnd.nextDouble() * 170 + 1, rnd.nextDouble() * 80 + 1))
    val k = 5
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    val viaSeq = asMap(Knn.knn(pts, queries, k))
    val qdf = queries.map(q => (q.qid, q.lon, q.lat)).toDF("qid", "qlon", "qlat")
    val viaTable = asMap(Knn.knnJoinTable(pts, qdf, k))
    assert(viaTable == viaSeq)
    assert(viaTable.size == 40 && viaTable.values.forall(_.size == k))
  }

  test("coarseCellCol is bit-identical to CellIndex.coarseCellOfGrid") {
    val r = new scala.util.Random(42)
    val cells = Seq.fill(200)(CellIndex.gridCell(
      r.nextInt(CellIndex.GridDim), r.nextInt(CellIndex.GridDim)))
    for (res <- Seq(1, 3, 5, 9)) {
      val df = cells.toDF("cell")
        .select(col("cell"),
          Knn.coarseCellCol(shiftright(col("cell"), CellIndex.GridBits),
            col("cell").bitwiseAND(lit(CellIndex.GridDim - 1)), res).as("p"))
      df.collect().foreach { row =>
        val cell = row.getInt(0)
        assert(row.getLong(1) == CellIndex.coarseCellOfGrid(cell, res),
          s"cell=$cell res=$res")
      }
    }
  }
}
