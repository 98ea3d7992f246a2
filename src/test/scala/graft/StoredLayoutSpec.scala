package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators.{Dedup, ImageTable, PlanetExtract, Postings, Similarity}
import graft.streaming.StreamingIngest

/** The stored layout's two shared decisions. The overwrite policy: every
  * rebuild replaces its whole store, whatever the session's partition
  * overwrite mode. The parameter sidecars: each writer emits the same bytes
  * as before, and a sidecar that is present but wrong fails its read with
  * a message that names it. */
class StoredLayoutSpec extends SparkFunSuite {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def leaves(root: String) = WriteProbe.dataFilesPerLeaf(root).keySet

  /** 8-word docs over a 40-word vocabulary, one seed per id. */
  private def docs(ids: Range): DataFrame = ids.map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Seq.fill(8)(s"w${r.nextInt(40)}").mkString(" "))
  }.toDF("doc_id", "text")

  private def embs(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, Seq.tabulate(8)(d => math.sin(i * (d + 1.0)).toFloat))
  }.toDF("vec_id", "embedding")

  /** A one-row diff batch of [[StreamingIngest.applyDiffBatch]]. */
  private def diff(op: String, r: Fixtures.ImageRow): DataFrame =
    Seq((op, 0L, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")

  /** A stored planet DB of a small fixture planet, written at `pBits`. */
  private def planetDb(prefix: String, pBits: Int): String = {
    val planet = Fixtures.localPlanet(300, 60, 10)
    val db = tmp(prefix)
    PlanetExtract.writeTables(PlanetExtract.ingest(planet.nodes.toDF(), planet.ways.toDF(),
      planet.relations.toDF(), strictB1 = true), db, pBits)
    db
  }

  private def planetRows(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

  private def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  /** Replace the sidecar `p` with `text`, as a hand edit would: its
    * Hadoop checksum file goes too. */
  private def plant(p: String, text: String): Unit = {
    val f = Paths.get(p)
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  test("under a session-wide dynamic overwrite mode every rebuild keeps no " +
       "leaf of the previous build") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      // the planet DB: a smaller planet at the same pBits, then at another
      val big = Fixtures.localPlanet(3000, 900, 150)
      val small = Fixtures.localPlanet(500, 120, 30)
      def tables(p: Fixtures.Planet) = PlanetExtract.ingest(p.nodes.toDF(),
        p.ways.toDF(), p.relations.toDF(), strictB1 = true)
      val (bigT, smallT) = (tables(big), tables(small))
      val db = tmp("graft_dyn_planet_")
      PlanetExtract.writeTables(bigT, db, pBits = 5)
      val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
      val boxes = Seq(BBox(c._1 - 0.8, c._2 - 0.6, c._1 + 0.8, c._2 + 0.6),
        BBox(-179.0, -89.0, 179.0, 89.0))
      for (pBits <- Seq(5, 3)) {
        PlanetExtract.writeTables(smallT, db, pBits)
        val fresh = tmp("graft_dyn_planet_fresh_")
        PlanetExtract.writeTables(smallT, fresh, pBits)
        for (t <- Seq("nodes", "ways", "relations"))
          assert(leaves(s"$db/$t") == leaves(s"$fresh/$t"), s"$t at pBits $pBits")
        val stored = PlanetExtract.readTables(spark, db)
        assert(stored.pBits.contains(pBits))
        for (b <- boxes)
          assert(planetRows(PlanetExtract.bbox(stored, b)) ==
            planetRows(PlanetExtract.bbox(smallT, b)), s"$b at pBits $pBits")
      }

      // a stored extract, rewritten without relations
      val world = PlanetExtract.bbox(bigT, boxes(1))
      val ext = tmp("graft_dyn_extract_")
      PlanetExtract.writeExtract(world, ext)
      assert(leaves(ext).contains("kind=relation"))
      val noRels = world.where(col("kind") =!= "relation")
      PlanetExtract.writeExtract(noRels, ext)
      assert(leaves(ext) == Set("kind=node", "kind=way"))
      assert(spark.read.parquet(ext).count() == noRels.count())

      // the diff merge's cell index, rebuilt from 64 buckets to 8
      val table = tmp("graft_dyn_cells_")
      ImageTable.ingest(Fixtures.localImages(400, withBytes = false).toDF(), table)
      StreamingIngest.buildCellIndex(spark, table, buckets = 64)
      assert(leaves(s"$table/_idx").size > 8)
      StreamingIngest.buildCellIndex(spark, table, buckets = 8)
      assert(leaves(s"$table/_idx").forall(l => l.stripPrefix("idx_b=").toInt < 8),
        leaves(s"$table/_idx"))
      assert(spark.read.parquet(s"$table/_idx").count() == 400)

      // the stored indexes: a rebuild over a smaller input has exactly the
      // leaves of a fresh build of that input
      def rebuilds(name: String)(build: (DataFrame, String) => Unit,
                                 bigIn: DataFrame, smallIn: DataFrame): Unit = {
        val (d, fresh) = (tmp(s"graft_dyn_${name}_"), tmp(s"graft_dyn_${name}_fresh_"))
        build(bigIn, d)
        val before = leaves(d)
        build(smallIn, d)
        build(smallIn, fresh)
        assert(leaves(d) == leaves(fresh), name)
        assert((before -- leaves(fresh)).nonEmpty, s"$name: the smaller input covers every leaf")
      }
      rebuilds("dedup")((df, d) => Dedup.writeDedupIndex(df, d, buckets = 64, maxBucket = 0),
        docs(0 until 80), docs(0 until 2))
      rebuilds("postings")((df, d) => Postings.writePostingsIndex(df, d, buckets = 32),
        docs(0 until 80), docs(0 until 1))
      rebuilds("ivf")({ (df, d) =>
        val n = if (df.count() > 10) 6 else 2
        val (assigned, cents) = Similarity.ivfBuildPortable(df, nLists = n)
        Similarity.writeIvfIndex(assigned, cents, d)
      }, embs(0 until 60), embs(0 until 5))
      rebuilds("ivfpq")({ (df, d) =>
        val n = if (df.count() > 10) 6 else 2
        Similarity.writeIvfPqIndex(df, d, nLists = n, m = 2, ksub = 4, dim = 8)
      }, embs(0 until 60), embs(0 until 5))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("each sidecar writer emits the stored format byte for byte") {
    val dedup = tmp("graft_meta_dedup_")
    Dedup.writeDedupIndex(docs(0 until 10), dedup, nGram = 3, nHashes = 4, bands = 4,
      buckets = 8)
    assert(read(s"$dedup/_dedup_idx_meta.json") ==
      """{"nGram":3,"nHashes":4,"bands":4,"buckets":8}""")

    // 4 + 3 + 4 + 2 + 0 words: the double space is not a word
    val postings = tmp("graft_meta_postings_")
    Postings.writePostingsIndex(Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma  delta"),
      (3L, "alpha beta beta beta"), (4L, "epsilon zeta"), (5L, "")).toDF("doc_id", "text"),
      postings, buckets = 8)
    assert(read(s"$postings/_postings_meta.json") == """{"buckets":8,"n_docs":5,"total_len":13}""")

    val db = planetDb("graft_meta_planet_", pBits = 3)
    assert(read(s"$db/_planet_meta.json") == """{"pBits":3}""")

    val table = tmp("graft_meta_cells_")
    val rows = Fixtures.localImages(30, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    StreamingIngest.applyDiffBatch(diff("delete", rows.head), table, ImageTable.DefaultPRes,
      idxBuckets = 16)
    assert(read(s"$table/_idx/_meta.json") == """{"buckets":16}""")

    val model = tmp("graft_meta_kmeans_")
    Similarity.writeKmeansModel(spark, model,
      Array(Array(1L, -2L, 3000000000L), Array(0L, 5L, -6L)))
    assert(read(s"$model/_kmeans_model.json") == "[[1,-2,3000000000],[0,5,-6]]")

    // floats print as Float.toString: shortest round-trip digits
    val ivf = tmp("graft_meta_ivf_")
    val cents = Array(Array(0.1f, -2.5e-4f, 3.0f), Array(1.0e10f, 0.0f, -7.25f))
    Similarity.writeIvfIndex(embs(0 until 4).withColumn("list_id", lit(0)), cents, ivf)
    assert(read(s"$ivf/_centroids.json") == "[[0.1,-2.5E-4,3.0],[1.0E10,0.0,-7.25]]")
    assert(Similarity.readIvfIndex(spark, ivf)._2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
  }

  test("stores whose sidecars hold literal text in the stored format read back") {
    val dedup = tmp("graft_lit_dedup_")
    Dedup.writeDedupIndex(docs(0 until 10), dedup, nGram = 2, buckets = 4, maxBucket = 0)
    plant(s"$dedup/_dedup_idx_meta.json", """{"nGram":2,"nHashes":4,"bands":4,"buckets":4}""")
    assert(Dedup.dedupBatchAgainstIndex(docs(0 until 3).withColumn("doc_id", col("doc_id") + 100),
      dedup, maxBucket = 0).count() == 0, "batch copies of corpus docs are duplicates")

    val postings = tmp("graft_lit_postings_")
    Postings.writePostingsIndex(docs(0 until 3), postings, buckets = 4)
    plant(s"$postings/_postings_meta.json", """{"buckets":4,"n_docs":3000000000,"total_len":7}""")
    assert(Postings.indexStats(spark, postings) == ((4, 3000000000L, 7L)))

    val db = planetDb("graft_lit_planet_", pBits = 4)
    plant(s"$db/_planet_meta.json", """{"pBits":4}""")
    assert(PlanetExtract.readTables(spark, db).pBits.contains(4))

    val ivfpq = tmp("graft_lit_ivfpq_")
    Similarity.writeIvfPqIndex(embs(0 until 20), ivfpq, nLists = 1, m = 2, ksub = 2, dim = 8)
    plant(s"$ivfpq/_ivfpq_meta.json",
      """{"centroids":[[0.5,-1.0E-3]],"codebooks":[[[0.25],[3]],[[2.0],[-3.5]]]}""")
    val (_, c, cb) = Similarity.readIvfPqIndex(spark, ivfpq)
    assert(c.map(_.toSeq).toSeq == Seq(Seq(0.5f, -1.0e-3f)))
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq ==
      Seq(Seq(Seq(0.25f), Seq(3.0f)), Seq(Seq(2.0f), Seq(-3.5f))))

    val model = tmp("graft_lit_kmeans_")
    plant(s"$model/_kmeans_model.json", "[[1,-2],[3,4]]")
    assert(Similarity.readKmeansModel(spark, model).map(_.toSeq).toSeq == Seq(Seq(1L, -2L), Seq(3L, 4L)))
  }

  test("a corrupt sidecar fails its read with a message that names it") {
    /** Plant each fault in `file` and require `readBack` to fail naming the
      * sidecar file and the store's writer. */
    def refuses(file: String, writer: String, faults: Seq[String])(readBack: => Any): Unit =
      faults.foreach { fault =>
        plant(file, fault)
        val e = intercept[Exception](readBack)
        val msg = e.getMessage
        assert(msg.contains(new File(file).getName) && msg.contains(writer), s"$fault: $msg")
      }

    val dedup = tmp("graft_bad_dedup_")
    Dedup.writeDedupIndex(docs(0 until 10), dedup, buckets = 4)
    refuses(s"$dedup/_dedup_idx_meta.json", "writeDedupIndex", Seq(
      """{"nGram":3,"nHashes":4,"ba""",
      """{"nGram":3,"nHashes":-4,"bands":4,"buckets":4}""",
      """{"nGram":3,"nHashes":4,"bands":4,"buckets":2147483648}""",
      """{"nGram":3,"nHashes":4,"bands":4}"""))(
      Dedup.dedupBatchAgainstIndex(docs(100 until 102), dedup))

    val postings = tmp("graft_bad_postings_")
    Postings.writePostingsIndex(docs(0 until 3), postings, buckets = 4)
    refuses(s"$postings/_postings_meta.json", "writePostingsIndex", Seq(
      """{"buckets":4,"n_docs":3,"total_""",
      """{"buckets":4,"n_docs":-3,"total_len":24}""",
      """{"buckets":2147483648,"n_docs":3,"total_len":24}""",
      """{"buckets":4,"n_docs":3}"""))(Postings.indexStats(spark, postings))

    val db = planetDb("graft_bad_planet_", pBits = 3)
    refuses(s"$db/_planet_meta.json", "writeTables", Seq(
      """{"pBi""", """{"pBits":-3}""", """{"pBits":2147483648}""", "{}"))(
      PlanetExtract.readTables(spark, db))

    // the matrix sidecars hold no integer field and may hold negative
    // values; their faults are an element out of its type's range, a
    // ragged matrix and a non-integer model value
    val ivfpq = tmp("graft_bad_ivfpq_")
    Similarity.writeIvfPqIndex(embs(0 until 20), ivfpq, nLists = 1, m = 2, ksub = 2, dim = 8)
    refuses(s"$ivfpq/_ivfpq_meta.json", "writeIvfPqIndex", Seq(
      """{"centroids":[[0.5,-1.0]],"codebooks":[[[0.2""",
      """{"centroids":[[0.5,1.0E39]],"codebooks":[[[0.25],[3]],[[2.0],[-3.5]]]}""",
      """{"centroids":[[0.5,-1.0]],"codebooks":[[[0.25],[3,1]],[[2.0],[-3.5]]]}""",
      """{"centroids":[[0.5,-1.0]]}"""))(Similarity.readIvfPqIndex(spark, ivfpq))

    val model = tmp("graft_bad_kmeans_")
    refuses(s"$model/_kmeans_model.json", "writeKmeansModel", Seq(
      "[[1,-2],[3,", "[[1,-2],[3,9223372036854775808]]", "[[1,-2],[3]]", "[[1,-2],[3,4.5]]"))(
      Similarity.readKmeansModel(spark, model))
  }

  test("a corrupt cell-index meta forces the diff merge's index rebuild") {
    val table = tmp("graft_bad_cells_")
    val rows = Fixtures.localImages(120, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    StreamingIngest.applyDiffBatch(diff("delete", rows(0)), table, ImageTable.DefaultPRes)
    val idx = new File(s"$table/_idx")
    def idxFiles: Set[String] = Files.walk(idx.toPath).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).map(_.toString).toSet
    val faults = Seq("""{"buck""", """{"buckets":-64}""", """{"buckets":2147483648}""", "{}")
    for ((fault, i) <- faults.zipWithIndex) {
      val before = idxFiles
      plant(s"$table/_idx/_meta.json", fault)
      StreamingIngest.applyDiffBatch(diff("delete", rows(i + 1)), table, ImageTable.DefaultPRes)
      // a rebuild rewrites every bucket; a trusted index only the touched one
      assert((idxFiles & before).isEmpty, s"$fault: the index was trusted")
      assert(read(s"$table/_idx/_meta.json") == """{"buckets":64}""")
    }
    val out = spark.read.parquet(table)
    assert(out.count() == 120 - 5)
    assert(spark.read.parquet(s"$table/_idx").count() == 120 - 5)
  }

  test("layout policy: src/main pins the overwrite mode only in LeafWrite and " +
       "takes no local checkpoint") {
    val main = new File("src/main")
    assert(main.isDirectory, main.getAbsolutePath)
    val sources = Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20)
    val hits = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if (line.contains("\"static\"") && p.getFileName.toString != "LeafWrite.scala") ||
        line.contains("localCheckpoint(")
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
