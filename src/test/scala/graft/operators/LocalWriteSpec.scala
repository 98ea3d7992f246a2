package graft.operators

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.fixtures.Fixtures

/** Stock local FileSystem that counts the `setPermission` calls of its raw
  * file system: each is a forked `chmod` without the native Hadoop
  * library. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingRawLocalFileSystem.calls.incrementAndGet()
    super.setPermission(p, permission)
  }
}

object CountingRawLocalFileSystem {
  val calls = new AtomicLong()
}

/** The write seam's local FileSystem ([[NioLocalFileSystem]]): it leaves
  * the same permission bits as the stock one, and the engine's writes reach
  * the stock one's `setPermission` (a forked `chmod`) not at all. */
class LocalWriteSpec extends SparkFunSuite {
  import spark.implicits._

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** Relative path -> mode bits of everything under `root`, root included. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def localFs(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("plain rwx modes: the nio FileSystem leaves the bits the stock one " +
       "does, under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val trees = Seq(new LocalFileSystem, new NioLocalFileSystem).map { fs0 =>
        val fs = localFs(fs0, umask)
        val root = Files.createTempDirectory("graft_perm_")
        for (m <- Seq("644", "755", "600", "700", "444", "777")) {
          val perm = new FsPermission(octal(m).toShort)
          val dir = new Path(root.toUri.toString, s"m$m")
          fs.mkdirs(new Path(dir, "plain"))                        // default mode, umask applied
          fs.create(new Path(dir, "plain.bin"), true).close()
          fs.create(new Path(dir, "with-mode.bin"), perm, true, 4096, 1.toShort,
            1L << 20, null).close()
          fs.create(new Path(dir, "set.bin"), true).close()
          fs.setPermission(new Path(dir, "set.bin"), perm)
          fs.mkdirs(new Path(dir, "with-mode"), perm)
        }
        modes(root)
      }
      assert(trees(0).size > 6 * 6, trees(0).keys)                 // .crc files included
      assert(trees(0) == trees(1), s"umask $umask")
    }
  }

  test("a sticky mode takes the stock path") {
    val sticky = new FsPermission(octal("1777").toShort)
    assert(NioRawLocalFileSystem.posixBits(sticky).isEmpty)
    assert(NioRawLocalFileSystem.posixBits(new FsPermission(octal("755").toShort)).nonEmpty)
    val got = Seq(new LocalFileSystem, new NioLocalFileSystem).map { fs0 =>
      val fs = localFs(fs0, "022")
      val d = Files.createTempDirectory("graft_sticky_")
      fs.setPermission(new Path(d.toUri.toString), sticky)
      mode(d)
    }
    // java.nio cannot set the sticky bit: only chmod can have left it
    assert(got == Seq(octal("1777"), octal("1777")), got.map(m => f"$m%o"))
  }

  test("an ingest through the seam writes the files, bits and rows of a " +
       "stock write") {
    val images = Fixtures.localImages(20000, withBytes = false).toDF()
    val root = Files.createTempDirectory("graft_seam_")
    val seam = root.resolve("seam")
    // default salt threshold: no cell of 20k rows is salted, so p_salt = 0
    val snap = ImageTable.ingest(images, seam.toString)
    assert(snap.partitions.forall(_.partition.endsWith("/p_salt=0")))
    val stock = root.resolve("stock")
    ImageTable.derive(images).withColumn("p_salt", lit(0))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("p_cell"), col("p_salt"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_cell", "p_salt").parquet(stock.toString)
    // file names differ only by the write job's UUID
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def layout(p: JPath) = modes(p)
      .filter { case (rel, _) => !rel.startsWith("_snapshots") }
      .map { case (rel, m) => rel.replaceAll(uuid, "UUID") -> m }
    val (s, k) = (layout(seam), layout(stock))
    assert(s.size > 3 * snap.partitions.size, s"${s.size} entries")
    assert(s.keySet == k.keySet, (s.keySet -- k.keySet) ++ (k.keySet -- s.keySet))
    assert(s == k)
    val a = spark.read.parquet(seam.toString)
    val b = spark.read.parquet(stock.toString).select(a.columns.map(col): _*)
    assert(a.count() == 20000)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("the engine's writes make no stock setPermission call (no chmod fork)") {
    val planet = Fixtures.localPlanet(1500, 400, 80)
    val tables = PlanetExtract.ingest(planet.nodes.toDF(), planet.ways.toDF(),
      planet.relations.toDF(), strictB1 = true)
    val images = Fixtures.localImages(4000, withBytes = false).toDF()
    val root = Files.createTempDirectory("graft_nofork_").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try {
      def calls(body: => Any): Long = {
        CountingRawLocalFileSystem.calls.set(0)
        body
        CountingRawLocalFileSystem.calls.get
      }
      // the counter sees a plain Spark write: about 3 calls per file
      assert(calls(spark.range(10).write.parquet(s"$root/plain")) > 0)
      val counts = Seq(
        "ImageTable.ingest" -> calls(ImageTable.ingest(images, s"$root/images",
          saltThreshold = 200, maxSalt = 8)),
        "PlanetExtract.writeTables" -> calls(PlanetExtract.writeTables(tables, s"$root/planet")),
        "Dedup.scratchResult" -> calls(Dedup.scratchResult(spark.range(100).toDF(), "cc").count()),
        "IndexMeta.write" -> calls(IndexMeta.write(spark, new Path(s"$root/idx/_meta.json"),
          Seq("buckets" -> 4))))
      assert(counts.forall(_._2 == 0), counts)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
