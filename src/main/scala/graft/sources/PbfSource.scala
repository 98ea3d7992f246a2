package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.fixtures.Fixtures.{NodeRow, RelationRow, WayRow}
import graft.operators.LeafWrite

/**
 * Bounded PBF source + sink over Spark (SURVEY.md §2.1 S1/S5): the
 * reference's entire input surface is PBF (pbf-read.c:227-306), so a user
 * switching to this engine needs a way in from .pbf files without a
 * custom FileFormat.
 *
 * Read path: [[readPlanetSplit]], one file at a time. The reference reads
 * a planet with one sequential scan (pbf-read.c:239); here the driver
 * indexes the blob frames with a header-only scan and the frame list is
 * range-partitioned across tasks, each of which decodes its frames (zlib
 * inflate + hand-rolled protobuf, PbfCodec) into typed rows. A directory
 * of part files is read by concatenating the parts in name order first.
 *
 * Write path: one valid .pbf part file per partition, kind-segregated and
 * named so lexicographic part order preserves the nodes -> ways ->
 * relations stream invariant across concatenation. Hadoop FileSystem API:
 * the sink works against HDFS/object-store paths the same as local ones.
 */
object PbfSource {

  /** Driver header-scan counter (test observability: readPlanetSplit must
    * index the file exactly once for all three kinds). */
  private[graft] val indexPasses = new java.util.concurrent.atomic.AtomicLong(0)

  /**
   * Index the blob frames of ONE .pbf file with a header-only scan: each
   * step reads the 4-byte length + BlobHeader and SEEKS past the payload,
   * so the driver touches O(#blobs * headerBytes), not the file body.
   * This is what makes a single planet.pbf SPLITTABLE: the frame list is
   * range-partitioned across tasks and each task re-opens the file and
   * decodes only its frames — the blob is the natural split unit (each
   * PrimitiveBlock is independently parsable by design, osmformat.proto).
   * A corrupt or truncated frame fails here, on the driver, with an
   * IOException naming the file and offset ([[PbfCodec.frameAt]]).
   */
  def indexBlobs(spark: SparkSession, file: String): Seq[PbfCodec.BlobFrame] = {
    indexPasses.incrementAndGet()
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val size = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val frames = Seq.newBuilder[PbfCodec.BlobFrame]
      var pos = 0L
      while (pos < size) {
        val f = PbfCodec.frameAt(pos, size, file)(in.readFully(_, _))
        frames += f
        pos += f.len
      }
      frames.result()
    } finally in.close()
  }

  /** Result of a splittable planet read: the three entity tables plus the
    * handle to the shared decoded cache backing them. Call [[unpersist]]
    * once the tables are consumed (or written out) — the derived
    * DataFrames cannot release the parent cache themselves. */
  final case class SplitPlanet(nodes: DataFrame, ways: DataFrame,
                               relations: DataFrame,
                               private val cache: Dataset[(Seq[NodeRow], Seq[WayRow], Seq[RelationRow])]) {
    def unpersist(): Unit = cache.unpersist()
  }

  /** Splittable planet read over one file: ONE driver index pass, then
    * `parallelism` tasks (default: the default parallelism) each fetch and
    * decode a contiguous range of OSMData frames — parallelism within ONE
    * file, the answer to "a planet is one 60 GB .pbf". The decoded triple
    * is persisted (memory, spill to disk) so the three DataFrames' jobs
    * read the cached partitions instead of re-inflating the whole file per
    * kind — at planet scale the alternative is 3 full zlib passes. */
  def readPlanetSplit(spark: SparkSession, file: String, parallelism: Int = 0)
      : SplitPlanet = {
    import spark.implicits._
    val slices = if (parallelism > 0) parallelism
                 else spark.sparkContext.defaultParallelism
    val frames = indexBlobs(spark, file).filter(_.blobType == "OSMData")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val decoded = spark.createDataset(frames.map(f => (f.start, f.len)))
      .repartitionByRange(math.min(slices, math.max(1, frames.size)),
        col("_1"))   // contiguous ranges: sequential IO per task
      .mapPartitions { it =>
        val p = new org.apache.hadoop.fs.Path(file)
        val fs = p.getFileSystem(conf.value)
        val in = fs.open(p)
        // drain eagerly inside try/finally: the stream must close even
        // when a corrupt frame makes the read or decode throw
        val materialized =
          try it.map { case (start, len) =>
            val buf = new Array[Byte](len)
            in.readFully(start, buf)
            val (f, payload) = PbfCodec.frames(buf, start, file).next()
            require(f.blobType == "OSMData")
            val d = PbfCodec.inFrame(f, file)(PbfCodec.decodePrimitiveBlock(payload))
            (d.nodes, d.ways, d.rels)
          }.toVector
          finally in.close()
        materialized.iterator
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SplitPlanet(decoded.flatMap(_._1).toDF(),
                decoded.flatMap(_._2).toDF(),
                decoded.flatMap(_._3).toDF(), decoded)
  }

  /** S5 sink: write typed entity Datasets as PBF part files. Part names
    * carry a kind ordinal (0=nodes, 1=ways, 2=relations) so sorted
    * concatenation yields a stream honoring the PBF ordering invariant. */
  def writePlanet(nodes: Dataset[NodeRow], ways: Dataset[WayRow],
                  rels: Dataset[RelationRow], dir: String): Unit = {
    val dPath = new org.apache.hadoop.fs.Path(dir)
    LeafWrite.fileSystem(nodes.sparkSession, dPath).mkdirs(dPath)
    writeParts(nodes, dir, 0, "nodes") { (os, rows) =>
      PbfCodec.writePbfStream(os, rows)(PbfCodec.encodeNodeBlock) }
    writeParts(ways, dir, 1, "ways") { (os, rows) =>
      PbfCodec.writePbfStream(os, rows)(PbfCodec.encodeWayBlock) }
    writeParts(rels, dir, 2, "relations") { (os, rows) =>
      PbfCodec.writePbfStream(os, rows)(PbfCodec.encodeRelationBlock) }
  }

  /** One part file per partition, STREAMED from the partition iterator in
    * 8k-entity blocks (PbfCodec.writePbfStream) — task memory is bounded
    * by one block, never the partition (the reference's own sink streams
    * the same block size, pbf-write.c:103). Hadoop FS create from the
    * TASK: executors write directly to the target filesystem, no driver
    * funnel. */
  private def writeParts[T](ds: Dataset[T], dir: String, ordinal: Int,
                            kind: String)(
      encode: (java.io.OutputStream, Iterator[T]) => Unit): Unit = {
    import org.apache.spark.TaskContext
    val conf = new org.apache.spark.util.SerializableConfiguration(
      LeafWrite.hadoopConf(ds.sparkSession))
    ds.toDF().sparkSession.sparkContext.runJob(ds.rdd, (it: Iterator[T]) => {
      if (it.hasNext) {
        val pid = TaskContext.getPartitionId()
        val f = new org.apache.hadoop.fs.Path(dir, f"part-$ordinal-$kind-$pid%05d.pbf")
        // a PRIVATE FileSystem instance: setWriteChecksum on the JVM-cached
        // shared instance would silently disable checksums for every other
        // writer in this executor for the rest of its life
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(f.toUri, conf.value)
        try {
          fs.setWriteChecksum(false)   // no .crc sidecars next to .pbf parts
          val os = fs.create(f, true)
          try encode(os, it) finally os.close()
        } finally fs.close()
      }
    })
  }

  /** Single-file sink for bounded extracts (the reference's one-file-per-
    * extract shape, vex.c:861-880): driver-side write, caller guarantees
    * the extract is driver-small. */
  def writePbfFileLocal(path: String, nodes: Seq[NodeRow], ways: Seq[WayRow],
                        rels: Seq[RelationRow]): Unit = {
    val os = Files.newOutputStream(Paths.get(path))
    try PbfCodec.writePbfFile(os, nodes, ways, rels) finally os.close()
  }
}
