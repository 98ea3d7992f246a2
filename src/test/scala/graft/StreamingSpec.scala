package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fixtures.Fixtures
import graft.functions.geo
import graft.streaming.StreamingIngest

/** Streaming ingest: exactly-once across restarts (file-source offsets =
  * the streaming resume ledger), and a watermarked windowed tile count. */
class StreamingSpec extends SparkFunSuite {
  import spark.implicits._

  test("ingestOnce drains arrivals exactly once across restarts") {
    val base = Files.createTempDirectory("graft_stream_").toString
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    val rows = Fixtures.localImages(2000, withBytes = false)

    // minute 1: first file arrives
    rows.take(1200).toDF().coalesce(1).write.mode("append").parquet(src)
    val q1 = StreamingIngest.ingestOnce(spark, src, dest, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(dest).count()
    assert(n1 == 1200)

    // minute 2: more files arrive; restart from the same checkpoint
    rows.drop(1200).toDF().coalesce(1).write.mode("append").parquet(src)
    val q2 = StreamingIngest.ingestOnce(spark, src, dest, ckpt)
    q2.awaitTermination()
    val out = spark.read.parquet(dest)
    assert(out.count() == 2000)
    assert(out.select("image_id").distinct().count() == 2000, "duplicates!")

    // derived tile columns present and correct
    val sample = out.limit(100).collect()
    sample.foreach { r =>
      val phash = r.getAs[Long]("phash")
      assert(r.getAs[Int]("cell") ==
        graft.cells.CellIndex.gridCell(
          graft.cells.CellIndex.bin(graft.cells.CellIndex.unpackX(phash)),
          graft.cells.CellIndex.bin(graft.cells.CellIndex.unpackY(phash))))
    }

    // minute 3: nothing new -> no new rows
    val q3 = StreamingIngest.ingestOnce(spark, src, dest, ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(dest).count() == 2000)
  }

  test("diffSync: minutely upsert/delete diffs merge into the partitioned " +
       "store exactly once; emptied partitions are dropped") {
    import graft.cells.CellIndex
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    val rows = Fixtures.localImages(1000, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)

    def diffDF(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    // diff 1: move 100 (new coords), delete 50, insert 51 (one at a corner
    // cell guaranteed unoccupied: fixture placement caps at lon/lat 179.5/89.5)
    val moved = (0 until 100).map(i =>
      "upsert" -> rows(i).copy(phash = Fixtures.imageRow(5000L + i, withBytes = false).phash))
    val deleted = (100 until 150).map(i => "delete" -> rows(i))
    val inserted = (0 until 50).map(i =>
      "upsert" -> Fixtures.imageRow(2000L + i, withBytes = false))
    val cornerPhash = CellIndex.packCoord(CellIndex.toX(179.9), CellIndex.toY(89.9))
    val corner = Seq("upsert" -> rows(0).copy(
      image_id = "img_corner", phash = cornerPhash))
    diffDF(moved ++ deleted ++ inserted ++ corner)
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()

    val out1 = spark.read.parquet(table)
    assert(out1.count() == 1000 - 50 + 50 + 1)
    val byId = out1.select("image_id", "phash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (100 until 150).foreach(i => assert(!byId.contains(rows(i).image_id)))
    (0 until 100).foreach(i =>
      assert(byId(rows(i).image_id) == Fixtures.imageRow(5000L + i, withBytes = false).phash))
    (150 until 1000).foreach(i => assert(byId(rows(i).image_id) == rows(i).phash))
    assert(byId("img_corner") == cornerPhash)
    // p_cell derivation matches the moved coords (partition actually moved)
    val cornerCell = CellIndex.cellId(CellIndex.unpackX(cornerPhash),
      CellIndex.unpackY(cornerPhash), ImageTable.DefaultPRes)
    assert(new java.io.File(s"$table/p_cell=$cornerCell").exists())

    // replay with the same checkpoint and no new diff files: no-op
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    assert(spark.read.parquet(table).count() == 1001)

    // diff 2: delete the corner row (other fixture rows may legitimately
    // share its coarse cell, so only row semantics are asserted here; the
    // emptied-directory case has its own test below)
    diffDF(Seq("delete" -> rows(0).copy(image_id = "img_corner", phash = cornerPhash)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val out2 = spark.read.parquet(table)
    assert(out2.count() == 1000)
    assert(out2.where(col("image_id") === "img_corner").count() == 0)
  }

  test("diffSync drops a partition directory emptied by deletes") {
    import graft.cells.CellIndex
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_empty_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    // tiny table: with 50 rows the corner cell (lon>168.75, lat>84.4 —
    // above the fixture placement caps for the chosen phash) is exclusive
    val rows = Fixtures.localImages(50, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    val cornerPhash = CellIndex.packCoord(CellIndex.toX(179.9), CellIndex.toY(89.9))
    val cornerCell = CellIndex.cellId(CellIndex.unpackX(cornerPhash),
      CellIndex.unpackY(cornerPhash), ImageTable.DefaultPRes)
    def diffDF(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    assume(!new java.io.File(s"$table/p_cell=$cornerCell").exists())
    diffDF(Seq("upsert" -> rows(0).copy(image_id = "img_c", phash = cornerPhash)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    assert(new java.io.File(s"$table/p_cell=$cornerCell").exists())
    diffDF(Seq("delete" -> rows(0).copy(image_id = "img_c", phash = cornerPhash)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    assert(!new java.io.File(s"$table/p_cell=$cornerCell").exists(),
      "emptied partition directory survived")
    assert(spark.read.parquet(table).count() == 50)
  }

  test("diffSync: multiple ops per id in ONE batch resolve by seq (delete " +
       "wins ties); a fully-emptied table accepts later batches") {
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_seq_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    val rows = Fixtures.localImages(20, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    def diffDF(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val moved1 = rows(1).copy(phash = Fixtures.imageRow(7000L, withBytes = false).phash)
    val moved2 = rows(1).copy(phash = Fixtures.imageRow(7001L, withBytes = false).phash)
    // one batch: upsert+delete of rows(0) (delete has the higher seq) and
    // two competing upserts of rows(1) (the later one must win)
    diffDF(Seq("upsert" -> rows(0), "upsert" -> moved1,
               "delete" -> rows(0), "upsert" -> moved2))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val out1 = spark.read.parquet(table)
    assert(out1.count() == 19, "upsert+delete of one id must net to delete")
    assert(out1.where(col("image_id") === rows(0).image_id).count() == 0)
    val yPhash = out1.where(col("image_id") === rows(1).image_id)
      .select("phash").collect()(0).getLong(0)
    assert(yPhash == moved2.phash, "later-seq upsert must win")
    // empty the table entirely, then a subsequent batch must still work
    diffDF(rows.drop(2).map("delete" -> _) ++ Seq("delete" -> moved2))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val fresh = Fixtures.imageRow(9000L, withBytes = false)
    diffDF(Seq("upsert" -> fresh)).coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val out3 = spark.read.parquet(table)
    assert(out3.count() == 1)
    assert(out3.select("image_id").collect()(0).getString(0) == fresh.image_id)
  }

  test("diffSync: emptying ONE salt bucket of a salted cell does not " +
       "resurrect its rows (cleanup is leaf-granular, not cell-granular)") {
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_salt_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    val rows = Fixtures.localImages(600, withBytes = false)
    // force salting: hottest cells split into several p_salt buckets
    ImageTable.ingest(rows.toDF(), table, saltThreshold = 50, maxSalt = 4)
    val t = spark.read.parquet(table)
    // pick a salt bucket whose CELL has other buckets too — the dynamic
    // overwrite then touches the sibling leaf but not the emptied one
    val leaf = t.groupBy("p_cell", "p_salt").count()
      .withColumn("buckets", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("p_cell")))
      .where(col("buckets") >= 2).orderBy(col("count")).first()
    val pc = leaf.getAs[Number](0).longValue
    val ps = leaf.getAs[Number](1).intValue
    val victimIds = t.where(col("p_cell") === pc && col("p_salt") === ps)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(victimIds.nonEmpty)
    // capture BEFORE the overwrite: `t`'s file listing dies with the merge
    val cellRowsBefore = t.where(col("p_cell") === pc).count()
    val victims = rows.filter(r => victimIds(r.image_id))
    victims.map(r => ("delete", 0L, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val out = spark.read.parquet(table)
    assert(out.count() == 600 - victims.size)
    assert(out.where(col("image_id").isin(victimIds.toSeq: _*)).count() == 0,
      "deleted salt bucket resurrected")
    // sibling buckets of the same cell survived untouched
    assert(out.where(col("p_cell") === pc).count() ==
      cellRowsBefore - victims.size)
  }

  test("streamingEmitOnce: IDTracker-as-state — a key emits once across " +
       "micro-batches, duplicates suppressed forever after") {
    val base = Files.createTempDirectory("graft_emitonce_").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    // batch 1: ids 0..99 with id 7 duplicated in-batch
    (Seq((7L, "dup")) ++ (0L until 100L).map(i => (i, s"v$i")))
      .toDF("id", "payload").coalesce(1).write.mode("append").parquet(src)
    def drain(): Map[Long, Long] = {
      val stream = spark.readStream.schema("id long, payload string")
        .parquet(src).as[(Long, String)]
      val q = StreamingIngest.streamingEmitOnce[(Long, String)](stream, _._1)
        .toDF("id", "payload")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)   // fault-tolerant sink:
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()                       // memory sink can't resume
      spark.read.parquet(out).groupBy("id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val m1 = drain()
    assert(m1.size == 100 && m1.values.forall(_ == 1L), "in-batch dup leaked")
    // batch 2: ids 50..149 — 50..99 are replays and must be suppressed
    (50L until 150L).map(i => (i, s"v$i")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val m2 = drain()
    assert(m2.size == 150, s"expected 150 distinct ids, got ${m2.size}")
    assert(m2.values.forall(_ == 1L), "cross-batch dup leaked: " +
      m2.filter(_._2 > 1).take(5))
  }

  test("streamingDedupExact: duplicate texts suppressed across micro-batches, " +
       "first arrival wins") {
    val base = Files.createTempDirectory("graft_sdedup_").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def drain(): Map[String, Seq[Long]] = {
      val stream = spark.readStream.schema("doc_id long, text string")
        .parquet(src).as[(Long, String)]
      val q = StreamingIngest.streamingDedupExact(stream)
        .toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => r.getString(1) -> r.getLong(0)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSeq.sorted).toMap
    }
    // batch 1: three texts, one duplicated in-batch
    Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa bb"), (4L, "ee ff"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val m1 = drain()
    assert(m1.keySet == Set("aa bb", "cc dd", "ee ff"))
    assert(m1.values.forall(_.size == 1), s"in-batch dup leaked: $m1")
    // batch 2: replays of two texts + one new
    Seq((5L, "cc dd"), (6L, "gg hh"), (7L, "aa bb"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val m2 = drain()
    assert(m2.keySet == Set("aa bb", "cc dd", "ee ff", "gg hh"))
    assert(m2.values.forall(_.size == 1), s"cross-batch dup leaked: $m2")
  }

  test("dedupIngest: streaming online near-dup dedup — batches self-dedup, " +
       "later batches drop corpus near-dups via the stored index, survivors " +
       "grow the corpus AND the index") {
    val base = Files.createTempDirectory("graft_dedup_stream_").toString
    val (src, dest, idx, ckpt) = (s"$base/src", s"$base/dest", s"$base/idx",
      s"$base/ckpt")
    def arrive(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = StreamingIngest.dedupIngest(spark, src, dest, idx,
      ckpt, nGram = 2, threshold = 0.4, maxBucket = 0)
    def corpusIds: Set[Long] = spark.read.parquet(dest)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // minute 1 (bootstrap): B' is a near-dup of B -> min survives
    arrive(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "one two three four five six seven nine")))   // near-dup of 2
    drain()
    assert(corpusIds == Set(1L, 2L), s"bootstrap kept $corpusIds")
    assert(graft.operators.Dedup.hasDedupIndex(spark, idx))

    // minute 2: C ~ corpus doc 1 (drop), D fresh (keep), E ~ D (drop: D is
    // the batch-cluster minimum)
    arrive(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "red green blue cyan magenta yellow black white"),
      (12L, "red green blue cyan magenta yellow black grey")))
    drain()
    assert(corpusIds == Set(1L, 2L, 11L), s"minute 2 kept $corpusIds")

    // minute 3: F ~ D (11, appended LAST minute — proves the index grew),
    // G fresh
    arrive(Seq(
      (20L, "red green blue cyan magenta yellow black pink"),
      (21L, "solar lunar stellar orbit comet nebula quasar pulsar")))
    drain()
    assert(corpusIds == Set(1L, 2L, 11L, 21L), s"minute 3 kept $corpusIds")
    // the corpus is partition-discoverable by arrival batch
    assert(spark.read.parquet(dest).select("batch").distinct().count() == 3)
  }

  test("watermarked windowed tile counts over an event-time stream") {
    val base = Files.createTempDirectory("graft_stream_agg_").toString
    // event-time points: two 5-minute windows, two cells
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:30")
    val rows = (0 until 600).map { i =>
      val ts = new java.sql.Timestamp(t0.getTime + (i % 12) * 60000L)
      val lon = if (i % 2 == 0) 10.005 else 20.005
      (ts, lon, 30.005)
    }
    rows.toDF("ts", "lon", "lat").write.parquet(s"$base/src")
    val stream = spark.readStream
      .schema("ts timestamp, lon double, lat double")
      .parquet(s"$base/src")
      .withColumn("cell", geo.grid_cell(col("lon"), col("lat")))
    val agg = StreamingIngest.tileCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tile_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.sql("SELECT cell, sum(n) AS n FROM tile_counts GROUP BY cell")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val c1 = graft.cells.CellIndex.gridCellOf(10.005, 30.005)
    val c2 = graft.cells.CellIndex.gridCellOf(20.005, 30.005)
    assert(out == Map(c1 -> 300L, c2 -> 300L))
  }

  test("postingsIngest: arriving documents index exactly once across " +
       "drains; searches see each drain's corpus") {
    import graft.operators.Postings
    val base = Files.createTempDirectory("graft_postidx_").toString
    val (src, idx, ckpt) = (s"$base/src", s"$base/idx", s"$base/ckpt")
    Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.postingsIngest(spark, src, idx, ckpt, buckets = 4)
    def hits(term: String) = Postings.searchAll(spark, idx, Seq(term))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("beta") === Map(1L -> 1L, 2L -> 1L))
    // second arrival wave: only the new docs append (checkpoint offsets),
    // so re-draining does not double the first wave's tf counts
    Seq((3L, "beta beta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.postingsIngest(spark, src, idx, ckpt, buckets = 4)
    assert(hits("beta") === Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    assert(hits("alpha") === Map(1L -> 1L))
  }

  test("streaming session windows: state merges across micro-batches and " +
       "equals the batch aggregation of the same frame") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // key 1's first session (minutes 0..8, 2-min spacing < 5-min gap)
    // CROSSES the micro-batch boundary — the state-merge under test
    val b1 = Seq((1L, ts(0)), (1L, ts(2)), (1L, ts(4)), (2L, ts(0)), (2L, ts(1)))
    val b2 = Seq((1L, ts(6)), (1L, ts(8)), (1L, ts(30)), (1L, ts(31)), (2L, ts(20)))
    val flushKey = 99L  // watermark pushers, filtered from the comparison
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingIngest.sessionCounts(
        ms.toDF().toDF("k", "ts"), Seq("k"), "ts", "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_counts").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      // two flush batches: the first advances the watermark past every real
      // session, the next triggers the state eviction that emits them
      ms.addData(Seq((flushKey, ts(10000)))); q.processAllAvailable()
      ms.addData(Seq((flushKey, ts(10001)))); q.processAllAvailable()
    } finally q.stop()
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.where(col("k") =!= flushKey)
        .select("k", "session_start", "session_end", "n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
    val got = toSet(spark.table("sess_counts"))
    val want = toSet((b1 ++ b2).toDF("k", "ts")
      .groupBy(session_window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("k"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events")))
    assert(got === want)
    // the cross-batch merge really happened: ONE session of 5 events
    assert(got.exists(s => s._1 == 1L && s._4 == 5L),
      s"expected key 1's 5-event merged session, got $got")
  }

  test("batch re-ingest invalidates the diff index; a post-resume delete " +
       "still targets the right partition (no stale-index miss)") {
    import graft.cells.CellIndex
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_stale_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    val rows = Fixtures.localImages(100, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    def diffDF(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    // diff 1 creates the index
    diffDF(Seq("upsert" -> Fixtures.imageRow(9000L, withBytes = false)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    assert(new java.io.File(s"$table/_idx").exists())
    // a BATCH writer (resume path) adds a row the index has never seen
    val cornerPhash = CellIndex.packCoord(CellIndex.toX(179.9), CellIndex.toY(89.9))
    val cornerCell = CellIndex.cellId(CellIndex.unpackX(cornerPhash),
      CellIndex.unpackY(cornerPhash), ImageTable.DefaultPRes)
    assume(!new java.io.File(s"$table/p_cell=$cornerCell").exists())
    ImageTable.ingestResume(
      Seq(rows(0).copy(image_id = "img_x", phash = cornerPhash)).toDF(), table)
    assert(!new java.io.File(s"$table/_idx").exists(),
      "batch re-ingest left a stale diff index behind")
    // the delete must still find img_x's partition (fresh bootstrap), not
    // silently no-op off stale index contents
    diffDF(Seq("delete" -> rows(0).copy(image_id = "img_x", phash = cornerPhash)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    val out = spark.read.parquet(table)
    assert(out.where(col("image_id") === "img_x").count() == 0,
      "stale-index delete miss: the row survived")
    assert(!new java.io.File(s"$table/p_cell=$cornerCell").exists())
    assert(out.count() == 101)
  }

  test("diffSync keeps the snapshot log and the id->p_cell index consistent: " +
       "readCommitted sees new cells, the index resolves moves/deletes") {
    import graft.cells.CellIndex
    import graft.operators.ImageTable
    val base = Files.createTempDirectory("graft_diff_snap_").toString
    val (table, diffs, ckpt) = (s"$base/table", s"$base/diffs", s"$base/ckpt")
    val rows = Fixtures.localImages(200, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)   // commits snapshot 0
    def diffDF(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    // upsert into a BRAND-NEW corner cell + delete 10 + move 1
    val cornerPhash = CellIndex.packCoord(CellIndex.toX(179.9), CellIndex.toY(89.9))
    val cornerCell = CellIndex.cellId(CellIndex.unpackX(cornerPhash),
      CellIndex.unpackY(cornerPhash), ImageTable.DefaultPRes)
    assume(!new java.io.File(s"$table/p_cell=$cornerCell").exists())
    val moved = rows(11).copy(phash = Fixtures.imageRow(8000L, withBytes = false).phash)
    diffDF(Seq("upsert" -> rows(0).copy(image_id = "img_c", phash = cornerPhash),
               "upsert" -> moved) ++
           (1 to 10).map(i => "delete" -> rows(i)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()

    // snapshot patched: readCommitted == raw read, INCLUDING the new cell
    // (round-2 residual: the new cell would have been dropped as crash debris)
    val raw = spark.read.parquet(table)
    val committed = ImageTable.readCommitted(spark, table)
    assert(raw.count() == 200 - 10 + 1)
    assert(committed.count() == raw.count(),
      "readCommitted disagrees with on-disk state after a diff batch")
    assert(committed.where(col("p_cell") === cornerCell).count() == 1,
      "diff-created cell invisible to snapshot readers")

    // index content: upserted ids map to their CURRENT cell, deleted gone
    val idx = spark.read.parquet(s"$table/_idx")
    val m = idx.collect().map(r => r.getAs[String]("image_id") ->
      r.getAs[Long]("p_cell")).toMap
    assert(m.size == raw.count(), "index cardinality != store cardinality")
    assert(m("img_c") == cornerCell)
    assert(m(moved.image_id) == CellIndex.cellId(
      CellIndex.unpackX(moved.phash), CellIndex.unpackY(moved.phash),
      ImageTable.DefaultPRes))
    (1 to 10).foreach(i => assert(!m.contains(rows(i).image_id),
      "deleted id survived in the index"))

    // second batch: delete the corner row — the index (not a store scan)
    // must resolve its cell; the emptied cell leaves BOTH disk and lineage
    diffDF(Seq("delete" -> rows(0).copy(image_id = "img_c", phash = cornerPhash)))
      .coalesce(1).write.mode("append").parquet(diffs)
    StreamingIngest.diffSync(spark, diffs, table, ckpt).awaitTermination()
    assert(!new java.io.File(s"$table/p_cell=$cornerCell").exists())
    val committed2 = ImageTable.readCommitted(spark, table)
    assert(committed2.count() == 190)
    assert(!graft.plans.SnapshotLog.committedPartitions(table)
      .exists(_.startsWith(s"p_cell=$cornerCell/")),
      "emptied cell still in the committed lineage")
  }

  test("classifyStream labels drained embeddings exactly like batch " +
       "kmeansPredict and never re-emits across restarts") {
    import graft.operators.Similarity
    val base = Files.createTempDirectory("graft_cls_").toString
    val (src, dest, chk, model) =
      (s"$base/src", s"$base/dest", s"$base/chk", s"$base/model")
    def vecs(ids: Range): Seq[(Long, Seq[Float])] = ids.map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * (d + 1.0)).toFloat))
    }
    val w1 = vecs(0 until 60)
    w1.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(src)
    val (_, cents) = Similarity.kmeansFitPortable(
      w1.toDF("vec_id", "embedding"), k = 3, iters = 2, dim = 8)
    Similarity.writeKmeansModel(spark, model, cents)
    StreamingIngest.classifyStream(spark, src, dest, chk, model)
    def readBack(): Map[Long, (Long, Long)] =
      spark.read.parquet(dest).collect().map { r =>
        // cluster is a TYPED BIGINT data column (p_cluster carries the
        // directory key), and the two must agree on every row
        assert(r.getAs[Number]("p_cluster").longValue ==
          r.getAs[Long]("cluster"))
        r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("cluster"), r.getAs[Long]("d2"))
      }.toMap
    def expect(rows: Seq[(Long, Seq[Float])]): Map[Long, (Long, Long)] =
      Similarity.kmeansPredict(rows.toDF("vec_id", "embedding"), cents)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(readBack() == expect(w1))
    // wave 2 arrives; restart from the same checkpoint — only the new
    // file drains (no duplicate vec_ids), same model
    val w2 = vecs(100 until 140)
    w2.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.classifyStream(spark, src, dest, chk, model)
    val all = readBack()
    assert(all.size == 100)
    assert(all == expect(w1 ++ w2))
  }

  /** A table of `n` fixture rows whose diff index exists, and a diff batch
    * for it that deletes one row and moves another. */
  private def diffFixture(prefix: String, logged: Boolean) = {
    import graft.operators.ImageTable
    val table = Files.createTempDirectory(prefix).toString
    val rows = Fixtures.localImages(200, withBytes = false)
    ImageTable.ingest(rows.toDF(), table)
    if (!logged) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$table/_snapshots"))
    def diff(items: Seq[(String, Fixtures.ImageRow)]) =
      items.zipWithIndex.map { case ((op, r), i) =>
        (op, i.toLong, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }.toDF("op", "seq", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    StreamingIngest.applyDiffBatch(diff(Seq("delete" -> rows(0))), table, ImageTable.DefaultPRes)
    val moved = rows(2).copy(phash = Fixtures.imageRow(8100L, withBytes = false).phash)
    (table, diff(Seq("delete" -> rows(1), "upsert" -> moved)))
  }

  test("a diff batch on a logged table leaves no persisted blocks behind") {
    val (table, batch) = diffFixture("graft_diff_blocks_", logged = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamingIngest.applyDiffBatch(batch, table, graft.operators.ImageTable.DefaultPRes)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned after the batch: $leaked")
    assert(graft.operators.ImageTable.readCommitted(spark, table).count() == 198)
  }

  test("a diff batch runs a fixed number of Spark jobs, logged or not") {
    val pRes = graft.operators.ImageTable.DefaultPRes
    val jobs = Seq(true, false).map { logged =>
      val (table, batch) = diffFixture(s"graft_diff_jobs_${logged}_", logged)
      logged -> WriteProbe.jobCount(spark)(StreamingIngest.applyDiffBatch(batch, table, pRes))
    }.toMap
    assert(jobs == Map(true -> 21, false -> 21), jobs)
  }
}
