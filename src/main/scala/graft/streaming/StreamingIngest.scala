package graft.streaming

import scala.util.{Try, Using}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{ImageTable, IndexMeta, LeafWrite}
import graft.operators.Materialized.materialize

/**
 * Structured-Streaming ingest: continuous geocode+tile of newly arriving
 * image files — the "minutely update stream" the reference left as an
 * unimplemented roadmap item (README.md:95-98). The file source's tracked
 * offsets + checkpoint give exactly-once per input file: the streaming
 * analogue of the batch SnapshotLog resume ledger.
 */
object StreamingIngest {

  /** Schema of the raw images table (input_hint). */
  val imagesSchema: StructType = StructType(Seq(
    StructField("image_id", StringType), StructField("bytes", BinaryType),
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("fmt", StringType), StructField("caption", StringType),
    StructField("phash", LongType)))

  /** Micro-batch geocoded ingest: srcDir (parquet files arriving over time)
    * -> derive cells/tiles -> partitioned parquet. Trigger.AvailableNow
    * drains everything currently present and stops — callable per "minute";
    * the returned query has already terminated. The diff-merge id -> p_cell
    * index is invalidated automatically after the drain (rows appended here
    * are unknown to it; a stale index would silently mis-target later
    * deletes — same auto-invalidation the batch writers have). */
  def ingestOnce(spark: SparkSession, srcDir: String, destDir: String,
                 checkpointDir: String): StreamingQuery = {
    val stream = spark.readStream.schema(imagesSchema).parquet(srcDir)
    val q = ImageTable.derive(stream)
      .writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("p_cell")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    invalidateCellIndex(spark, destDir)
    q
  }

  /**
   * Streaming model application: classify an embedding stream against a
   * STORED k-means model ([[graft.operators.Similarity.writeKmeansModel]])
   * — the serving shape of fit-once/apply-many. The model sidecar is read
   * ONCE at stream start (driver-small centroid literals baked into the
   * plan); each micro-batch is one STATELESS codegen argmin projection —
   * no state store, no shuffle — and the parquet sink is Hive-partitioned
   * on `p_cluster` (a COPY of the cluster id — the p_cell convention:
   * the directory key is a separate column, so `cluster` itself stays a
   * typed BIGINT data column in the parquet instead of degrading to a
   * partition-inferred INT on read-back), so downstream consumers
   * directory-prune by cluster. Exactly-once via the file source's
   * tracked offsets + the sink's _spark_metadata commit log.
   * Trigger.AvailableNow: drains what is present and stops (the
   * ingestOnce convention).
   */
  def classifyStream(spark: SparkSession, srcDir: String, destDir: String,
                     checkpointDir: String, modelDir: String): StreamingQuery = {
    // layout guard: a dest written by a pre-p_cluster build holds
    // cluster=N/ partition dirs with NO cluster column in the files —
    // appending the new layout into the same sink log would make
    // partition discovery fail (conflicting keys) or yield NULL
    // clusters for old rows. Fail loudly instead of corrupting.
    val destPath = new org.apache.hadoop.fs.Path(destDir)
    val destFs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (destFs.exists(destPath)) {
      val legacy = destFs.listStatus(destPath)
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      require(!legacy, s"$destDir holds a legacy cluster=-partitioned " +
        "layout; classifyStream now partitions on p_cluster — use a " +
        "fresh destination (and checkpoint), or migrate the old store")
    }
    val cents = graft.operators.Similarity.readKmeansModel(spark, modelDir)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = graft.operators.Similarity
      .kmeansPredict(spark.readStream.schema(embSchema).parquet(srcDir), cents)
      .withColumn("p_cluster", col("cluster"))
      .writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("p_cluster")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /**
   * Continuous diff sync — the reference's unimplemented "minutely OSM
   * update" roadmap item (README.md:95-98), as a Structured Streaming
   * micro-batch merge into the partitioned image store.
   *
   * Diff rows carry `op` ("upsert" | "delete"), a `seq` ordering number
   * (the OSM-diff sequence analogue: AvailableNow can coalesce several
   * minutes of files into ONE micro-batch, and only seq can say which of
   * two ops on the same id is newer), plus the image columns. Each batch:
   *  1. resolves ONE winning op per image_id (max seq; on a seq tie the
   *     delete wins — deterministic and conservative);
   *  2. derives the winner's target coarse cell (p_cell);
   *  3. reads ONLY the affected p_cell partitions of the store (literal
   *     isin predicate -> directory pruning; a 100 TB table is touched
   *     only where the diff lands);
   *  4. anti-joins the old rows on image_id (drops deleted AND superseded
   *     rows), unions the upserts — salted with the cell's EXISTING salt
   *     modulus, so hot cells keep their at-rest file-size bound;
   *  5. dynamic-partition-overwrites just those leaves and drops leaves
   *     the batch emptied.
   *
   * Exactly-once: the file source's tracked offsets make each diff file
   * processed once; the per-partition overwrite is idempotent, so a batch
   * replayed after a crash converges to the same state (same discipline as
   * the batch SnapshotLog resume ledger).
   */
  def diffSync(spark: SparkSession, diffDir: String, tablePath: String,
               checkpointDir: String, pRes: Int = ImageTable.DefaultPRes)
      : StreamingQuery = {
    val diffSchema = StructType(
      StructField("op", StringType) +: StructField("seq", LongType) +:
        imagesSchema.fields)
    spark.readStream.schema(diffSchema).parquet(diffDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyDiffBatch(batch, tablePath, pRes)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Hash-bucket count of the image_id -> p_cell index table (directory
    * fan-out of `$table/_idx`; 64 buckets bound per-batch index IO to
    * |diff-ids'-buckets| directories). */
  val DefaultIdxBuckets = 64

  private def idxPath(tablePath: String) = s"$tablePath/_idx"
  private def idxBucket(buckets: Int): Column =
    pmod(xxhash64(col("image_id")), lit(buckets)).cast("int")

  /** Index metadata sidecar: records the bucket count the on-disk index was
    * built with. A batch running with a DIFFERENT bucket count would hash
    * ids into buckets the entries don't live in and silently miss deletes —
    * a mismatch (or a missing or unreadable meta) forces a rebuild
    * instead. */
  private def idxMetaPath(tablePath: String) =
    new org.apache.hadoop.fs.Path(idxPath(tablePath), "_meta.json")

  /** Drop the id -> p_cell index. Writers that rewrite the store OUTSIDE
    * the diff-merge path (full/partial re-ingest) MUST call this — a stale
    * index would silently mis-target later deletes/moves. The next diff
    * batch bootstraps a fresh index with one scan. */
  def invalidateCellIndex(spark: SparkSession, tablePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(idxPath(tablePath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Build (or rebuild) the compact image_id -> p_cell index over an
    * existing store: ONE narrow scan, written Hive-partitioned on a hash
    * bucket of image_id so per-batch lookups and updates read/rewrite only
    * the buckets the diffed ids hash into. Underscore-prefixed directory:
    * invisible to parquet reads of the main table. */
  def buildCellIndex(spark: SparkSession, tablePath: String,
                     buckets: Int = DefaultIdxBuckets): Unit =
    LeafWrite.partitioned(
      spark.read.parquet(tablePath)
        // explicit long: Hive partition-column inference would make the
        // bootstrap's p_cell an int while per-batch updates write long
        .select(col("image_id"), col("p_cell").cast("long").as("p_cell"))
        .withColumn("idx_b", idxBucket(buckets)),
      Seq("idx_b"))
      .mode("overwrite").parquet(idxPath(tablePath))

  /** One micro-batch merge (also callable for batch diff application).
    * A missing `seq` column is treated as all-zero (single-op-per-id
    * batches then behave as before).
    *
    * Delete/move targeting is resolved from the id -> p_cell INDEX table
    * (`$table/_idx`, hash-bucketed on image_id): the lookup reads only the
    * buckets the diffed ids hash into — never the whole store (the round-2
    * residual full-store semi-join is gone). A store that predates the
    * index pays ONE bootstrap scan on its first diff batch.
    *
    * Snapshot consistency: when the table carries a SnapshotLog (ingested
    * via ImageTable.ingest), each applied batch PATCHES the lineage —
    * re-written leaves get fresh lineage records, emptied leaves are
    * dropped — so readCommitted sees diff-synced cells. Tables written
    * without a snapshot log stay log-free (a partial first snapshot would
    * make readCommitted drop every untouched cell as crash debris); read
    * those with spark.read.parquet. */
  def applyDiffBatch(batch0: DataFrame, tablePath: String, pRes: Int,
                     idxBuckets: Int = DefaultIdxBuckets): Unit = {
    if (batch0.isEmpty) return
    val batch = if (batch0.columns.contains("seq")) batch0
                else batch0.withColumn("seq", lit(0L))
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one WINNING op per image_id: newest seq, delete beats upsert on ties
    // (AvailableNow can fold several diff files into one batch, so an id
    // may legitimately carry multiple ops here)
    val winW = org.apache.spark.sql.expressions.Window
      .partitionBy("image_id").orderBy(col("seq").desc, col("op").asc)
    val resolved = batch
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(winW))
      .where(col("_rn") === 1).drop("_rn", "seq")
    val derived = ImageTable.derive(resolved, pRes)
    // an existing-but-emptied table has no p_cell dirs left: treat as absent
    // (a bare parquet read of it would fail schema inference)
    val hasData = fs.exists(hPath) && fs.listStatus(hPath)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("p_cell="))
    val store = if (hasData) spark.read.parquet(tablePath) else null
    val ids = derived.select(col("image_id")).distinct()
    // bootstrap the id -> p_cell index for a pre-index store (one scan,
    // amortized over every later batch). "Present" = has bucket dirs AND a
    // matching bucket-count meta: a delete-heavy batch can empty the index
    // (a bucketless dir would fail schema inference), and an index built
    // with a different bucket count must be rebuilt, not trusted
    val hIdx = new org.apache.hadoop.fs.Path(idxPath(tablePath))
    def idxHasData = fs.exists(hIdx) && fs.listStatus(hIdx)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("idx_b=")) &&
      Try(IndexMeta.read(spark, idxMetaPath(tablePath), "cell-index meta", "diffSync")
        .int("buckets")).toOption.contains(idxBuckets)
    if (store != null && !idxHasData) {
      buildCellIndex(spark, tablePath, idxBuckets)
      IndexMeta.write(spark, idxMetaPath(tablePath), Seq("buckets" -> idxBuckets))
    }
    val hasIdx = idxHasData
    // buckets the diffed ids hash into: driver-small (<= idxBuckets)
    val idBuckets = ids.select(idxBucket(idxBuckets).as("_ib")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // affected coarse cells: where upserts land PLUS wherever the current
    // row of any diffed id lives (deletes/moves carry no old coordinates) —
    // resolved from the INDEX, pruned to the ids' hash buckets, so the
    // per-batch read is O(|diff|), not O(store)
    val affectedByStore =
      if (store == null) Seq.empty[Long]
      else spark.read.parquet(idxPath(tablePath))
        .where(col("idx_b").isin(idBuckets: _*))
        .join(ids, "image_id").select("p_cell").distinct()
        .collect().map(_.getAs[Number](0).longValue).toSeq
    val affectedByDiff = derived.where(col("op") === "upsert")
      .select("p_cell").distinct()
      .collect().map(_.getAs[Number](0).longValue).toSeq
    val affected = (affectedByStore ++ affectedByDiff).distinct
    if (affected.isEmpty) return

    // salt upserts with each cell's EXISTING salt modulus (max p_salt + 1
    // over the affected partitions — a tiny pruned aggregate), so a stream
    // of upserts into a hot salted cell keeps the at-rest file-size bound
    // instead of piling into p_salt=0
    val saltMod =
      if (store == null) null
      else store.where(col("p_cell").isin(affected: _*))
        .groupBy(col("p_cell").as("_pc"))
        .agg((max("p_salt") + 1).as("_nsalt"))
    val upsertsBase = derived.where(col("op") === "upsert").drop("op")
    val upserts =
      if (saltMod == null) upsertsBase.withColumn("p_salt", lit(0))
      else upsertsBase
        .join(org.apache.spark.sql.functions.broadcast(saltMod),
          col("p_cell") === col("_pc"), "left")
        .withColumn("p_salt",
          pmod(xxhash64(col("image_id")), coalesce(col("_nsalt"), lit(1))).cast("int"))
        .drop("_pc", "_nsalt")
    // materialize the merge BEFORE overwriting: the partitions being
    // rewritten are also the read input (self-overwrite hazard — Spark
    // refuses to overwrite a path it is scanning); the materialized copy
    // truncates the lineage so the write never re-reads the target, and
    // is released on every exit path.
    // Memory-bounded by the AFFECTED partitions only, i.e. by diff
    // locality, not table size.
    Using.Manager { use =>
      val merged = use(materialize(LeafWrite.byLeaf(
        if (store == null) upserts
        else store.where(col("p_cell").isin(affected: _*))
          .join(ids, Seq("image_id"), "left_anti")   // drop deleted/superseded
          .unionByName(upserts),
        "p_cell", "p_salt"))).df

      // index merge MATERIALIZED BEFORE the main overwrite (it reads both the
      // old index and — through the upserts' salt lookup — the old store):
      // new bucket content = old bucket rows minus diffed ids, plus the
      // upserts' fresh (image_id, p_cell)
      val upsertIdx = upserts
        .select(col("image_id"), col("p_cell").cast("long").as("p_cell"))
        .withColumn("idx_b", idxBucket(idxBuckets))
      val idxMerged = use(materialize(LeafWrite.byLeaf(
        if (!hasIdx) upsertIdx
        else spark.read.parquet(idxPath(tablePath))
          .where(col("idx_b").isin(idBuckets: _*))
          .join(ids, Seq("image_id"), "left_anti")
          .select(col("image_id"), col("p_cell").cast("long").as("p_cell"), col("idx_b"))
          .unionByName(upsertIdx),
        "idx_b"))).df

      // CRASH GUARD: the store overwrite below and the index rewrite further
      // down are two non-atomic writes. Drop the index META first — a caller
      // (batch diff application has no checkpoint replay) dying between the
      // two writes then leaves an index that FAILS the meta check, forcing
      // the next batch's bootstrap rebuild instead of trusting entries that
      // no longer match the store (an id upserted by the crashed batch would
      // be absent from the stale index, so a later delete of it would resolve
      // no affected cell and silently survive). Meta is re-written only after
      // the index rewrite succeeds.
      val metaP = idxMetaPath(tablePath)
      if (fs.exists(metaP)) fs.delete(metaP, false)
      val t0 = System.nanoTime()
      LeafWrite.writer(merged).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")   // replaces the leaves written
        .partitionBy("p_cell", "p_salt").parquet(tablePath)
      val writeSec = (System.nanoTime() - t0) / 1e9
      // the lineage of `merged` names the leaves the merge keeps (and a
      // logged table commits it). Dynamic overwrite only rewrites LEAF
      // partitions (p_cell, p_salt) PRESENT in `merged`: any affected leaf
      // whose rows were all deleted or superseded must be dropped
      // explicitly, or its stale files would resurrect the deleted rows —
      // a cell can keep salt bucket 0 alive while bucket 1 empties, so the
      // cleanup compares LEAVES, not cells
      val newLineage = ImageTable.lineageOf(merged, writeSec)
      val staleSpecs = ImageTable.dropStaleLeaves(fs, tablePath, affected,
        newLineage.map(_.partition).toSet)

      // ---- index maintenance: rewrite ONLY the ids' hash buckets -------------
      // (idxMerged was materialized above, before the store files changed);
      // a bucket whose rows all vanished is deleted explicitly (dynamic
      // overwrite leaves absent partitions alone)
      val remainingBuckets = idxMerged.select("idx_b").distinct()
        .collect().map(_.getInt(0)).toSet
      LeafWrite.writer(idxMerged).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("idx_b").parquet(idxPath(tablePath))
      idBuckets.filterNot(remainingBuckets).foreach { b =>
        val d = new org.apache.hadoop.fs.Path(s"${idxPath(tablePath)}/idx_b=$b")
        if (fs.exists(d)) fs.delete(d, true)
      }
      // index rewrite complete and consistent with the store: (re-)commit the
      // meta (it was dropped above as the crash guard; a fresh table's first
      // batch records its bucket count here too)
      IndexMeta.write(spark, metaP, Seq("buckets" -> idxBuckets))

      // ---- snapshot lineage patch (only when the table HAS a log) ------------
      // rewritten leaves get fresh lineage; every parent leaf under an
      // affected cell that was not rewritten is dropped (staleSpecs, from the
      // leaf cleanup above) — readCommitted then agrees with the on-disk state
      // after the merge
      if (graft.plans.SnapshotLog.latestId(tablePath).isDefined)
        graft.plans.SnapshotLog.commit(tablePath, "images", newLineage, Map(
          "diff_batch" -> 1.0,
          "affected_cells" -> affected.size.toDouble,
          "rows_written" -> newLineage.map(_.rows).sum.toDouble,
          "write_sec" -> writeSec), removed = staleSpecs)
    }.get
  }

  /**
   * Streaming emit-once dedup — the reference's IDTracker (J3: a 2^33-bit
   * bitset consulted once per node emission, idtracker.c:36-44) restated
   * as Structured Streaming custom state: `flatMapGroupsWithState` keeps
   * one boolean per key in the state store; a key's rows are emitted the
   * FIRST time it appears across all micro-batches and suppressed forever
   * after. State grows with distinct keys (the streaming analogue of the
   * reference's 1 GiB flat bitset — bounded by key cardinality, checkpoint
   * persisted, recoverable).
   */
  def streamingEmitOnce[T](ds: org.apache.spark.sql.Dataset[T], key: T => Long)(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    import ds.sparkSession.implicits._
    streamingEmitOnceKeyed[T, Long](ds, key)
  }

  /** [[streamingEmitOnce]] generalized to any encodable key type. */
  def streamingEmitOnceKeyed[T, K](ds: org.apache.spark.sql.Dataset[T], key: T => K)(
      implicit enc: org.apache.spark.sql.Encoder[T],
      kenc: org.apache.spark.sql.Encoder[K]): org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._   // Boolean state encoder
    ds.groupByKey(key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (_: K, rows: Iterator[T], state: GroupState[Boolean]) =>
        if (state.exists) Iterator.empty[T]
        else { state.update(true); rows.take(1) }
    }
  }

  /**
   * Streaming EXACT text dedup — online [[graft.operators.Dedup.exact]]:
   * each distinct text is emitted the FIRST time it arrives across all
   * micro-batches; later copies are suppressed forever (state = one
   * boolean per distinct-text digest, checkpoint-persisted). The digest
   * key is the full md5 hex of the normalized text, so suppression is
   * exact, not probabilistic. Rows are (doc_id, text) pairs.
   */
  def streamingDedupExact(ds: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import ds.sparkSession.implicits._
    streamingEmitOnceKeyed[(Long, String), String](ds, t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t._2.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  /**
   * Streaming NEAR-DUP dedup ingest — the stored-index online loop
   * ([[graft.operators.Dedup.writeDedupIndex]] family) as a Structured
   * Streaming query: document parquet files (doc_id: long, text: string)
   * arrive in `srcDir`; each micro-batch is deduped against the stored
   * banded-signature index (probe pruned to the batch's buckets, corpus
   * text never re-minhashed), SURVIVORS are appended to the corpus at
   * `destDir` and to the index, so the next batch sees them. The first
   * batch bootstraps: it is self-deduped (cluster minima survive) and
   * becomes the initial corpus + index. Trigger.AvailableNow — callable
   * per "minute" like [[ingestOnce]]; the returned query has terminated.
   *
   * Semantics per batch = [[graft.operators.Dedup.dedupBatchAgainstIndex]]:
   * a batch doc drops iff its near-dup component reaches the corpus
   * (transitively) or it is a non-minimum member of a batch-only cluster.
   * doc_ids must be globally unique across all batches (the
   * dedupBatchAgainstCorpus contract).
   *
   * Crash safety (at-least-once foreachBatch made convergent): the corpus
   * append is IDEMPOTENT — each batch overwrites its own deterministic
   * `batch=<id>` subdirectory (discoverable as a partition column), so a
   * replayed batch rewrites the same rows, never duplicates them. A
   * replay after the index append sees its OWN survivors in the index —
   * the probe ignores index entries whose doc_id is in the batch
   * (enforced in Dedup.crossCandidates), so the replay reproduces the
   * original decisions instead of near-dupping against itself (which
   * would have silently dropped its own survivors); a replayed BOOTSTRAP
   * batch routes through the index path and, with self-entries ignored,
   * reduces to exactly the within-batch clustering it ran the first
   * time. The only replay residue is duplicate index rows — decisions
   * are unaffected (candidate pairs are deduplicated); the periodic
   * writeDedupIndex rebuild (also re-applying the hot-bucket cap over
   * the grown corpus) cleans the bloat.
   */
  def dedupIngest(spark: SparkSession, srcDir: String, destDir: String,
                  indexDir: String, checkpointDir: String,
                  nGram: Int = 3, nHashes: Int = 4, bands: Int = 4,
                  buckets: Int = 64, threshold: Double = 0.5,
                  maxBucket: Int = 1000): StreamingQuery = {
    import graft.operators.Dedup
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(docsSchema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist the micro-batch: the dedup probe, the corpus write and
        // the index append each consume it — unpersisted, every consumer
        // re-reads the source files and re-minhashes the text
        Using.resource(materialize(batch.select(col("doc_id"), col("text")))) { copy =>
          val docs = copy.df
          val hasIdx = Dedup.hasDedupIndex(spark, indexDir)
          val kept =
            if (hasIdx) Dedup.dedupBatchAgainstIndex(docs, indexDir,
              threshold, maxBucket)
            else Dedup.dropClusterDuplicates(docs,   // bootstrap: self-dedup
              Dedup.minhashLshPortable(docs, nGram, nHashes, bands,
                threshold, maxBucket))
          LeafWrite.writer(kept).mode("overwrite").parquet(s"$destDir/batch=$batchId")
          if (hasIdx) Dedup.appendToDedupIndex(kept, indexDir)
          else Dedup.writeDedupIndex(kept, indexDir, nGram, nHashes, bands,
            buckets, maxBucket)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming maintenance of the stored postings index: each micro-batch
    * of newly arrived documents appends its postings in the index's own
    * bucket layout (bootstrap builds it). REPLAY-SAFE end-to-end: a batch
    * re-delivered after a checkpoint restart re-appends byte-identical
    * rows, which probes drop on (word, doc_id) and
    * `Postings.compactPostingsIndex` (run this periodically — appends
    * accumulate one file per batch per bucket) repairs physically. The
    * caller feeds NEW doc_ids only — compose after [[dedupIngest]], which
    * is exactly the pipeline shape: dedup admits, postings index. */
  def postingsIngest(spark: SparkSession, srcDir: String, indexDir: String,
                     checkpointDir: String, buckets: Int = 64): StreamingQuery = {
    import graft.operators.Postings
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = spark.readStream.schema(docsSchema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = batch.select(col("doc_id"), col("text"))
        if (Postings.hasPostingsIndex(spark, indexDir))
          Postings.appendToPostingsIndex(docs, indexDir)
        else Postings.writePostingsIndex(docs, indexDir, buckets)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Windowed per-tile arrival statistics over an event-time stream with a
    * watermark — the streaming counterpart of the tile histogram. Emits
    * (window, cell, n) in append mode once the watermark passes. */
  def tileCounts(events: DataFrame, tsCol: String = "ts",
                 watermark: String = "10 minutes",
                 window: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
               col("cell"))
      .agg(count(lit(1)).as("n"))

  /** Streaming gap-based sessionization via Spark's native merging
    * `session_window` state: per (key, session) event counts and bounds,
    * emitted in append mode once the watermark closes the session. The
    * streaming counterpart of `Temporal.sessionize` — the spec proves the
    * incremental (micro-batch, state-merged) result equals the one-shot
    * batch aggregation of the same frame, which is the exactly-once
    * contract that matters for a continuously-ingesting pipeline.
    *
    * NOTE on boundary semantics: `session_window` merges sessions that
    * OVERLAP, i.e. a successor strictly less than `gap` after its
    * predecessor; `Temporal.sessionize` splits strictly greater than
    * `gap`. Events spaced exactly `gap` apart are one session for
    * `sessionize`, two for `session_window` — callers picking between
    * them only at that boundary measure zero in practice. */
  def sessionCounts(events: DataFrame, keys: Seq[String], tsCol: String,
                    gap: String, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(keys.map(col) ++ Seq(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")): _*)
}
