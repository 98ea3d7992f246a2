package graft.operators

import scala.util.Using

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialized.materialize

/**
 * Stored inverted (postings) index over a document corpus — the
 * retrieval-side sibling of the stored dedup / IVF index patterns: build
 * once, then answer keyword queries by reading ONLY the query terms'
 * partitions, never scanning the corpus text again.
 *
 * Layout: postings rows (word, doc_id, tf) Hive-partitioned on
 * `w_b` = hash bucket of the word, with a `_postings_meta.json` parameter
 * sidecar (bucket count) so probes derive buckets from the SAME modulus
 * the writer used — parameter divergence is impossible (the
 * writeDedupIndex convention). A probe computes its terms' buckets, and
 * the scan carries `w_b IN (...)` as PartitionFilters (PLANS.md section)
 * — at 100 TB a 3-word query reads 3 of `buckets` directories.
 *
 * Tokenization is the corpus-wide `wsWords` parity recipe, so query
 * semantics match the dedup/decontaminate tiers and the DuckDB oracle
 * reproduces results verbatim.
 */
object Postings {

  private def metaPath(path: String) = new Path(path, "_postings_meta.json")
  private def doclenPath(path: String) = new Path(path, "_doclen").toString

  /** The index's fixed row shape (doc_id is a long, the repo-wide id
    * convention): pinning it on the read side makes probing a
    * legitimately EMPTY index (all-empty first batch: no data files yet)
    * return zero rows instead of failing schema inference. */
  private val PostingsSchema = "word STRING, doc_id BIGINT, tf BIGINT, w_b INT"

  /** Row shape of the `_doclen` side table (see [[writePostingsIndex]]):
    * one row per corpus document with its whitespace-token length, Hive-
    * partitioned on `d_b` = hash bucket of doc_id so a ranked probe reads
    * only its candidates' directories. The underscore prefix hides the
    * subdirectory from the postings scan of the index root. */
  private val DoclenSchema = "doc_id BIGINT, dl BIGINT, d_b INT"

  /** The one postings-build pipeline (build and append MUST band into the
    * same layout): explode + map-side combined (word, doc_id) aggregate;
    * `tf` is the term's in-document occurrence count, so downstream
    * ranking (tf sums, df joins) never touches raw text. */
  private def postingsFrame(docs: DataFrame, buckets: Int,
                            textCol: String): DataFrame =
    LeafWrite.byLeaf(
      docs.select(col("doc_id").cast("long").as("doc_id"),
          explode(Dedup.wsWords(col(textCol))).as("word"))
        .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("w_b", pmod(xxhash64(col("word")), lit(buckets.toLong)).cast("int")),
      "w_b")

  /** The `_doclen` rows for a batch, derived FROM its (persisted) postings
    * frame — dl = sum of the doc's term frequencies == its wsWords count,
    * so the text is tokenized exactly once per build. Docs with no
    * postings (empty text) still get a dl=0 row: they are corpus members
    * for the ranking statistics (N, avgdl). */
  private def doclenFrame(docs: DataFrame, postings: DataFrame,
                          buckets: Int): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .join(postings.groupBy("doc_id").agg(sum("tf").as("dl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
      .withColumn("d_b",
        pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))

  private def writeDoclen(dl: DataFrame, path: String): Unit =
    LeafWrite.byLeaf(dl, "d_b").write.mode("append")
      .partitionBy("d_b").parquet(doclenPath(path))

  private def writeMeta(spark: SparkSession, path: String, buckets: Int,
                        nDocs: Long, totalLen: Long): Unit =
    IndexMeta.writeL(spark, metaPath(path), Seq("buckets" -> buckets.toLong,
      "n_docs" -> nDocs, "total_len" -> totalLen))

  private def doclenStats(dl: DataFrame): (Long, Long) = {
    val r = dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Build (overwrite) the postings index. The writer pins STATIC
    * partition-overwrite mode: under a session-wide dynamic mode a
    * rebuild over a shrunk corpus would only truncate the buckets the new
    * postings touch, resurrecting deleted documents from the rest.
    * Alongside the postings land the `_doclen` side table and the corpus
    * counters (`n_docs`, `total_len`) in the meta sidecar — the length-
    * normalization statistics [[searchBm25]] needs, maintained here so a
    * ranked probe NEVER scans the corpus (or even the full doclen table)
    * for them. Write order is commit-safe: the root overwrite wipes the
    * directory (including any previous sidecars), doclen and meta follow
    * — a crash mid-build leaves a store without meta, which every probe
    * refuses. */
  def writePostingsIndex(docs: DataFrame, path: String, buckets: Int = 64,
                         textCol: String = "text"): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    val spark = docs.sparkSession
    // the postings write IS the materialization: the one tokenize pass
    // lands directly in the store, and doclen derives from reading the
    // just-written files back PRUNED to (doc_id, tf) — no materialized copy
    // (no second full pass + no memory copy), and the corpus counters
    // ride the doclen write as observe() metrics instead of a separate
    // aggregation job (round 6: build cost drops from 4 jobs to 2)
    postingsFrame(docs, buckets, textCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("w_b").parquet(path)
    val stored = spark.read.schema(PostingsSchema).parquet(path)
    val obs = new org.apache.spark.sql.Observation()
    writeDoclen(doclenFrame(docs, stored, buckets)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum("dl"), lit(0L)).as("tot")), path)
    val m = obs.get
    writeMeta(spark, path, buckets, m("n").asInstanceOf[Long],
      m("tot").asInstanceOf[Long])
  }

  /** Online growth: append the postings of NEW documents (doc_ids not in
    * the index — the caller's contract, same as the dedup-index online
    * loop where a batch is deduped before it is admitted). Appending an
    * already-indexed doc_id would double its tf counts, so it is the one
    * misuse this cannot detect without a full scan; batches land in the
    * same bucket layout read from the meta sidecar. Append == rebuild
    * over the union corpus (spec-proven). Doclen rows append and the meta
    * counters advance by the batch's exact census; data lands BEFORE the
    * meta rewrite, so a crash between the two leaves counters stale-low
    * (ranking statistics conservatively behind, never phantom-high) and
    * the next [[compactPostingsIndex]] resynchronizes them exactly. A
    * crash between the postings commit and the doclen write leaves the
    * batch's docs postings-only (dropped by searchBm25's doclen join);
    * compaction repairs that too — dl is recomputed from their tf sums. */
  def appendToPostingsIndex(docs: DataFrame, path: String,
                            textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val Seq(buckets, n0, tot0) = IndexMeta.readL(spark, metaPath(path),
      "postings meta", "writePostingsIndex", Seq("buckets", "n_docs", "total_len"))
    Using.resource(materialize(postingsFrame(docs, buckets.toInt, textCol))) { batchPf =>
      val pf = batchPf.df
      pf.write.mode("append").partitionBy("w_b").parquet(path)
      // batch counters ride the doclen write as observe() metrics — no
      // second materialization of the doclen frame (round 6)
      val obs = new org.apache.spark.sql.Observation()
      writeDoclen(doclenFrame(docs, pf, buckets.toInt)
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum("dl"), lit(0L)).as("tot")), path)
      val m = obs.get
      writeMeta(spark, path, buckets.toInt, n0 + m("n").asInstanceOf[Long],
        tot0 + m("tot").asInstanceOf[Long])
    }
  }

  /** True iff `path` holds a [[writePostingsIndex]] store (the parameter
    * sidecar is present) — the bootstrap test for online loops. */
  def hasPostingsIndex(spark: SparkSession, path: String): Boolean =
    IndexMeta.exists(spark, metaPath(path))

  private def readMetaBuckets(spark: SparkSession, path: String): Int =
    IndexMeta.read(spark, metaPath(path), "postings meta",
      "writePostingsIndex", Seq("buckets")).head

  /** Maintenance: rewrite the index in place, collapsing the small files
    * accumulated by [[appendToPostingsIndex]] batches — hash-partitioning
    * on `w_b` puts each bucket in one task, so each bucket directory
    * lands as ONE file, word-sorted for row-group min/max skipping. Row
    * set, bucket layout, and meta are unchanged (query results identical,
    * spec-proven). The current rows are eagerly materialized off the
    * store ([[Materialized]]) BEFORE the overwrite: a lazy self-overwrite
    * lineage would read files the write is deleting; the block handle is
    * released deterministically. */
  def compactPostingsIndex(spark: SparkSession, path: String): Unit = {
    // refuses non-index dirs AND supplies the meta the root-overwrite is
    // about to delete — it is re-written after the data lands
    val buckets = readMetaBuckets(spark, path)
    val cur = spark.read.schema(PostingsSchema).parquet(path)
    Using.Manager { use =>
      val frozen = use(materialize(cur)).df
      // doclen must freeze too: the root overwrite deletes the _doclen
      // subdirectory along with everything else under the index path
      val frozenDl = use(materialize(
        spark.read.schema(DoclenSchema).parquet(doclenPath(path))
          .dropDuplicates("doc_id"))).df    // physical replay repair
      LeafWrite.byLeaf(
          frozen.dropDuplicates("word", "doc_id"),  // physical replay repair
          "w_b")
        .sortWithinPartitions("w_b", "word", "doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("w_b").parquet(path)
      // postings-orphan repair: a crash between an append's postings
      // commit and its doclen write leaves docs with postings but no
      // doclen row — invisible to searchBm25's doclen join. Their dl is
      // recoverable exactly (dl == sum of the doc's tf), so compaction
      // resurrects them; dl=0 docs live only in doclen and are untouched
      val orphans = frozen.groupBy("doc_id").agg(sum("tf").as("dl"))
        .join(frozenDl.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("d_b",
          pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))
      val allDl = frozenDl.unionByName(orphans)
      LeafWrite.byLeaf(allDl, "d_b")
        .sortWithinPartitions("d_b", "doc_id")
        .write.mode("append")   // root overwrite just removed the old dir
        .partitionBy("d_b").parquet(doclenPath(path))
      // replayed appends advanced the meta counters at-least-once; the
      // deduped + orphan-repaired doclen is the exact census, so
      // compaction resynchronizes
      val (n, tot) = doclenStats(allDl)
      writeMeta(spark, path, buckets, n, tot)
    }.get
  }

  /** The pruned postings scan for `terms`: buckets derive from the meta
    * sidecar via the same xxhash64 modulus the writer used (computed by a
    * tiny Spark job — the diffSync probe convention), and land as literal
    * PartitionFilters. Appends are at-least-once (a replayed streaming
    * batch re-appends byte-identical rows), so the probe drops duplicate
    * (word, doc_id) postings — probes are exactly-once regardless;
    * [[compactPostingsIndex]] repairs the duplication physically.
    * Exposed for plan evidence. */
  private[graft] def termPostings(spark: SparkSession, path: String,
                                  terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "at least one query term")
    val buckets = readMetaBuckets(spark, path)
    // bucket ids evaluated DRIVER-SIDE through the very catalyst
    // expressions the writer's pmod(xxhash64(word), buckets) column
    // compiles to — bit-exact by construction (same Expression classes,
    // eval'd over literals), and no Spark job just to hash a handful of
    // query terms (round 6; the old tiny toDF+collect job was pure
    // scheduling overhead at any scale)
    val bs = terms.map { w =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val h = new XxHash64(Seq(Literal(w))).eval(null).asInstanceOf[Long]
      (((h % buckets) + buckets) % buckets).toInt   // pmod, positive modulus
    }.distinct
    spark.read.schema(PostingsSchema).parquet(path)
      .where(col("w_b").isin(bs: _*) && col("word").isin(terms: _*))
      .dropDuplicates("word", "doc_id")
  }

  /** Conjunctive (AND) keyword search: documents containing EVERY term,
    * with the summed term frequency as a rank basis. Cost: a pruned read
    * of |distinct term buckets| directories + one doc_id aggregate over
    * the matching postings only. */
  def searchAll(spark: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    termPostings(spark, path, distinctTerms)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_hits"), sum("tf").as("tf_total"))
      .where(col("_hits") === distinctTerms.size)
      .select(col("doc_id"), col("tf_total"))
  }

  /** Document frequency of each term (postings-only read, same pruning):
    * the df side of tf-idf ranking. Terms absent from the corpus get 0. */
  def docFrequencies(spark: SparkSession, path: String,
                     terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val t = terms.distinct.toDF("word")
    t.join(termPostings(spark, path, terms.distinct)
        .groupBy("word").agg(count(lit(1)).as("df")), Seq("word"), "left")
      .select(col("word"), coalesce(col("df"), lit(0L)).as("df"))
  }

  /** PORTABLE ranked (disjunctive) retrieval — the oracle-checkable twin
    * of [[searchBm25]]: top-`k` documents by
    * `score = SUM over matched terms of tf * (scale DIV df)` — a
    * reciprocal-df term weighting (monotone in 1/df, the idf ordering)
    * in PURE INTEGER arithmetic: no log, no doubles, so the score is
    * bit-identical across engines AND across partitionings (an integer
    * sum has no accumulation-order hazard), making the whole ranking
    * DuckDB-replicable. Ties break on doc_id. Rare terms weigh `scale`,
    * a term in every one of >`scale` docs weighs 0 (stopword-like) —
    * pick `scale` >= corpus size for full df resolution. Cost: the same
    * pruned |term-buckets| read as [[searchAll]] plus one integer
    * aggregate over matching postings; ANSI mode makes an overflowing
    * score (astronomical tf x scale) fail loudly, never wrap. */
  def searchRankedPortable(spark: SparkSession, path: String,
                           terms: Seq[String], k: Int,
                           scale: Long = 1L << 30): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(scale >= 1L, "scale must be >= 1")
    val tp = termPostings(spark, path, terms.distinct)
    val dfs = tp.groupBy("word").agg(count(lit(1)).as("_df"))
    tp.join(broadcast(dfs), Seq("word"))
      .withColumn("_w", expr(s"${scale}L DIV _df"))
      .groupBy("doc_id").agg(sum(col("tf") * col("_w")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** BM25 ranked retrieval over the stored index — the standard-scoring
    * sibling of [[searchRankedPortable]] (which is the DuckDB-gated twin;
    * BM25's `ln` and double accumulation are not cross-engine
    * bit-portable, so this one is spec-gated against a Scala oracle):
    * `score = SUM_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`
    * with `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`. All statistics
    * come from the index itself: df from the pruned postings probe, N
    * and avgdl from the meta counters (no corpus scan, no doclen scan),
    * and each candidate's length from the `_doclen` side table read
    * PRUNED to the candidates' `d_b` directories — a rare-term query
    * over a 10^12-doc corpus touches a handful of postings buckets plus
    * the doclen buckets its candidates actually hash into. */
  def searchBm25(spark: SparkSession, path: String, terms: Seq[String],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val Seq(buckets, nDocs, totalLen) = IndexMeta.readL(spark, metaPath(path),
      "postings meta", "writePostingsIndex", Seq("buckets", "n_docs", "total_len"))
    val avgdl = totalLen.toDouble / math.max(nDocs, 1L)
    val tp = termPostings(spark, path, terms.distinct)
    val dfs = tp.groupBy("word").agg(count(lit(1)).as("_df"))
    val cands = tp.join(broadcast(dfs), Seq("word"))
    // candidates' doclen buckets -> literal PartitionFilters on _doclen
    // (<= `buckets` ints; the collect is the diffSync probe convention).
    // Derived from tp ALONE: the dfs join filters nothing (every tp word
    // has a df computed from tp itself), so the bucket job skips the
    // aggregate + broadcast build entirely (round 6)
    val dbs = tp.select(pmod(xxhash64(col("doc_id")), lit(buckets))
        .cast("int").as("_b")).distinct().collect().map(_.getInt(0)).toSeq
    if (dbs.isEmpty) return cands.select(col("doc_id"),
      lit(0.0).as("score")).limit(0)
    val dl = doclenRead(spark, path).where(col("d_b").isin(dbs: _*))
      .dropDuplicates("doc_id")      // at-least-once appends, same as probes
      .select("doc_id", "dl")
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val tf = col("tf").cast("double")
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / lit(math.max(avgdl, 1e-12)))
    cands.join(dl, Seq("doc_id"))
      .withColumn("_c", idf * tf * lit(k1 + 1.0) / (tf + norm))
      .groupBy("doc_id").agg(sum("_c").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** The pinned-schema `_doclen` read (exposed for plan evidence). */
  private[graft] def doclenRead(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DoclenSchema).parquet(doclenPath(path))

  /** The index's corpus counters `(buckets, n_docs, total_len)` from the
    * meta sidecar — the BM25 statistics, exposed for inspection. Exact
    * after builds and clean appends; a replayed (at-least-once) append
    * advances them at-least-once too, until [[compactPostingsIndex]]
    * resynchronizes them from the deduplicated doclen census. */
  def indexStats(spark: SparkSession, path: String): (Int, Long, Long) = {
    val Seq(b, n, t) = IndexMeta.readL(spark, metaPath(path), "postings meta",
      "writePostingsIndex", Seq("buckets", "n_docs", "total_len"))
    (b.toInt, n, t)
  }
}
