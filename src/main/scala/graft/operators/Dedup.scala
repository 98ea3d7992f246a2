package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.operators.Materialized.materialize

/**
 * Deduplication suite for the documents table (doc_id, text, ...) and the
 * embeddings table (vec_id, embedding) — the large-scale training-data
 * pipeline ops. Every variant is shuffle-conscious:
 *  - exact: one hash aggregate on a text digest (never shuffles full text
 *    twice; the digest is the shuffle key);
 *  - MinHash-LSH: shingle -> minhash signature -> band buckets -> candidate
 *    pairs only within buckets -> exact Jaccard verification (no O(n^2));
 *  - SimHash: 64-bit signature, near-dups via band equi-join + Hamming check;
 *  - n-gram Jaccard: exact, via shingle-postings join (pairs sharing >= 1
 *    shingle), scales with true overlap not with n^2;
 *  - embedding near-dup: hyperplane-LSH buckets + exact cosine verify.
 */
object Dedup {

  /** THE scratch-dir resolution (`spark.graft.scratchDir`, default JVM
    * tmp) — one definition shared by [[scratchResult]] and
    * [[purgeClusterScratch]]; a second copy that drifted would silently
    * split scratch output across directories and hide strays from the
    * purge. */
  private[graft] def scratchDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get("spark.graft.scratchDir",
      System.getProperty("java.io.tmpdir") + "/graft_scratch")

  /** The producers of scratch results, by dir-name prefix: clustering,
    * the dedup-index probe's drop list, the kNN table join and SemDeDup.
    * [[purgeClusterScratch]] deletes exactly these. */
  private val ScratchPrefixes = Seq("cc", "cc_drop", "knn", "cc_sem")

  /** THE scratch round trip: write `df` to a fresh
    * `<scratchDir>/<prefix>_<uuid>` parquet, mark it delete-on-exit and
    * return a frame reading it — a result that no longer depends on the
    * persisted blocks or the lineage it was computed from. One dir remains
    * per call until FileSystem shutdown or [[purgeClusterScratch]]. Point
    * `spark.graft.scratchDir` at shared storage (HDFS/S3) on a multi-node
    * cluster. */
  private[graft] def scratchResult(df: DataFrame, prefix: String): DataFrame = {
    require(ScratchPrefixes.contains(prefix), s"unknown scratch prefix $prefix")
    val spark = df.sparkSession
    val dir = new org.apache.hadoop.fs.Path(
      scratchDir(spark) + s"/${prefix}_${java.util.UUID.randomUUID()}")
    LeafWrite.writer(df).parquet(dir.toString)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(dir)
    // read back with the written schema: inferring it would run a
    // footer-reading job on a dir whose schema is already known
    spark.read.schema(df.schema).parquet(dir.toString)
  }

  /**
   * Hot-bucket cap: drop every bucket whose population exceeds `maxBucket`
   * BEFORE the candidate self-join. The within-bucket join is quadratic in
   * bucket size, and real web text has degenerate buckets (empty-ish docs,
   * boilerplate shingles/bands) that would otherwise explode a 100 TB run;
   * a bucket shared by that many documents carries ~zero discriminative
   * signal anyway (same discipline as the hot-cell salting at rest,
   * ImageTable.ingest). The size census is a window over the bucket key —
   * the exchange it introduces has the SAME partitioning as the join that
   * follows, so no extra shuffle materializes.
   */
  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else banded
      .withColumn("_bucket_n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .where(col("_bucket_n") <= maxBucket)
      .drop("_bucket_n")

  /** Banded LSH bucket rows over an embeddings table from ONE scan: all
    * nTables signatures are computed in a single projection and exploded
    * to (_t, _sig) band structs, then hot-bucket capped. `sigOf(t)` is the
    * per-table signature column (random hyperplanes, axis signs, ...) —
    * the one shape behind embeddingNearDup, knnJoin and axisKnnJoin, so a
    * scan-count or cap change is a one-site edit. */
  private[operators] def bandedBuckets(embs: DataFrame, nTables: Int,
                                       sigOf: Int => Column,
                                       maxBucket: Int): DataFrame =
    capBuckets(
      embs.select(col("vec_id"), col("embedding"),
        explode(array((0 until nTables).map(t =>
          struct(lit(t).as("t"), sigOf(t).as("sig"))): _*)).as("_band"))
        .select(col("vec_id"), col("embedding"),
          col("_band.t").as("_t"), col("_band.sig").as("_sig")),
      Seq("_t", "_sig"), maxBucket)

  /** THE whitespace tokenizer: non-empty runs between spaces. This exact
    * expression is cross-engine-parity-critical — every DuckDB oracle twin
    * restates it as `list_filter(string_split(text, ' '), t -> len(t)>0)`
    * — so every operator that tokenizes words MUST use this one helper
    * (shingles, simhash, passages, token counts, repetition, chunking);
    * changing the separator class here means changing every oracle too. */
  private[graft] def wsWords(text: Column): Column =
    filter(split(text, " +"), w => length(w) > 0)

  /** Word n-gram shingles of `text`, as a deduplicated array column.
    * Empty words are filtered BEFORE shingling so leading/repeated spaces
    * can never leak into a shingle — this makes the construction exactly
    * `string_split(text, ' ')` + filter in ANSI SQL for ANY spacing, which
    * the DuckDB oracles replicate. */
  def shingles(text: Column, n: Int): Column = {
    val words = wsWords(text)
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))),
      s => length(s) > 0))
  }

  /** Exact dedup: groups identical texts by digest; keeps the smallest id as
    * canonical. Returns (hash, keep_id, dupes). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dupes"))

  /** Exact dedup, survivors only: one row per distinct text. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** MinHash signature columns sig_0..sig_{h-1}: min over shingles of a
    * seeded 64-bit hash. */
  def withMinhash(docs: DataFrame, nGram: Int, nHashes: Int): DataFrame = {
    val sh = shingles(col("text"), nGram)
    val base = docs.withColumn("_sh", sh)
    (0 until nHashes).foldLeft(base) { (df, j) =>
      df.withColumn(s"sig_$j",
        array_min(transform(col("_sh"), s => xxhash64(s, lit(j)))))
    }
  }

  /** MinHash with PORTABLE string hashes: sig_j = lexicographic min over
    * shingles of md5(shingle || "#j"). md5 hex is lowercase ASCII, so the
    * string ordering is identical in every engine — this variant exists so
    * the signatures themselves are oracle-checkable cross-engine (DuckDB
    * has md5 but not xxhash64). The xxhash64 variant ([[withMinhash]]) is
    * the fast path; min-of-keyed-hash semantics are identical. */
  def withMinhashPortable(docs: DataFrame, nGram: Int, nHashes: Int): DataFrame = {
    val base = docs.withColumn("_sh", shingles(col("text"), nGram))
    (0 until nHashes).foldLeft(base) { (df, j) =>
      df.withColumn(s"sig_$j",
        array_min(transform(col("_sh"), s => md5(concat(s, lit(s"#$j"))))))
    }
  }

  /**
   * MinHash-LSH near-dup pairs: signatures banded into `bands` groups of
   * rows; docs sharing any band bucket become candidates; candidates are
   * verified with EXACT Jaccard over shingle sets. Returns
   * (a_id, b_id, jaccard) with a_id < b_id and jaccard >= threshold.
   * Buckets over `maxBucket` docs are dropped (see capBuckets); 0 disables.
   */
  def minhashLsh(docs: DataFrame, nGram: Int = 3, nHashes: Int = 16,
                 bands: Int = 4, threshold: Double = 0.5,
                 maxBucket: Int = 1000): DataFrame = {
    require(nHashes % bands == 0)
    val rowsPerBand = nHashes / bands
    val sigs = withMinhash(docs, nGram, nHashes)
      .select(col("doc_id"), col("_sh"), array((0 until nHashes).map(j => col(s"sig_$j")): _*).as("_sig"))
    val banded = capBuckets(sigs.withColumn("_band", explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("b"),
          xxhash64(concat_ws(",", (0 until rowsPerBand)
            .map(r => col("_sig")(b * rowsPerBand + r).cast("string")): _*)).as("k"))
      }: _*)))
      .select(col("doc_id"), col("_sh"), col("_band.b").as("_b"), col("_band.k").as("_k")),
      Seq("_b", "_k"), maxBucket)
    verifiedJaccardPairs(banded, threshold)
  }

  /** Exact Jaccard verification over a candidate-pair frame carrying the
    * two shingle sets as `_sha`/`_shb` — the one verify tail behind every
    * MinHash variant (symmetric and incremental); the expression is
    * oracle-parity-critical, so there is exactly one definition. */
  private def verifyJaccard(cand: DataFrame, threshold: Double): DataFrame =
    cand.withColumn("inter", size(array_intersect(col("_sha"), col("_shb"))))
      .withColumn("jaccard", col("inter") /
        (size(col("_sha")) + size(col("_shb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Candidate pairs within (_b, _k) buckets + exact Jaccard verification
    * over the `_sh` shingle sets — shared by the xxhash and portable
    * MinHash-LSH variants (the band-key type is opaque to the join). */
  private def verifiedJaccardPairs(banded: DataFrame, threshold: Double): DataFrame = {
    val a = banded.select(col("_b"), col("_k"), col("doc_id").as("a_id"), col("_sh").as("_sha"))
    val b = banded.select(col("_b"), col("_k"), col("doc_id").as("b_id"), col("_sh").as("_shb"))
    verifyJaccard(
      a.join(b, Seq("_b", "_k")).where(col("a_id") < col("b_id"))
        .dropDuplicates("a_id", "b_id"),
      threshold)
  }

  /** Portable-MinHash banded bucket rows: (doc_id, carried cols, _sh, _b,
    * _k), hot-bucket capped — THE band-key construction of the portable
    * variants ([[minhashLshPortable]], [[dedupBatchAgainstCorpus]]); every
    * DuckDB oracle restates this shape, so there is exactly one
    * definition. */
  private def portableBanded(docs: DataFrame, nGram: Int, nHashes: Int,
                             bands: Int, maxBucket: Int,
                             carry: Seq[String]): DataFrame = {
    require(nHashes % bands == 0)
    val rowsPerBand = nHashes / bands
    val sigs = withMinhashPortable(docs, nGram, nHashes)
      .select((Seq(col("doc_id")) ++ carry.map(col) :+ col("_sh") :+
        array((0 until nHashes).map(j => col(s"sig_$j")): _*).as("_sig")): _*)
    capBuckets(sigs.withColumn("_band", explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("b"), concat_ws(",", (0 until rowsPerBand)
          .map(r => col("_sig")(b * rowsPerBand + r)): _*).as("k"))
      }: _*)))
      .select((Seq(col("doc_id")) ++ carry.map(col) :+ col("_sh") :+
        col("_band.b").as("_b") :+ col("_band.k").as("_k")): _*),
      Seq("_b", "_k"), maxBucket)
  }

  /** MinHash-LSH pairs with PORTABLE signatures (md5-string minhash, see
    * [[withMinhashPortable]]): the band keys, candidate set, and verified
    * Jaccard values are all oracle-checkable cross-engine. */
  def minhashLshPortable(docs: DataFrame, nGram: Int = 3, nHashes: Int = 4,
                         bands: Int = 4, threshold: Double = 0.5,
                         maxBucket: Int = 1000): DataFrame =
    verifiedJaccardPairs(
      portableBanded(docs, nGram, nHashes, bands, maxBucket, carry = Nil),
      threshold)

  /** 64-bit SimHash over word hashes: bit i = sign of the sum of per-word
    * (+1/-1) votes. One explode + hash-aggregate pass: 64 map-side-combined
    * sums, NOT 64 re-walks of the token array. */
  def withSimhash(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(array_distinct(wsWords(col("text")))).as("_w"))
      .withColumn("_h", xxhash64(col("_w")))
    val voteCols = (0 until 64).map(i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_v$i"))
    val votes = tokens.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 64).map(i =>
        when(col(s"_v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    docs.join(votes.select(col("doc_id"), sim.as("simhash")), "doc_id")
  }

  /** Generic 64-bit-signature near-dup join: 4x16-bit band blocking +
    * Hamming check via bit_count(xor). Works over ANY 64-bit signature
    * column — text SimHash and image perceptual hashes share it. Returns
    * (a_id, b_id, hamming) with a_id < b_id and hamming <= maxHamming.
    * Buckets over `maxBucket` rows are dropped (see capBuckets); 0 disables. */
  def hammingNearDup(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int, maxBucket: Int = 1000): DataFrame = {
    val sh = sigs.select(col(idCol).as("_id"), col(sigCol).as("_s64"))
    val banded = capBuckets(sh.withColumn("_band", explode(array((0 until 4).map { b =>
      struct(lit(b).as("b"),
        shiftrightunsigned(col("_s64"), b * 16).bitwiseAND(lit(0xFFFFL)).as("k"))
    }: _*)))
      .select(col("_id"), col("_s64"), col("_band.b").as("_b"), col("_band.k").as("_k")),
      Seq("_b", "_k"), maxBucket)
    val a = banded.select(col("_b"), col("_k"), col("_id").as("a_id"), col("_s64").as("_sa"))
    val b = banded.select(col("_b"), col("_k"), col("_id").as("b_id"), col("_s64").as("_sb"))
    a.join(b, Seq("_b", "_k")).where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("_sa").bitwiseXOR(col("_sb"))))
      .where(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** PORTABLE 60-bit SimHash: per-word hash = the first 15 hex digits of
    * md5 parsed as an integer (exact in both engines: Spark
    * conv(hex,16,10), DuckDB CAST('0x'||hex AS BIGINT)); votes and bit
    * packing are pure integer arithmetic — the signature itself is
    * oracle-checkable cross-engine, unlike the xxhash64 fast path
    * ([[withSimhash]]). Same one-explode + 60-map-side-combined-sums shape. */
  def withSimhashPortable(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(array_distinct(wsWords(col("text")))).as("_w"))
      .withColumn("_h", conv(substring(md5(col("_w")), 1, 15), 16, 10).cast("long"))
    val voteCols = (0 until 60).map(i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_v$i"))
    val votes = tokens.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 60).map(i =>
        when(col(s"_v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    docs.join(votes.select(col("doc_id"), sim.as("simhash")), "doc_id")
  }

  /** SimHash near-dups: the Hamming join over text simhash signatures. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 8,
                     maxBucket: Int = 1000): DataFrame =
    hammingNearDup(withSimhash(docs).select(col("doc_id"), col("simhash")),
      "doc_id", "simhash", maxHamming, maxBucket)

  /** Exact n-gram Jaccard over ALL pairs sharing at least one shingle —
    * postings join: |A∩B| from the shingle index, sizes joined in.
    *
    * `maxDocFreq`: shingles appearing in more than this many documents are
    * dropped from the postings index BEFORE the join — the standard
    * stop-shingle cut. One boilerplate shingle shared by D docs contributes
    * D^2 candidate pairs; on real web text that term dominates everything.
    * The cut makes `inter` a LOWER bound for affected pairs (documented
    * approximation); 0 disables it for exact small-N use. The default is
    * far above any test corpus, so small-scale results are exact. */
  def ngramJaccard(docs: DataFrame, nGram: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Int = 100000): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text"), nGram).as("_sh"))
      .withColumn("_size", size(col("_sh")))
    val postingsAll = sh.select(col("doc_id"), col("_size"), explode(col("_sh")).as("_s"))
    // the stop-shingle cut IS the hot-bucket cap, keyed on the shingle
    val postings = capBuckets(postingsAll, Seq("_s"), maxDocFreq)
    val a = postings.select(col("_s"), col("doc_id").as("a_id"), col("_size").as("_na"))
    val b = postings.select(col("_s"), col("doc_id").as("b_id"), col("_size").as("_nb"))
    a.join(b, "_s").where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "_na", "_nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter") / (col("_na") + col("_nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /**
   * Connected components over near-dup pairs — the step that turns a pair
   * list into dedup CLUSTERS (each document labeled with its cluster's
   * minimum doc id, the canonical survivor). Iterative min-label
   * propagation: every node adopts the minimum label among itself and its
   * neighbors until fixpoint. Converges in O(component diameter) rounds —
   * near-dup clusters are dense and shallow, so few rounds in practice;
   * each round is ONE shuffle keyed on id (join + groupBy), and each
   * round's labels are materialized so the plan does not grow with
   * iterations. Documents with no pair at all are not emitted (they are
   * their own cluster). Returns (id, label).
   *
   * Cache hygiene: iteration state is held in [[Materialized]] handles —
   * each superseded round is released DETERMINISTICALLY the moment its
   * successor materializes, and the final labels go through
   * [[scratchResult]] (`cc_` prefix) before the remaining handles close,
   * so repeated clustering calls leave ZERO blocks pinned on every exit
   * path, a failed or non-converging call included.
   */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    Using.Manager { use =>
      val edges = use(materialize(                 // the pair list may be
        pairs.select(col("a_id").as("src"), col("b_id").as("dst"))   // expensive;
          .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
          .distinct())).df                         // compute once
      // seed labels with the FIRST neighbor-min round for free: label0 =
      // min(id, direct neighbors) is one aggregation over the symmetrized
      // edges — the same single exchange the plain id-distinct seed pays,
      // but star/pair components (the common near-dup shape) arrive at
      // their fixpoint immediately and the loop's first round is the
      // convergence CONFIRMATION instead of real work (round 6: one full
      // join+aggregate round removed from every shallow clustering call)
      var round = use(materialize(
        edges.groupBy("src").agg(min("dst").as("_nmin"))
          .select(col("src").as("id"), least(col("src"), col("_nmin")).as("label"))))
      var labels = round.df
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIters) {
        // neighbor-min and the self label in ONE aggregation: neighbor
        // label messages union the self rows (flagged), then a grouped
        // min + the flagged max (each id has exactly one self row)
        // recover (_m, old label) — one join + one aggregate, not the
        // join + aggregate + left-join chain
        val msgs = edges
          .join(labels.select(col("id").as("dst"), col("label").as("_v")), "dst")
          .select(col("src").as("id"), col("_v"), lit(false).as("_self"))
          .unionByName(labels.select(col("id"), col("label").as("_v"),
            lit(true).as("_self")))
        val cand = msgs.groupBy("id")
          .agg(min("_v").as("_m"), max(when(col("_self"), col("_v"))).as("label"))
        // pointer jumping (path compression): also adopt the CURRENT label of
        // one's label — convergence drops from O(diameter) to O(log diameter)
        // rounds, so maxIters=20 covers any real component (2^20 diameter).
        // The changed census rides the materialization pass itself (an
        // accumulator counting the projected `_chg` flag — no separate
        // count job per round). Task retries can only inflate a genuinely
        // nonzero count (a converged round has no flagged rows to
        // double-count), so the loop can never terminate early or throw
        // spuriously on a converged round.
        val jumped = least(col("_m"), coalesce(col("_llab"), col("_m")))
        val nChanged = pairs.sparkSession.sparkContext.longAccumulator
        val updated = use(materialize(cand
          .join(labels.select(col("id").as("_lid"), col("label").as("_llab")),
            cand("_m") === col("_lid"), "left")
          .select(col("id"), jumped.as("_new"),
            (jumped < col("label")).as("_chg")),
          tap = r => if (!r.isNullAt(2) && r.getBoolean(2)) nChanged.add(1L)))
        round.release()   // superseded; successor is materialized
        round = updated
        changed = nChanged.value
        labels = updated.df.select(col("id"), col("_new").as("label"))
        i += 1
      }
      // truncated propagation would silently ship WRONG clusters (two
      // "canonical" survivors in one component) — refuse instead
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            "(pathological component diameter); raise maxIters")
      // the result OFF the persisted blocks, before they are released
      scratchResult(labels.select(col("id"), col("label")), "cc")
    }.get

  /**
   * Incremental (online) near-dup dedup — the corpus-maintenance shape: a
   * NEW batch arrives against an existing kept corpus; return the batch
   * documents worth KEEPING. A batch doc is dropped iff its near-dup
   * component (over verified MinHash pairs) contains any corpus document
   * (its content is already represented — including transitively, via a
   * chain of batch near-dups reaching the corpus), or it is a
   * non-canonical member of a batch-only component (the cluster minimum
   * survives, as in [[dropClusterDuplicates]]).
   *
   * Scale shape: candidate generation NEVER pairs corpus with corpus —
   * the banded join's probe side holds batch rows only, so per-batch cost
   * scales with |batch| x bucket collision rate, not |corpus|^2 (excluded
   * corpus-corpus edges cannot change any batch doc's fate: every path
   * from a batch doc to the corpus already crosses a kept edge).
   * Signatures are the portable md5 MinHash ([[withMinhashPortable]]), so
   * the whole decision is oracle-checkable. Corpus and batch ids must be
   * disjoint. Returns the surviving batch rows.
   */
  def dedupBatchAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                              nGram: Int = 3, nHashes: Int = 4, bands: Int = 4,
                              threshold: Double = 0.5,
                              maxBucket: Int = 1000): DataFrame = {
    val union = corpus.select(col("doc_id"), col("text")).withColumn("_new", lit(false))
      .unionByName(batch.select(col("doc_id"), col("text")).withColumn("_new", lit(true)))
    val banded = portableBanded(union, nGram, nHashes, bands, maxBucket,
      carry = Seq("_new"))
    // probe side = batch only; build side = everything. Cross pairs keep
    // (corpus, batch) orientation; batch-batch pairs canonicalize a < b.
    val a = banded.select(col("_b"), col("_k"), col("doc_id").as("a_id"),
      col("_new").as("_an"), col("_sh").as("_sha"))
    val bb = banded.where(col("_new"))
      .select(col("_b"), col("_k"), col("doc_id").as("b_id"), col("_sh").as("_shb"))
    val pairs = verifyJaccard(
      a.join(bb, Seq("_b", "_k"))
        .where((!col("_an") && col("a_id") =!= col("b_id")) ||
               (col("_an") && col("a_id") < col("b_id")))
        .dropDuplicates("a_id", "b_id"),
      threshold).select("a_id", "b_id")
    val labels = connectedComponents(pairs)
    // components touching the corpus (membership-based — no assumption
    // about id ordering between the two sets)
    val infected = labels
      .join(corpus.select(col("doc_id").as("id")), "id")
      .select(col("label")).distinct()
    val dropIds = labels.join(infected, Seq("label"), "left_semi").select("id")
      .unionByName(labels.where(col("id") =!= col("label")).select("id"))
      .distinct()
      .withColumnRenamed("id", "doc_id")
    batch.join(dropIds, Seq("doc_id"), "left_anti")
  }

  // ---- stored dedup index (the 100 TB online-maintenance shape) --------------

  /** Index meta sidecar: the signature parameters the stored index was
    * built with. A probe running with different parameters would band into
    * buckets the entries don't live in and silently miss duplicates — the
    * probe READS its parameters from here, so a mismatch is impossible. */
  private def dedupIdxMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_dedup_idx_meta.json")

  /**
   * Persist the CORPUS side of incremental near-dup dedup as a stored
   * banded-signature index: one row per (corpus doc, band) carrying the
   * portable band key and the doc's shingle set, written Hive-partitioned
   * on `idx_b` = hash-bucket of the band key. [[dedupBatchAgainstCorpus]]
   * re-minhashes the ENTIRE corpus text on every incoming batch — at
   * 100 TB the corpus-side signature recompute dominates everything; this
   * index is computed once and each batch probes only the buckets its own
   * band keys hash into (a literal `idx_b IN (...)` predicate -> directory
   * pruning, the diffSync `_idx` pattern).
   *
   * `maxBucket` drops degenerate corpus band buckets at BUILD time (same
   * discipline as [[capBuckets]]; 0 disables). Note the cap is then
   * per-side, not over the corpus+batch union as in the recompute path —
   * with caps off the two paths are decision-identical (gated). A full
   * rebuild ([[LeafWrite.writer]]'s overwrite policy): no bucket of a
   * previous build survives.
   */
  def writeDedupIndex(corpus: DataFrame, path: String, nGram: Int = 3,
                      nHashes: Int = 4, bands: Int = 4, buckets: Int = 64,
                      maxBucket: Int = 1000): Unit = {
    require(buckets >= 1)
    val spark = corpus.sparkSession
    LeafWrite.partitioned(
      portableBanded(corpus, nGram, nHashes, bands, maxBucket, carry = Nil)
        .select(col("doc_id"), col("_sh"), col("_b"), col("_k"))
        .withColumn("idx_b",
          pmod(xxhash64(col("_b"), col("_k")), lit(buckets.toLong)).cast("int")),
      Seq("idx_b"))
      .mode("overwrite").parquet(path)
    IndexMeta.write(spark, dedupIdxMetaPath(path), Seq(
      "nGram" -> nGram, "nHashes" -> nHashes, "bands" -> bands,
      "buckets" -> buckets))
  }

  /** True iff `path` holds a [[writeDedupIndex]] store (the parameter
    * sidecar is present) — the bootstrap test for online loops. */
  def hasDedupIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): Boolean =
    IndexMeta.exists(spark, dedupIdxMetaPath(path))

  private def readDedupIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                 path: String): (Int, Int, Int, Int) = {
    val m = IndexMeta.read(spark, dedupIdxMetaPath(path), "dedup index meta",
      "writeDedupIndex")
    (m.int("nGram"), m.int("nHashes"), m.int("bands"), m.int("buckets"))
  }

  /**
   * Incremental near-dup dedup of a batch against a STORED corpus index
   * (see [[writeDedupIndex]]): decision-identical to
   * [[dedupBatchAgainstCorpus]] (gated q_dedup_incremental_idx ==
   * q_dedup_incremental) but the corpus side is never recomputed — the
   * probe bands ONLY the batch, derives the <= `buckets` distinct bucket
   * ids its band keys hash into (a driver-small collect), and reads the
   * index with a literal `idx_b IN (...)` partition-pruned scan. Per-batch
   * cost scales with |batch| x bucket collision rate; the corpus
   * contributes a pruned read of precomputed signatures, not a text scan.
   *
   * Signature parameters come from the index meta, so batch and corpus
   * banding cannot diverge. Corpus and batch ids must be disjoint (the
   * [[dedupBatchAgainstCorpus]] contract). `maxBucket` caps the BATCH side
   * (the corpus side was capped at build). Returns the surviving batch
   * rows. NOTE: after accepting survivors into the corpus, call
   * [[appendToDedupIndex]] with them — a stale index misses duplicates
   * against recent docs.
   */
  def dedupBatchAgainstIndex(batch: DataFrame, indexPath: String,
                             threshold: Double = 0.5,
                             maxBucket: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    val (nGram, nHashes, bands, buckets) = readDedupIndexMeta(spark, indexPath)
    // band the batch ONCE: the bucket-list collect, the index probe and
    // the within-batch self-join all read the materialized copy, so the
    // batch text is md5-minhashed exactly once per call (this path runs
    // per incoming batch — recompute here multiplies the very cost the
    // stored index exists to avoid). The emptiness short-circuit AND the
    // probe-bucket id set both ride the materialization pass (round 6:
    // no separate isEmpty job, no separate distinct+collect job — the
    // bucket ids are a <= `buckets`-element set by construction, exactly
    // the driver-small collect the old job performed; a retried task's
    // duplicates collapse in the set)
    val probeBuckets = spark.sparkContext.collectionAccumulator[Int]
    Using.resource(materialize(
      portableBanded(batch, nGram, nHashes, bands, maxBucket, carry = Nil)
        .select(col("doc_id"), col("_sh"), col("_b"), col("_k"),
          pmod(xxhash64(col("_b"), col("_k")), lit(buckets.toLong))
            .cast("int").as("_ib")),
      tap = r => if (!r.isNullAt(4)) probeBuckets.add(r.getInt(4)))) { banded =>
      if (banded.count == 0) batch   // nothing to probe or drop
      else {
        val batchBanded = banded.df
        val ba = batchBanded.select(col("_b"), col("_k"),
          col("doc_id").as("a_id"), col("_sh").as("_sha"))
        val bb = batchBanded.select(col("_b"), col("_k"),
          col("doc_id").as("b_id"), col("_sh").as("_shb"))
        // cross pairs keep (corpus, batch) orientation; batch-batch pairs
        // canonicalize a < b — exactly the recompute path's candidate set.
        // ONE materialized pair frame carries the orientation flag: the
        // closure's edge union and the corpus-membership test both read it
        // without re-probing the index or re-verifying Jaccard.
        Using.resource(materialize(
          verifyJaccard(crossCandidates(batchBanded, indexPath,
              probeBuckets.value.asScala.toSet.toSeq.sorted), threshold)
            .select("a_id", "b_id").withColumn("_cross", lit(true))
            .unionByName(verifyJaccard(
                ba.join(bb, Seq("_b", "_k")).where(col("a_id") < col("b_id"))
                  .dropDuplicates("a_id", "b_id"), threshold)
              .select("a_id", "b_id").withColumn("_cross", lit(false))))) { pairs =>
          // the common online case is a CLEAN batch (zero verified pairs):
          // skip the clustering machinery and both scratch files entirely
          if (pairs.count == 0) batch
          else {
            val pairsAll = pairs.df
            val labels = connectedComponents(pairsAll.select("a_id", "b_id"))
            // corpus ids occur in pairs ONLY as the a side of cross pairs,
            // so the infected-component membership test needs no corpus
            // table
            val infected = labels
              .join(pairsAll.where(col("_cross"))
                .select(col("a_id").as("id")).distinct(), "id")
              .select(col("label")).distinct()
            val dropIds = labels.join(infected, Seq("label"), "left_semi").select("id")
              .unionByName(labels.where(col("id") =!= col("label")).select("id"))
              .distinct()
              .withColumnRenamed("id", "doc_id")
            // the (small) drop list goes to scratch OFF the materialized
            // blocks so the RETURNED frame is self-contained — consuming
            // it later never re-runs the probe
            batch.join(scratchResult(dropIds, "cc_drop"), Seq("doc_id"), "left_anti")
          }
        }
      }
    }
  }

  /**
   * Append newly ACCEPTED documents' banded rows to an existing index —
   * the maintenance step of the online dedup loop (probe with
   * [[dedupBatchAgainstIndex]] -> keep survivors -> append the survivors
   * here -> next batch sees them). One narrow write of |accepted| x bands
   * rows into the buckets they hash into; the corpus is never rescanned.
   * Signature parameters come from the index meta, so appended rows band
   * identically to the stored ones. Appends apply no hot-bucket cap (the
   * build-time cap is a GLOBAL census; re-apply it with a periodic
   * [[writeDedupIndex]] rebuild if append volume regrows dropped buckets).
   */
  def appendToDedupIndex(accepted: DataFrame, indexPath: String): Unit = {
    val spark = accepted.sparkSession
    val (nGram, nHashes, bands, buckets) = readDedupIndexMeta(spark, indexPath)
    LeafWrite.partitioned(
      portableBanded(accepted, nGram, nHashes, bands, maxBucket = 0, carry = Nil)
        .select(col("doc_id"), col("_sh"), col("_b"), col("_k"))
        .withColumn("idx_b",
          pmod(xxhash64(col("_b"), col("_k")), lit(buckets.toLong)).cast("int")),
      Seq("idx_b"))
      .mode("append").parquet(indexPath)
  }

  /** The pruned (index x banded batch) candidate join over an
    * ALREADY-BANDED batch frame — the shared core of
    * [[dedupBatchAgainstIndex]] and [[indexProbeCandidates]].
    *
    * Index entries whose doc_id appears IN the batch are ignored (an
    * anti-join, not just the self-pair filter): the corpus/batch
    * id-disjointness contract is ENFORCED here rather than assumed,
    * because an at-least-once caller can legitimately violate it — a
    * replayed micro-batch that already appended its survivors to the
    * index would otherwise near-dup against its own previous append and
    * drop its survivors (observed failure shape: batch cluster {X min,
    * Y}; replay pairs Y against X's stored entry, infects the component,
    * and BOTH vanish). With self-entries ignored, a replay reproduces
    * the original decisions exactly. */
  private def crossCandidates(batchBanded: DataFrame, indexPath: String,
                              probeBuckets: Seq[Int]): DataFrame = {
    val spark = batchBanded.sparkSession
    val idx = spark.read.parquet(indexPath)
      .where(if (probeBuckets.isEmpty) lit(false)
             else col("idx_b").isin(probeBuckets: _*))   // PartitionFilters
      .join(batchBanded.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")   // ignore the batch's own entries
    idx.select(col("_b"), col("_k"), col("doc_id").as("a_id"),
        col("_sh").as("_sha"))
      .join(batchBanded.select(col("_b"), col("_k"), col("doc_id").as("b_id"),
        col("_sh").as("_shb")), Seq("_b", "_k"))
      .where(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The pruned index-probe candidate frame of [[dedupBatchAgainstIndex]]:
    * corpus banded rows read from ONLY the buckets the batch's band keys
    * hash into (a literal `idx_b IN (...)` -> PartitionFilters in the
    * plan), equi-joined to the batch's banded rows. Returns unverified
    * (corpus a_id, batch b_id) candidates with both shingle sets — also
    * the plan-evidence surface for PLANS.md. */
  def indexProbeCandidates(batch: DataFrame, indexPath: String,
                           maxBucket: Int = 1000): DataFrame = {
    val (nGram, nHashes, bands, buckets) =
      readDedupIndexMeta(batch.sparkSession, indexPath)
    val banded = portableBanded(batch, nGram, nHashes, bands, maxBucket,
        carry = Nil)
      .select(col("doc_id"), col("_sh"), col("_b"), col("_k"))
    // <= `buckets` distinct values — driver-small by construction (the
    // operator itself rides this on its persist pass; this standalone
    // evidence surface pays the one extra job)
    val probeBuckets = banded
      .select(pmod(xxhash64(col("_b"), col("_k")), lit(buckets.toLong))
        .cast("int").as("idx_b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    crossCandidates(banded, indexPath, probeBuckets)
  }

  /** Delete every scratch result under the configured scratch dir.
    * Each [[scratchResult]] call ([[connectedComponents]],
    * [[dedupBatchAgainstIndex]], [[Knn.knnJoinTable]],
    * [[Similarity.semanticDedup]]) leaves one `<prefix>_<uuid>` parquet —
    * the RETURNED frame reads it, and deleteOnExit only cleans at JVM
    * shutdown, so a long-lived service clustering per batch accumulates
    * result files. Call this once no previously returned frame is still
    * being consumed. */
  def purgeClusterScratch(spark: org.apache.spark.sql.SparkSession): Unit = {
    val base = new org.apache.hadoop.fs.Path(scratchDir(spark))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base))
      fs.listStatus(base)
        .filter(st => ScratchPrefixes.exists(p => st.getPath.getName.startsWith(p + "_")))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Corpus -> deduplicated corpus: drop every document labeled with a
    * cluster minimum other than itself (the cluster minimum is the
    * canonical survivor). `pairs` can come from ANY near-dup detector
    * (minhashLsh, simhashNearDup, ngramJaccard, imageNearDup). */
  def dropClusterDuplicates(docs: DataFrame, pairs: DataFrame,
                            idCol: String = "doc_id"): DataFrame = {
    val dupes = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    docs.join(dupes, Seq(idCol), "left_anti")
  }

  /**
   * Exact duplicate-PASSAGE detection — the verbatim-span primitive of
   * substring-level corpus dedup: every `windowWords`-word window (stride
   * 1, full windows only) that occurs in >= 2 distinct documents, with its
   * document count, total occurrence count, and lowest containing doc id.
   * Unlike the shingle-set ops above this keeps MULTIPLICITY and position
   * coverage: a boilerplate footer repeated across a corpus surfaces here
   * even when whole-document similarity is low.
   *
   * Shape: one explode (n-W+1 windows per doc) + one hash aggregate keyed
   * on md5(window) — a fixed 32-byte shuffle key instead of the full window
   * text (at 100 TB the window text IS most of the corpus, re-shuffled);
   * one representative passage rides along as a min() aggregate, collapsed
   * map-side, and the output is bounded by DISTINCT duplicated windows,
   * never by the pair count. Returns (passage, n_docs, n_occ, min_doc).
   */
  def duplicatePassages(docs: DataFrame, windowWords: Int = 8): DataFrame = {
    require(windowWords >= 1)
    val words = wsWords(col("text"))
    val wins = when(size(col("_w")) >= windowWords,
      transform(sequence(lit(1), size(col("_w")) - windowWords + 1),
        i => concat_ws(" ", slice(col("_w"), i, lit(windowWords)))))
      .otherwise(array())
    docs.select(col("doc_id"), words.as("_w"))
      .select(col("doc_id"), explode(wins).as("passage"))
      .groupBy(md5(col("passage")).as("_pk"))
      .agg(min("passage").as("passage"),   // all texts under one md5 are equal
           countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
           min("doc_id").as("min_doc"))
      .where(col("n_docs") >= 2)
      .select("passage", "n_docs", "n_occ", "min_doc")
  }

  /**
   * Cross-corpus n-gram contamination — the benchmark-decontamination
   * primitive: for each (corpus doc, benchmark doc) pair sharing at least
   * one shingle, the CONTAINMENT of the benchmark doc in the corpus doc
   * (|A ∩ B| / |B|: 1.0 = the benchmark text appears verbatim modulo
   * word order). Shingle-postings join, never all-pairs; `maxDocFreq`
   * drops boilerplate shingles from the CORPUS postings (same stop-shingle
   * discipline as [[ngramJaccard]], containment becomes a lower bound).
   * Returns (doc_id, bench_id, inter, containment >= minContainment).
   */
  def crossContamination(corpus: DataFrame, benchmark: DataFrame,
                         nGram: Int = 3, minContainment: Double = 0.5,
                         maxDocFreq: Int = 100000): DataFrame = {
    val cp = corpus.select(col("doc_id"),
      explode(shingles(col("text"), nGram)).as("_s"))
    val cpCut = capBuckets(cp, Seq("_s"), maxDocFreq)   // stop-shingle cut
    val bp = benchmark
      .select(col("doc_id").as("bench_id"), shingles(col("text"), nGram).as("_sh"))
      .withColumn("_nb", size(col("_sh")))
      .select(col("bench_id"), col("_nb"), explode(col("_sh")).as("_s"))
    cpCut.join(bp, "_s")
      .groupBy("doc_id", "bench_id", "_nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter") / greatest(col("_nb"), lit(1)))
      .where(col("containment") >= minContainment)
      .select("doc_id", "bench_id", "inter", "containment")
  }

  /**
   * [[crossContamination]] with a broadcast Bloom prefilter on the corpus
   * side — the 100 TB shape: the benchmark suite is small by contract
   * (it is a benchmark), so its distinct shingle universe fits a
   * driver-built Bloom filter that is broadcast once; corpus shingles are
   * dropped BEFORE the shuffle unless the Bloom might contain them. The
   * exact join then runs only over (true positives + the fpp-bounded
   * false positives) instead of the full corpus shingle stream.
   *
   * Decisions are IDENTICAL to [[crossContamination]]: a Bloom filter has
   * no false negatives, so every truly-shared shingle survives the
   * prefilter, and false positives are eliminated by the exact equi-join
   * that follows. The df-cut also agrees: the filter is deterministic per
   * shingle VALUE, so a surviving shingle's corpus document frequency is
   * computed over all its occurrences, exactly as in the unfiltered path
   * (shingles it drops could never join anyway).
   *
   * Two driver jobs run over the benchmark side (distinct-count + Bloom
   * build) — fine for a small benchmark, wrong for a huge one; use
   * [[crossContamination]] when the "benchmark" is another corpus.
   */
  def crossContaminationBloom(corpus: DataFrame, benchmark: DataFrame,
                              nGram: Int = 3, minContainment: Double = 0.5,
                              maxDocFreq: Int = 100000,
                              fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val bp = benchmark
      .select(col("doc_id").as("bench_id"), shingles(col("text"), nGram).as("_sh"))
      .withColumn("_nb", size(col("_sh")))
      .select(col("bench_id"), col("_nb"), explode(col("_sh")).as("_s"))
    val distinctSh = bp.select("_s").distinct()
    val bloom = distinctSh.stat.bloomFilter(
      "_s", math.max(distinctSh.count(), 1L), fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    val cp = corpus
      .select(col("doc_id"), explode(shingles(col("text"), nGram)).as("_s"))
      .where(mightContain(col("_s")))
    val cpCut = capBuckets(cp, Seq("_s"), maxDocFreq)
    cpCut.join(bp, "_s")
      .groupBy("doc_id", "bench_id", "_nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter") / greatest(col("_nb"), lit(1)))
      .where(col("containment") >= minContainment)
      .select("doc_id", "bench_id", "inter", "containment")
  }

  /** Embedding near-dup: hyperplane-LSH bucket join + exact cosine verify.
    * Multiple independent signature tables raise recall.
    * Buckets over `maxBucket` rows are dropped (see capBuckets); 0 disables.
    *
    * ONE scan: all nTables signatures computed in a single projection and
    * exploded into band structs (the Similarity.axisKnnJoin shape) — NOT a
    * union of nTables filtered scans, which would re-read the table
    * nTables times at 100 TB. */
  def embeddingNearDup(embs: DataFrame, cosThreshold: Double = 0.95,
                       nTables: Int = 4, bitsPerTable: Int = 12,
                       dim: Int = 64, seed: Long = 42L,
                       maxBucket: Int = 1000): DataFrame = {
    val planes = (0 until nTables)
      .map(t => vec.randomPlanes(bitsPerTable, dim, seed + t))
    val tables = bandedBuckets(embs, nTables,
      t => vec.hyperplane_sig(col("embedding"), planes(t)), maxBucket)
    val a = tables.select(col("_t"), col("_sig"), col("vec_id").as("a_id"),
      col("embedding").as("_ea"))
    val b = tables.select(col("_t"), col("_sig"), col("vec_id").as("b_id"),
      col("embedding").as("_eb"))
    a.join(b, Seq("_t", "_sig")).where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cos", vec.cosine(col("_ea"), col("_eb")))
      .where(col("cos") >= cosThreshold)
      .select("a_id", "b_id", "cos")
  }
}
