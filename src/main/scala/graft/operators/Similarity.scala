package graft.operators

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.operators.Materialized.materialize

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (array<float>). Three tiers:
 *  - bruteForceTopK: exact baseline — one codegen cosine scan + TakeOrdered;
 *  - lshTopK: hyperplane-LSH bucket probe (scale path; touches only
 *    signature-colliding rows);
 *  - ivfTopK: inverted-file probe — coarse centroids (k-means-style, built
 *    once), query probes the nprobe nearest lists only.
 */
object Similarity {

  /** Exact cosine top-k for one query vector: scan + orderBy + limit
    * (Spark plans TakeOrderedAndProject — no full sort). */
  def bruteForceTopK(embs: DataFrame, query: Array[Float], k: Int): DataFrame =
    embs.select(col("vec_id"), vec.cosine_to(col("embedding"), query).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** Multi-table LSH probe: candidates = rows sharing any signature with the
    * query; exact cosine re-rank of candidates only. Approximate — recall
    * grows with nTables / falls with bitsPerTable.
    *
    * ONE scan: all nTables signatures are computed in a single projection
    * and OR-combined into one filter (each disjunct a codegen expression),
    * instead of nTables separate filtered scans + union — at 100 TB the
    * difference is nTables full passes over the table. */
  def lshTopK(embs: DataFrame, query: Array[Float], k: Int,
              nTables: Int = 8, bitsPerTable: Int = 10,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    val matchAnyTable = (0 until nTables).map { t =>
      val planes = vec.randomPlanes(bitsPerTable, dim, seed + t)
      vec.hyperplane_sig(col("embedding"), planes) === sigOf(query, planes)
    }.reduce(_ || _)
    bruteForceTopK(embs.where(matchAnyTable), query, k)
  }

  /** Driver-side axis-sign signature of a literal vector (exact twin of
    * [[axisSig]]: pure sign tests, no float arithmetic). */
  def axisSigOf(v: Array[Float], t: Int, bits: Int): Long = {
    var sig = 0L
    var j = 0
    while (j < bits) {
      val i = t * bits + j
      if (i < v.length && v(i) > 0f) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Single-query ANN probe with axis-sign buckets: the same ONE-scan
    * OR-filter shape as [[lshTopK]] but with the SQL-replicable signature
    * family — the oracle-checkable twin of the probe path. */
  def axisTopK(embs: DataFrame, query: Array[Float], k: Int,
               nTables: Int, bits: Int): DataFrame = {
    require(nTables * bits <= query.length,
      s"axis-sign family reads dims [0, ${nTables * bits}) but the query " +
        s"has ${query.length} (ANSI element_at would throw past the array end)")
    val matchAnyTable = (0 until nTables).map { t =>
      axisSig(col("embedding"), t, bits) === axisSigOf(query, t, bits)
    }.reduce(_ || _)
    bruteForceTopK(embs.where(matchAnyTable), query, k)
  }

  /** Driver-side signature of a literal vector (must match HyperplaneSig). */
  def sigOf(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    planes.indices.foreach { b =>
      var dot = 0.0
      val len = math.min(v.length, planes(b).length)
      var i = 0
      while (i < len) { dot += v(i) * planes(b)(i); i += 1 }
      if (dot > 0) sig |= (1L << b)
    }
    sig
  }

  /** IVF index: Lloyd-iterated coarse centroids + per-row list assignment.
    * Returns (assignments with `list_id`, centroids driver-side). */
  def ivfBuild(embs: DataFrame, nLists: Int, iters: Int = 3,
               dim: Int = 64, seed: Long = 7L): (DataFrame, Array[Array[Float]]) = {
    // init: deterministic sample of nLists rows as centroids
    var centroids = embs.select("embedding")
      .orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(nLists).collect()
      .map(_.getSeq[Float](0).toArray)
    (0 until iters).foreach { _ =>
      val assigned = assign(embs, centroids)
      // new centroid = mean of list members (aggregate over exploded dims)
      val means = assigned.groupBy("list_id")
        .agg(array((0 until dim).map(i => avg(col("embedding")(i))): _*).as("c"))
        .collect().map(r => r.getAs[Number](0).intValue ->
          r.getSeq[Double](1).map(_.toFloat).toArray).toMap
      centroids = centroids.indices
        .map(i => means.getOrElse(i, centroids(i))).toArray
    }
    (assign(embs, centroids), centroids)
  }

  /** PORTABLE IVF build: centroids = the nLists rows FIRST in md5(vec_id)
    * order (replicable in any engine with md5 — no float arithmetic in the
    * selection), NO Lloyd iterations. The probe over this index is then
    * fully expressible in ANSI SQL (centroids are literal table rows, the
    * assignment is an argmax of cosines both engines compute in double) —
    * the oracle-checkable twin of [[ivfBuild]], same plan shape. */
  def ivfBuildPortable(embs: DataFrame, nLists: Int)
      : (DataFrame, Array[Array[Float]]) = {
    val centroids = seedRows(embs, nLists)
    (assign(embs, centroids), centroids)
  }

  /** The one portable seed selection ([[ivfBuildPortable]],
    * [[pqBuildPortable]], [[writeIvfPqIndex]]): the first `n` embeddings
    * in (md5(vec_id), vec_id) order — no float arithmetic, so any engine
    * with md5 replays the exact choice. Driver-small (n rows). */
  private def seedRows(embs: DataFrame, n: Int): Array[Array[Float]] =
    embs.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(n).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)

  /** Slice seed rows into the m per-subspace codebooks. */
  private def pqCodebooks(seeds: Array[Array[Float]], m: Int,
                          subDim: Int): Array[Array[Array[Float]]] =
    Array.tabulate(m)(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))

  private def assign(embs: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    // argmax over per-centroid cosine columns (static unroll, codegen'd).
    // LINEAR-size expression: array_max + first-match position. A pairwise
    // when(a.s >= b.s, a).otherwise(b) fold would DUPLICATE the accumulated
    // branch at every step — exponential expression size that OOMs codegen
    // at 16 centroids. Ties pick the lowest index (same as the fold did).
    val scored = centroids.zipWithIndex.foldLeft(embs) { case (df, (c, i)) =>
      df.withColumn(s"_c$i", vec.cosine_to(col("embedding"), c))
    }
    val scores = array(centroids.indices.map(i => col(s"_c$i")): _*)
    scored.withColumn("list_id",
        (array_position(scores, array_max(scores)) - 1).cast("int"))
      .drop(centroids.indices.map(i => s"_c$i"): _*)
  }

  /** Persist an IVF index Hive-partitioned on `list_id`: a probe over the
    * read-back table carries a literal `list_id IN (...)` predicate, so it
    * reads ONLY the nprobe list directories (PartitionFilters in the plan)
    * — the storage analogue of an inverted file, and the layout that makes
    * ivfTopK a pruned scan at 100 TB instead of a full pass. Centroids ride
    * along as a tiny JSON sidecar (nLists x dim floats, driver-small). A
    * full rebuild ([[LeafWrite.writer]]'s overwrite policy): no list of a
    * previous build survives. */
  def writeIvfIndex(assigned: DataFrame, centroids: Array[Array[Float]],
                    path: String): Unit = {
    // one file per list directory, not #tasks x #lists
    LeafWrite.partitioned(assigned, Seq("list_id")).mode("overwrite").parquet(path)
    IndexMeta.write(assigned.sparkSession, ivfMeta(path), centroids)
  }

  private def ivfMeta(path: String) = new org.apache.hadoop.fs.Path(path, "_centroids.json")

  /** Read back a stored IVF index: (assigned rows, centroids). The
    * underscore-prefixed sidecar is invisible to the parquet scan. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Array[Array[Float]]) = {
    val centroids = IndexMeta.read(spark, ivfMeta(path), "IVF centroids", "writeIvfIndex")
      .floatMatrix()
    (spark.read.parquet(path), centroids)
  }

  /** IVF probe: rank lists by centroid similarity, scan only the top
    * `nprobe` lists, exact re-rank within them. Over a table read from
    * [[writeIvfIndex]] the literal isin on the partition column `list_id`
    * becomes PartitionFilters — a directory-pruned scan. */
  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Float]],
              query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val lists = centroids.indices.sortBy(i => -cosD(centroids(i), query)).take(nprobe)
    bruteForceTopK(assigned.where(col("list_id").isin(lists: _*)), query, k)
  }

  // ---- product quantization (PQ) ---------------------------------------------

  /**
   * PORTABLE PQ codebooks + codes — the memory-bound ANN technique the
   * IVF/LSH tiers lack: each dim-`dim` embedding is split into `m`
   * subvectors and every subvector replaced by the id of its nearest
   * codeword, compressing a vector to `m` small ints (m=8, ksub=16 -> a
   * 64-float vector becomes 8 nibbles; at 100 TB the codes table fits
   * where the raw vectors never could, and ADC scans it without touching
   * the floats).
   *
   * Portability (the ivfBuildPortable discipline): the codewords are the
   * subvectors of the `ksub` rows FIRST in md5(vec_id) order — no float
   * arithmetic in the selection — and the encode argmin runs in DOUBLE
   * with squared-L2 accumulated in ascending-dim order, first-min
   * tie-break, so a DuckDB oracle recomputes the exact codes from the
   * embeddings table alone. Returns (embs + code_0..code_{m-1},
   * codebooks(s)(c) = subvector).
   */
  def pqBuildPortable(embs: DataFrame, m: Int = 8, ksub: Int = 16,
                      dim: Int = 64): (DataFrame, Array[Array[Array[Float]]]) = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val seeds = seedRows(embs, ksub)
    require(seeds.nonEmpty, "empty embeddings table")
    val codebooks = pqCodebooks(seeds, m, dim / m)
    (pqEncode(embs, codebooks), codebooks)
  }

  /** PQ encode: code_s = argmin_c squaredL2(subvector_s, codebook(s)(c)).
    * Distances in double with ascending-dim accumulation (cross-engine
    * exact), first-minimum ties. The shipping path is the codegen
    * [[graft.functions.PqSubArgmin]] expression — one tight JIT'd double
    * loop per subspace with the codebook as a reference object (the
    * [[assignLarge]] treatment: plan/codegen cost independent of
    * m x ksub x subDim, no per-element lambda dispatch on the full-corpus
    * encode pass). Bit-identical to the higher-order zip_with/aggregate
    * form the specs keep as its reference (PipelineOpsSpec pins the two on
    * NULLs, short vectors, NaN, and ties). */
  def pqEncode(embs: DataFrame,
               codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val subDim = codebooks(0)(0).length
    codebooks.zipWithIndex.foldLeft(embs) { case (df, (cb, s)) =>
      df.withColumn(s"code_$s",
        vec.pq_sub_argmin(col("embedding"),
          cb.map(_.map(_.toDouble)), s * subDim))
    }
  }

  /** ADC (asymmetric distance) top-k over a PQ codes table: the query's
    * exact squared-L2 to every codeword is a driver-computed lookup table
    * (m x ksub doubles), and each row's approximate distance is the sum of
    * its codes' LUT entries — the scan touches ONLY the code columns,
    * never the float vectors (the PQ payoff at rest). Left-associated
    * ascending-subspace sum (cross-engine exact). */
  def pqTopK(codes: DataFrame, codebooks: Array[Array[Array[Float]]],
             query: Array[Float], k: Int): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val lut: Array[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { cw =>
        (0 until subDim).map { j =>
          val d = query(s * subDim + j).toDouble - cw(j).toDouble
          d * d
        }.sum                      // ascending-dim left fold
      }.toSeq
    }
    val adc = (0 until m).map(s =>
      element_at(typedLit(lut(s)), col(s"code_$s") + 1)).reduce(_ + _)
    codes.select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(k)
  }

  // ---- stored IVF+PQ index ---------------------------------------------------

  /**
   * Persist the COMPOSED scale-path ANN index: portable IVF coarse lists
   * (directory pruning) over portable PQ codes (memory-bound storage) —
   * the stored table holds ONLY `(vec_id, code_0..code_{m-1})`
   * Hive-partitioned on `list_id`, never the raw float vectors: at 100 TB
   * the raw embeddings stay wherever they live, while this index is
   * ~m bytes/vector and a probe reads `nprobe / nLists` of it as a
   * directory-pruned code-column scan ([[ivfPqTopK]]). Centroids and
   * codebooks ride in a `_ivfpq_meta.json` sidecar (driver-small, through
   * [[IndexMeta]]), so probes always use the writer's own parameters. A
   * full rebuild ([[LeafWrite.writer]]'s overwrite policy). Both builds
   * are the PORTABLE recipes (md5-ordered seed selection, double
   * argmin/argmax, first-win ties), so the entire index + probe is
   * recomputable cross-engine from the embeddings table (gate
   * q_embed_ivfpq).
   */
  def writeIvfPqIndex(embs: DataFrame, path: String, nLists: Int = 8,
                      m: Int = 8, ksub: Int = 16, dim: Int = 64): Unit = {
    require(nLists >= 1, "nLists must be >= 1")
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    // ONE seed collect serves both builds: the first nLists of the seed
    // rows ARE the IVF centroids, the first ksub feed the PQ codebooks
    val seeds = seedRows(embs, math.max(nLists, ksub))
    require(seeds.nonEmpty, "empty embeddings table")
    val cents = seeds.take(nLists)
    val cbs = pqCodebooks(seeds.take(ksub), m, dim / m)
    LeafWrite.partitioned(
      pqEncode(assign(embs, cents), cbs)
        .select((col("vec_id") +: (0 until m).map(s => col(s"code_$s"))) :+
          col("list_id"): _*),
      Seq("list_id"))
      .mode("overwrite").parquet(path)
    IndexMeta.write(embs.sparkSession, ivfPqMeta(path),
      Seq("centroids" -> cents, "codebooks" -> cbs))
  }

  private def ivfPqMeta(path: String) = new org.apache.hadoop.fs.Path(path, "_ivfpq_meta.json")

  /** Read back a stored IVF+PQ index: (codes, centroids, codebooks). */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val m = IndexMeta.read(spark, ivfPqMeta(path), "IVF-PQ meta", "writeIvfPqIndex")
    (spark.read.parquet(path), m.floatMatrix("centroids"), m.floatMatrices("codebooks"))
  }

  /** Probe a stored IVF+PQ index: rank centroids by query cosine on the
    * driver, read ONLY the top-`nprobe` list directories (the literal
    * `list_id IN` lands as PartitionFilters), ADC-rank their codes via
    * the sidecar codebooks — [[pqTopK]]'s scan over `nprobe / nLists` of
    * an already-m-bytes-per-vector table. Approximate on two axes
    * (list pruning x PQ distance), both bounded by parameters the
    * sidecar pins. */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val (codes, cents, cbs) = readIvfPqIndex(spark, path)
    val lists = cents.indices.sortBy(i => -cosD(cents(i), query)).take(nprobe)
    pqTopK(codes.where(col("list_id").isin(lists: _*)), cbs, query, k)
  }

  /** Driver-side double cosine (the [[ivfTopK]] centroid-ranking basis). */
  private def cosD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val len = math.min(a.length, b.length)
    var i = 0
    while (i < len) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
  }

  /** Axis-sign LSH signature for band `t`: bit j = sign(embedding[t*bits+j])
    * — a hyperplane family aligned to the coordinate axes. No float
    * arithmetic at all (pure sign tests on stored values), hence exactly
    * replicable in ANSI SQL: this is the signature the DuckDB-gated ANN
    * join uses. Pure column expressions (codegen'd). */
  def axisSig(e: Column, t: Int, bits: Int): Column =
    (0 until bits).map { j =>
      when(element_at(e, t * bits + j + 1) > lit(0f), lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /**
   * Banded ANN join with axis-sign buckets: rows satisfying `probePred`
   * are joined to candidates sharing any band bucket (equi-join, never
   * all-pairs), then exact-cosine re-ranked to top-k per probe. Same scale
   * shape as [[knnJoin]]; the axis family makes the whole thing
   * oracle-checkable cross-engine. Requires nTables*bits <= dim.
   */
  def axisKnnJoin(embs: DataFrame, k: Int, nTables: Int, bits: Int,
                  probePred: Column, maxBucket: Int = 1000,
                  dim: Int = 64): DataFrame = {
    require(nTables * bits <= dim,
      s"axis-sign family reads dims [0, ${nTables * bits}) but dim=$dim " +
        "(ANSI element_at would throw past the array end)")
    val sigs = Dedup.bandedBuckets(embs, nTables,
      t => axisSig(col("embedding"), t, bits), maxBucket)
    val a = sigs.where(probePred)
      .select(col("_t"), col("_sig"), col("vec_id").as("a_id"), col("embedding").as("_ea"))
    val b = sigs.select(col("_t"), col("_sig"), col("vec_id").as("b_id"), col("embedding").as("_eb"))
    val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
    a.join(b, Seq("_t", "_sig")).where(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cos", vec.cosine(col("_ea"), col("_eb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("a_id", "b_id", "cos", "rank")
  }

  /** All-pairs top-k similarity join via LSH buckets (per-query window).
    * Buckets over `maxBucket` rows are dropped (Dedup.capBuckets discipline:
    * a degenerate bucket is quadratic and carries no ranking signal).
    *
    * ONE scan: all nTables signatures are computed in a single projection
    * and exploded into band structs (the axisKnnJoin shape) — a
    * union-of-filtered-scans would re-read the embeddings table nTables
    * times, which at 100 TB is nTables full passes. */
  def knnJoin(embs: DataFrame, k: Int, nTables: Int = 6, bitsPerTable: Int = 8,
              dim: Int = 64, seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val planes = (0 until nTables)
      .map(t => vec.randomPlanes(bitsPerTable, dim, seed + t))
    val tables = Dedup.bandedBuckets(embs, nTables,
      t => vec.hyperplane_sig(col("embedding"), planes(t)), maxBucket)
    val a = tables.select(col("_t"), col("_sig"), col("vec_id").as("a_id"),
      col("embedding").as("_ea"))
    val b = tables.select(col("_t"), col("_sig"), col("vec_id").as("b_id"),
      col("embedding").as("_eb"))
    val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
    a.join(b, Seq("_t", "_sig")).where(col("a_id") =!= col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cos", vec.cosine(col("_ea"), col("_eb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("a_id", "b_id", "cos", "rank")
  }

  // ---- distributed k-means (exact integer Lloyd) -----------------------------

  /** Quantized embedding: trunc(x * 1000) + 2000, positive for the
    * normalized-range vectors this engine stores ([-1, 1] comfortably
    * clears the -2 bound), so every later division is of positive
    * integers — Spark DIV == DuckDB // by construction. The double cast
    * comes FIRST (a float*int product would round differently across
    * engines). Spark's CAST to BIGINT truncates toward zero; the DuckDB
    * twin must spell TRUNC() out (its double->BIGINT cast ROUNDS). */
  private[graft] def quantized: Column = expr(
    "transform(embedding, x -> " +
      "CAST(CAST(x AS DOUBLE) * 1000.0D AS BIGINT) + 2000L)")

  /** Squared-L2 argmin assignment over a frame carrying the quantized
    * `_q` column — the ONE assignment implementation every shipping
    * k-means path uses (fit rounds, fit output, predict, purity, coreset,
    * SemDeDup): the codegen [[graft.functions.QDistArgmin]] expression
    * (constant centroids as a reference object — plan size AND generated
    * source independent of k x dim, so the compiled class is reused
    * across Lloyd iterations; tight JIT'd long loop instead of
    * per-element lambda dispatch). First-minimum ties; adds `cluster`
    * and `d2`. Bit-identical to the unrolled-literal and the higher-order
    * zip_with/aggregate assignments the specs keep as its references
    * (spec-enforced; q_embed_kmeans_large shares q_embed_kmeans's oracle
    * verbatim). The `_ba` struct projection is a real column (referenced
    * twice, non-cheap): one argmin evaluation per row. */
  private[graft] def assignLarge(q: DataFrame,
                                 cents: Array[Array[Long]]): DataFrame =
    q.withColumn("_ba", vec.qdist_argmin(col("_q"), cents))
      .withColumn("cluster", col("_ba").getField("cluster"))
      .withColumn("d2", col("_ba").getField("d2"))
      .drop("_ba")

  /**
   * Distributed Lloyd k-means in EXACT integer arithmetic — every step
   * bit-reproducible across engines and partitionings, so the WHOLE
   * iteration (not just an assignment against fixed seeds, which is what
   * [[ivfBuildPortable]] does) is oracle-checkable:
   *
   *  - vectors quantize to positive integers ([[quantized]]);
   *  - seeds = the first k quantized vectors in (md5(vec_id), vec_id)
   *    order (the shared portable-seed recipe);
   *  - each of `iters` rounds runs a DISTRIBUTED argmin assignment
   *    (broadcast centroid literals inside one codegen projection) and a
   *    DISTRIBUTED centroid update (posexplode -> per-(cluster, dim)
   *    sum/count with map-side combine -> truncating integer mean);
   *    only the k x dim integer centroid table ever reaches the driver.
   *    Empty clusters keep their previous centroid.
   *
   * The quantized frame is materialized ONCE ([[Materialized]]) for the
   * seed collect + iteration passes and released deterministically
   * before returning (zero pinned blocks — the clustering-gate
   * contract); the RETURNED assignment re-derives its lineage from the
   * source frame, so consuming it costs one extra quantize projection
   * but never touches the released blocks. Returns the final assignment
   * (vec_id, cluster, d2) and the final centroids.
   */
  def kmeansFitPortable(embs: DataFrame, k: Int, iters: Int, dim: Int = 64)
      : (DataFrame, Array[Array[Long]]) = {
    val cents = lloyd(embs, k, iters, dim)
    // the returned frame is built over the SOURCE lineage — the iteration
    // blocks are already released (localCheckpoint would pin a block only
    // the GC-driven ContextCleaner can free)
    val out = assignLarge(
        embs.select(col("vec_id"), quantized.as("_q")), cents)
      .select("vec_id", "cluster", "d2")
    (out, cents)
  }

  /** Bounded top-k accumulator for the portable seed selection: keeps the
    * k rows MINIMAL by (md5(vec_id), vec_id), exactly the
    * `orderBy(md5(cast(vec_id AS string)), vec_id).limit(k)` order (the
    * driver MessageDigest md5 of the decimal string is byte-identical to
    * Spark's md5 of the same cast). Set semantics absorb at-least-once
    * task retries (a retried row re-inserts its identical key). The set is
    * keyed by (md5, vec_id) alone, so rows sharing a vec_id collapse to ONE
    * seed candidate, whose vector is whichever duplicate was added first
    * (task order) — unlike the orderBy/limit form, which returns each
    * duplicate. Bounded: every executor-side instance trims to k entries. */
  private final class SeedAcc(k: Int)
      extends org.apache.spark.util.AccumulatorV2[
        (String, Long, Array[Long]),
        List[(String, Long, Array[Long])]] {
    private val ord =
      Ordering.by[(String, Long, Array[Long]), (String, Long)](t => (t._1, t._2))
    private var set =
      scala.collection.mutable.TreeSet.empty[(String, Long, Array[Long])](ord)
    override def isZero: Boolean = set.isEmpty
    override def copy(): SeedAcc = {
      val c = new SeedAcc(k); c.set = set.clone(); c
    }
    override def reset(): Unit = set.clear()
    override def add(v: (String, Long, Array[Long])): Unit = {
      set.add(v)
      while (set.size > k) set.remove(set.last)
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (String, Long, Array[Long]), List[(String, Long, Array[Long])]]): Unit =
      other.value.foreach(add)
    override def value: List[(String, Long, Array[Long])] = set.toList
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The seed + iteration core of [[kmeansFitPortable]]: quantizes ONCE
    * into persisted storage — the SEED SELECTION rides that same
    * materialization pass via a bounded top-k accumulator, so no
    * separate full-corpus sort-limit job runs (round 6: one whole
    * corpus pass per fit removed at any scale) — then runs `iters`
    * assignment/update rounds and releases the blocks deterministically
    * before returning the final integer centroids (zero pinned blocks —
    * the clustering-gate contract). */
  private def lloyd(embs: DataFrame, k: Int, iters: Int,
                    dim: Int): Array[Array[Long]] =
    lloydWith(embs, k, iters, dim)((cents, _) => cents)

  /** [[lloyd]] that also hands the materialized quantized frame
    * `(vec_id, _q)` to `use` with the final centroids, so a caller that
    * immediately needs the final assignment (SemDeDup) derives it from
    * the materialized blocks instead of re-reading + re-quantizing the
    * source — one fewer full corpus pass. The blocks are released when
    * `use` returns or throws, so `use` must materialize whatever it keeps
    * of the frame. */
  private def lloydWith[A](embs: DataFrame, k: Int, iters: Int, dim: Int)
                          (use: (Array[Array[Long]], DataFrame) => A): A = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val src = embs.select(col("vec_id"), quantized.as("_q"))
    val acc = new SeedAcc(k)
    src.sparkSession.sparkContext.register(acc, "kmeans-seed-topk")
    Using.resource(materialize(src, tap = r => {
      // NULL ids sort FIRST under Spark's ascending nulls-first order;
      // "" sorts before every md5 hex, replicating that placement
      val key = if (r.isNullAt(0)) "" else md5Hex(r.getLong(0).toString)
      val id = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      val vec = if (r.isNullAt(1)) null else r.getArray(1).toLongArray()
      acc.add((key, id, vec))
    })) { q =>
      var cents: Array[Array[Long]] = acc.value.sortBy(t => (t._1, t._2))
        .take(k).map(_._3).toArray
      require(cents.length == k, s"need >= $k vectors, got ${cents.length}")
      require(cents.forall(_.length == dim), "dim mismatch")
      for (_ <- 0 until iters) {
        val sums = assignLarge(q.df, cents)
          .select(col("cluster"), posexplode(col("_q")).as(Seq("d", "v")))
          .groupBy("cluster", "d").agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()                      // k x dim rows — driver-small
        val next = cents.map(_.clone())   // empty cluster: keep previous
        sums.foreach { r =>
          next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
        }
        cents = next
      }
      use(cents, q.df)
    }
  }

  /**
   * SemDeDup-style semantic deduplication: cluster with the portable
   * integer k-means, then drop every vector that has a SMALLER-id
   * co-cluster member within quantized squared-L2 `d2Max` (greedy min-id
   * survivor — the exactSurvivors convention; deterministic, and exact
   * integer arithmetic end-to-end, so a DuckDB oracle replays the whole
   * pipeline including the clustering). Returns (vec_id, cluster,
   * kept 1|0).
   *
   * Scale shape: the candidate join is an equi-join ON the cluster id —
   * never all-pairs. The quadratic term is n^2/k in expectation, so the
   * caller sizes k large (the [[assignLarge]] assignment is
   * k-independent in plan cost; the bound is the centroid array's
   * broadcast size, see [[kmeansPredict]]); clusters that still
   * exceed `maxCluster` rows opt OUT of pair
   * generation entirely (all rows kept — the capBuckets discipline: a
   * degenerate cluster is quadratic and a cluster that big carries no
   * near-dup signal worth n^2 work), which the oracle replicates as a
   * HAVING count filter. The assignment frame is materialized ONCE
   * ([[Materialized]]) and serves the size census, both pair sides, and
   * the output join; the result goes through [[Dedup.scratchResult]]
   * (`cc_sem_` prefix, purge via [[Dedup.purgeClusterScratch]]) so the
   * returned frame is self-contained and zero blocks stay pinned.
   */
  def semanticDedup(embs: DataFrame, k: Int, iters: Int, d2Max: Long,
                    maxCluster: Long = 100000L, dim: Int = 64): DataFrame = {
    require(d2Max >= 0L, "d2Max must be >= 0")
    // the fit's materialized quantized frame feeds the assignment
    // materialization directly: no second source read + quantize pass
    val assigned = lloydWith(embs, k, iters, dim) { (cents, qFit) =>
      materialize(assignLarge(qFit, cents)
        .select(col("vec_id"), col("cluster"), col("_q")))
    }
    Using.resource(assigned) { qa =>
      val dropped = semanticDedupDropped(qa.df, maxCluster, d2Max)
      val out = qa.df.select("vec_id", "cluster")
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          when(col("_drop").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
      Dedup.scratchResult(out, "cc_sem")
    }
  }

  /** The candidate pass shared by [[semanticDedup]] and the PLANS.md
    * evidence generator (graft.Plans) — factored so the recorded plan
    * can never drift from the shipped pipeline. Input is the assignment
    * frame (vec_id, cluster, _q); output is the distinct dropped-id
    * frame (vec_id, _drop=1): cluster-size census, maxCluster opt-out
    * via the broadcast eligible list, within-cluster pair explode by
    * equi-join on the cluster id, zip_with exact integer distance,
    * greedy min-id drop. */
  private[graft] def semanticDedupDropped(qa: DataFrame, maxCluster: Long,
                                          d2Max: Long): DataFrame = {
    val small = qa.groupBy("cluster").agg(count(lit(1)).as("_n"))
      .where(col("_n") <= lit(maxCluster)).select("cluster")
    val eligible = qa.join(broadcast(small), Seq("cluster"))     // <= k rows
    val a = eligible.select(col("cluster"), col("vec_id").as("a_id"),
      col("_q").as("_qa"))
    val b = eligible.select(col("cluster"), col("vec_id").as("b_id"),
      col("_q").as("_qb"))
    // codegen integer squared-L2 (SqDistLongCols): bit-identical to the
    // aggregate(zip_with(...)) lambda form it replaces, ~an order of
    // magnitude faster on the quadratic within-cluster pair volume —
    // THE SemDeDup hot loop at any scale
    val pairD2 = vec.sqdist_long(col("_qa"), col("_qb"))
    a.join(b, Seq("cluster"))
      .where(col("a_id") < col("b_id"))
      .where(pairD2 <= lit(d2Max))
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("_drop", lit(1L))
  }

  /** Assign rows to STORED integer centroids (no fitting): the apply-many
    * half of the fit-once/apply-many pipeline — at 100 TB the model is
    * fit on a sample ([[kmeansFitPortable]]) and this one codegen
    * projection (centroid literals broadcast inside the expression, no
    * join, no shuffle) labels the full corpus. Row-preserving: duplicate
    * vec_ids emit every copy and a NULL embedding keeps its row with a
    * NULL cluster/d2. Bound: the k x dim centroid array ships with the
    * task binary (~8 bytes per entry — k=100k at dim 64 is ~50 MB); past
    * that a broadcast centroid TABLE join with an explicit row key is the
    * next tier. */
  def kmeansPredict(embs: DataFrame, cents: Array[Array[Long]]): DataFrame =
    assignLarge(embs.select(col("vec_id"), quantized.as("_q")), cents)
      .select("vec_id", "cluster", "d2")

  /** Persist fitted integer centroids as a JSON sidecar (k x dim longs,
    * driver-small, through [[IndexMeta]]: apply-side reads the writer's own
    * parameters, divergence impossible). */
  def writeKmeansModel(spark: org.apache.spark.sql.SparkSession, path: String,
                       cents: Array[Array[Long]]): Unit =
    IndexMeta.write(spark, kmeansMeta(path), cents)

  private def kmeansMeta(path: String) =
    new org.apache.hadoop.fs.Path(path, "_kmeans_model.json")

  /** Read back a stored k-means model ([[writeKmeansModel]]). */
  def readKmeansModel(spark: org.apache.spark.sql.SparkSession, path: String)
      : Array[Array[Long]] =
    IndexMeta.read(spark, kmeansMeta(path), "k-means model", "writeKmeansModel").longMatrix()

  // ---- embedding-label evaluation ---------------------------------------------

  /**
   * Exact kNN majority-label classification of the probe rows: each row
   * satisfying `probePred` is ranked against every OTHER row by exact
   * cosine (desc, ties to the lowest candidate id); its top `k`
   * neighbors vote with their stored `label`; majority wins, vote ties
   * to the lowest label. Returns (vec_id, label_pred, votes) — the
   * training-data QA surface: probes whose predicted label disagrees
   * with their stored one are mislabel suspects.
   *
   * Scale shape: the probe set is BROADCAST against one scan of the
   * table (exact by construction), so the probe count must stay
   * bounded — eval sets are small by contract. Unbounded probe sets use
   * [[knnClassifyAnn]], the banded equi-join twin with no broadcast.
   */
  def knnClassify(embs: DataFrame, k: Int, probePred: Column): DataFrame = {
    val probes = embs.where(probePred)
      .select(col("vec_id").as("a_id"), col("embedding").as("_ea"))
    val cands = embs.select(col("vec_id").as("b_id"),
      col("embedding").as("_eb"), col("label").as("_lb"))
    val wTop = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
    val topk = cands.crossJoin(broadcast(probes))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("cos", vec.cosine(col("_ea"), col("_eb")))
      .withColumn("_r", row_number().over(wTop))
      .where(col("_r") <= lit(k))
    vote(topk)
  }

  /** ANN twin of [[knnClassify]]: the neighbors come from
    * [[axisKnnJoin]]'s banded equi-join (single scan, never all-pairs,
    * no broadcast), then vote by label — the 100 TB classification
    * shape, oracle-checkable through the axis-sign signature family. */
  def knnClassifyAnn(embs: DataFrame, k: Int, nTables: Int, bits: Int,
                     probePred: Column, maxBucket: Int = 1000,
                     dim: Int = 64): DataFrame = {
    val nn = axisKnnJoin(embs, k, nTables, bits, probePred, maxBucket, dim)
    val labels = embs.select(col("vec_id").as("b_id"), col("label").as("_lb"))
    vote(nn.join(labels, Seq("b_id")))
  }

  /** Majority vote over a neighbor frame carrying (a_id, _lb): returns
    * (vec_id, label_pred, votes); vote ties to the lowest label. The
    * window runs over the per-probe label-vote table (<= k rows per
    * probe), never the raw neighbor rows. NULL-labeled neighbors are
    * excluded — they carry no vote, and a NULL in the tie-break order
    * diverges cross-engine (Spark NULLS FIRST vs DuckDB NULLS LAST). */
  private def vote(nbrs: DataFrame): DataFrame = {
    val w = Window.partitionBy("a_id").orderBy(col("votes").desc, col("_lb"))
    nbrs.where(col("_lb").isNotNull)
      .groupBy(col("a_id"), col("_lb"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_rv", row_number().over(w))
      .where(col("_rv") === 1)
      .select(col("a_id").as("vec_id"),
        col("_lb").cast("long").as("label_pred"), col("votes"))
  }

  /**
   * Cluster label purity: for every portable-k-means cluster, the member
   * count, the majority stored label (vote ties to the lowest label)
   * and its vote count — label-noise / cluster-quality QA. ONE
   * partial+final hash agg on (cluster, label) over the assignment
   * projection; every later step (majority window, totals, join) runs
   * on the k x |labels| vote table, which is tiny by construction.
   * NULL-labeled members are excluded (no vote; and a NULL tie-break
   * diverges cross-engine), so `n_rows` counts LABELED members.
   */
  def clusterLabelPurity(embs: DataFrame, k: Int, iters: Int,
                         dim: Int = 64): DataFrame = {
    val cents = lloyd(embs, k, iters, dim)
    val a = assignLarge(
      embs.select(col("vec_id"), col("label"), quantized.as("_q")), cents)
      .where(col("label").isNotNull)
    val votes = a.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
    // totals as a window-sum over the SAME tiny vote table (one subtree,
    // one exchange) — a second aggregate + join would duplicate the whole
    // assignment lineage in the plan and re-aggregate it at runtime
    // (round-6: the duplicated subtree alone cost ~2 s per call at toy
    // scale, and one corpus aggregation instead of two at any scale)
    val wS = Window.partitionBy("cluster")
    val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("label"))
    votes.withColumn("n_rows", sum("n").over(wS))
      .withColumn("_r", row_number().over(w)).where(col("_r") === 1)
      .select(col("cluster"), col("n_rows"),
        col("label").cast("long").as("label_major"), col("n").as("n_major"))
  }

  /**
   * Cluster-balanced coreset: the `m` most-central vectors of every
   * k-means cluster (smallest quantized d2 to the centroid, ties to the
   * lowest vec_id) — diversity-preserving downsampling for training-data
   * curation (uniform sampling over-represents dense regions; per-cluster
   * quotas keep the tails). Exact integer ranking — fully oracle-
   * checkable. The window partitions on the cluster id, never a global
   * sort; per-partition load is n/k, and the [[assignLarge]] assignment
   * keeps plan cost k-independent (bound: the centroid array's
   * broadcast size, see [[kmeansPredict]]).
   */
  def clusterCoreset(embs: DataFrame, k: Int, iters: Int, m: Int,
                     dim: Int = 64): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val (assigned, _) = kmeansFitPortable(embs, k, iters, dim)
    val w = Window.partitionBy("cluster").orderBy(col("d2"), col("vec_id"))
    assigned.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= lit(m))
      .select("vec_id", "cluster", "d2", "rnk")
  }
}
