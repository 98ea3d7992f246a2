package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Frequency, Sampling, Similarity, SimilarityOracle, TextOps}

/** Dedup / similarity / text-analysis operators vs brute-force oracles on
  * fixtures with planted duplicates and near-duplicates. */
class PipelineOpsSpec extends SparkFunSuite {
  import spark.implicits._

  // ---- document fixture with planted near-dups ------------------------------
  private val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
    "table query scan join filter group window sort merge hash").split(" ")

  private def doc(id: Long, words: Int, seed: Long): String = {
    val r = new scala.util.Random(id * 7919 + seed)
    Seq.fill(words)(vocab(r.nextInt(vocab.length))).mkString(" ")
  }
  private def mutate(text: String, nEdits: Int, seed: Long): String = {
    val r = new scala.util.Random(seed)
    val w = text.split(" ").toBuffer
    (0 until nEdits).foreach { _ =>
      w(r.nextInt(w.size)) = vocab(r.nextInt(vocab.length))
    }
    w.mkString(" ")
  }

  // 60 base docs; ids 100+ are exact copies of 0-9; ids 200+ near-dups of 10-29
  private lazy val docRows: Seq[(Long, String)] = {
    val base = (0L until 60L).map(i => i -> doc(i, 60, 1L))
    val exact = (0L until 10L).map(i => (100L + i) -> base(i.toInt)._2)
    val near = (0L until 20L).map(i => (200L + i) ->
      mutate(base(10 + i.toInt)._2, 3, 999 + i))   // ~95% word overlap
    base ++ exact ++ near
  }
  private lazy val docs = docRows.toDF("doc_id", "text").cache()

  private def bruteJaccard(a: String, b: String, n: Int): Double = {
    def sh(t: String) = t.split(" +").sliding(n).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup finds exactly the planted copies") {
    val out = Dedup.exact(docs).where(col("dupes") > 1).collect()
    assert(out.length == 10)
    out.foreach(r => assert(r.getLong(1) < 10 && r.getLong(2) == 2))
    val survivors = Dedup.exactSurvivors(docs)
    assert(survivors.count() == 80)   // 90 rows - 10 copies
    assert(survivors.where(col("doc_id") >= 100 && col("doc_id") < 110).count() == 0)
  }

  test("ngramJaccard (exact postings join) equals brute force over all pairs") {
    val got = Dedup.ngramJaccard(docs, nGram = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = (for {
      i <- docRows.indices; j <- (i + 1) until docRows.size
      (ia, ta) = docRows(i); (ib, tb) = docRows(j)
      jac = bruteJaccard(ta, tb, 3)
      if jac >= 0.5
    } yield (math.min(ia, ib), math.max(ia, ib)) -> jac).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${(expected.keySet -- got.keySet).take(5)} extra=${(got.keySet -- expected.keySet).take(5)}")
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-9) }
    // planted near-dups are in there
    assert(expected.keySet.count { case (a, b) => b >= 200 && a == b - 190 } >= 18)
  }

  test("minhashLsh: exact-precision candidates, high recall on planted near-dups") {
    // 3 edits in 60 words => ~9 of ~58 shingles differ => jaccard ~0.73;
    // 8 bands of 2 rows: P(detect) = 1-(1-0.73^2)^8 ~ 0.998
    val got = Dedup.minhashLsh(docs, nGram = 3, nHashes = 16, bands = 8,
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (verified Jaccard); check it
    got.foreach { case (a, b) =>
      val ta = docRows.find(_._1 == a).get._2
      val tb = docRows.find(_._1 == b).get._2
      assert(bruteJaccard(ta, tb, 3) >= 0.5, s"false positive ($a,$b)")
    }
    // recall on planted exact copies (jaccard 1.0) must be 100%
    (0L until 10L).foreach(i => assert(got.contains((i, 100L + i)), s"missed exact pair $i"))
    // recall on planted near-dups: probabilistic but >= 90% at these params
    val nearFound = (0L until 20L).count(i => got.contains((10L + i, 200L + i)))
    assert(nearFound >= 18, s"near-dup recall $nearFound/20")
  }

  test("minhashLshPortable: exact precision, full recall on planted exact " +
       "copies, high recall on near-dups (md5-string signature family)") {
    val got = Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 8, bands = 8,
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (a, b) =>
      val ta = docRows.find(_._1 == a).get._2
      val tb = docRows.find(_._1 == b).get._2
      assert(bruteJaccard(ta, tb, 3) >= 0.5, s"false positive ($a,$b)")
    }
    (0L until 10L).foreach(i => assert(got.contains((i, 100L + i)), s"missed exact pair $i"))
    assert((0L until 20L).count(i => got.contains((10L + i, 200L + i))) >= 18)
  }

  test("simhash: near-identical docs within small Hamming distance; pairs found via banding") {
    val sh = Dedup.withSimhash(docs).select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(i => assert(sh(i) == sh(100L + i)))  // identical text
    val got = Dedup.simhashNearDup(docs, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach(i => assert(got.contains((i, 100L + i))))
    // hamming values returned match direct computation
    Dedup.simhashNearDup(docs, maxHamming = 16).collect().foreach { r =>
      val h = java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      assert(r.getInt(2) == h)
    }
  }

  test("hot-bucket cap: a degenerate 1200-doc bucket is dropped, planted pairs survive") {
    // 1200 identical near-empty docs: without the cap, minhash banding puts
    // all of them in one bucket => ~720k candidate pairs from garbage; with
    // the default cap (1000) the bucket is dropped entirely
    val degenerate = (5000L until 6200L).map(i => i -> "spam spam spam spam")
    val mixed = (docRows ++ degenerate).toDF("doc_id", "text")
    val got = Dedup.minhashLsh(mixed, nGram = 3, nHashes = 16, bands = 8,
      threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists { case (a, b) => a >= 5000L && b >= 5000L },
      "degenerate bucket leaked candidate pairs")
    (0L until 10L).foreach(i => assert(got.contains((i, 100L + i)), s"lost exact pair $i"))
    // same discipline on the simhash path (identical docs share all bands)
    val got2 = Dedup.simhashNearDup(mixed, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got2.exists { case (a, b) => a >= 5000L && b >= 5000L })
    (0L until 10L).foreach(i => assert(got2.contains((i, 100L + i))))
    // cap disabled => the degenerate pairs DO appear (the cap is load-bearing)
    val uncapped = Dedup.simhashNearDup(
      (docRows.take(1) ++ degenerate.take(50)).toDF("doc_id", "text"),
      maxHamming = 16, maxBucket = 0).collect()
    assert(uncapped.count(r => r.getLong(0) >= 5000L && r.getLong(1) >= 5000L) == 50 * 49 / 2)
  }

  test("ngramJaccard document-frequency cut drops stop-shingle-only pairs") {
    // every doc shares ONLY the boilerplate shingle "stop stop stop"
    val rows = (0L until 20L).map(i => i -> s"stop stop stop w$i x$i y$i")
    val df = rows.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccard(df, nGram = 3, threshold = 0.01, maxDocFreq = 0)
    assert(exact.count() == 20 * 19 / 2)          // all pairs share 1 shingle
    val cut = Dedup.ngramJaccard(df, nGram = 3, threshold = 0.01, maxDocFreq = 10)
    assert(cut.count() == 0, "df cut failed to drop the stop shingle")
  }

  // ---- embeddings fixture -----------------------------------------------------
  private val dim = 64
  private def randVec(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = Array.fill(dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
    v.map(_ / n)
  }
  private def perturb(v: Array[Float], eps: Float, seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    val w = v.map(x => x + eps * r.nextGaussian().toFloat)
    val n = math.sqrt(w.map(x => x * x.toDouble).sum).toFloat
    w.map(_ / n)
  }
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < dim) { d += a(i) * b(i); i += 1 }
    d  // unit vectors
  }

  // CLUSTERED fixture (ANN is vacuous on uniform random vectors — near-
  // orthogonal in 64-dim): 20 centers x 15 members at cos ~0.94, plus 15
  // planted near-dup partners (cos ~0.999) of vectors 0..14.
  private lazy val vecRows: Seq[(Long, Array[Float])] = {
    val centers = (0 until 20).map(k => randVec(9000 + k))
    val base = (0L until 300L).map { i =>
      i -> perturb(centers((i % 20).toInt), 0.06f, 5000 + i)
    }
    val near = (0L until 15L).map(i => (1000L + i) ->
      perturb(base(i.toInt)._2, 0.005f, 7000 + i))
    base ++ near
  }
  private lazy val embs = vecRows.map { case (id, v) => (id, v.toSeq) }
    .toDF("vec_id", "embedding").cache()

  test("embeddingNearDup finds planted cosine near-dup pairs, none spurious") {
    val got = Dedup.embeddingNearDup(embs, cosThreshold = 0.95, nTables = 6,
      bitsPerTable = 10, dim = dim).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 15L).map(i => (i, 1000L + i)).toSet
    // exact-precision: every returned pair truly above threshold
    got.foreach { case (a, b) =>
      val va = vecRows.find(_._1 == a).get._2
      val vb = vecRows.find(_._1 == b).get._2
      assert(cosine(va, vb) >= 0.95, s"false positive ($a,$b)")
    }
    val found = planted.count(got.contains)
    assert(found >= 13, s"recall $found/15")
  }

  test("bruteForceTopK equals the scala brute-force ranking exactly") {
    val q = randVec(123456)
    val got = Similarity.bruteForceTopK(embs, q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expected = vecRows.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) => assert(math.abs(g - e) < 1e-6) }
  }

  test("lshTopK: recall@10 >= 0.6 vs brute force; planted near-dup found at rank 1") {
    val q = vecRows.find(_._1 == 3L).get._2   // query = vector 3 itself
    val brute = Similarity.bruteForceTopK(embs, q, 10).collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(embs, q, 10, nTables = 8, bitsPerTable = 8,
      dim = dim).collect().map(_.getLong(0)).toSet
    assert(approx.intersect(brute).size >= 6, s"recall ${approx.intersect(brute).size}/10")
    assert(approx.contains(3L) && approx.contains(1003L))
  }

  test("ivfTopK: probing a quarter of the lists keeps recall@10 >= 0.7") {
    val (assigned, centroids) = Similarity.ivfBuild(embs, nLists = 16, iters = 2, dim = dim)
    val cached = assigned.cache()
    val q = randVec(424242)
    val brute = Similarity.bruteForceTopK(embs, q, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(cached, centroids, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(brute).size >= 7, s"recall ${ivf.intersect(brute).size}/10")
    // every row landed in some list
    assert(cached.where(col("list_id").isNull).count() == 0)
    cached.unpersist()
  }

  test("PQ: codes equal the scala brute-force argmin; ADC top-k recalls " +
       "the exact neighbors on the clustered fixture") {
    val m = 8; val ksub = 16; val subDim = dim / m
    val (codesDf, cbs) = Similarity.pqBuildPortable(embs, m, ksub, dim)
    assert(cbs.length == m && cbs(0).length == ksub &&
      cbs(0)(0).length == subDim)
    // brute-force encode in scala (double squared-L2, first-min ties)
    def encode(v: Array[Float]): Seq[Int] = (0 until m).map { s =>
      val d = cbs(s).map { cw =>
        (0 until subDim).map { j =>
          val x = v(s * subDim + j).toDouble - cw(j).toDouble; x * x
        }.sum
      }
      d.indexOf(d.min)
    }
    val got = codesDf.select((col("vec_id") +:
        (0 until m).map(i => col(s"code_$i"))): _*)
      .collect().map(r => r.getLong(0) ->
        (1 to m).map(r.getInt).toSeq).toMap
    vecRows.foreach { case (id, v) =>
      assert(got(id) == encode(v), s"vec $id")
    }
    // ADC ranking: the planted near-dup partner of vector 3 must surface,
    // and recall@20 vs the exact L2 neighbors stays useful
    val q = vecRows.find(_._1 == 3L).get._2
    val adc = Similarity.pqTopK(codesDf, cbs, q, 20).collect()
      .map(_.getLong(0)).toSet
    def l2(a: Array[Float], b: Array[Float]): Double =
      (0 until dim).map(i => { val d = a(i).toDouble - b(i); d * d }).sum
    val exact = vecRows.map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(20).map(_._1).toSet
    assert(adc.intersect(exact).size >= 10,
      s"ADC recall ${adc.intersect(exact).size}/20")
    assert(adc.contains(3L) && adc.contains(1003L),
      "query vector / planted near-dup missing from ADC top-20")
  }

  // ---- portable k-means -------------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-side twin of kmeansFitPortable: pure integer Lloyd, the same
    * quantization / md5 seeding / truncating mean / first-min ties. */
  private def refKmeans(rows: Seq[(Long, Array[Float])], k: Int, iters: Int)
      : (Map[Long, (Long, Long)], Seq[Array[Long]]) = {
    val q = rows.map { case (id, v) =>
      id -> v.map(x => (x.toDouble * 1000.0).toLong + 2000L)
    }
    var cents: Seq[Array[Long]] = q
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(k).map(_._2)
    def assign(v: Array[Long]): (Int, Long) = {
      val d = cents.map(c => c.indices.map { j =>
        val t = v(j) - c(j); t * t
      }.sum)
      val m = d.min
      (d.indexOf(m), m)
    }
    (0 until iters).foreach { _ =>
      val byCl = q.map { case (_, v) => (assign(v)._1, v) }.groupBy(_._1)
      cents = cents.indices.map { cl =>
        byCl.get(cl) match {
          case Some(vs) => Array.tabulate(cents(cl).length)(j =>
            vs.map(_._2(j)).sum / vs.size)   // positive: / == truncation
          case None => cents(cl)             // empty cluster keeps previous
        }
      }
    }
    val out = q.map { case (id, v) =>
      val (cl, d2) = assign(v); id -> (cl.toLong, d2)
    }.toMap
    (out, cents)
  }

  test("kmeansFitPortable matches the integer-exact driver reference " +
       "bit-for-bit and pins no blocks") {
    embs.count()   // register the fixture's own cache before the baseline
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (assigned, cents) = Similarity.kmeansFitPortable(embs, k = 5, iters = 3)
    val got = assigned.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned blocks leaked: $leaked")
    val (expected, expCents) = refKmeans(vecRows, k = 5, iters = 3)
    assert(got.size == expected.size)
    expected.foreach { case (id, e) => assert(got(id) == e, s"vec $id") }
    cents.zip(expCents).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g.toSeq == e.toSeq, s"centroid $i")
    }
    // every planted near-dup pair co-clusters (d ~0.005 perturbation)
    (0L until 15L).foreach { i =>
      assert(got(i)._1 == got(1000L + i)._1, s"near-dup pair $i split")
    }
  }

  test("kmeansFitPortable: duplicate seeds leave a cluster empty and its " +
       "centroid is retained verbatim") {
    // two distinct points, each duplicated; k=3 seeds must contain a
    // duplicate pair, so at least one cluster ends every round empty
    val pts = Seq(
      0L -> Array.fill(4)(0.5f), 1L -> Array.fill(4)(0.5f),
      2L -> Array.fill(4)(-0.5f), 3L -> Array.fill(4)(-0.5f))
    val df = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val (assigned, cents) = Similarity.kmeansFitPortable(df, k = 3, iters = 2, dim = 4)
    val (expected, expCents) = refKmeans(pts, k = 3, iters = 2)
    val got = assigned.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    expected.foreach { case (id, e) => assert(got(id) == e, s"vec $id") }
    cents.zip(expCents).foreach { case (g, e) => assert(g.toSeq == e.toSeq) }
    // the empty cluster kept a seed vector verbatim: quantized +/-0.5
    // coords are 1500/2500, and some cluster attracted zero members
    val used = got.values.map(_._1).toSet
    assert(used.size < 3, "expected at least one empty cluster")
    // members sit exactly on their centroid (duplicates): d2 == 0
    got.values.foreach { case (_, d2) => assert(d2 == 0L) }
  }

  test("semanticDedup drops exactly the smaller-id-neighbor rows the " +
       "driver reference computes; planted near-dup partners all drop") {
    val k = 5; val iters = 2; val d2Max = 10000L   // ~cos 0.995 on unit vecs
    embs.count()   // register the fixture's own cache before the baseline
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Similarity.semanticDedup(embs, k, iters, d2Max).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned by semanticDedup: $leaked")
    // driver reference: refKmeans assignment, then greedy min-id survivor
    // over exact integer pair distances within each cluster
    val (asg, _) = refKmeans(vecRows, k, iters)
    val quant = vecRows.map { case (id, v) =>
      id -> v.map(x => (x.toDouble * 1000.0).toLong + 2000L)
    }.toMap
    def pairD2(a: Long, b: Long): Long =
      quant(a).indices.map { j =>
        val t = quant(a)(j) - quant(b)(j); t * t
      }.sum
    val dropped = asg.toSeq.groupBy(_._2._1).values.flatMap { members =>
      val ids = members.map(_._1).toSeq.sorted
      ids.filter(j => ids.exists(i => i < j && pairD2(i, j) <= d2Max))
    }.toSet
    assert(got.size == vecRows.size)
    vecRows.foreach { case (id, _) =>
      assert(got(id)._1 == asg(id)._1, s"cluster of $id")
      assert(got(id)._2 == (if (dropped(id)) 0L else 1L), s"kept of $id")
    }
    // every planted near-dup partner (cos ~0.999 to a smaller id) drops
    (0L until 15L).foreach { i =>
      assert(got(1000L + i)._2 == 0L, s"planted partner ${1000 + i} kept")
    }
    // and the fixture's base vectors at cluster spread (cos ~0.94) survive
    assert(got.count(_._2._2 == 1L) >= 290,
      "cluster-mates at cos ~0.94 must not drop at this threshold")
  }

  test("semanticDedup: clusters over maxCluster opt out of pair generation") {
    val out = Similarity.semanticDedup(embs, k = 1, iters = 1,
      d2Max = Long.MaxValue / 128, maxCluster = 10L).collect()
    // one giant cluster over the cap: nothing may drop even at a huge
    // threshold
    assert(out.forall(_.getLong(2) == 1L))
  }

  test("clusterCoreset keeps the m most-central rows per cluster, exactly " +
       "the driver reference ranking") {
    val k = 5; val iters = 2; val m = 12
    val got = Similarity.clusterCoreset(embs, k, iters, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (asg, _) = refKmeans(vecRows, k, iters)
    val expected = asg.toSeq.groupBy(_._2._1).toSeq.flatMap { case (cl, ms) =>
      ms.toSeq.map { case (id, (_, d2)) => (id, cl, d2) }
        .sortBy { case (id, _, d2) => (d2, id) }.take(m).zipWithIndex
        .map { case ((id, c, d2), i) => (id, c, d2, (i + 1).toLong) }
    }.toSet
    assert(got.length == expected.size)
    got.foreach(r => assert(expected(r), s"unexpected row $r"))
  }

  test("kmeansPredict over a stored-model round trip labels every row " +
       "exactly as the driver reference (fit on a 1/3 sample)") {
    val sample = vecRows.filter(_._1 % 3 == 0)
    val (_, refCents) = refKmeans(sample, k = 4, iters = 2)
    val (_, cents) = Similarity.kmeansFitPortable(
      embs.where(col("vec_id") % 3 === 0), k = 4, iters = 2)
    cents.zip(refCents).foreach { case (g, e) => assert(g.toSeq == e.toSeq) }
    val dir = java.nio.file.Files.createTempDirectory("graft_km_").toString
    Similarity.writeKmeansModel(spark, dir, cents)
    val rt = Similarity.readKmeansModel(spark, dir)
    assert(rt.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
      "model sidecar round trip")
    val got = Similarity.kmeansPredict(embs, rt).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == vecRows.size)
    vecRows.foreach { case (id, v) =>
      val q = v.map(x => (x.toDouble * 1000.0).toLong + 2000L)
      val d = refCents.map(c => c.indices.map { j =>
        val t = q(j) - c(j); t * t
      }.sum)
      val m = d.min
      assert(got(id) == (d.indexOf(m).toLong, m), s"vec $id")
    }
  }

  // the literal-codegen reference path: kmeansAssign over the one-shot
  // quantized projection (kmeansPredict itself ships assignLarge since
  // round 6, so the reference must call the unrolled path explicitly)
  private def predictLiteral(df: org.apache.spark.sql.DataFrame,
                             cents: Array[Array[Long]]) =
    SimilarityOracle.kmeansAssign(
        df.select(col("vec_id"), Similarity.quantized.as("_q")), cents)
      .select("vec_id", "cluster", "d2")

  // the large-k path (q_embed_kmeans_large) is kmeansPredict itself; the
  // test keeps the name of the twin it replaced
  test("kmeansPredictLarge is bit-identical to the literal-codegen " +
       "predict: ties, duplicate vec_ids, NULL embeddings") {
    Seq(3, 7).foreach { k =>
      val (_, cents) = Similarity.kmeansFitPortable(embs, k, iters = 2)
      val lit = predictLiteral(embs, cents).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val large = Similarity.kmeansPredict(embs, cents).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(large == lit, s"k=$k")
    }
    // tie case (duplicated centroids), a DUPLICATE vec_id (both copies
    // must survive), and a NULL embedding (row kept, NULL cluster/d2)
    val pts = Seq(0L -> Array.fill(4)(0.5f), 1L -> Array.fill(4)(0.5f),
      2L -> Array.fill(4)(-0.5f), 3L -> Array.fill(4)(-0.5f))
    val df = pts.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val (_, cents) = Similarity.kmeansFitPortable(df, k = 3, iters = 0, dim = 4)
    val dirty = df
      .unionByName(df.where(col("vec_id") === 2L))      // duplicate id 2
      .unionByName(Seq((9L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding"))                   // NULL embedding
    def dump(got: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Option[Long], Option[Long])] =
      got.collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))
      }.toSeq.sorted
    val lit = dump(predictLiteral(dirty, cents))
    val large = dump(Similarity.kmeansPredict(dirty, cents))
    assert(large == lit)
    assert(lit.count(_._1 == 2L) == 2, "duplicate id must emit twice")
    assert(lit.filter(_._1 == 9L) == Seq((9L, None, None)),
      "NULL embedding row kept with NULL cluster/d2")
  }

  // labels for the embedding fixture: the generating center index (the
  // planted partner of base vector i shares i's label)
  private def labelOf(id: Long): Int =
    (if (id >= 1000L) (id - 1000L) % 20 else id % 20).toInt
  private lazy val labeledEmbs = vecRows.map { case (id, v) =>
    (id, v.toSeq, labelOf(id))
  }.toDF("vec_id", "embedding", "label").cache()

  test("knnClassify matches the brute-force vote exactly and recovers the " +
       "generating labels on the clustered fixture") {
    val k = 10
    val got = Similarity.knnClassify(labeledEmbs, k, col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 20)
    var correct = 0
    vecRows.filter(_._1 < 20).foreach { case (a, va) =>
      val nbrs = vecRows.filter(_._1 != a)
        .map { case (b, vb) => (b, cosine(va, vb)) }
        .sortBy { case (b, c) => (-c, b) }.take(k)
      val votes = nbrs.groupBy(n => labelOf(n._1)).view.mapValues(_.size)
      val (pl, pv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(got(a) == (pl.toLong, pv.toLong), s"probe $a")
      if (pl == labelOf(a)) correct += 1
    }
    assert(correct >= 15, s"label recovery $correct/20")
  }

  test("knnClassifyAnn votes exactly over axisKnnJoin's neighbor set") {
    val nn = Similarity.axisKnnJoin(labeledEmbs, k = 5, nTables = 8, bits = 8,
      probePred = col("vec_id") < 20, maxBucket = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = nn.groupBy(_._1).map { case (a, rows) =>
      val votes = rows.groupBy(r => labelOf(r._2)).view.mapValues(_.size)
      val (pl, pv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      a -> (pl.toLong, pv.toLong)
    }
    val got = Similarity.knnClassifyAnn(labeledEmbs, k = 5, nTables = 8,
      bits = 8, probePred = col("vec_id") < 20, maxBucket = 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("knnClassify ignores NULL-labeled neighbors (no NULL vote, no " +
       "cross-engine NULL ordering hazard)") {
    // null out the labels of all even candidate ids; predictions must
    // equal the brute-force vote over the REMAINING labeled neighbors
    val nulled = labeledEmbs.withColumn("label",
      when(pmod(col("vec_id"), lit(2L)) === 0L && col("vec_id") >= 20,
        lit(null)).otherwise(col("label")))
    val k = 10
    val got = Similarity.knnClassify(nulled, k, col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vecRows.filter(_._1 < 20).foreach { case (a, va) =>
      val nbrs = vecRows.filter(_._1 != a)
        .map { case (b, vb) => (b, cosine(va, vb)) }
        .sortBy { case (b, c) => (-c, b) }.take(k)
        .filterNot(n => n._1 % 2 == 0 && n._1 >= 20)   // labeled only
      if (nbrs.isEmpty) {
        // a probe whose entire top-k is unlabeled yields NO row
        assert(!got.contains(a), s"probe $a should have no prediction")
      } else {
        val votes = nbrs.groupBy(n => labelOf(n._1)).view.mapValues(_.size)
        val (pl, pv) = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
        assert(got(a) == (pl.toLong, pv.toLong), s"probe $a")
      }
    }
  }

  test("clusterLabelPurity matches the driver reference per-cluster " +
       "majority exactly") {
    val k = 5; val iters = 2
    val got = Similarity.clusterLabelPurity(labeledEmbs, k, iters).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (asg, _) = refKmeans(vecRows, k, iters)
    val expected = asg.toSeq.groupBy(_._2._1).map { case (cl, ms) =>
      val votes = ms.groupBy(m => labelOf(m._1)).view.mapValues(_.size)
      val (pl, pv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      cl -> (ms.size.toLong, pl.toLong, pv.toLong)
    }
    assert(got == expected)
  }

  test("connectedComponents: chains, triangles and isolated pairs label " +
       "with their component minimum (canonical survivor)") {
    // components: chain 5-3-9-1 (min 1), triangle 20-21-22 (min 20),
    // pair 11-10 (min 10), an 8-node chain, and a 40-node chain whose
    // diameter (39) exceeds the round cap — pointer jumping must converge
    // in O(log diameter) rounds, not O(diameter)
    val chain8 = (30L to 37L).sliding(2).map(s => (s(1), s(0))).toSeq
    val chain40 = (100L to 139L).sliding(2).map(s => (s(1), s(0))).toSeq
    val pairs = (Seq((5L, 3L), (9L, 3L), (9L, 1L), (21L, 20L), (22L, 21L),
      (20L, 22L), (11L, 10L)) ++ chain8 ++ chain40).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 3L, 5L, 9L).forall(labels(_) == 1L), s"chain: $labels")
    assert(Seq(20L, 21L, 22L).forall(labels(_) == 20L), s"triangle: $labels")
    assert(Seq(10L, 11L).forall(labels(_) == 10L), s"pair: $labels")
    assert((30L to 37L).forall(labels(_) == 30L), s"8-chain: $labels")
    assert((100L to 139L).forall(labels(_) == 100L), s"40-chain: $labels")
    assert(labels.size == 57, "unexpected extra labeled nodes")
  }

  test("connectedComponents: a planted giant star component (one hub, half " +
       "the edge volume) and STRING ids both converge to the component min") {
    // giant component: hub 0 with 4000 leaves; the min-label seed resolves
    // it in the seeding aggregation and the loop's first round is pure
    // confirmation — plus a second component whose chain still needs real
    // propagation rounds in the same call
    val giant = (1L to 4000L).map(l => (0L, l))
    val chain = (5000L to 5032L).sliding(2).map(s => (s(0), s(1))).toSeq
    val labels = Dedup.connectedComponents((giant ++ chain).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4000L).forall(labels(_) == 0L), "giant star")
    assert((5000L to 5032L).forall(labels(_) == 5000L), "chain beside it")
    // string ids: the convergence flag is computed as a COLUMN (type-
    // agnostic), so lexicographic min labels work identically
    val spairs = Seq(("img_b", "img_a"), ("img_c", "img_b"), ("re_2", "re_1"))
      .toDF("a_id", "b_id")
    val slabels = Dedup.connectedComponents(spairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("img_a", "img_b", "img_c").forall(slabels(_) == "img_a"))
    assert(Seq("re_1", "re_2").forall(slabels(_) == "re_1"))
  }

  test("hash sampling is deterministic, rate-accurate, insensitive to table " +
       "growth, and decorrelated across salts") {
    val ids = (0L until 20000L).map(i => Tuple1(i)).toDF("id")
    val kept = Sampling.hashSample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    // rate accuracy (law of large numbers over a hash that behaves uniformly)
    assert(math.abs(kept.size / 20000.0 - 0.3) < 0.02, s"rate ${kept.size / 20000.0}")
    // determinism + growth-insensitivity: the first half's membership is
    // unchanged when sampled as part of a half-sized table
    val keptHalf = Sampling.hashSample(ids.where(col("id") < 10000), "id", 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(keptHalf == kept.filter(_ < 10000))
    // a different salt draws an (almost) independent sample
    val salted = Sampling.hashSample(ids, "id", 0.3, salt = "b")
      .collect().map(_.getLong(0)).toSet
    val overlap = kept.intersect(salted).size / 20000.0
    assert(math.abs(overlap - 0.09) < 0.02, s"salt overlap $overlap")   // ~rate^2
    // fast path: same contracts (rate, determinism across growth)
    val fast = Sampling.hashSampleFast(ids, "id", 0.3).collect()
      .map(_.getLong(0)).toSet
    assert(math.abs(fast.size / 20000.0 - 0.3) < 0.02)
    val fastHalf = Sampling.hashSampleFast(ids.where(col("id") < 10000), "id", 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(fastHalf == fast.filter(_ < 10000))
    // stratified: per-stratum rates honored, absent strata dropped
    val st = ids.withColumn("s", when(col("id") % 2 === 0, "a").otherwise("b"))
    val mixed = Sampling.stratifiedSample(st, "id", col("s"), Map("a" -> 0.5))
      .collect().map(_.getLong(0))
    assert(mixed.forall(_ % 2 == 0), "stratum b not dropped")
    assert(math.abs(mixed.length / 10000.0 - 0.5) < 0.03)
  }

  test("upsample: exact whole multiples, hash-deterministic fractional " +
       "remainder, weight-0 drop, copy indices dense from 1") {
    val ids = (0L until 20000L).map(i => Tuple1(i)).toDF("id")
    // weight 2.5x: every row twice, ~half a third time — and WHICH rows get
    // the extra copy is exactly the 0.5 hashSample membership (same salt)
    val up = Sampling.upsample(ids, "id", lit(25000L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byId = up.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byId.size === 20000)
    assert(byId.values.forall(c => c == (1L to c.length).toSeq), "copy_n gaps")
    val threeCopies = byId.filter(_._2.length == 3).keySet
    assert(byId.values.forall(c => c.length == 2 || c.length == 3))
    val half = Sampling.hashSample(ids, "id", 0.5).collect().map(_.getLong(0)).toSet
    assert(threeCopies === half, "fractional membership != hashSample membership")
    // weight 0 drops; exact 1.0 keeps exactly one copy
    val w = when(col("id") % 2 === 0, 0L).otherwise(10000L)
    val kept = Sampling.upsample(ids, "id", w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.forall { case (id, c) => id % 2 == 1 && c == 1L })
    assert(kept.length === 10000)
  }

  test("shardAssign: ranks are the exact md5-shuffle permutation, shards " +
       "cut every shardSize rows, scratch collisions refused") {
    val docs = (0L until 10000L).map(i => Tuple1(i)).toDF("id")
    val out = Sampling.shardAssign(docs, "id", shardSize = 128L, salt = "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 10000)
    assert(out.map(_._2).sorted.toSeq === (1L to 10000L), "rnk not a permutation")
    // the order is exactly the naive (bucket, md5, id) sort
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = (0L until 10000L).sortBy { i =>
      val h = md5hex(i.toString + "sh")
      (java.lang.Long.parseLong(h.take(15), 16) % 10000, h, i)
    }.zipWithIndex.map { case (id, ix) => id -> (ix + 1L) }.toMap
    assert(out.forall { case (id, r, _) => expect(id) == r })
    assert(out.forall { case (_, r, s) => s == (r - 1) / 128 })
    intercept[IllegalArgumentException] {
      Sampling.shardAssign(docs.withColumn("rnk", lit(1L)), "id", 10L)
    }
    // NULL ids drop BEFORE the bucket census: the survivors' ranks are the
    // dense permutation of the non-null id set (no gap where the null sat)
    val holed = docs.withColumn("id",
      when(col("id") < 3L, lit(null)).otherwise(col("id")))
    val outH = Sampling.shardAssign(holed, "id", shardSize = 128L, salt = "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(outH.length === 9997)
    assert(outH.map(_._2).sorted.toSeq === (1L to 9997L))
    val expectH = (3L until 10000L).sortBy { i =>
      val h = md5hex(i.toString + "sh")
      (java.lang.Long.parseLong(h.take(15), 16) % 10000, h, i)
    }.zipWithIndex.map { case (id, ix) => id -> (ix + 1L) }.toMap
    assert(outH.forall { case (id, r) => expectH(id) == r })
  }

  test("negativePairs: deterministic, self-pair-free, exactly nNeg per " +
       "anchor, == the naive rank-ring oracle; tiny-corpus refusal") {
    val n = 700L
    val docs = (0L until n).map(Tuple1(_)).toDF("id")
    def run() = Sampling.negativePairs(docs, "id", nNeg = 3, salt = "ng")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = run()
    assert(out.length === (n * 3).toInt)
    assert(out.forall { case (a, _, b) => a != b }, "self pair")
    assert(out.toSet === run().toSet, "nondeterministic")
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (0L until n).sortBy { i =>
      val h = md5hex(i.toString + "ng")
      (java.lang.Long.parseLong(h.take(15), 16) % 10000, h, i)
    }
    val rankOf = ordered.zipWithIndex.map { case (id, ix) => id -> (ix + 1L) }.toMap
    val idAt = rankOf.map(_.swap)
    val expected = (0L until n).flatMap { id =>
      (1 to 3).map { j =>
        val stride = java.lang.Long.parseLong(
          md5hex(s"${id}ng#$j").take(15), 16) % (n - 1) + 1
        (id, j.toLong, idAt((rankOf(id) - 1 + stride) % n + 1))
      }
    }.toSet
    assert(out.toSet === expected)
    intercept[IllegalArgumentException] {
      Sampling.negativePairs(docs.limit(1), "id", nNeg = 2)
    }
  }

  test("packSequences: offsets are the exact global running sum in the " +
       "md5-shuffle order; window arithmetic; drops and collisions refused") {
    val docs = (0L until 5000L).map(i => (i, 1L + i % 37)).toDF("id", "tk")
    val out = Sampling.packSequences(docs, "id", col("tk"), 64L, salt = "pk")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("tok_off"),
        r.getAs[Long]("win_start"), r.getAs[Long]("win_end"),
        r.getAs[Long]("win_off"), r.getAs[Long]("n_wins"))).sortBy(_._1)
    assert(out.length === 5000)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // naive oracle: one global (bucket, md5, id) sort + running sum
    val ordered = (0L until 5000L).sortBy { i =>
      val h = md5hex(i.toString + "pk")
      (java.lang.Long.parseLong(h.take(15), 16) % 10000, h, i)
    }
    val offs = ordered.scanLeft(0L)((acc, i) => acc + (1L + i % 37))
      .zip(ordered).map { case (off, i) => i -> off }.toMap
    assert(out.forall { case (id, off, _, _, _, _) => offs(id) == off },
      "tok_off != naive global running sum")
    assert(out.forall { case (id, off, ws, we, wo, nw) =>
      val tk = 1L + id % 37
      ws == off / 64 && we == (off + tk - 1) / 64 &&
        wo == off % 64 && nw == we - ws + 1
    }, "window arithmetic broken")
    // the packing is gap-free: total tokens == last doc's end offset
    val total = (0L until 5000L).map(i => 1L + i % 37).sum
    assert(out.map { case (id, off, _, _, _, _) => off + (1L + id % 37) }.max == total)
    // NULL ids and non-positive token counts drop BEFORE the census
    val holed = docs
      .withColumn("id", when(col("id") === 7L, lit(null)).otherwise(col("id")))
      .withColumn("tk", when(col("id") === 11L, lit(0L)).otherwise(col("tk")))
    val outH = Sampling.packSequences(holed, "id", col("tk"), 64L, salt = "pk")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("tok_off")))
    assert(outH.length === 4998)
    val orderedH = ordered.filterNot(i => i == 7L || i == 11L)
    val offsH = orderedH.scanLeft(0L)((acc, i) => acc + (1L + i % 37))
      .zip(orderedH).map { case (off, i) => i -> off }.toMap
    assert(outH.forall { case (id, off) => offsH(id) == off },
      "dropped rows shifted surviving offsets wrongly")
    intercept[IllegalArgumentException] {
      Sampling.packSequences(docs.withColumn("tok_off", lit(1L)), "id", col("tk"), 64L)
    }
    intercept[IllegalArgumentException] {
      Sampling.packSequences(docs, "id", col("tk"), 0L)
    }
  }

  test("tokenBudgetMix: budget-exact hash-order prefix vs a naive oracle, " +
       "absent strata dropped, zero and unlimited budgets") {
    val docs = (0L until 1000L).map(i => Tuple1(i)).toDF("id")
      .withColumn("s", when(col("id") % 2 === 0, "a").otherwise("b"))
      .withColumn("c", lit(10L))
    val out = Sampling.tokenBudgetMix(docs, "id", col("c"), col("s"),
      Map("a" -> 1234L), salt = "tb").collect().map(_.getLong(0)).toSet
    // naive oracle: sort the stratum by (bucket, md5, id), keep the prefix
    // whose running cost stays <= budget -> exactly 123 ten-cost docs
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (0L until 1000L).filter(_ % 2 == 0).sortBy { i =>
      val h = md5hex(i.toString + "tb")
      (java.lang.Long.parseLong(h.take(15), 16) % 10000, h, i)
    }
    assert(out === ordered.take(123).toSet)
    assert(out.forall(_ % 2 == 0), "stratum b leaked through")
    // zero budget keeps nothing; an effectively unlimited one keeps all
    assert(Sampling.tokenBudgetMix(docs, "id", col("c"), col("s"),
      Map("a" -> 0L), salt = "tb").count() === 0L)
    assert(Sampling.tokenBudgetMix(docs, "id", col("c"), col("s"),
      Map("a" -> 10000000L, "b" -> 10000000L), salt = "tb").count() === 1000L)
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetMix(docs.withColumn("_bkt", lit(1)), "id",
        col("c"), col("s"), Map("a" -> 1L))
    }
    // NULL ids have no hash identity -> dropped; NULL cost counts as 0 (so
    // the doc is kept for free whenever its position is inside the budget)
    val holed = docs
      .withColumn("id", when(col("id") === ordered.head, lit(null)).otherwise(col("id")))
      .withColumn("c", when(col("id") === ordered(1), lit(null)).otherwise(col("c")))
    val outH = Sampling.tokenBudgetMix(holed, "id", col("c"), col("s"),
      Map("a" -> 1234L), salt = "tb").collect().map(_.getLong(0)).toSet
    // oracle: remove the nulled id from the order, replay with cost(ordered(1))=0
    val orderedH = ordered.drop(1)
    val keptH = orderedH.scanLeft(0L) { (acc, i) =>
      acc + (if (i == ordered(1)) 0L else 10L)
    }.tail.zip(orderedH).takeWhile(_._1 <= 1234L).map(_._2)
    assert(outH === keptH.toSet)
    assert(!outH.contains(ordered.head), "NULL id leaked through")
    // a negative cost anywhere in a budgeted stratum fails the job loudly
    val neg = docs.withColumn("c",
      when(col("id") === 2L, lit(-5L)).otherwise(col("c")))
    val ex = intercept[Exception] {
      Sampling.tokenBudgetMix(neg, "id", col("c"), col("s"),
        Map("a" -> 1234L), salt = "tb").count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("negative cost")), msgs(ex).mkString("|"))
  }

  test("leakageSafeSplit: clusters never straddle the boundary, reps are " +
       "component minima, singletons reduce to plain hash membership") {
    val docs = (0L until 1000L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((10L, 11L), (20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", pairs,
        testRate = 0.5, salt = "s")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size === 1000)
    // reps: component minimum for edge-touched docs, self for singletons
    assert(Seq(10L, 11L).map(out(_)._1).forall(_ == 10L))
    assert(Seq(20L, 21L, 22L).map(out(_)._1).forall(_ == 20L))
    assert(out(500L)._1 === 500L)
    // the leakage guarantee itself: every cluster lands on ONE side
    assert(Seq(10L, 11L).map(out(_)._2).distinct.size === 1)
    assert(Seq(20L, 21L, 22L).map(out(_)._2).distinct.size === 1)
    // cluster membership is the REP's membership, singletons their own —
    // i.e. 'test' coincides exactly with hashSample membership of the rep
    val testIds = out.filter(_._2._2 == "test").keySet
    val repOf = out.view.mapValues(_._1).toMap
    val half = Sampling.hashSample(docs, "doc_id", 0.5, salt = "s")
      .collect().map(_.getLong(0)).toSet
    assert(testIds === (0L until 1000L).filter(i => half(repOf(i))).toSet)
    // both sides populated at this rate
    assert(testIds.nonEmpty && testIds.size < 1000)
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(docs.withColumn("split", lit("x")),
        "doc_id", pairs, 0.5)
    }
  }

  test("dropClusterDuplicates keeps exactly one canonical doc per cluster; " +
       "crossContamination finds planted benchmark leakage") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),          // dup of 1
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),            // dup of 3
      (5L, "totally unrelated content words here")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val surv = Dedup.dropClusterDuplicates(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L, 5L))
    // contamination: corpus doc 11 embeds benchmark doc 20 verbatim
    val corpus = Seq(
      (11L, "prefix words one two three four five suffix words"),
      (12L, "nothing shared with the benchmark at all")).toDF("doc_id", "text")
    val bench = Seq((20L, "one two three four five")).toDF("doc_id", "text")
    val hits = Dedup.crossContamination(corpus, bench, nGram = 2,
        minContainment = 0.9, maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(hits.length == 1 && hits(0)._1 == 11L && hits(0)._2 == 20L)
    assert(hits(0)._3 == 1.0, s"containment ${hits(0)._3}")  // all 4 bigrams present
  }

  test("crossContaminationBloom is decision-identical to crossContamination " +
       "(random corpus, planted leaks, loose and tight fpp, with df cut)") {
    val rnd = new scala.util.Random(4242)
    val vocab = (0 until 60).map(i => s"w$i")
    def doc(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (0L until 20L).map(i => (i, doc(10))).toDF("doc_id", "text")
    val benchTexts = bench.collect().map(r => (r.getLong(0), r.getString(1)))
    // corpus: random docs + planted verbatim copies of benchmark docs
    val corpus = ((100L until 300L).map(i => (i, doc(25))) ++
      benchTexts.take(5).map { case (i, t) => (1000L + i, s"lead $t tail") })
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for ((fpp, maxDf) <- Seq((0.5, 0), (0.01, 0), (0.01, 50))) {
      val exact = key(Dedup.crossContamination(corpus, bench, nGram = 2,
        minContainment = 0.4, maxDocFreq = maxDf))
      val bloom = key(Dedup.crossContaminationBloom(corpus, bench, nGram = 2,
        minContainment = 0.4, maxDocFreq = maxDf, fpp = fpp))
      assert(bloom === exact, s"fpp=$fpp maxDf=$maxDf")
      assert(exact.nonEmpty, "weak fixture: no contamination found")
    }
  }

  test("stored IVF index: write/read round-trips centroids + assignment; " +
       "probe over the stored table is directory-pruned and result-identical") {
    val (assigned, centroids) = Similarity.ivfBuildPortable(embs, nLists = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    Similarity.writeIvfIndex(assigned, centroids, dir)
    val (stored, cents2) = Similarity.readIvfIndex(spark, dir)
    assert(cents2.length == centroids.length)
    centroids.indices.foreach(i =>
      assert(java.util.Arrays.equals(cents2(i), centroids(i)), s"centroid $i"))
    val q = randVec(424242)
    val mem = Similarity.ivfTopK(assigned, centroids, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val onDisk = Similarity.ivfTopK(stored, cents2, q, 10, nprobe = 4)
    assert(onDisk.collect().map(_.getLong(0)).toSeq == mem,
      "stored-index probe diverged from the in-memory probe")
    // the probe's literal list_id isin must reach the scan as a partition
    // filter: only the nprobe list directories are read
    val plan = onDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"stored IVF probe is not directory-pruned:\n$plan")
  }

  test("stored IVF+PQ index: codes round-trip the portable build; pruned " +
       "probe == in-memory PQ rank over the probed lists; full-probe == pqTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString + "/idx"
    Similarity.writeIvfPqIndex(embs, dir, nLists = 8)
    val (codes, cents, cbs) = Similarity.readIvfPqIndex(spark, dir)
    // the stored table holds ONLY vec_id + codes + list_id — no floats
    assert(codes.columns.sorted.toSeq ===
      (Seq("vec_id", "list_id") ++ (0 until 8).map(i => s"code_$i")).sorted)
    // codes are exactly the portable encode of the portable assignment
    val (assigned, cents0) = Similarity.ivfBuildPortable(embs, nLists = 8)
    cents.indices.foreach(i =>
      assert(java.util.Arrays.equals(cents(i), cents0(i)), s"centroid $i"))
    val (_, cbs0) = Similarity.pqBuildPortable(embs)
    cbs0.indices.foreach(s => cbs0(s).indices.foreach(c =>
      assert(java.util.Arrays.equals(cbs(s)(c), cbs0(s)(c)), s"codeword $s/$c")))
    def dump(df: org.apache.spark.sql.DataFrame) = df
      .select((col("vec_id") +: (0 until 8).map(i => col(s"code_$i"))): _*)
      .collect().map(r => (0 to 8).map(r.getAs[Number](_).longValue)).toSet
    assert(dump(codes) === dump(Similarity.pqEncode(assigned, cbs0)))
    // pruned probe: identical to ADC over the manually-probed lists, and
    // with nprobe = nLists identical to the full pqTopK
    val q = randVec(424242)
    val out = Similarity.ivfPqTopK(spark, dir, q, k = 10, nprobe = 3)
    val expectLists = cents0.indices
      .sortBy(i => -{ // the probe's own centroid-ranking basis
        val c = cents0(i)
        var d = 0.0; var na = 0.0; var nb = 0.0
        c.indices.foreach { j => d += c(j) * q(j); na += c(j) * c(j); nb += q(j) * q(j) }
        d / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
      }).take(3)
    val mem = Similarity.pqTopK(
        Similarity.pqEncode(assigned, cbs0)
          .where(col("list_id").isin(expectLists: _*)), cbs0, q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(out.collect().map(_.getLong(0)).toSeq === mem)
    val full = Similarity.ivfPqTopK(spark, dir, q, k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val pq = Similarity.pqTopK(Similarity.pqEncode(embs, cbs0), cbs0, q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full === pq, "nprobe=nLists probe diverged from unpartitioned pqTopK")
    // the literal list_id isin must reach the scan as a partition filter
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(plan).isDefined,
      s"stored IVF+PQ probe is not directory-pruned:\n$plan")
    // a plain parquet dir without the sidecar is refused
    val plain = java.nio.file.Files.createTempDirectory("graft_ivfpq_np_").toString + "/p"
    embs.write.parquet(plain)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(spark, plain, q, 5, 2)
    }
  }

  test("pqEncode: codegen pq_sub_argmin is bit-identical to the " +
       "higher-order zip_with form, including short/NULL vectors, NULL " +
       "elements, NaN, and first-minimum ties") {
    // m=2 subspaces of subDim=2 over dim-4 vectors; codeword 2 duplicates
    // codeword 0 in BOTH subspaces, so exact hits are genuine ties that
    // must resolve to the FIRST minimal codeword on both paths
    val cbs: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 2f), Array(3f, 4f), Array(1f, 2f)),
      Array(Array(0f, 0f), Array(5f, 5f), Array(0f, 0f)))
    def fs(vs: java.lang.Float*): Seq[java.lang.Float] = vs
    val rows = Seq(
      (0L, fs(1f, 2f, 3f, 4f)),                  // plain
      (1L, fs(1f, 2f, 0f, 0f)),                  // exact hits -> tie -> c0/c0
      (2L, fs(Float.NaN, 2f, 3f, 4f)),           // NaN poisons every sub-0
                                                 // distance: min NaN, first
      (3L, fs(1f, 2f, 3f)),                      // subspace 1 short -> NULL
      (4L, fs(1f, 2f)),                          // subspace 1 empty -> NULL
      (5L, fs(1f, null, 3f, 4f)),                // NULL element -> NULL code_0
      (6L, null.asInstanceOf[Seq[java.lang.Float]]), // NULL vector -> both NULL
      (7L, fs(0.1f, 0.2f, 4.9f, 5.2f)))          // float->double rounding path
    val df = rows.toDF("vec_id", "embedding")
    def dump(out: org.apache.spark.sql.DataFrame) = out
      .select(col("vec_id"), col("code_0"), col("code_1"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getInt(1).asInstanceOf[Any]),
         (if (r.isNullAt(2)) null else r.getInt(2).asInstanceOf[Any]))).toMap
    val cg = dump(Similarity.pqEncode(df, cbs))
    val ho = dump(SimilarityOracle.pqEncodeHigherOrder(df, cbs))
    assert(cg === ho, s"codegen vs higher-order: $cg vs $ho")
    assert(cg(1L) === ((0, 0)), "exact-hit tie must pick the FIRST codeword")
    assert(cg(2L)._1 === 0, "all-NaN distances resolve to the first codeword")
    assert(cg(3L) === ((0, null)) && cg(4L) === ((0, null)),
      "a vector too short for a subspace must NULL that code")
    assert(cg(5L)._1 === null && cg(5L)._2 != null)
    assert(cg(6L) === ((null, null)))
    // the interpreted surface (nullSafeEval, what Spark falls back to when
    // codegen fails) returns the same codes: no whole-stage codegen, and
    // every projection built by the interpreted factory
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ip = try {
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      val out = Similarity.pqEncode(df, cbs)
      assert(!out.queryExecution.executedPlan.toString.contains("*("),
        "whole-stage codegen still on")
      dump(out)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(ip === cg, s"interpreted vs codegen: $ip vs $cg")
  }

  test("axisTopK (oracle-checkable probe): finds self and planted partner; recall vs brute") {
    val q = vecRows.find(_._1 == 3L).get._2
    val brute = Similarity.bruteForceTopK(embs, q, 10).collect().map(_.getLong(0)).toSet
    val approx = Similarity.axisTopK(embs, q, 10, nTables = 8, bits = 8)
      .collect().map(_.getLong(0)).toSet
    assert(approx.contains(3L) && approx.contains(1003L))
    assert(approx.intersect(brute).size >= 5, s"recall ${approx.intersect(brute).size}/10")
  }

  test("axisKnnJoin (oracle-checkable banded ANN): planted near-dup ranked 1, probes filtered") {
    val out = Similarity.axisKnnJoin(embs, k = 3, nTables = 8, bits = 8,
      probePred = col("vec_id") < 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.forall(_._1 < 20), "probe predicate leaked non-probe rows")
    assert(out.forall(t => t._1 != t._2))
    // vec 3 vs 1003: cosine ~0.999 => sign patterns nearly identical =>
    // they share band buckets; the exact re-rank must put 1003 first
    val rank1 = out.filter(t => t._1 == 3L && t._3 == 1).map(_._2)
    assert(rank1.headOption.contains(1003L), s"vec 3's top neighbor: ${rank1.toSeq}")
    // ranks are dense 1..k per probe
    out.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"probe $a ranks")
    }
  }

  test("knnJoin returns self-excluded ranked neighbors; planted pair mutually ranked 1") {
    val out = Similarity.knnJoin(embs, k = 3, nTables = 8, bitsPerTable = 8, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.forall(t => t._1 != t._2))
    val rank1 = out.filter(t => t._1 == 3L && t._3 == 1).map(_._2)
    assert(rank1.headOption.contains(1003L), s"vec 3's top neighbor: ${rank1.toSeq}")
  }

  // ---- text ops ---------------------------------------------------------------

  test("token counts match scala oracles") {
    val got = TextOps.withTokenCounts(docs).select("doc_id", "tokens_ws").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    docRows.foreach { case (id, t) =>
      assert(got(id) == t.split(" ").count(_.nonEmpty), s"doc $id")
    }
    // bpe-ish count: spot-check formula on a known string
    val one = Seq((1L, "hello world42 foo-bar!! internationalization"))
      .toDF("doc_id", "text")
    val bpe = TextOps.withTokenCounts(one).select("tokens_bpe").collect()(0).getLong(0)
    // hello(2) world(2) foo(1) bar(1) internationalization(5) + digits(1) + punct(3)
    assert(bpe == 2 + 2 + 1 + 1 + 5 + 1 + 3, s"bpe=$bpe")
  }

  test("langId picks the right language on real phrases, und on gibberish") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with that"),
      ("de", "der hund ist nicht mit der katze und das ist gut"),
      ("fr", "le chat est dans la maison et les oiseaux sont pour une fete"),
      ("es", "el perro y la gata que viven en la casa es por una razon"),
      ("und", "zxqwv bnmpl kjhgf"))
    val df = samples.zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "expect")
    val out = TextOps.withLangId(df).select("expect", "lang_pred").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("quality score: clean prose beats gibberish and repetition") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
      (2L, "a a a a a a a a a a a a a a a a"),
      (3L, "!!!! #### $$$$ %%%% ^^^^ &&&&")).toDF("doc_id", "text")
    val q = TextOps.withQuality(df).select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L) && q(1L) > q(3L), q.toString)
  }

  test("fingerprint: whitespace-invariant, word-change-sensitive; sketch overlap tracks similarity") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha  beta\tgamma delta epsilon zeta eta theta"),   // formatting only
      (3L, "alpha beta gamma delta OMEGA zeta eta theta")).toDF("doc_id", "text")
    val fp = TextOps.withFingerprints(df).select("doc_id", "fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val sk = TextOps.withFingerprints(docs).select("doc_id", "fp_sketch").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / math.max(1, a.union(b).size)
    assert(overlap(sk(10L), sk(200L)) > 0.5)     // planted near-dup
    assert(overlap(sk(30L), sk(40L)) < 0.3)      // unrelated
  }

  test("repetitionStats matches brute force; repeated phrase dominates bigrams") {
    val crafted = Seq(
      (900L, "spam ham spam ham spam ham spam ham"),  // one bigram dominates
      (901L, "all words here are completely distinct"),
      (902L, ""),                                      // empty -> all zeros
      (903L, "solo")).toDF("doc_id", "text")           // one word, no bigram
    val input = docs.unionByName(crafted)
    val got = TextOps.repetitionStats(input).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // brute force over the same rows
    val rows = docRows ++ Seq(900L -> "spam ham spam ham spam ham spam ham",
      901L -> "all words here are completely distinct", 902L -> "", 903L -> "solo")
    rows.foreach { case (id, text) =>
      val w = text.split(" +").filter(_.nonEmpty)
      val bg = w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      def top(ts: Seq[String]) =
        if (ts.isEmpty) 0L else ts.groupBy(identity).values.map(_.size).max.toLong
      assert(got(id) == (w.length.toLong, top(w.toSeq), bg.length.toLong, top(bg)),
        s"doc $id: got ${got(id)}")
    }
    // the planted spam/ham doc: 7 bigrams, "spam ham" appears 4 times
    assert(got(900L) == (8L, 4L, 7L, 4L))
    assert(got(902L) == (0L, 0L, 0L, 0L))
  }

  test("chunkDocs: window/overlap arithmetic matches brute force, round-trips " +
       "content, and degenerate docs yield one chunk") {
    val crafted = Seq(
      (910L, (1 to 40).map(i => s"w$i").mkString(" ")),   // 40 words
      (911L, (1 to 16).map(i => s"w$i").mkString(" ")),   // exactly one window
      (912L, "only three words"),
      (913L, "")).toDF("doc_id", "text")
    val input = docs.unionByName(crafted)
    val got = TextOps.chunkDocs(input, chunkWords = 16, overlap = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")) ->
        (r.getAs[String]("chunk_text"), r.getAs[Int]("n_chunk_words"))).toMap
    val rows = docRows ++ Seq(910L -> (1 to 40).map(i => s"w$i").mkString(" "),
      911L -> (1 to 16).map(i => s"w$i").mkString(" "),
      912L -> "only three words", 913L -> "")
    rows.foreach { case (id, text) =>
      val w = text.split(" +").filter(_.nonEmpty)
      val n = if (w.length <= 16) 1 else 1 + math.ceil((w.length - 16) / 12.0).toInt
      val expect = (0 until n).map(i => w.slice(i * 12, i * 12 + 16))
      expect.zipWithIndex.foreach { case (c, i) =>
        assert(got((id, i)) == (c.mkString(" "), c.length), s"doc $id chunk $i")
      }
      assert(!got.contains((id, n)), s"doc $id emitted extra chunk")
      // every word occurs in some chunk; consecutive chunks share `overlap`
      if (w.nonEmpty) assert(expect.flatten.toSet == w.toSet)
    }
    assert(got((913L, 0)) == ("", 0))
  }

  test("corpusStats: per-language counts, totals and exact lower median " +
       "match brute force") {
    val input = Seq(
      (1L, "the cat and the dog sat"),                    // en, 6 words
      (2L, "the fox is quick and that is that"),          // en, 8
      (3L, "the end of it is near and far for now"),      // en, 10
      (4L, "der hund und die katze"),                     // de, 5
      (5L, "xyzzy plugh qwerty")).toDF("doc_id", "text")  // und, 3
    val got = TextOps.corpusStats(input).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got("en") == (3L, 24L, 8L, 10L), got("en").toString)  // median of 6,8,10
    assert(got("de") == (1L, 5L, 5L, 5L))
    assert(got("und") == (1L, 3L, 3L, 3L))
    // even-count stratum takes the LOWER median: ranks (n+1)/2 = 2 of 4
    val even = input.unionByName(Seq((6L, "the a of to in is that for " +
      "with was and more words here now")).toDF("doc_id", "text"))
    val g2 = TextOps.corpusStats(even).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(g2("en") == 8L)   // word counts 6,8,10,15 -> lower median 8
  }

  test("dedupBatchAgainstCorpus: corpus-touching components drop " +
       "(including transitively), batch-only clusters keep their minimum, " +
       "unpaired docs survive") {
    // corpus: two kept docs
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta"),  // = corpus 1: drop
      (102L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 101:
      // chained to corpus through 101 -> drop even without a direct match
      (103L, "red green blue cyan magenta yellow black white"), // new cluster,
      (104L, "red green blue cyan magenta yellow black grey"),  // near-dups:
      // 103 (min) survives, 104 drops
      (105L, "totally fresh unrelated content words here today") // unpaired: keep
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupBatchAgainstCorpus(corpus, batch,
        nGram = 2, nHashes = 4, bands = 4, threshold = 0.4, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(103L, 105L), s"kept $kept")
  }

  test("dedupBatchAgainstIndex: decision-identical to the recompute path, " +
       "probes only the batch's buckets, refuses a parameterless store") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_idx_spec_").toString
    // corpus = planted fixture ids < 100; batch = the copies + near-dups
    // (all corpus-touching -> drop) plus an unpaired survivor and a
    // batch-only near-dup cluster (min survives). Ids disjoint.
    val corpus = docs.where(col("doc_id") < 100)
    val extra = Seq(
      (300L, "totally fresh unrelated content words here today indeed"),
      (301L, "red green blue cyan magenta yellow black white pink brown"),
      (302L, "red green blue cyan magenta yellow black white pink olive"))
      .toDF("doc_id", "text")
    val batch = docs.where(col("doc_id") >= 100).unionByName(extra)
    Dedup.writeDedupIndex(corpus, idxDir, nGram = 3, nHashes = 4, bands = 4,
      buckets = 8, maxBucket = 0)
    val viaIndex = Dedup.dedupBatchAgainstIndex(batch, idxDir,
        threshold = 0.5, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaRecompute = Dedup.dedupBatchAgainstCorpus(corpus, batch,
        nGram = 3, nHashes = 4, bands = 4, threshold = 0.5, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == viaRecompute,
      s"index path diverged: only-index=${viaIndex -- viaRecompute} " +
        s"only-recompute=${viaRecompute -- viaIndex}")
    assert(viaIndex.contains(300L) && viaIndex.contains(301L) &&
      !viaIndex.contains(302L) && !viaIndex.contains(100L),
      s"fixture expectations violated: kept $viaIndex")
    // the index layout is bucket-partitioned (directory-prunable)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(idxDir))
      .count(_.getPath.getName.startsWith("idx_b=")) > 1,
      "index not bucket-partitioned")
    // a store without the meta sidecar must be refused, not mis-probed
    val bare = java.nio.file.Files.createTempDirectory("graft_idx_bare_").toString
    corpus.write.mode("overwrite").parquet(bare)
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupBatchAgainstIndex(batch, bare)
    }
    assert(e.getMessage.contains("meta"))
  }

  test("appendToDedupIndex: the online loop — appended survivors are seen " +
       "by the next batch, equal to a from-scratch rebuild") {
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val corpus = mk(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")))
    val batchB = mk(Seq(
      (101L, "red green blue cyan magenta yellow black white"),   // fresh: kept
      (102L, "alpha beta gamma delta epsilon zeta eta iota")))    // near corpus 1: drop
    // batch C: a near-dup of B's SURVIVOR (101) and a fresh doc
    val batchC = mk(Seq(
      (201L, "red green blue cyan magenta yellow black grey"),    // near 101: drop
      (202L, "solar lunar stellar orbit comet nebula quasar pulsar")))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_idx_app_").toString
    Dedup.writeDedupIndex(corpus, idxDir, nGram = 2, nHashes = 4, bands = 4,
      buckets = 8, maxBucket = 0)
    val keptB = Dedup.dedupBatchAgainstIndex(batchB, idxDir,
      threshold = 0.4, maxBucket = 0)
    assert(keptB.select("doc_id").collect().map(_.getLong(0)).toSet == Set(101L))
    Dedup.appendToDedupIndex(keptB, idxDir)
    val keptC = Dedup.dedupBatchAgainstIndex(batchC, idxDir,
        threshold = 0.4, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptC == Set(202L), s"kept $keptC")
    // equivalence: append == rebuild over (corpus + accepted survivors)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_idx_reb_").toString
    Dedup.writeDedupIndex(corpus.unionByName(keptB), rebuilt, nGram = 2,
      nHashes = 4, bands = 4, buckets = 8, maxBucket = 0)
    val keptC2 = Dedup.dedupBatchAgainstIndex(batchC, rebuilt,
        threshold = 0.4, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptC2 == keptC, "append diverged from rebuild")
    // REPLAY idempotence (the at-least-once foreachBatch shape): probing
    // batch B again AFTER its survivors were appended must reproduce the
    // original decisions — a batch must never near-dup against its own
    // prior append (its index entries are ignored), or a crash replay
    // would silently drop its own survivors
    val keptBReplay = Dedup.dedupBatchAgainstIndex(batchB, idxDir,
        threshold = 0.4, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBReplay == Set(101L), s"replay diverged: $keptBReplay")
  }

  test("connectedComponents pins zero blocks after return and " +
       "purgeClusterScratch clears the scratch results") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // no NEW blocks pinned by the call (the suite itself caches fixtures)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned by connectedComponents: $leaked")
    val base = new org.apache.hadoop.fs.Path(Dedup.scratchDir(spark))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(base).exists(_.getPath.getName.startsWith("cc_")))
    Dedup.purgeClusterScratch(spark)
    assert(!fs.listStatus(base).exists(_.getPath.getName.startsWith("cc_")))
  }

  test("connectedComponents that cannot converge in maxIters throws and " +
       "pins nothing") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L to 40L).sliding(2).map(s => (s(1), s(0))).toSeq
      .toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 1)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned by a failed connectedComponents: $leaked")
  }

  // index probe fixture: the corpus is the planted ids < 100; the clean
  // batch shares no near-dup with it or within itself, the dirty batch is
  // the copies and near-dups plus a batch-only near-dup pair
  private lazy val probeIdx = {
    val d = java.nio.file.Files.createTempDirectory("graft_idx_probe_").toString
    Dedup.writeDedupIndex(docs.where(col("doc_id") < 100), d, nGram = 3,
      nHashes = 4, bands = 4, buckets = 8, maxBucket = 0)
    d
  }
  private lazy val cleanBatch = Seq(
    (300L, "totally fresh unrelated content words here today indeed"),
    (301L, "red green blue cyan magenta yellow black white pink brown"))
    .toDF("doc_id", "text")
  private lazy val dirtyBatch = docs.where(col("doc_id") >= 100)
    .unionByName(Seq(
      (301L, "red green blue cyan magenta yellow black white pink brown"),
      (302L, "red green blue cyan magenta yellow black white pink olive"))
      .toDF("doc_id", "text"))

  test("dedupBatchAgainstIndex pins nothing on its early exits (empty " +
       "banding, clean batch) nor on a dirty batch") {
    docs.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def probe(batch: org.apache.spark.sql.DataFrame) =
      Dedup.dedupBatchAgainstIndex(batch, probeIdx, threshold = 0.5,
        maxBucket = 0)
    val empty = cleanBatch.limit(0)
    assert(probe(empty) eq empty, "an empty batch must return unchanged")
    assert(probe(cleanBatch) eq cleanBatch, "a clean batch must return unchanged")
    val kept = probe(dirtyBatch).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(301L), s"kept $kept")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned by dedupBatchAgainstIndex: $leaked")
  }

  test("every scratch result a call returns is marked delete-on-exit") {
    val fs = new org.apache.hadoop.fs.Path(Dedup.scratchDir(spark))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val points = Seq((1L, 10.0, 20.0), (2L, 10.5, 20.5), (3L, -40.0, 60.0))
      .toDF("id", "lon", "lat")
      .withColumn("cell", graft.functions.geo.grid_cell(col("lon"), col("lat")))
    val queries = Seq((1L, 10.1, 20.1)).toDF("qid", "qlon", "qlat")
    val results = Seq(
      "cc_" -> Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")),
      "cc_drop_" -> Dedup.dedupBatchAgainstIndex(dirtyBatch, probeIdx,
        threshold = 0.5, maxBucket = 0),
      "knn_" -> graft.operators.Knn.knnJoinTable(points, queries, k = 2),
      "cc_sem_" -> Similarity.semanticDedup(embs, k = 5, iters = 2,
        d2Max = 10000L))
    results.foreach { case (prefix, df) =>
      val names = df.inputFiles.map(f =>
        new org.apache.hadoop.fs.Path(f).getParent.getName).distinct.toSeq
      assert(names.size == 1 && names.head.startsWith(prefix),
        s"$prefix result reads $names")
      // the path as the engine registers it: the resolved dir + the name
      val dir = new org.apache.hadoop.fs.Path(
        Dedup.scratchDir(spark) + "/" + names.head)
      assert(fs.cancelDeleteOnExit(dir), s"$dir is not marked delete-on-exit")
      fs.deleteOnExit(dir)
    }
  }

  test("job counts: connectedComponents, a clean-batch index probe and " +
       "kmeansFitPortable run a fixed number of Spark jobs") {
    docs.count(); embs.count(); probeIdx   // fixtures are built outside
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val counts = Map(
      "connectedComponents" ->
        WriteProbe.jobCount(spark)(Dedup.connectedComponents(pairs)),
      "clean probe" -> WriteProbe.jobCount(spark)(
        Dedup.dedupBatchAgainstIndex(cleanBatch, probeIdx, threshold = 0.5,
          maxBucket = 0)),
      "kmeansFitPortable" -> WriteProbe.jobCount(spark)(
        Similarity.kmeansFitPortable(embs, k = 5, iters = 3)))
    assert(counts == Map("connectedComponents" -> 5, "clean probe" -> 4,
      "kmeansFitPortable" -> 4))
  }

  test("duplicatePassages finds exactly the brute-force shared windows with " +
       "correct multiplicities") {
    val crafted = Seq(
      (920L, "x boiler plate footer text y unique920 tail words here"),
      (921L, "z boiler plate footer text q unique921 other tail stuff"),
      (922L, "boiler plate footer text boiler plate footer text pad0 pad1"),
      (923L, "short one")).toDF("doc_id", "text")
    val w = 4
    val got = Dedup.duplicatePassages(docs.unionByName(crafted), windowWords = w)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // brute force over the same corpus
    val rows = docRows ++ Seq(920L -> "x boiler plate footer text y unique920 tail words here",
      921L -> "z boiler plate footer text q unique921 other tail stuff",
      922L -> "boiler plate footer text boiler plate footer text pad0 pad1",
      923L -> "short one")
    val occ = rows.flatMap { case (id, text) =>
      val ws = text.split(" +").filter(_.nonEmpty)
      ws.sliding(w).filter(_.length == w).map(win => (win.mkString(" "), id))
    }
    val expect = occ.groupBy(_._1).collect {
      case (p, os) if os.map(_._2).distinct.size >= 2 =>
        p -> (os.map(_._2).distinct.size.toLong, os.size.toLong, os.map(_._2).min)
    }.toMap
    assert(got == expect)
    // the planted footer: docs 920/921/922, with 922 contributing TWO occurrences
    assert(got("boiler plate footer text") == (3L, 4L, 920L))
  }

  test("PII census counts planted identifiers and redaction removes them all") {
    val df = Seq(
      (1L, "reach me at jane.doe+x@mail.example.org or 555-0199 thanks"),
      (2L, "server at 192.168.1.254 and 10.0.0.7 no mail"),
      (3L, "clean text with no identifiers at all"),
      (4L, "a@b.io c@d.net 111-2222 333-4444 1.2.3.4")).toDF("doc_id", "text")
    val got = TextOps.withPii(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
          r.getAs[Int]("n_ipv4")), r.getAs[String]("text_redacted"))).toMap
    assert(got(1L)._1 == ((1, 1, 0)), got(1L).toString)
    assert(got(2L)._1 == ((0, 0, 2)))
    assert(got(3L)._1 == ((0, 0, 0)))
    assert(got(4L)._1 == ((2, 2, 1)))
    assert(got(3L)._2 == "clean text with no identifiers at all")
    // redacted text has zero remaining matches for any pattern
    val re = TextOps.withPii(TextOps.withPii(df)
      .select(col("doc_id"), col("text_redacted").as("text")))
    assert(re.where(col("n_emails") + col("n_phones") + col("n_ipv4") > 0).count() == 0)
  }

  test("groupVocabOverlap equals brute-force set overlap for unigrams " +
       "and 3-gram shingles") {
    val grouped = docs.withColumn("g", pmod(col("doc_id"), lit(4L)).cast("string"))
    Seq(1, 3).foreach { n =>
      val got = TextOps.groupVocabOverlap(grouped, col("g"), n).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      def toks(t: String): Set[String] = {
        val w = t.split(" +").filter(_.nonEmpty)
        if (n == 1) w.toSet
        else if (w.isEmpty) Set.empty
        else (0 to math.max(w.length - n, 0))
          .map(i => w.slice(i, i + n).mkString(" ")).filter(_.nonEmpty).toSet
      }
      val sets = docRows.groupBy(d => (d._1 % 4).toString)
        .view.mapValues(_.map(d => toks(d._2)).reduce(_ ++ _)).toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size if inter > 0
      } yield (a, b) ->
        (inter.toLong, (sets(a).size + sets(b).size - inter).toLong)).toMap
      assert(got == expected, s"nGram $n")
    }
  }

  test("weightedSample keeps exactly the brute-force md5-bucket rows, " +
       "rate tracks the weight, 0-weight drops, cap-weight keeps all") {
    val rows = (0L until 4000L).map(i => (i, (i % 700).toLong))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", col("w"), 1L, 600L, "s7")
      .collect().map(_.getLong(0)).toSet
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest((id.toString + "s7").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 10000L
    }
    val expected = rows.filter { case (id, w) =>
      bucket(id) * 600L < w * 10000L
    }.map(_._1).toSet
    assert(got == expected)
    // weight 0 never kept; weight >= 600 always kept
    assert(rows.filter(_._2 == 0L).forall(r => !got(r._1)))
    assert(rows.filter(_._2 >= 600L).forall(r => got(r._1)))
    // the kept fraction of a mid stratum tracks its rate (w=300 -> 0.5)
    val mid = rows.filter(r => r._2 == 300L).map(_._1)
    val rate = mid.count(got).toDouble / mid.size
    assert(math.abs(rate - 0.5) < 0.25, s"w=300 rate $rate")
    // a fractional weight column is refused loudly (silent truncation
    // would zero every sub-1.0 score)
    val frac = intercept[IllegalArgumentException] {
      Sampling.weightedSample(df.withColumn("wf", col("w") / 1000.0),
        "id", col("wf"), 1L, 1L)
    }
    assert(frac.getMessage.contains("integral"))
  }

  test("distinctFilled equals the brute-force filled-bucket count and " +
       "is bounded by m") {
    val rows = (0L until 5000L).map(i =>
      (s"g${i % 3}", s"v${i % (200 + 100 * (i % 3))}"))
    // NULL values are excluded — no phantom (m+1)-th bucket
    val df = rows.toDF("g", "v")
      .unionByName(Seq(("g0", null.asInstanceOf[String])).toDF("g", "v"))
    Seq(16, 64, 1024).foreach { m =>
      val got = Frequency.distinctFilled(df, Seq("g"), col("v"), m, "lc")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def bucket(v: String): Long = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest((v + "lc").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h.substring(0, 15), 16) % m.toLong
      }
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(_._2).distinct.map(bucket).distinct.size.toLong
      }
      assert(got == expected, s"m=$m")
      got.values.foreach(f => assert(f <= m.toLong))
      // at m >> distinct the sketch is exact
      if (m == 1024) {
        val truth = rows.groupBy(_._1)
          .map { case (g, rs) => g -> rs.map(_._2).distinct.size.toLong }
        // filled <= distinct always; loss is only genuine bucket
        // collisions, expected ~ d^2/2m (e.g. 400 distinct into 1024
        // buckets -> ~78) — allow 2x the expectation
        truth.foreach { case (g, t) =>
          val slack = t.toDouble * t / m
          assert(got(g) <= t && got(g) >= t - slack,
            s"group $g: ${got(g)} vs $t")
        }
      }
    }
  }
}
