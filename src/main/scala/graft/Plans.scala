package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.operators._

/** Dumps `explain("formatted")` of the core operators to PLANS.md — the
  * evidence artifact that predicates reach the scan (PartitionFilters /
  * PushedFilters), joins broadcast where intended, and the encoder stays
  * inside WholeStageCodegen. Run from the repository root:
  * `sbt "runMain graft.Plans [out.md]"` (default `PLANS.md`). */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName("graft-plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft_plans_").toString
    val images = Fixtures.images(spark, 200000, withBytes = false).toDF()
    ImageTable.ingest(images, s"$dir/images", saltThreshold = 20000, maxSalt = 8)
    val table = ImageTable.readCommitted(spark, s"$dir/images")
    val c = Fixtures.cityCenters(Fixtures.DefaultSeed)(0)
    val b = BBox(c._1 - 1.0, c._2 - 1.0, c._1 + 1.0, c._2 + 1.0)

    // expression and plan ids, object identity hashes, lambda class names
    // and the scratch directory differ run to run: normalize them so a
    // regenerated PLANS.md differs only where a plan did
    val runSpecific = Seq("#\\d+" -> "#n", "plan_id=\\d+" -> "plan_id=n",
      "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda", "@[0-9a-f]{4,}\\b" -> "@h")
    def fmt(df: DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
      runSpecific.foldLeft(out.toString.replace(dir, "<scratch>")) {
        case (text, (re, to)) => text.replaceAll(re, to) }
    }

    lazy val storedPlanet = {
      import spark.implicits._
      val planet = Fixtures.localPlanet(20000, 6000, 1000)
      val t = PlanetExtract.ingest(planet.nodes.toDF(), planet.ways.toDF(),
        planet.relations.toDF())
      PlanetExtract.writeTables(t, s"$dir/planet_store")
      PlanetExtract.readTables(spark, s"$dir/planet_store")
    }

    val sections = Seq(
      "bbox extract over the salted partitioned images table " +
        "(expect: PartitionFilters on p_cell, the bin rectangles as one " +
        "bin_rects filter whose code is the same for every box, " +
        "WholeStageCodegen throughout)" ->
        fmt(ImageTable.extractBBox(table, b)),
      "polygon extract (cell prune + codegen ray-casting refinement)" ->
        fmt(ImageTable.extractPolygon(table, Array(
          c._1 - 1, c._2 - 1, c._1 + 1, c._2 - 1, c._1, c._2 + 1))),
      "tile histogram (encoder inside WSCG, partial+final hash agg)" ->
        fmt(ImageTable.derive(images).groupBy("cell").count()),
      "stored planet-DB extract (expect: PartitionFilters on the coarse p " +
        "column for the ways/relations scans, pBits read from the store's " +
        "sidecar, + a bin_rects filter on xbin/ybin)" ->
        fmt(PlanetExtract.bbox(storedPlanet, b)),
      "served extract (one tagged plan: the nodes, ways and relations " +
        "branches of the stored extract unioned with kind tags and their " +
        "payload columns, under ONE range-partitioned sort on (kind, id) — " +
        "the order ExtractServer streams through one toLocalIterator; " +
        "expect the same pruned scans as the stored extract and one " +
        "Exchange rangepartitioning)" ->
        fmt(PlanetExtract.taggedEntities(storedPlanet, b)),
      "ANN LSH probe (ONE scan: all 8 table signatures computed in a single " +
        "projection, OR-combined filter — no per-table scan+union)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        val q = Array.tabulate(64)(i => math.sin(7.0 * (i + 1)).toFloat)
        fmt(Similarity.lshTopK(embs, q, 10, nTables = 8, bitsPerTable = 8))
      },
      "banded ANN join (axis-sign buckets: equi-join exchange on (_t,_sig), " +
        "never all-pairs; window top-k per probe)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        fmt(Similarity.axisKnnJoin(embs, k = 5, nTables = 8, bits = 8,
          probePred = col("vec_id") < 20, maxBucket = 0))
      },
      "kNN candidate round (broadcast query-cell table + literal p_cell " +
        "prefix predicate — expect PartitionFilters on p_cell)" -> {
        val cells = graft.cells.CellIndex.disk(
          graft.cells.CellIndex.xBin(c._1), graft.cells.CellIndex.yBin(c._2), 1)
        val pCells = cells.map(graft.cells.CellIndex
          .coarseCellOfGrid(_, ImageTable.DefaultPRes)).distinct.toSeq
        val cand = cells.map(cc => (1L, c._1, c._2, cc)).toSeq
        import spark.implicits._
        fmt(table.where(col("p_cell").isin(pCells: _*))
          .join(broadcast(cand.toDF("qid", "qlon", "qlat", "cell")), "cell"))
      },
      "random-plane LSH knn join (expect ONE source scan per self-join side " +
        "— all 6 table signatures in a single projection, exploded to band " +
        "structs; was nTables scans per side via union. At scale the two " +
        "sides' identical (_t,_sig) exchanges dedupe via ReuseExchange; " +
        "here AQE broadcasts the small side instead)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        fmt(Similarity.knnJoin(embs, k = 5, nTables = 6, bitsPerTable = 8))
      },
      "embedding near-dup join (same single-scan banded explode shape: one " +
        "source scan per self-join side, was nTables per side)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        fmt(Dedup.embeddingNearDup(embs, cosThreshold = 0.8))
      },
      "diffSync delete-target resolve (expect PartitionFilters on idx_b — " +
        "the id->p_cell INDEX lookup reads only the diffed ids' hash " +
        "buckets; the store itself is never scanned to find victims)" -> {
        import spark.implicits._
        graft.streaming.StreamingIngest.buildCellIndex(spark, s"$dir/images")
        val ids = Seq("img_000000000007", "img_000000000011")
          .toDF("image_id")
        val idx = spark.read.parquet(s"$dir/images/_idx")
        val bs = ids.select(pmod(xxhash64(col("image_id")),
          lit(graft.streaming.StreamingIngest.DefaultIdxBuckets)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        fmt(idx.where(col("idx_b").isin(bs: _*)).join(ids, "image_id")
          .select("p_cell").distinct())
      },
      "stored IVF index probe (expect PartitionFilters on list_id: the " +
        "nprobe nearest lists are literal directories, the inverted-file " +
        "read shape at 100 TB)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        val (assigned, cents) = Similarity.ivfBuildPortable(embs, nLists = 16)
        val ivfDir = s"$dir/ivf_index"
        Similarity.writeIvfIndex(assigned, cents, ivfDir)
        val (stored, cents2) = Similarity.readIvfIndex(spark, ivfDir)
        val q = Array.tabulate(64)(i => math.sin(7.0 * (i + 1)).toFloat)
        fmt(Similarity.ivfTopK(stored, cents2, q, 10, nprobe = 4))
      },
      "language id (linear argmax: ONE word-array materialization, 5 score " +
        "columns, array_max/array_position — not the exponential when-fold; " +
        "parquet-backed so the plan shows the real FileScan + three Projects " +
        "instead of a ConvertToLocalRelation-pre-evaluated LocalTableScan)" -> {
        import spark.implicits._
        val ddir = s"$dir/langid_docs"
        Seq((1L, "the cat and the dog"), (2L, "der hund und die katze"))
          .toDF("doc_id", "text").write.parquet(ddir)
        fmt(TextOps.withLangId(spark.read.parquet(ddir))
          .select("doc_id", "lang_pred"))
      },
      "table-driven kNN join round (expect: query-side disk explode via " +
        "two generates — never a crossJoin — equi-joined on (cell, p_cell) " +
        "with the Morton-derived query-side partition key; on a " +
        "partitioned store that join key is the dynamic-partition-pruning " +
        "shape, and the per-query top-k window follows)" -> {
        import spark.implicits._
        val pts = table
          .withColumn("id", expr("cast(substring(image_id, 5) as long)"))
          .select("id", "lon", "lat", "cell", "p_cell")
        val qdf = Seq((1L, c._1, c._2), (2L, c._1 + 1.0, c._2 - 1.0))
          .toDF("qid", "qlon", "qlat")
        fmt(Knn.roundTopK(pts, qdf, r = 1, k = 5,
          pRes = ImageTable.DefaultPRes))
      },
      "PQ ADC probe over a stored codes table (expect ReadSchema WITHOUT " +
        "the embedding column: the asymmetric-distance scan touches only " +
        "vec_id + the 8 int code columns — the product-quantization " +
        "payoff at rest, where the float vectors never leave storage)" -> {
        val embs = spark.range(20000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        val (codes, cbs) = Similarity.pqBuildPortable(embs)
        val codesDir = s"$dir/pq_codes"
        codes.write.mode("overwrite").parquet(codesDir)
        val q = Array.tabulate(64)(i => math.sin(7.0 * (i + 1)).toFloat)
        fmt(Similarity.pqTopK(spark.read.parquet(codesDir), cbs, q, 10))
      },
      "stored dedup-index probe (expect PartitionFilters on idx_b: the " +
        "batch's band keys hash to a literal bucket list, so the corpus " +
        "side of incremental dedup is a pruned read of PRECOMPUTED banded " +
        "signatures — the corpus text is never re-minhashed per batch)" -> {
        val mkDocs = (lo: Long, hi: Long) =>
          spark.range(lo, hi).selectExpr("id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 20), " +
              "i -> concat('w', pmod(id * i, 37)))) AS text")
        Dedup.writeDedupIndex(mkDocs(0L, 2000L), s"$dir/dedup_idx",
          buckets = 64)
        // a 2-doc batch: 8 band keys -> at most 8 of the 64 buckets
        fmt(Dedup.indexProbeCandidates(mkDocs(10000L, 10002L),
          s"$dir/dedup_idx"))
      },
      "skew-safe as-of join (expect: the full-size streams meet ONLY in " +
        "equi-join exchanges keyed on (k, _bkt) — no window over the raw " +
        "rows partitioned by the key alone; the single window runs over " +
        "the tiny distinct (key, bucket) carry frame, so a hot key costs " +
        "one bucket's rows per reducer, never the whole key)" -> {
        val ev = spark.range(200000).selectExpr("id",
          "pmod(id, 50) AS k", "id * 7 AS t")
        val p = ev.selectExpr("id AS probe_id", "k", "t")
        val bb2 = ev.selectExpr("id AS build_id", "k", "t", "id AS v")
        fmt(Temporal.asofJoinBucketed(p, bb2, Seq("k"), "t", "probe_id",
          "build_id", Seq("v"), bucketWidth = 1000L))
      },
      "keyed interval join (expect: the interval side explodes into its " +
        "covered buckets and the join is an equi-join on (k, _bkt) — " +
        "candidate volume bounded by bucket co-occupancy, never a key-wide " +
        "cartesian; >maxSpanBuckets giants union in via an explicit " +
        "broadcast join)" -> {
        val ev = spark.range(200000).selectExpr("id",
          "pmod(id, 50) AS k", "id * 7 AS t")
        val p = ev.selectExpr("id AS probe_id", "k", "t")
        val iv = ev.selectExpr("id AS interval_id", "k", "t AS s_t",
          "t + pmod(id, 11) * 500 AS e_t")
        fmt(Temporal.intervalJoin(p, iv, Seq("k"), "t", "s_t", "e_t",
          bucketWidth = 1000L, maxSpanBuckets = 4))
      },
      "skew-safe sessionization (expect: raw events windowed ONLY on " +
        "(k, _bkt) — both carry windows sort the tiny per-bucket aggregate " +
        "frames, so a hot key's rows never serialize through one reducer)" -> {
        val ev = spark.range(200000).selectExpr("id AS event_id",
          "pmod(id, 50) AS k", "id * 7 AS t")
        fmt(Temporal.sessionizeBucketed(ev, Seq("k"), "t", "event_id",
          gap = 5000L, bucketWidth = 1000L))
      },
      "heavy-hitters exact recount (expect: BroadcastHashJoin against the " +
        "collected candidate set — the second pass filters map-side and " +
        "partial-aggregates before the only exchange; the key universe " +
        "never shuffles)" -> {
        val words = spark.range(200000).selectExpr(
          "concat('w', pmod(id * 2654435761, 1000)) AS word")
        fmt(Frequency.heavyHitters(words, "word", minCount = 400L, k = 2048))
      },
      "fractional upsample (expect: NO exchange at all — hash membership, " +
        "copy sequence and explode are pure per-row expressions over the " +
        "scan)" -> {
        val docs = spark.range(200000).selectExpr("id AS doc_id")
        fmt(Sampling.upsample(docs, "doc_id",
          lit(10000L) + pmod(col("doc_id"), lit(3)) * 7500L))
      },
      "grouped exact quantiles (expect: ONE partial+final hash aggregate " +
        "over the raw rows builds the (group, value) histogram; the " +
        "rank-selection windows sort only that tiny frame)" -> {
        val rows = spark.range(200000).selectExpr(
          "concat('g', pmod(id, 5)) AS g", "pmod(id * 31, 400) AS v")
        fmt(Frequency.groupQuantiles(rows, "g", "v", Seq(2500, 5000, 7500)))
      },
      "postings-index keyword probe (expect PartitionFilters on w_b: the " +
        "query terms hash to literal bucket directories, so conjunctive " +
        "search reads |term buckets| dirs of the inverted index — the " +
        "corpus text is never rescanned after the build)" -> {
        val pdir = s"$dir/postings_idx"
        val docs2 = spark.range(2000).selectExpr("id AS doc_id",
          "concat_ws(' ', transform(sequence(1, 30), " +
            "i -> concat('w', pmod(id * i, 97)))) AS text")
        graft.operators.Postings.writePostingsIndex(docs2, pdir, buckets = 32)
        fmt(graft.operators.Postings.searchAll(spark, pdir, Seq("w3", "w17")))
      },
      "refined bbox extract over the stored planet (expect the per-way bin " +
        "BOUNDS overlap as a bin_rects filter on the ways scan below the " +
        "refs explode — only ways whose bound rects touch the bbox are " +
        "exploded, never the whole table; the reference's vex.c:883 " +
        "single-cell-index TODO, fixed)" -> {
        fmt(PlanetExtract.bboxRefined(storedPlanet, b))
      },
      "budget-capped mixing (expect: the raw-docs side carries NO " +
        "stratum-wide window — one partial+final hash aggregate builds the " +
        "(stratum, bucket) cost histogram, the cumulative window sorts only " +
        "that tiny frame, bucket classification joins back as a " +
        "BroadcastHashJoin, and the per-doc running-sum window sits behind " +
        "the boundary-bucket filter, so it sorts ~1/10000 of each stratum)" -> {
        val docs = spark.range(200000).selectExpr("id AS doc_id",
          "concat('s', CAST(id % 4 AS STRING)) AS src",
          "CAST(50 + id % 400 AS LONG) AS n_chars")
        fmt(Sampling.tokenBudgetMix(docs, "doc_id", col("n_chars"),
          col("src"), Map("s0" -> 100000L, "s1" -> 1000000000L), salt = "p"))
      },
      "sequence packing (expect: the raw-docs side carries NO global " +
        "window — the bucket token histogram aggregates partial+final, its " +
        "cumulative window sorts a <=10k-row frame, bucket base offsets " +
        "come back as a BroadcastHashJoin, and the per-doc running sum is " +
        "a window PARTITIONED by the 10k buckets, so no single reducer " +
        "ever sees more than ~1/10000 of the corpus)" -> {
        val docs = spark.range(200000).selectExpr("id AS doc_id",
          "CAST(50 + id % 400 AS LONG) AS n_tok")
        fmt(Sampling.packSequences(docs, "doc_id", col("n_tok"), 2048L, "p"))
      },
      "resample + LOCF (expect: ONE partial+final hash aggregate builds " +
        "the (key, bucket) maxima; the gap grid is a Generate over each " +
        "key's own span — never a global calendar; the forward-fill " +
        "window partitions BY KEY, so reducer load is one key's grid)" -> {
        val obs = spark.range(200000).selectExpr(
          "CAST(id % 500 AS LONG) AS k", "CAST(id * 37 % 100000 AS LONG) AS t",
          "CAST(id % 1000 AS LONG) AS v")
        fmt(Temporal.resampleLocf(obs, Seq("k"), col("t"), col("v"), 100L))
      },
      "rectangle-overlap join (expect: SortMergeJoin/ShuffledHashJoin on " +
        "the coarse cell keys (_cx, _cy) — candidates are an EQUI-join, " +
        "never a cartesian; the exact intersection predicate and the " +
        "min-corner emit-once filter run post-join inside WSCG)" -> {
        val lrect = spark.range(100000).selectExpr("id AS l_id",
          "CAST(id % 1000 AS LONG) AS l_x1", "CAST((id / 1000) % 1000 AS LONG) AS l_y1",
          "CAST(id % 1000 + id % 13 AS LONG) AS l_x2",
          "CAST((id / 1000) % 1000 + id % 17 AS LONG) AS l_y2")
        val rrect = spark.range(100000).selectExpr("id AS r_id",
          "CAST(id % 997 AS LONG) AS r_x1", "CAST((id / 997) % 997 AS LONG) AS r_y1",
          "CAST(id % 997 + id % 11 AS LONG) AS r_x2",
          "CAST((id / 997) % 997 + id % 19 AS LONG) AS r_y2")
        fmt(SpatialJoin.rectJoin(lrect, rrect, cellSize = 64))
      },
      "point-in-polygon set join (expect: polygons Generate into bbox " +
        "cells, points compute ONE cell, candidates meet in an equi-join " +
        "on (_cx, _cy) — never a cartesian in the main branch — and the " +
        "point_in_poly_cols refine runs post-join inside WSCG; the rare " +
        "giant branch is an explicit BroadcastNestedLoopJoin over the " +
        "filtered giants only)" -> {
        val pts = spark.range(100000).selectExpr("id",
          "CAST(id % 600 AS DOUBLE) / 10 AS lon",
          "CAST((id / 600) % 400 AS DOUBLE) / 10 AS lat")
        val polys = spark.range(200).selectExpr("id AS poly_id",
          "array(CAST(id % 55 AS DOUBLE), CAST(id % 55 AS DOUBLE) + 3.1, " +
            "CAST(id % 55 AS DOUBLE) + 1.2) AS px",
          "array(CAST(id % 35 AS DOUBLE), CAST(id % 35 AS DOUBLE) + 0.1, " +
            "CAST(id % 35 AS DOUBLE) + 2.7) AS py")
        fmt(SpatialJoin.polyJoin(pts, polys, binDeg = 1.0))
      },
      "skew-safe interval union (expect: the raw intervals window ONLY " +
        "on (k, _bkt) — local per-bucket merge — and the key-wide pass " +
        "sorts the LOCAL-SPAN aggregate frame, so a hot key's raw rows " +
        "never serialize through one reducer)" -> {
        val iv = spark.range(200000).selectExpr("id",
          "pmod(id, 50) AS k", "id * 7 AS s", "id * 7 + pmod(id, 11) * 500 AS e")
        fmt(Temporal.mergeIntervalsBucketed(iv, Seq("k"), "s", "e", "id",
          bucketWidth = 1000L))
      },
      "grouped top-k via bounded-heap Aggregator (expect: " +
        "ObjectHashAggregate with a partial topkagg BEFORE the exchange — " +
        "each map task ships at most k rows per group, vs the window-rank " +
        "plan whose Sort + Window put every row of a hot group through " +
        "one reducer)" -> {
        val ev = spark.range(200000).selectExpr("CAST(id % 50 AS LONG) AS g",
          "id", "CAST(id * 31 % 999983 AS LONG) AS v")
        fmt(Frequency.topKPerGroup(ev, Seq("g"), "v", "id", k = 3))
      },
      "Bloom-prefiltered decontamination (expect: the corpus shingle " +
        "stream passes the broadcast-Bloom UDF filter BEFORE its exchange " +
        "— only might-contain shingles shuffle into the exact join; the " +
        "benchmark side is the small build side)" -> {
        val corpus = spark.range(20000).selectExpr("id AS doc_id",
          "concat_ws(' ', transform(sequence(1, 20), " +
            "i -> concat('w', pmod(id * i, 211)))) AS text")
        val bench = spark.range(50).selectExpr("id + 100000 AS doc_id",
          "concat_ws(' ', transform(sequence(1, 10), " +
            "i -> concat('w', pmod(id * i, 211)))) AS text")
        fmt(Dedup.crossContaminationBloom(corpus, bench, nGram = 2,
          minContainment = 0.3, maxDocFreq = 0))
      },
      "portable k-means centroid update round (expect: partial " +
        "HashAggregate on (cluster, d) BEFORE the exchange — map-side " +
        "combine ships at most k x 64 rows per task — and the argmin " +
        "assignment is ONE row-preserving projection over the scan: " +
        "the codegen qdist_argmin expression carries the centroids as a " +
        "REFERENCE OBJECT, so plan/codegen cost is independent of k — " +
        "no join, no second pass)" -> {
        val embs = spark.range(200000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        val cents = Array.tabulate(8)(c => Array.tabulate(64)(d =>
          1500L + c * 100L + d))
        val q = embs.select(col("vec_id"),
          graft.operators.Similarity.quantized.as("_q"))
        fmt(graft.operators.Similarity.assignLarge(q, cents)
          .select(col("cluster"), posexplode(col("_q")).as(Seq("d", "v")))
          .groupBy("cluster", "d")
          .agg(sum("v").as("s"), count(lit(1)).as("n")))
      },
      "semantic dedup candidate pass (the operator itself materializes " +
        "its result to scratch, so this shows the INTERNAL pair pipeline " +
        "it executes; expect: pair generation is an EQUI-join exchange " +
        "keyed on the cluster id — never all-pairs — with the <= k-row " +
        "eligible-cluster list BROADCAST onto both sides, and the " +
        "sqdist_long_cols pair distance evaluated inside WSCG after " +
        "the join)" -> {
        val embs = spark.range(200000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        val cents = Array.tabulate(8)(c => Array.tabulate(64)(d =>
          1500L + c * 100L + d))
        val qa = graft.operators.Similarity.assignLarge(
          embs.select(col("vec_id"),
            graft.operators.Similarity.quantized.as("_q")), cents)
          .select(col("vec_id"), col("cluster"), col("_q"))
        // the SHARED candidate pass (the operator calls the same method
        // on its persisted assignment — the plan cannot drift)
        fmt(graft.operators.Similarity.semanticDedupDropped(
          qa, maxCluster = 100000L, d2Max = 1000L))
      },
      "cluster-balanced coreset (expect: Window PARTITIONED BY the " +
        "cluster id — never a global sort; the caller sizes k so every " +
        "partition is bounded — over the one-projection assignment scan)" -> {
        val embs = spark.range(200000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS embedding")
        fmt(Similarity.clusterCoreset(embs, k = 8, iters = 0, m = 10))
      })

    val md = new StringBuilder("# PLANS — physical-plan evidence\n\n")
    md.append("Generated by `graft.Plans` on a 200k-row salted images table.\n")
    sections.foreach { case (title, plan) =>
      md.append(s"\n## $title\n\n```\n$plan```\n")
    }
    val pw = new PrintWriter(new File(args.headOption.getOrElse("PLANS.md")), "UTF-8")
    pw.write(md.toString); pw.close()
    System.err.println("[plans] wrote PLANS.md")
    spark.stop()
  }
}
