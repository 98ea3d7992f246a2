package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-6 dev-only instrumentation main (not part of any contract):
  * phase-level timing of the connectedComponents-based gates to locate
  * fixed costs. Run: sbt "runMain graft.DevProbe". */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-devprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val user = System.getProperty("user.name", "u").replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"/tmp/graft_bench_mirror_${user}__root_testdata_sf0.1"

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      System.err.println(f"[devprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      a
    }
    // warmup
    spark.range(1000000).selectExpr("sum(id)").collect()

    // embeddings replicated x200 with disjoint ids — the shared big-frame
    // input of every per-row A/B probe (one definition so the probes can
    // never drift to different row volumes)
    def bigReplica(e: org.apache.spark.sql.DataFrame) =
      e.crossJoin(spark.range(200).select(col("id").as("_rep")))
        .select((col("vec_id") * 200 + col("_rep")).as("vec_id"),
          col("embedding"))

    if (args.contains("quant")) {
      // quantize-pass share: the transform lambda vs the raw read, and
      // the whole quantize+argmin assignment, all full-row via noop
      import graft.operators.Similarity
      val big = bigReplica(spark.read.parquet(s"$dir/embeddings.parquet"))
      val cents4 = Array.tabulate(4)(c => Array.tabulate(64)(d =>
        1500L + c * 100L + d))
      for (rep <- 1 to 3) {
        t(s"BIG raw embedding (noop) #$rep") {
          big.write.format("noop").mode("overwrite").save()
        }
        t(s"BIG quantized lambda (noop) #$rep") {
          big.select(col("vec_id"), Similarity.quantized.as("_q"))
            .write.format("noop").mode("overwrite").save()
        }
        t(s"BIG quantize+argmin (noop) #$rep") {
          Similarity.assignLarge(
            big.select(col("vec_id"), Similarity.quantized.as("_q")), cents4)
            .select("vec_id", "cluster", "d2")
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop()
      return
    }

    if (args.contains("pq")) {
      // A/B: PQ encode per-row cost — codegen PqSubArgmin vs the
      // higher-order zip_with reference, full-row eval via noop sink
      // (guide §1.4) over the embeddings table replicated x200
      import graft.operators.Similarity
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val (_, cbs) = Similarity.pqBuildPortable(e)
      val big = bigReplica(e)
      val outCols = col("vec_id") +:
        cbs.indices.map(s => col(s"code_$s"))
      for (rep <- 1 to 3) {
        t(s"BIG pqEncode codegen (noop) #$rep") {
          Similarity.pqEncode(big, cbs).select(outCols: _*)
            .write.format("noop").mode("overwrite").save()
        }
        t(s"BIG pqEncode higher-order (noop) #$rep") {
          Similarity.pqEncodeHigherOrder(big, cbs).select(outCols: _*)
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop()
      return
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 1000)
    t("pairs compute (count)") {
      Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 4, bands = 4,
        threshold = 0.5, maxBucket = 0).count()
    }
    val pairs = Dedup.minhashLshPortable(docs, nGram = 3, nHashes = 4,
      bands = 4, threshold = 0.5, maxBucket = 0)
    for (rep <- 1 to 2) {
      val cc = t(s"connectedComponents #$rep") {
        Dedup.connectedComponents(pairs)
      }
      t(s"cc consume #$rep") { cc.count() }
    }
    // CC with a precomputed tiny edge list (isolates CC overhead from the
    // pair recompute inside the edges' materialization)
    import spark.implicits._
    val tinyPairs = (0 until 300).map(i => (i.toLong * 2, i.toLong * 2 + 1))
      .toDF("a_id", "b_id")
    for (rep <- 1 to 2)
      t(s"cc tiny-edges #$rep") { Dedup.connectedComponents(tinyPairs).count() }

    // ---- kmeans family internals --------------------------------------
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    for (rep <- 1 to 2) {
      t(s"kmeansFit k=4 (count) #$rep") {
        Similarity.kmeansFitPortable(e, k = 4, iters = 2)._1.count()
      }
      t(s"purity k=4 #$rep") {
        Similarity.clusterLabelPurity(e, k = 4, iters = 2).count()
      }
      t(s"semanticDedup k=8 #$rep") {
        Similarity.semanticDedup(e, k = 8, iters = 2, d2Max = 1400000L).count()
      }
      t(s"coreset k=4 #$rep") {
        Similarity.clusterCoreset(e, k = 4, iters = 2, m = 25).count()
      }
    }
    // ---- semanticDedup + dedup-index phase splits ---------------------
    {
      val e2 = spark.read.parquet(s"$dir/embeddings.parquet")
      val docs1k = spark.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 1000)
      val corpus = docs1k.where(col("doc_id") < 500)
      val batch = docs1k.where(col("doc_id") >= 500)
      for (rep <- 1 to 2) {
        t(s"semdedup full #$rep") {
          Similarity.semanticDedup(e2, k = 8, iters = 2, d2Max = 1400000L).count()
        }
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_probe_idx_").toString
        t(s"idx build #$rep") {
          Dedup.writeDedupIndex(corpus, idxDir, nGram = 3, nHashes = 4,
            bands = 4, buckets = 16, maxBucket = 0)
        }
        t(s"idx probe #$rep") {
          Dedup.dedupBatchAgainstIndex(batch, idxDir, threshold = 0.5,
            maxBucket = 0).count()
        }
        val ptmp = java.nio.file.Files
          .createTempDirectory("graft_probe_planet_").toString
        val ev = spark.read.parquet(s"$dir/events.parquet")
        val nodesRaw = ev
          .select((col("event_id") + 1).as("id"),
            (pmod(col("event_id") * 53, lit(16000L)) / 100.0 + 1.5).as("lon"),
            (pmod(col("event_id") * 89, lit(7500L)) / 100.0 + 1.5).as("lat"))
        val waysRaw = nodesRaw.where(pmod(col("id"), lit(5)) === 0)
          .select((col("id") / 5).cast("long").as("id"),
            sequence(col("id") - 4, col("id")).as("refs"))
        val relsRaw = nodesRaw.where(pmod(col("id"), lit(7)) === 0)
          .select((col("id") / 7).cast("long").as("id"),
            array(struct(lit("outer").as("role"),
                lit(0).cast("byte").as("mtype"), (col("id") - 6).as("ref")),
              struct(lit("inner").as("role"),
                lit(0).cast("byte").as("mtype"), (col("id") - 3).as("ref")))
              .as("members"))
        val pt = graft.operators.PlanetExtract.ingest(nodesRaw, waysRaw, relsRaw)
        t(s"planet writeTables #$rep") {
          graft.operators.PlanetExtract.writeTables(pt, ptmp, pBits = 3)
        }
      }
    }
    // A/B: purity tail restructured as ONE subtree (window-sum totals
    // instead of the second aggregate + join)
    val (_, cents4) = Similarity.kmeansFitPortable(e, k = 4, iters = 2)
    for (rep <- 1 to 2) {
      t(s"purityTail current #$rep") {
        val a = Similarity.kmeansAssign(
          e.select(col("vec_id"), col("label"), Similarity.quantized.as("_q")), cents4)
          .where(col("label").isNotNull)
        val votes = a.groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("n"))
        val tot = votes.groupBy("cluster").agg(sum("n").as("n_rows"))
        val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("label"))
        votes.withColumn("_r", row_number().over(w)).where(col("_r") === 1)
          .join(tot, Seq("cluster"))
          .select(col("cluster"), col("n_rows"),
            col("label").cast("long").as("label_major"), col("n").as("n_major"))
          .count()
      }
      t(s"purityTail window #$rep") {
        val a = Similarity.kmeansAssign(
          e.select(col("vec_id"), col("label"), Similarity.quantized.as("_q")), cents4)
          .where(col("label").isNotNull)
        val votes = a.groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("n"))
        val wS = Window.partitionBy("cluster")
        val w = Window.partitionBy("cluster").orderBy(col("n").desc, col("label"))
        votes.withColumn("n_rows", sum("n").over(wS))
          .withColumn("_r", row_number().over(w)).where(col("_r") === 1)
          .select(col("cluster"), col("n_rows"),
            col("label").cast("long").as("label_major"), col("n").as("n_major"))
          .count()
      }
      t(s"assign literal (count) #$rep") {
        Similarity.kmeansAssign(
          e.select(col("vec_id"), Similarity.quantized.as("_q")), cents4)
          .select("vec_id", "cluster", "d2").count()
      }
      t(s"assign large (count) #$rep") {
        Similarity.kmeansPredict(e, cents4).count()
      }
      // force full evaluation (count prunes): noop write
      t(s"assign literal (noop) #$rep") {
        Similarity.kmeansAssign(
          e.select(col("vec_id"), Similarity.quantized.as("_q")), cents4)
          .select("vec_id", "cluster", "d2")
          .write.format("noop").mode("overwrite").save()
      }
      t(s"assign large (noop) #$rep") {
        Similarity.kmeansPredict(e, cents4)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // per-row throughput at larger scale: replicate embeddings x200
    val big = bigReplica(e)
    for (rep <- 1 to 2) {
      t(s"BIG assign literal (noop) #$rep") {
        Similarity.kmeansAssign(
          big.select(col("vec_id"), Similarity.quantized.as("_q")), cents4)
          .select("vec_id", "cluster", "d2")
          .write.format("noop").mode("overwrite").save()
      }
      t(s"BIG assign large (noop) #$rep") {
        Similarity.kmeansPredict(big, cents4)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
