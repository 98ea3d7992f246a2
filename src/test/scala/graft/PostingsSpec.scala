package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Postings

/** Stored postings index: AND search + document frequencies vs brute
  * force, bucket-pruned probe reads (PartitionFilters), meta-sidecar
  * parameter authority, absent-term handling. */
class PostingsSpec extends SparkFunSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta gamma  delta"),          // double space: wsWords filters it
    (3L, "alpha beta beta beta"),
    (4L, "epsilon zeta"),
    (5L, "")).toDF("doc_id", "text")

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_postings_").toString + "/idx"
    Postings.writePostingsIndex(docs, d, buckets = 8)
    d
  }

  test("searchAll: conjunctive semantics, tf sums, duplicate query terms") {
    def hits(terms: String*): Map[Long, Long] =
      Postings.searchAll(spark, dir, terms).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("alpha", "beta") === Map(1L -> 3L, 3L -> 4L))
    assert(hits("beta") === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(hits("alpha", "alpha", "beta") === Map(1L -> 3L, 3L -> 4L),
      "duplicate terms must not inflate the AND arity")
    assert(hits("alpha", "nosuchword") === Map.empty)
  }

  test("docFrequencies: postings-only df, absent terms 0") {
    val df = Postings.docFrequencies(spark, dir,
        Seq("alpha", "beta", "nosuchword"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("alpha" -> 2L, "beta" -> 3L, "nosuchword" -> 0L))
  }

  test("probe reads only the query terms' bucket partitions") {
    val plan = Postings.termPostings(spark, dir, Seq("alpha"))
      .queryExecution.executedPlan.toString
    // the bucket predicate must sit INSIDE the PartitionFilters clause —
    // a bare "PartitionFilters: []" plus a post-scan filter must fail
    assert("PartitionFilters: \\[[^\\]]*w_b".r.findFirstIn(plan).isDefined,
      s"postings probe is not directory-pruned:\n$plan")
  }

  test("an all-empty corpus leaves a legitimately empty index: probes " +
       "return zero rows instead of failing schema inference") {
    val d = Files.createTempDirectory("graft_postings_empty_").toString + "/idx"
    Postings.writePostingsIndex(
      Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"), d, buckets = 4)
    assert(Postings.searchAll(spark, d, Seq("alpha")).count() === 0)
    val df = Postings.docFrequencies(spark, d, Seq("alpha"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("alpha" -> 0L))
    // a later non-empty append revives it
    Postings.appendToPostingsIndex(Seq((3L, "alpha")).toDF("doc_id", "text"), d)
    assert(Postings.searchAll(spark, d, Seq("alpha"))
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("a plain parquet dir without the meta sidecar is refused") {
    val d = Files.createTempDirectory("graft_postings_plain_").toString + "/p"
    docs.write.parquet(d)
    val e = intercept[IllegalArgumentException] {
      Postings.searchAll(spark, d, Seq("alpha"))
    }
    assert(e.getMessage.contains("postings meta"))
  }

  test("appendToPostingsIndex == rebuild over the union corpus") {
    val d1 = Files.createTempDirectory("graft_postings_app_").toString + "/idx"
    val d2 = Files.createTempDirectory("graft_postings_reb_").toString + "/idx"
    val first = docs.where(col("doc_id") <= 3L)
    val later = docs.where(col("doc_id") > 3L)
      .unionByName(Seq((6L, "alpha beta")).toDF("doc_id", "text"))
    Postings.writePostingsIndex(first, d1, buckets = 8)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Postings.appendToPostingsIndex(later, d1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"appendToPostingsIndex pinned: $leaked")
    Postings.writePostingsIndex(docs.unionByName(
      Seq((6L, "alpha beta")).toDF("doc_id", "text")), d2, buckets = 8)
    def dump(d: String) = spark.read.parquet(d)
      .select("word", "doc_id", "tf", "w_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(dump(d1) === dump(d2))
    // the appended index answers queries over the grown corpus
    val hits = Postings.searchAll(spark, d1, Seq("alpha", "beta"))
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L, 3L, 6L))
  }

  test("compactPostingsIndex collapses append small-files; results and " +
       "layout unchanged; refuses non-index dirs; zero pinned blocks") {
    val d = Files.createTempDirectory("graft_postings_cmp_").toString + "/idx"
    Postings.writePostingsIndex(docs.where(col("doc_id") === 1L), d, buckets = 4)
    for (id <- 2L to 4L)
      Postings.appendToPostingsIndex(docs.where(col("doc_id") === id), d)
    def rowSet = spark.read.parquet(d)
      .select("word", "doc_id", "tf", "w_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    def dataFiles = {
      val fs = new java.io.File(d)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(fs).filter(_.getName.endsWith(".parquet"))
    }
    val before = rowSet
    val filesBefore = dataFiles.size
    // other suites may legitimately hold persisted RDDs in the shared
    // session — the leak assert is scoped to blocks THIS call pins
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Postings.compactPostingsIndex(spark, d)
    assert(rowSet === before)
    assert(dataFiles.size < filesBefore,
      s"expected fewer files, had $filesBefore now ${dataFiles.size}")
    // one file per non-empty bucket directory
    val perBucket = dataFiles.groupBy(_.getParentFile.getName)
    assert(perBucket.values.forall(_.size == 1), s"multi-file buckets: $perBucket")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"leaked blocks: $leaked")
    // searches still work through the compacted layout
    assert(Postings.searchAll(spark, d, Seq("beta"))
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val plain = Files.createTempDirectory("graft_postings_np_").toString + "/p"
    docs.write.parquet(plain)
    intercept[IllegalArgumentException] {
      Postings.compactPostingsIndex(spark, plain)
    }
  }

  test("postings-orphan crash window: a doc with postings but no doclen " +
       "row is invisible to searchBm25 until compact repairs its dl") {
    val d = Files.createTempDirectory("graft_postings_orph_").toString + "/idx"
    Postings.writePostingsIndex(docs.where(col("doc_id") <= 2L), d, buckets = 4)
    Postings.appendToPostingsIndex(docs.where(col("doc_id") === 3L), d)
    // simulate the crash between the append's postings commit and its
    // doclen write: remove doc 3's doclen bucket directory (chosen so no
    // other doc shares it — asserted)
    val b3 = docs.where(col("doc_id") === 3L)
      .select(pmod(xxhash64(col("doc_id")), lit(4L)).cast("int"))
      .collect()(0).getInt(0)
    val others = docs.where(col("doc_id") <= 2L)
      .select(pmod(xxhash64(col("doc_id")), lit(4L)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    assert(!others.contains(b3), "fixture ids must not share doc 3's bucket")
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete(); ()
    }
    rmr(new java.io.File(s"$d/_doclen/d_b=$b3"))
    // doc 3 is the only one with 3 betas — top BM25 hit when visible
    def betaHits = Postings.searchBm25(spark, d, Seq("beta"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(betaHits === Set(1L, 2L), "orphaned doc leaked into ranking")
    Postings.compactPostingsIndex(spark, d)
    assert(betaHits === Set(1L, 2L, 3L), "compact did not repair the orphan")
    // repaired dl is the exact tf sum, and the meta census includes doc 3
    val dl3 = spark.read.parquet(s"$d/_doclen")
      .where(col("doc_id") === 3L).collect()
    assert(dl3.length === 1 && dl3(0).getAs[Long]("dl") === 4L)
  }

  test("replayed append: probes stay exactly-once, compact repairs physically") {
    val d = Files.createTempDirectory("graft_postings_rep_").toString + "/idx"
    Postings.writePostingsIndex(docs.where(col("doc_id") <= 2L), d, buckets = 4)
    val late = docs.where(col("doc_id") === 3L)
    Postings.appendToPostingsIndex(late, d)
    Postings.appendToPostingsIndex(late, d)   // the replay
    def hits = Postings.searchAll(spark, d, Seq("beta"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
    assert(hits === want, "probe not exactly-once under replay")
    val rawBefore = spark.read.parquet(d).count()
    Postings.compactPostingsIndex(spark, d)
    assert(spark.read.parquet(d).count() < rawBefore, "dups not repaired")
    assert(hits === want)
  }

  test("index stats: exact corpus counters at build, advanced by appends, " +
       "resynchronized by compact after a replayed append") {
    // base fixture: dls are 4,3,4,2,0 -> n_docs 5, total_len 13
    assert(Postings.indexStats(spark, dir) === ((8, 5L, 13L)))
    val d = Files.createTempDirectory("graft_postings_st_").toString + "/idx"
    Postings.writePostingsIndex(docs.where(col("doc_id") <= 2L), d, buckets = 4)
    assert(Postings.indexStats(spark, d) === ((4, 2L, 7L)))
    val late = docs.where(col("doc_id") === 3L)
    Postings.appendToPostingsIndex(late, d)
    assert(Postings.indexStats(spark, d) === ((4, 3L, 11L)))
    Postings.appendToPostingsIndex(late, d)   // the replay: counters inflate
    assert(Postings.indexStats(spark, d) === ((4, 4L, 15L)))
    Postings.compactPostingsIndex(spark, d)   // ...and compaction resyncs
    assert(Postings.indexStats(spark, d) === ((4, 3L, 11L)))
  }

  test("searchRankedPortable: integer reciprocal-df ranking matches the " +
       "naive oracle, ties break on doc_id, k truncates") {
    // df(alpha)=2 (docs 1,3), df(delta)=1 (doc 2); S=1000000:
    // doc1: tf 2 * (S/2) = S; doc2: tf 1 * S = S; doc3: tf 1 * (S/2)
    val out = Postings.searchRankedPortable(spark, dir,
        Seq("alpha", "delta"), k = 10, scale = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1000000L), (2L, 1000000L), (3L, 500000L)))
    val top1 = Postings.searchRankedPortable(spark, dir,
        Seq("alpha", "delta"), k = 1, scale = 1000000L)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 === Seq(1L))
    // duplicate query terms must not double-weight
    val dup = Postings.searchRankedPortable(spark, dir,
        Seq("alpha", "alpha", "delta"), k = 10, scale = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dup.toSeq === out.toSeq)
  }

  test("searchBm25: matches a brute-force oracle computed from the corpus; " +
       "doclen read is directory-pruned") {
    val terms = Seq("alpha", "beta")
    val out = Postings.searchBm25(spark, dir, terms, k = 10)
    val got = out.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // brute-force BM25 over the fixture corpus
    val corpus = Map(
      1L -> Seq("alpha", "beta", "gamma", "alpha"),
      2L -> Seq("beta", "gamma", "delta"),
      3L -> Seq("alpha", "beta", "beta", "beta"),
      4L -> Seq("epsilon", "zeta"),
      5L -> Seq.empty[String])
    val n = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val (k1, b) = (1.2, 0.75)
    def dfOf(t: String) = corpus.values.count(_.contains(t))
    val expect = corpus.flatMap { case (id, ws) =>
      val s = terms.map { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) 0.0 else {
          val df = dfOf(t)
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * ws.size / avgdl))
        }
      }.sum
      if (s > 0) Some(id -> s) else None
    }
    val expOrder = expect.toSeq.sortBy { case (id, s) => (-s, id) }
    assert(got.map(_._1).toSeq === expOrder.map(_._1))
    got.foreach { case (id, s) =>
      assert(math.abs(s - expect(id)) < 1e-9, s"doc $id score $s vs ${expect(id)}")
    }
    // the doclen side read must be directory-pruned on d_b
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*d_b".r.findFirstIn(plan).isDefined,
      s"doclen read is not directory-pruned:\n$plan")
    // absent terms alone -> empty result, not a failure
    assert(Postings.searchBm25(spark, dir, Seq("nosuchword"), 5).count() === 0)
  }

  test("rebuild overwrites: a shrunk corpus leaves no stale postings") {
    val d = Files.createTempDirectory("graft_postings_rw_").toString + "/idx"
    Postings.writePostingsIndex(docs, d, buckets = 4)
    Postings.writePostingsIndex(docs.where(col("doc_id") =!= 3L), d, buckets = 4)
    val hits = Postings.searchAll(spark, d, Seq("beta"))
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L, 2L))
  }
}
