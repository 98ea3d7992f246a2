package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** The one implementation of the stored-index parameter sidecar: a tiny
  * JSON of integer parameters written next to the index so probes READ
  * the writer's own parameters — divergence between build and probe is
  * impossible by construction. Shared by every index type (dedup
  * signatures, postings) so the convention cannot drift per index. */
private[operators] object IndexMeta {

  def exists(spark: SparkSession, p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  def write(spark: SparkSession, p: Path, kv: Seq[(String, Int)]): Unit =
    writeL(spark, p, kv.map { case (k, v) => k -> v.toLong })

  /** Long-valued twin of [[write]] for corpus-scale counters (doc counts,
    * token totals) that outgrow Int; same file format, same authority
    * contract. A separate name because Seq's erasure forbids a true
    * overload. */
  def writeL(spark: SparkSession, p: Path, kv: Seq[(String, Long)]): Unit =
    LeafWrite.writeFile(spark, p,
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}").getBytes("UTF-8"))

  /** Read `keys` (all required); `what` names the sidecar and `store` the
    * builder in the failure messages. */
  def read(spark: SparkSession, p: Path, what: String, store: String,
           keys: Seq[String]): Seq[Int] =
    readL(spark, p, what, store, keys).map { v =>
      // fail loudly on a corrupt/hand-edited sidecar — a silent .toInt
      // wrap would feed garbage (e.g. buckets=0) into probe pruning
      require(v >= 0 && v <= Int.MaxValue, s"corrupt $what: value $v out of Int range")
      v.toInt
    }

  /** Long-valued twin of [[read]] (see [[writeL]]). */
  def readL(spark: SparkSession, p: Path, what: String, store: String,
            keys: Seq[String]): Seq[Long] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $what at $p — not a $store store")
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
    keys.map { k =>
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(s)
        .getOrElse(throw new IllegalStateException(s"corrupt $what: $s"))
        .group(1).toLong
    }
  }
}
