package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one codec of the stored tables' parameter sidecars: the small JSON
  * files written next to a store so that its readers use the writer's own
  * parameters (dedup and postings indexes, the planet DB's `pBits`, the
  * diff merge's cell-index bucket count, IVF centroids, IVF-PQ centroids
  * and codebooks, k-means models). Divergence between build and probe is
  * impossible by construction, and a sidecar that is present but wrong
  * fails its read with a message that names it. */
private[graft] object IndexMeta {

  def exists(spark: SparkSession, p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  /** Write `doc` as JSON text to `p`, replacing it. `doc` is ordered fields
    * (a `Seq` of `(name, value)` pairs, an object), an array of any depth,
    * or a number. Numbers print with their own `toString` (a Float's
    * shortest round-trip digits): the format every stored sidecar has. */
  def write(spark: SparkSession, p: Path, doc: Any): Unit =
    LeafWrite.writeFile(spark, p, json(doc).getBytes(UTF_8))

  private def json(v: Any): String = v match {
    case a: Array[_] => a.iterator.map(json).mkString("[", ",", "]")
    case fields: Seq[_] =>
      fields.map { case (k: String, x) => s""""$k":${json(x)}""" }.mkString("{", ",", "}")
    case n => n.toString
  }

  /** Read the sidecar `p`, which must exist; `what` names the sidecar and
    * `store` the writer that builds the store, in every failure message. */
  def read(spark: SparkSession, p: Path, what: String, store: String): Doc = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $what at $p — not a $store store")
    val corrupt = s"corrupt $what at $p (a $store store)"
    val root =
      try {
        val in = fs.open(p)
        try JsonMethods.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
      } catch { case NonFatal(e) => throw new IllegalStateException(s"$corrupt: ${e.getMessage}", e) }
    new Doc(root, corrupt)
  }

  /** A parsed sidecar. Each accessor checks the shape and range of what it
    * reads; `key` names a field of the document, and an empty `key` the
    * whole document. */
  final class Doc private[IndexMeta] (root: JValue, corrupt: String) {
    private def fail(msg: String): Nothing = throw new IllegalStateException(s"$corrupt: $msg")

    private def at(key: String): JValue = root match {
      case _ if key.isEmpty => root
      case JObject(fields) => fields.collectFirst { case (`key`, v) => v }.getOrElse(fail(s"no key $key"))
      case _ => fail(s"not an object, no key $key")
    }

    /** A non-negative integer field. */
    def long(key: String): Long = count(key, Long.MaxValue)

    /** A non-negative integer field that fits an Int. */
    def int(key: String): Int = count(key, Int.MaxValue).toInt

    private def count(key: String, max: Long): Long = at(key) match {
      case JInt(v) if v >= 0 && v <= max => v.toLong
      case v => fail(s"$key is $v, not an integer in [0, $max]")
    }

    private val float: PartialFunction[JValue, Float] = {
      case JDouble(d) if math.abs(d) <= Float.MaxValue => d.toFloat
      case JInt(i) if i.abs <= BigInt(Float.MaxValue.toLong) => i.toFloat
    }

    /** A rectangular matrix of Floats. */
    def floatMatrix(key: String = ""): Array[Array[Float]] = matrix(at(key), key)(float)

    /** An array of rectangular Float matrices (IVF-PQ codebooks). */
    def floatMatrices(key: String): Array[Array[Array[Float]]] = at(key) match {
      case JArray(ms) => ms.zipWithIndex.map { case (m, i) => matrix(m, s"$key[$i]")(float) }.toArray
      case v => fail(s"$key is $v, not an array of matrices")
    }

    /** A rectangular matrix of Longs (integer k-means centroids). */
    def longMatrix(key: String = ""): Array[Array[Long]] = matrix(at(key), key) {
      case JInt(i) if i.isValidLong => i.toLong
    }

    private def matrix[T: ClassTag](v: JValue, key: String)(
        elem: PartialFunction[JValue, T]): Array[Array[T]] = {
      val rows = v match {
        case JArray(rs) => rs.map {
          case JArray(xs) => xs.map(x => elem.applyOrElse(x, (_: JValue) =>
            fail(s"matrix $key holds $x, out of range or not a number"))).toArray
          case r => fail(s"matrix $key has row $r, not an array")
        }.toArray
        case _ => fail(s"matrix $key is $v, not an array")
      }
      if (rows.exists(_.length != rows.head.length)) fail(s"matrix $key is ragged")
      rows
    }
  }
}
