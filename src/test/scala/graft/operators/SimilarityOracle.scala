package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spec-parity reference forms of the codegen expressions [[Similarity]]
  * ships: each restates one computation with built-in Spark functions, so
  * specs can check the faster form against it on NULLs, short vectors,
  * NaN and ties. */
object SimilarityOracle {

  /** The higher-order formulation of [[Similarity.pqEncode]] (codebooks as
    * per-subspace DATA literals, zip_with/aggregate distances, linear
    * array_min/array_position argmin — never a nested when-fold); the
    * zip_with lambda promotes each float element to double exactly as the
    * explicit cast did, and aggregate's left fold is the same
    * ascending-dim accumulation order. */
  def pqEncodeHigherOrder(
      embs: DataFrame, codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val subDim = codebooks(0)(0).length
    codebooks.zipWithIndex.foldLeft(embs) { case (df, (cb, s)) =>
      val cbLit = typedLit(cb.map(_.map(_.toDouble).toSeq).toSeq)
      val sub = slice(col("embedding"), s * subDim + 1, subDim)
      val dists = transform(cbLit, cw =>
        aggregate(zip_with(sub, cw, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v))
      df.withColumn(s"code_$s",
        (array_position(dists, array_min(dists)) - 1).cast("int"))
    }
  }

  /** Higher-order form of the assignment distances (centroids as ONE
    * array<array<bigint>> DATA literal + zip_with/aggregate lambdas): the
    * cross-check of the null/length semantics that
    * [[graft.functions.QDistArgmin]] shares (zip_with pads the shorter
    * side with NULLs, so a length mismatch or a NULL element gives a NULL
    * distance). */
  def largeDists(q: Column, cents: Array[Array[Long]]): Column = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    transform(centsLit, c =>
      aggregate(zip_with(q, c, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
  }

  /** Squared-L2 argmin assignment of quantized vectors (`_q`) to integer
    * centroids as UNROLLED literals: BIGINT distances, linear
    * array_min/array_position, ties to the lowest cluster id. Adds
    * `cluster` and `d2`, bit-identical to [[Similarity.assignLarge]]. */
  def kmeansAssign(q: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    require(cents.length.toLong *
        cents.headOption.map(_.length).getOrElse(0) <= 65536,
      s"k x dim = ${cents.length} x ${cents.headOption.map(_.length)
        .getOrElse(0)} exceeds the literal-codegen assignment cap (65536 " +
        "expression terms — Janino method limits force interpreted " +
        "fallback beyond it)")
    val dists = array(cents.map { c =>
      c.indices.map { j =>
        val d = element_at(col("_q"), j + 1) - lit(c(j))
        d * d
      }.reduce(_ + _)
    }: _*)
    q.withColumn("_d", dists)
      .withColumn("cluster", (array_position(col("_d"), array_min(col("_d"))) - 1)
        .cast("long"))
      .withColumn("d2", array_min(col("_d")))
      .drop("_d")
  }
}
