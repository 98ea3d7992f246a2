package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor for the package-private Column <-> Expression bridge
  * (Spark 4 moved the conversions into the classic package). */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `rows`, which hold `df`'s rows in `df`'s schema —
    * the package-private step behind `graft.operators.Materialized`. */
  def frameOver(df: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(rows, ds.schema)
  }
}
