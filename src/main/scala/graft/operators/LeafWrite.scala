package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Shuffle layout of the Hive-partitioned writes: every write that
  * `partitionBy`s some keys repartitions on the same keys through here. */
object LeafWrite {

  /** `df` hash-partitioned on `keys` into `spark.sql.shuffle.partitions`
    * partitions. Each leaf (one value of the keys) lands whole in one task,
    * so a write that partitions by the same keys produces one file per leaf
    * instead of #tasks x #leaves. The partition count is explicit because
    * AQE coalesces a plain `repartition(keys)` by shuffle BYTES: a small
    * shuffle becomes one task that writes every leaf file in turn, while a
    * write's cost is per file. AQE never coalesces a repartition with an
    * explicit count, and coalescing could only cut the task count, never
    * the file count. */
  def byLeaf(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys.map(col): _*)
}
