package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

package object ml {

  /** Session-independent layout for a reproducible fit. k-means|| init
    * samples per partition, and L-BFGS and PCA aggregate in partition
    * order, so a seed-pinned fit reproduces only given identical partition
    * contents AND order. Hash-partitioning on a unique `key` and sorting
    * within partitions pins both, whatever the session's core count or
    * shuffle-partition setting. */
  def canonicalLayout(df: DataFrame, key: String): DataFrame =
    df.repartition(8, col(key)).sortWithinPartitions(key)
}
