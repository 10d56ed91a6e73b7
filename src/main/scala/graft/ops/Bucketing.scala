package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (pre-partitioned, pre-sorted) tables — the shuffle-free join
  * path at 100 TB.
  *
  * A fact table written once with `bucketBy(n, key).sortBy(key)` satisfies
  * the hash-partitioning requirement of every later equi-join or
  * aggregation on `key`: Catalyst plans a SortMergeJoin with NO Exchange on
  * either bucketed side (verified by plan assertion in BucketingSpec).
  * For a table joined on the same key by many daily queries this converts
  * the dominant repeated shuffle into a one-time write cost.
  *
  * Bucket count is a layout decision: pick `buckets` ≈ cluster cores ×
  * small factor at the target scale; both join sides must use the SAME
  * count (or a divisor, with `spark.sql.bucketing.coalesceBucketsInJoin`).
  */
object Bucketing {

  /** Persist `df` as a bucketed+sorted managed table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Hive-layout partitioned write: one directory per distinct value tuple
    * of `partitionCols` (`.../source=web/part-*.parquet`). The other half
    * of the 100 TB layout story next to bucketing: a filter on a partition
    * column becomes PARTITION PRUNING — whole directories skipped at
    * planning time, so a day/source/tenant-scoped query over a petabyte
    * lake reads only its slice (asserted via `PartitionFilters` +
    * `inputFiles` in BucketingSpec).
    *
    * Choose low-cardinality columns (date, source, tenant); a
    * high-cardinality partition column creates millions of small files —
    * that's what bucketing is for instead.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    StoreSwap.write(df, path, partitionBy = partitionCols)
}
