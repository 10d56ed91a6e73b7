package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction — the maintenance half of a streaming lake.
  *
  * The file-per-event convert stream ([[graft.streaming.ConvertStream]])
  * and frequent micro-batches produce many small parquet files; at 100 TB
  * that means scan tasks dominated by open/footer overhead and NameNode/
  * listing pressure. Compaction rewrites a directory into
  * ~`targetBytes`-sized files, re-sorted by `sortCol`, so both file count
  * and per-file ordering (row-group min/max pruning) are restored.
  *
  * The rewrite is staged beside the directory in the caller's codec and
  * published through [[StoreSwap.rewrite]], the same write-aside swap
  * every store rewrite uses.
  */
object Compact {

  final case class CompactResult(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Output files for a rewrite of `sizeInBytes` at `targetFileBytes`
    * each: the quotient, at least 1, clamped to 2^20 BEFORE `toInt` — a
    * missing-stats Long.MaxValue estimate must degrade to many
    * partitions, not wrap negative and collapse the rewrite into one
    * task.
    */
  def filesFor(sizeInBytes: BigInt, targetFileBytes: Long): Int =
    math.max(1, (sizeInBytes / BigInt(targetFileBytes)).min(BigInt(1 << 20)).toInt)

  /** [[filesFor]] of `df`'s plan-time size estimate (no job). */
  def filesFor(df: DataFrame, targetFileBytes: Long): Int =
    filesFor(df.queryExecution.optimizedPlan.stats.sizeInBytes, targetFileBytes)

  /** The band-store compaction shared by the text band index and every
    * media fingerprint index: (doc_id, band, bhash, …) rows rewrite to
    * `dst` as few large (band, bhash, doc_id)-sorted runs — sorted so
    * rowgroup min/max on `bhash` turn a band probe into a rowgroup skip —
    * with the `band=` partitioning preserved.
    */
  def bandStore(bands: DataFrame, dst: String, targetFileBytes: Long): Unit =
    StoreSwap.write(
      bands
        .repartition(filesFor(bands, targetFileBytes), col("band"), col("bhash"))
        .sortWithinPartitions("band", "bhash", "doc_id"),
      dst, partitionBy = Seq("band"))

  def compact(
      spark: SparkSession,
      dir: String,
      sortCol: String = "time",
      targetBytes: Long = 128L * 1024 * 1024,
      codec: String = "zstd"): CompactResult = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)

    val parts = fs.listStatus(path)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
    // A hive-partitioned tree (e.g. Bucketing.writePartitioned output) has
    // its parquet files under value subdirectories, not at the top level:
    // rewriting it here would FLATTEN the layout — fold partition columns
    // into data files and silently destroy partition pruning. Refuse.
    require(parts.nonEmpty, {
      val subdirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      s"no top-level *.parquet files in $dir" + (
        if (subdirs.nonEmpty)
          s"; found subdirectories (${subdirs.take(3).mkString(", ")}…) — this looks " +
            "hive-partitioned, and compacting it flat would destroy the partition layout. " +
            "Compact each partition directory individually."
        else "")
    })
    // a MIXED directory (top-level parquet AND `col=` partition subdirs)
    // passes the emptiness check above but is just as dangerous: the read
    // either fails late (conflicting directory structures) or silently
    // flattens the partitioned subtree into the rewrite. Refuse loudly,
    // mirroring compactPartitioned's mixed-content check.
    val partitionSubdirs = fs.listStatus(path)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
    require(partitionSubdirs.isEmpty,
      s"$dir mixes top-level parquet files with partition subdirectories " +
        s"(${partitionSubdirs.take(3).mkString(", ")}…) — compacting it flat would " +
        "destroy the partition layout. Compact the partitioned tree with " +
        "compactPartitioned after separating the loose files.")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val df = spark.read.parquet(dir)
    val sortable = df.columns.contains(sortCol)
    val arranged =
      if (sortable) df.repartitionByRange(nOut, col(sortCol)).sortWithinPartitions(col(sortCol))
      else df.coalesce(nOut)

    val rows = StoreSwap.rewrite(spark, dir.stripSuffix("/"), codec = codec)(arranged)
    val after = fs.listStatus(path).count(_.getPath.getName.endsWith(".parquet"))
    CompactResult(parts.length, after, rows)
  }

  /** Compact a hive-partitioned lake (e.g. `Bucketing.writePartitioned` /
    * `ConvertJob.runPartitionedByDate` output) by compacting each leaf
    * partition directory INDIVIDUALLY — the directory layout, partition
    * values, and pruning behavior are untouched; only the files inside
    * each partition are rewritten. Leaf partitions are compacted
    * sequentially (each rewrite is itself a parallel Spark job; at lake
    * scale, run one maintenance job per hot partition instead).
    *
    * Returns per-partition results keyed by the partition-relative path
    * (e.g. `date=2025-01-01`). Nested partition trees recurse to leaves.
    */
  def compactPartitioned(
      spark: SparkSession,
      dir: String,
      sortCol: String = "time",
      targetBytes: Long = 128L * 1024 * 1024,
      codec: String = "zstd"): Map[String, CompactResult] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def leaves(p: Path, rel: String): Seq[(String, Path)] = {
      val entries = fs.listStatus(p)
      val subdirs = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      val looseData = entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      // data files NEXT TO partition subdirectories can be neither compacted
      // in place (spark.read on the mixed dir would discover the whole tree
      // and the rewrite would flatten it) nor silently skipped (the result
      // map would read as full coverage) — refuse loudly.
      require(subdirs.isEmpty || !looseData,
        s"$p mixes data files with partition subdirectories " +
          s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…); move the " +
          "loose files into a partition before compacting")
      if (subdirs.isEmpty) Seq(rel -> p)
      else subdirs.toSeq.flatMap { s =>
        val name = s.getPath.getName
        leaves(s.getPath, if (rel.isEmpty) name else s"$rel/$name")
      }
    }
    val parts = leaves(root, "")
    require(parts.exists(_._1.nonEmpty),
      s"$dir has no partition subdirectories — use compact() for a flat directory")
    parts.map { case (rel, p) =>
      // an empty leaf (failed write leaving only markers, manual cleanup)
      // is recorded as a zero result, not an abort halfway through the lake
      val hasData = fs.listStatus(p).exists(s => s.getPath.getName.endsWith(".parquet"))
      rel -> (if (hasData) compact(spark, p.toString, sortCol, targetBytes, codec)
              else CompactResult(0, 0, 0L))
    }.toMap
  }
}
