package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Globally sorted, compression-tuned Parquet writes.
  *
  * Parity with the reference writer (`/root/reference/pyarrow/main.py:67-150`):
  *   - global ascending sort on the configured column when it exists in the
  *     schema; absent → pass through and report (`pyarrow/main.py:70-73`);
  *   - zstd compression (gzip as an option — the reference's runtime codec
  *     probe, `pyarrow/main.py:125-133`, is unnecessary: Spark bundles zstd);
  *   - 1 MB uncompressed data pages (`pyarrow/main.py:145`), which every
  *     [[StoreSwap.write]] sets;
  *   - no INT96 timestamps (Spark default `TIMESTAMP_MICROS`);
  *   - optionally a single output file named by the caller
  *     (`<stem>.zst.parquet` key mapping lives in [[graft.pipeline.ConvertJob]]).
  *
  * One pass, like the reference: the reported row count is the one
  * [[StoreSwap.write]] observes on the write job itself, so no write reads
  * its output back to count it.
  *
  * Scale posture: `singleFile = true` is a PARITY mode (one Lambda invoke →
  * one file). At 100 TB you keep `singleFile = false`: the global sort is a
  * range-partitioned exchange + per-partition sort that spills via
  * `UnsafeExternalSorter`, and the write stays fully parallel — one file per
  * partition, partition count set by AQE / `spark.sql.shuffle.partitions`.
  * Parquet `sorting_columns` footer metadata has no public Spark writer API
  * (SURVEY §4.3), so after the write each local part file's footer is stamped
  * in place via [[SortingColumnsStamp]] — valid because a range-partitioned
  * `orderBy` leaves every output file internally sorted by the key.
  */
object SortedWrite {

  final case class WriteResult(
      path: String,
      rows: Long,
      sorted: Boolean,
      sortColumn: String,
      codec: String)

  /** Write `df` to `outPath` as Parquet.
    *
    * @param outPath    target: exact file path when `singleFile`, else a directory
    * @param sortCol    global ascending sort key; skipped (and flagged) when absent
    * @param codec      "zstd" (default) or "gzip"
    * @param singleFile coalesce to one file and rename it to exactly `outPath`
    */
  def write(
      df: DataFrame,
      outPath: String,
      sortCol: String = "time",
      codec: String = "zstd",
      singleFile: Boolean = false): WriteResult = {

    val sortable = df.columns.contains(sortCol)
    val fs = new Path(outPath).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

    val rows =
      if (singleFile) {
        val tmpDir = outPath + ".__tmp__"
        // coalesce(1) collapses the range partitioning, so sort INSIDE the
        // single partition to keep global order in the one output file.
        val one =
          if (sortable) df.coalesce(1).sortWithinPartitions(col(sortCol).asc)
          else df.coalesce(1)
        val n = StoreSwap.write(one, tmpDir, codec = codec)
        val part = fs
          .listStatus(new Path(tmpDir))
          .map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file under $tmpDir"))
        val target = new Path(outPath)
        if (fs.exists(target)) fs.delete(target, true)
        val parent = target.getParent
        if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
        fs.rename(part, target)
        fs.delete(new Path(tmpDir), true)
        if (sortable) stampLocal(fs, Seq(target), sortCol)
        n
      } else {
        val n = StoreSwap.write(if (sortable) df.orderBy(col(sortCol).asc) else df, outPath, codec = codec)
        if (sortable) {
          val parts = fs.listStatus(new Path(outPath)).map(_.getPath)
            .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          stampLocal(fs, parts.toSeq, sortCol)
        }
        n
      }

    WriteResult(outPath, rows, sortable, sortCol, codec)
  }

  /** Partitioned variant of [[write]] — the 100 TB layout: hive-style
    * directories per `partitionCols` value (partition pruning on read, see
    * [[Bucketing.writePartitioned]]), with rows inside every output file
    * sorted by `sortCol`.
    *
    * The exchange is a RANGE partitioning on (partitionCols, sortCol), NOT
    * a hash repartition on the partition columns: hashing would funnel
    * each distinct partition value through exactly ONE task (a 1 TB day →
    * one sorting, spilling task and one giant file), while range splits a
    * large date across many tasks by sort-key range. The dynamic-partition
    * writer still routes every row to its directory, and each task's range
    * is contiguous in (date, time) so files stay internally sorted.
    */
  def writePartitioned(
      df: DataFrame,
      outPath: String,
      partitionCols: Seq[String],
      sortCol: String = "time",
      codec: String = "zstd"): WriteResult = {
    require(partitionCols.nonEmpty, "at least one partition column required")
    val sortable = df.columns.contains(sortCol)
    val arranged =
      if (sortable) df.orderBy((partitionCols :+ sortCol).map(col): _*)
      else df.repartition(partitionCols.map(col): _*)
    val rows = StoreSwap.write(arranged, outPath, partitionBy = partitionCols, codec = codec)
    WriteResult(outPath, rows, sortable, sortCol, codec)
  }

  /** Stamp `sorting_columns` into footers of local files (in-place rewrite
    * needs a seekable file; object-store outputs keep sorted ORDER without
    * the footer hint — same stance as the reference, which stamps its local
    * temp file before upload).
    */
  private def stampLocal(fs: org.apache.hadoop.fs.FileSystem, parts: Seq[Path], sortCol: String): Unit =
    if (fs.getScheme == "file")
      parts.foreach { p =>
        if (SortingColumnsStamp.stamp(p.toUri.getPath, sortCol)) {
          // the rewrite invalidates ChecksumFileSystem's .crc sidecar
          val crc = new Path(p.getParent, s".${p.getName}.crc")
          if (fs.exists(crc)) fs.delete(crc, false)
        }
      }
}
