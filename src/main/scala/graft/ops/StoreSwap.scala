package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one Parquet writer: every engine write — stores, converted
  * objects, compactions, shard exports — lands on disk through [[write]],
  * in the caller's codec (zstd unless it picks gzip) with the reference's
  * 1 MB pages, and every write-aside rewrite publishes through the house
  * swap below.
  *
  * The swap publishes `path + ".next"` at `path` without ever holding the
  * only complete copy in a half-deleted state. The naive
  * delete-then-rename (the original q149 shape) has a crash window in
  * which the live directory is already gone and `.next` has not yet been
  * renamed — recovery exists (`.next` is complete) but a reader during the
  * window sees a MISSING store, and the window is O(delete) = O(files)
  * long. Rename-aside inverts the order:
  *
  *   1. `path`      -> `path + ".old"`   (metadata-only)
  *   2. `path.next` -> `path`            (metadata-only)
  *   3. delete `path + ".old"`           (slow part, AFTER publication)
  *
  * At every instant a complete copy of some store version exists on disk
  * under a well-known name, and the unreadable window shrinks to two
  * renames. A crash between steps 1 and 2 leaves `path` absent and
  * `.old` present; `recover` finishes that swap at the head of every
  * [[write]] append, [[stage]], [[rewrite]] and [[committed]] probe —
  * BEFORE their rows are planned, which is why those rows are by-name — by
  * publishing `.next` when it carries `_SUCCESS` and restoring `.old`
  * otherwise. Without it an append that never reads the store, or a
  * bootstrap that reads the missing `_SUCCESS` as "no store yet", would
  * recreate `path` holding only its batch, and the next swap's clearing
  * of a stale `.old` would delete the only full copy. A `.old` beside a
  * live `path` (a crash between steps 2 and 3) is superseded, and
  * [[swapInto]] clears it first. On a real object store (no atomic
  * rename) the production analogue is write-new -> repoint -> retire,
  * which this sequence degrades to gracefully.
  */
object StoreSwap {

  /** Parquet data page size: the reference's 1 MB (`pyarrow/main.py:145`),
    * also parquet-hadoop's default, set so it cannot drift with the jar.
    */
  private val PageSizeBytes = "1048576"

  /** Overwrite `path` (or append to it) with `rows` as `codec` Parquet,
    * hive-partitioned by `partitionBy` when given, at most
    * `maxRecordsPerFile` rows a file when positive, and return the number
    * of rows written. The count is observed on the write's own job, so
    * nothing reads the output back. An append first finishes an
    * interrupted swap of `path` (see object doc).
    */
  def write(
      rows: => DataFrame,
      path: String,
      append: Boolean = false,
      partitionBy: Seq[String] = Nil,
      codec: String = "zstd",
      maxRecordsPerFile: Long = 0L): Long = {
    if (append) recover(path)
    val written = Observation()
    val w = rows.observe(written, count(lit(1)).as("rows")).write
      .mode(if (append) SaveMode.Append else SaveMode.Overwrite)
      .option("compression", codec)
      .option("parquet.page.size", PageSizeBytes)
    val capped = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    (if (partitionBy.isEmpty) capped else capped.partitionBy(partitionBy: _*)).parquet(path)
    // the count arrives through the session's listener bus, which drops
    // events when its queue is full: wait a bounded time, never forever
    try Await.result(written.future, CountWait).getAs[Long]("rows")
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"StoreSwap.write: the row count of $path did not arrive within $CountWait " +
          "after the write finished (listener event dropped?)")
    }
  }

  /** How long [[write]] waits for its row count once the write job ended. */
  private val CountWait = 2.minutes

  /** Write `rows` aside at `path + ".next"` and return that path, for a
    * caller that stages several artifacts (or appends elsewhere) before
    * its [[swapInto]]. Finishes an interrupted swap of `path` first.
    */
  def stage(rows: => DataFrame, path: String, partitionBy: Seq[String] = Nil): String = {
    recover(path)
    write(rows, path + ".next", partitionBy = partitionBy)
    path + ".next"
  }

  /** Replace the store at `path` with `codec` Parquet `rows` (by-name:
    * usually a read of `path` itself): stage, stamp the `onceId` witness,
    * swap; return the rows staged. A retract whose `onceId` witness is
    * already on the store is skipped before its rows are planned (see
    * [[RetractMarkerPrefix]]) and writes none.
    */
  def rewrite(spark: SparkSession, path: String, onceId: Option[String] = None,
      codec: String = "zstd")(rows: => DataFrame): Long = {
    recover(path)
    if (onceId.exists(hasRetractMarker(spark, path, _))) 0L
    else {
      val next = path + ".next"
      val n = write(rows, next, codec = codec)
      onceId.foreach(stampRetractMarker(spark, next, _))
      swapInto(spark, path)
      n
    }
  }

  /** Prefix of the zero-byte exactly-once witness files a COUNT-keyed
    * store's retract stamps into its directory (underscore-named, so
    * every parquet read ignores them). A marker's presence means "this
    * retract already subtracted from THIS store" — the batch-witness
    * probe (`MediaDedupStream`/`ReleaseIngestStream` `hasBatch`) adapted
    * to stores whose rows carry no doc attribution after an absorb.
    * [[rewrite]] stamps the marker into the `.next` directory BEFORE the
    * swap, so the marker publishes atomically with the subtracted store:
    * a crash before the swap leaves no marker and the retract re-runs
    * cleanly; a crash after leaves the marker and the re-run skips.
    * [[swapInto]] carries existing markers forward on every rewrite
    * (absorbs, compactions, later retracts all swap through it), so the
    * witness survives the store's whole lifecycle.
    */
  private val RetractMarkerPrefix = "_retract_"

  private def markerFile(path: String, id: String): Path = {
    val safe = id.map(c => if (c.isLetterOrDigit || c == '-' || c == '.') c else '_')
    new Path(path, RetractMarkerPrefix + safe)
  }

  private def hasRetractMarker(spark: SparkSession, path: String, id: String): Boolean = {
    val m = markerFile(path, id)
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m)
  }

  private def stampRetractMarker(spark: SparkSession, dir: String, id: String): Unit = {
    val m = markerFile(dir, id)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) fs.create(m).close()
  }

  /** `_SUCCESS`-committed check through the directory's OWN FileSystem
    * (the r13-advice discipline generalized): `java.nio` only sees the
    * local filesystem, so a bootstrap/committed probe built on it reads
    * "absent" for every HDFS/object-store deployment — which silently
    * re-bootstraps over a live store. Shared by every production-path
    * existence check (stream bootstraps, optional-artifact probes). An
    * interrupted swap of `dir` is finished first, so a store a crash left
    * at `dir.old` reads as committed instead of absent.
    */
  def committed(spark: SparkSession, dir: String): Boolean = {
    recover(dir)
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Finish a swap a crash cut between its steps 1 and 2 (`path` absent,
    * `.old` present): a committed `.next` is the version that swap was
    * publishing, so it goes live and `.old` is retired; otherwise `.old`
    * is restored and an uncommitted `.next` dropped. Any other state is
    * left as it is.
    */
  private def recover(path: String): Unit = {
    val live = new Path(path)
    val next = new Path(path + ".next")
    val old = new Path(path + ".old")
    val fs = live.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old)) {
      val publish = fs.exists(new Path(next, "_SUCCESS"))
      if (!publish) fs.delete(next, true)
      if (!fs.rename(if (publish) next else old, live))
        throw new java.io.IOException(s"store swap recovery: could not restore $path")
      fs.delete(old, true)
    }
  }

  /** Replace `path` with `path + ".next"` via rename-aside (see object
    * doc). Tolerates a missing live dir (first publication) and a stale
    * `.old` left by a prior crash. Retract witness markers
    * ([[RetractMarkerPrefix]]) present on the live store are carried
    * into `.next` before the swap so no rewrite can lose them.
    */
  def swapInto(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val next = new Path(path + ".next")
    val old = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true)
    val hadLive = fs.exists(p)
    if (hadLive) {
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(RetractMarkerPrefix))
        .foreach { name =>
          val t = new Path(next, name)
          if (!fs.exists(t)) fs.create(t).close()
        }
    }
    if (hadLive && !fs.rename(p, old))
      throw new java.io.IOException(s"store swap: could not set aside $path")
    // FileSystem.rename signals failure BOTH ways depending on the
    // implementation — `false` on HDFS-style semantics, a thrown
    // IOException on e.g. RawLocalFileSystem when the source is missing —
    // so the publish guards against both.
    val published =
      try fs.rename(next, p)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!published) {
      // Step 2 failed with the live copy already set aside: roll it back so
      // a transient rename failure never strands the store at `.old` (a
      // caller retry would otherwise find `path` missing and turn a blip
      // into an outage). If the rollback itself fails the message says
      // where the surviving copy is.
      if (hadLive && !fs.rename(old, p))
        throw new java.io.IOException(
          s"store swap: could not publish $path.next AND rollback failed — live copy is at $path.old")
      throw new java.io.IOException(s"store swap: could not publish $path.next (live store restored)")
    }
    fs.delete(old, true)
    ()
  }
}
