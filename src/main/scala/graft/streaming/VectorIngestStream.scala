package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IvfIndex

/** Streaming VECTOR ingest — the online form of the persisted ANN index's
  * daily absorb ([[IvfIndex.appendToIndex]]), closing the last store
  * family without a streaming operator: embeddings arriving as a feed of
  * (vec_id, embedding) rows probe the PERSISTED bucket-partitioned index
  * for their top-k nearest already-indexed neighbors (the embedding-space
  * near-dup guard — filter the emitted `sim` for a SemDeDup-style online
  * screen) and are then absorbed into it, so micro-batch N+1 automatically
  * searches against micro-batch N — the [[MediaDedupStream]]
  * probe-then-absorb shape at the vector tier.
  *
  * Stream ≡ batch by CONSTRUCTION: each micro-batch runs the exact batch
  * operators ([[IvfIndex.searchIndexed]] to probe, [[IvfIndex.appendToIndex]]
  * to absorb) under the FROZEN quantizer model — the centroids are never
  * refit online (the [[IvfIndex.appendToIndex]] production contract: a
  * drifting quantizer would silently re-bucket the corpus; refit + rebuild
  * is a deliberate offline operation).
  *
  * Restart semantics (foreachBatch is at-least-once): each micro-batch
  * narrows to its NOT-YET-ABSORBED remainder before any effect — and the
  * witness probe is PARTITION-PRUNED, unlike the media streams' full-store
  * id scan: assigning the batch under the frozen model names exactly the
  * `bucket=` directories an earlier absorb of these rows would have
  * written ([[IvfIndex.appendToIndex]] used the same deterministic
  * assignment), so only those directories are read for the anti join.
  * Effects run remainder-only, ordered results-then-absorb:
  *   - a PURE replay yields an empty remainder and skips both effects;
  *   - a PARTIAL overlap (duplicate submission, crash mid-absorb) probes
  *     and absorbs only the genuinely-new vectors — already-absorbed
  *     batch-mates are in the store, so the remainder's probe still ranks
  *     against them;
  *   - results land at `resultsDir/batch=<id>` via an additive-idempotent
  *     merge (committed rows win, fresh rows fill only uncovered query
  *     ids, write-aside → swap): a pure replay rewrites the directory
  *     value-equivalently, and a PARTIAL overlap can never erase rows the
  *     previous attempt already committed.
  *
  * Forget guard is plumbing, not caller discipline (the round-14
  * convention): pass `tombstonePath` and tombstoned vec_ids drop before
  * the remainder is even computed, so a forgotten vector can never
  * re-enter the index through this stream.
  *
  * Scale: each micro-batch shuffles only its own rows; the store is
  * touched via one partition-pruned witness scan plus the searchIndexed
  * probe (itself pruned to the ≤ queries×nProbe probed buckets), and the
  * absorb appends to exactly the batch's buckets — O(batch) end to end,
  * no store rewrite, no stream state (every join is against the on-disk
  * snapshot).
  */
object VectorIngestStream {

  /** The not-yet-absorbed remainder of a batch: anti join against the
    * store's vec_ids, scanning ONLY the batch's own assignment buckets
    * (a committed absorb of these rows can live nowhere else — the
    * frozen-model determinism argument in the scaladoc above).
    */
  private def remainderOf(
      spark: SparkSession,
      batch: DataFrame,
      model: IvfIndex.Model,
      indexPath: String): DataFrame = {
    val buckets: Array[Int] = IvfIndex.assign(model, batch)
      .select(col("bucket")).distinct().collect().map(_.getInt(0))
    val absorbed = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(buckets.toSeq: _*))
      .select(col("vec_id"))
    batch.join(absorbed, Seq("vec_id"), "left_anti")
  }

  /** `quantizedIndexPath` / `pqIndex`: the DERIVED vector artifacts (the
    * q62 int8 index; the q117 PQ code index) absorbed in LOCKSTEP with
    * the float index, so a quantized probe never silently misses vectors
    * the float index already serves. Ordering is derived-artifacts-first,
    * float-index-LAST: the float index is the replay witness, so a crash
    * mid-batch replays the whole batch — the derived appends then
    * re-append rows already present, which is harmless by construction
    * (every quantized/ADC shortlist dedups on (query_id, neighbor_id);
    * duplicates cost storage only, shed by scheduled compaction) — while
    * the reverse ordering would leave the derived artifacts missing rows
    * FOREVER behind a committed witness.
    */
  def start(
      vectors: DataFrame,
      model: IvfIndex.Model,
      indexPath: String,
      resultsDir: String,
      k: Int = 5,
      nProbe: Int = 4,
      queryName: String = "vector_ingest",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None,
      quantizedIndexPath: Option[String] = None,
      pqIndex: Option[(graft.operators.PqIndex.Model, String)] = None): StreamingQuery = {
    val writer = vectors.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // forget guard at the front door: the ledger is doc_id-keyed
          // (vec_id and doc_id share the id domain, TESTDATA.md), so the
          // guard composes through a rename round-trip
          val guarded = tombstonePath.fold(batch.toDF())(p =>
            graft.pipeline.Forget
              .filterForgotten(s, batch.toDF().withColumnRenamed("vec_id", "doc_id"), p)
              .withColumnRenamed("doc_id", "vec_id"))
          // pinned once so the probe and the absorb see the identical
          // row set (the MediaDedupStream snap rule)
          val remainder = org.apache.spark.sql.graft.shims.snap(
            remainderOf(s, guarded, model, indexPath), "vector.remainder")
          if (!remainder.isEmpty) {
            // additive-idempotent results write: a PARTIAL-overlap replay
            // (float append partially visible after a crash mid-job-commit)
            // produces a remainder that is a strict subset of the batch —
            // a plain Overwrite of batch=<id> would erase the
            // already-committed rows for the absorbed portion. Instead,
            // committed rows win (query_id-keyed): fresh probe rows join
            // only for query ids the committed file does not cover, then
            // write-aside → swap so the merge never reads-and-rewrites the
            // same live directory.
            val outDir = s"$resultsDir/batch=$batchId"
            val fresh = IvfIndex
              .searchIndexed(model, remainder, s.read.parquet(indexPath),
                k = k, nProbe = nProbe)
            val fs = new org.apache.hadoop.fs.Path(outDir)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            val merged =
              if (fs.exists(new org.apache.hadoop.fs.Path(outDir, "_SUCCESS"))) {
                val committed = s.read.parquet(outDir)
                committed.unionByName(fresh.join(
                  committed.select(col("query_id")).distinct(),
                  Seq("query_id"), "left_anti"))
              } else fresh
            merged.write.mode(SaveMode.Overwrite)
              .option("compression", "zstd")
              .parquet(outDir + ".next")
            graft.ops.StoreSwap.swapInto(s, outDir)
            quantizedIndexPath.foreach { p =>
              IvfIndex.assignQuantized(model, remainder).write
                .mode(SaveMode.Append)
                .option("compression", "zstd")
                .partitionBy("bucket").parquet(p)
            }
            pqIndex.foreach { case (pq, p) =>
              graft.operators.PqIndex.appendToIndex(model, pq, remainder, p)
            }
            IvfIndex.appendToIndex(model, remainder, indexPath)
          }
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }
}
