package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.StoreSwap
import graft.pipeline.CrossModal

/** Streaming CROSS-MODAL duplicate-family maintenance — the online form
  * of the q192 daily fold, completing the one store family without a
  * streaming operator: documents arriving as a feed fold into the
  * persisted cross-modal assignment per micro-batch (union of text/image/
  * audio incremental edges → contracted merge → store swap), so batch
  * N+1's families automatically include batch N's documents — the
  * [[MediaDedupStream]] probe-then-absorb shape lifted to the
  * union-graph tier.
  *
  * Stream ≡ batch by construction: each micro-batch runs
  * [[CrossModal.incremental]] and the [[CrossModal.absorbMerged]] write
  * half verbatim, so driving B1, B2 through the stream leaves assignment
  * AND all three modality indexes content-identical to two
  * [[CrossModal.absorb]] calls (the CrossModalDedupStreamSpec twin pin).
  * Each batch's own assignment rows (doc_id → component at fold time)
  * land at `resultsDir/batch=<id>` — the feed-side answer to "which
  * family did my document join".
  *
  * Restart semantics (foreachBatch is at-least-once): the batch first
  * narrows to its not-yet-absorbed [[MicroBatch.remainder]] against
  * the assignment store's doc ids — the assignment is swapped LAST in
  * the absorb (see [[CrossModal.absorbMerged]]), so it is the commit
  * witness: a pure replay degenerates to a skip; a crash mid-absorb
  * re-runs the remainder, re-appending index rows that probes
  * `.distinct()` away while the merge recomputes identically. A partial
  * overlap (duplicate submission) absorbs only the genuinely-new docs.
  *
  * Scale: per micro-batch the three edge probes are the q66/q185/q186
  * banded equi-joins (batch-sized shuffles against partitioned stores),
  * the merge graph is O(batch pairs), and the assignment rewrite is the
  * linear write every fold pays — the q192 cost model, with no stream
  * state beyond the on-disk snapshots.
  */
object CrossModalDedupStream {

  def start(
      docs: DataFrame,
      path: String,
      src: CrossModal.EdgeSources,
      resultsDir: String,
      queryName: String = "crossmodal_dedup",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger, checkpointDir, tombstonePath) { (b, batchId) =>
      val s = b.sparkSession
      // the replay witness: docs already in the assignment store are
      // absorbed by definition (the assignment swaps last)
      MicroBatch.remainder(b, CrossModal.readAssignment(s, path), "doc_id", "crossmodal.remainder")
        .foreach { remainder =>
          // ONE merge plan serves both effects: the batch's family
          // rows (results) and the full updated assignment (store)
          val merged = org.apache.spark.sql.graft.shims.snap(
            CrossModal.incremental(s, remainder, path, src), "crossmodal.merged")
          StoreSwap.write(
            merged.join(broadcast(remainder.select(col("doc_id"))), Seq("doc_id"))
              .select(col("component"), col("doc_id")),
            s"$resultsDir/batch=$batchId")
          CrossModal.absorbMerged(s, merged, remainder, path, src)
        }
    }
}
