package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming TAKEDOWN applier — the continuous form of the store-level
  * takedown ([[ReleaseIngestStream.takedownIngest]]), closing the release
  * stream family's compliance loop: takedown requests arrive as a stream
  * of doc ids and each micro-batch lands as 'taken_down' tombstone rows
  * at the published address (delta-log move — published files never
  * rewrite; the loader and [[ReleaseIngestStream.compactRelease]] mask and
  * fold the shadow like a demotion's).
  *
  * Restart semantics are FREE here, not merely at-least-once-tolerable:
  * takedownIngest only shadows docs still live, so a replayed micro-batch
  * finds its docs already shadowed, stages zero rows and appends nothing —
  * the store is byte-stable under replay (the LifecycleSpec pin). That
  * also makes a request for an already-demoted or already-taken-down doc
  * a safe no-op (the q177 `n_shielded` class), so upstream request
  * streams need no dedup of their own.
  *
  * Scale: takedown batches are tiny by nature — each micro-batch costs
  * one broadcast semi-join against the live view plus a tombstone-sized
  * append; nothing else moves.
  */
object TakedownStream {

  /** `tombstonePath`, when set, also appends each micro-batch's ids to the
    * [[graft.pipeline.Forget]] tombstone ledger, so the same request that
    * shadows the published rows ALSO refuses the content at every future
    * ingest ([[graft.pipeline.Forget.filterForgotten]]) — streaming
    * compliance in one micro-batch. Ordering: shadow first (the loader
    * surface is the legal deadline), ledger second; a replay after a
    * crash between the two re-runs the (idempotent) shadow and appends
    * duplicate ledger ids, which the guard is insensitive to and
    * [[graft.pipeline.Forget.compactTombstones]] sheds.
    */
  def start(
      takedownIds: DataFrame,
      releaseDir: String,
      queryName: String = "takedown_ingest",
      checkpointDir: Option[String] = None,
      tombstonePath: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    MicroBatch.start(takedownIds, queryName, trigger, checkpointDir) { (b, _) =>
      ReleaseIngestStream.takedownIngest(b.sparkSession, b, releaseDir)
      tombstonePath.foreach(p => graft.pipeline.Forget.appendTombstones(b, p))
    }
}
