package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.StoreSwap
import graft.queries.Release

/** Streaming ingestion INTO the pack manifest — the continuous form of the
  * continuation append (q159): each micro-batch plays the role of a "day"
  * and RESUMES the per-source token stream exactly where the persisted
  * manifest left it, the batch's first doc filling the last partial
  * context window. Published manifest rows are never rewritten: a batch
  * lands as new parquet files only (`SaveMode.Append`), so a training
  * loader already holding yesterday's spans sees them byte-stable.
  *
  * A [[MicroBatch]] body is the right sink shape: the append is a batch
  * operation against the existing layout, and Structured Streaming's
  * sequential-epoch guarantee means the read-offsets/append cycle never
  * races itself. One deliberate difference from the batch-side
  * [[Release.packManifestAppend]]: the per-source resume offsets (≤
  * n_sources rows) are COLLECTED before the write starts, so the append
  * plan never reads the directory it is writing to — the parquet self-read
  * hazard (a retried task observing its own partial output) is severed by
  * construction rather than by a committer assumption. Restart semantics
  * are the standard foreachBatch file-sink contract: at-least-once on crash
  * replay unless paired with a downstream batch-id manifest check.
  *
  * The FIRST batch bootstraps the manifest via [[Release.packManifest]]
  * (there is no day-0 to resume from); every later batch appends spans
  * through [[Release.absorbIntoPackStore]], the batch path's absorb.
  * `tombstonePath` keeps forgotten docs out of future packs
  * ([[MicroBatch]]'s guard); the packs already holding them are the
  * takedown locator's job (q172).
  */
object PackIngestStream {

  def start(
      docs: DataFrame,
      storeDir: String,
      packTokens: Int = 512,
      queryName: String = "pack_ingest",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger, checkpointDir, tombstonePath) { (b, _) =>
      if (!StoreSwap.committed(b.sparkSession, storeDir))
        StoreSwap.write(Release.packManifest(b, packTokens), storeDir)
      else Release.absorbIntoPackStore(b.sparkSession, b, storeDir, packTokens)
    }
}
