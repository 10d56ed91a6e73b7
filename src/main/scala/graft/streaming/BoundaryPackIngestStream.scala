package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.StoreSwap
import graft.queries.Release

/** Streaming ingestion into the BOUNDARY-pack manifest — the continuous
  * form of the bucket-grain continuation (q165), and
  * [[PackIngestStream]]'s no-crossing sibling: each micro-batch resumes
  * every (source, slot) bucket's numbering where the persisted manifest
  * stopped, the first batch doc of a partially-filled window taking its
  * next slot. Published rows are never rewritten — a batch lands as new
  * parquet files only.
  *
  * Same discipline as the token-stream ingester: the per-bucket resume
  * counts (≤ n_sources × n_slots rows) are COLLECTED before the write
  * starts, so the append plan never reads the directory it is writing
  * to; Structured Streaming's sequential-epoch guarantee keeps the
  * read-counts/append cycle from racing itself; restart semantics are
  * the standard foreachBatch at-least-once file-sink contract.
  *
  * The FIRST batch bootstraps via [[Release.boundaryPack]]; every later
  * batch appends [[Release.boundarySpans]] through
  * [[Release.absorbIntoBoundaryPackStore]], the batch path's absorb.
  */
object BoundaryPackIngestStream {

  def start(
      docs: DataFrame,
      storeDir: String,
      budget: Int = 512,
      queryName: String = "boundary_pack_ingest",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger, checkpointDir, tombstonePath) { (b, _) =>
      if (!StoreSwap.committed(b.sparkSession, storeDir))
        StoreSwap.write(Release.boundaryPack(b, budget), storeDir)
      else Release.absorbIntoBoundaryPackStore(b.sparkSession, b, storeDir, budget)
    }
}
