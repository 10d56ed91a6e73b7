package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.Curation

/** Streaming content-novelty monitor — the online form of the batch gauge
  * (q124/q133), completing the online daily-ops triple next to
  * [[QualityGateStream]] (admit) and [[DriftMonitorStream]] (distribution
  * watch): per micro-batch, what fraction of the arriving windows has the
  * corpus never seen? A crawler re-fetching yesterday's web drops to ~0
  * here WITHIN the day — hours before the nightly dedup would have said
  * the same thing at far greater cost.
  *
  * Contract mirrors the other two monitors: the stored window set is the
  * FROZEN day-N artifact (the [[Curation.appendToWindowStore]] absorb
  * runs at the day boundary, never mid-stream — a store that grew with
  * the stream would make later micro-batches of the same crawl look
  * stale, conflating intra-day self-similarity with corpus redundancy).
  * The gauge is the HASHED twin ([[Curation.hashedContentNovelty]] — the
  * representation the store actually persists at scale); it is a
  * per-batch aggregate, so a [[MicroBatch]] body, and the per-batch
  * numbers equal the batch gauge over the same rows doc-for-doc
  * (StreamingSpec pins it).
  */
object NoveltyMonitorStream {

  def start(
      docs: DataFrame,
      storedHashedWindows: DataFrame,
      onGauge: (Long, DataFrame) => Unit,
      queryName: String = "novelty_monitor",
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger) { (b, id) =>
      onGauge(id, Curation.hashedContentNovelty(storedHashedWindows, b))
    }
}
