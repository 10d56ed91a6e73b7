package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.Curation

/** Streaming drift monitor — the online form of the batch gauge (q123):
  * each micro-batch of the ingest feed is scored against the FROZEN
  * day-N histogram artifact and one gauge row-set per (batch, source) is
  * emitted. The ops loop this serves: the gate ([[QualityGateStream]])
  * admits documents under yesterday's thresholds; THIS stream watches
  * whether today's arrivals still look like yesterday — the `drift`
  * status is the page that says "re-solve before tomorrow".
  *
  * Same batch-solve/stream-observe contract as the gate: the stored
  * histogram is a STATIC parquet-backed side (kilobytes — it broadcasts
  * per micro-batch plan) and is never updated mid-day; updating it from
  * the stream itself would make the reference distribution chase the
  * drift it is supposed to detect. The gauge arithmetic is
  * [[Curation.driftMonitor]] verbatim — integer-exact cross-
  * multiplication, so the online gauge for a micro-batch equals the
  * batch gauge over the same rows doc-for-doc (StreamingSpec pins it).
  *
  * A [[MicroBatch]] body because the gauge is a per-batch AGGREGATE (a
  * micro-batch is the "day" unit here): append-mode aggregation would
  * need a watermark over event time the gauge doesn't have. Each batch's
  * gauge rows land through `onGauge` tagged with the batch id — the
  * production sink is a metrics table; the spec uses a local buffer.
  */
object DriftMonitorStream {

  def start(
      docs: DataFrame,
      storedHistogram: DataFrame,
      onGauge: (Long, DataFrame) => Unit,
      queryName: String = "drift_monitor",
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger) { (b, id) =>
      onGauge(id, Curation.driftMonitor(storedHistogram, b))
    }
}
