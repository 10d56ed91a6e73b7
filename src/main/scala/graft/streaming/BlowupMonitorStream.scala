package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.Dedup

/** Streaming pair-tier PRESSURE monitor — the online form of the blowup
  * gauge (q178), watching the ingest boundary the way
  * [[NoveltyMonitorStream]] watches redundancy and
  * [[DriftMonitorStream]] watches distributions: per micro-batch, the
  * arriving docs' shingle-df shape (Σ C(df,2), max_df, posting mass).
  * Boilerplate arrives as a SPIKE in this gauge — a template-heavy crawl
  * segment shows up within its own micro-batch, hours before the nightly
  * q178 over the absorbed corpus would surface it and long before the
  * pair tier would pay the quadratic price. The ops move it feeds is
  * exactly q184's: tighten `sampleBp` (or quarantine the segment) before
  * the next calibration sweep is scheduled.
  *
  * The gauge is batch-local by design — per-shingle df WITHIN the
  * arriving batch, the same measurement q178 makes over a corpus — so
  * the per-batch numbers equal the batch gauge over the same rows
  * (StreamingSpec pins stream ≡ batch), and the stream carries no state:
  * one linear df pass per micro-batch, never a join.
  */
object BlowupMonitorStream {

  def start(
      docs: DataFrame,
      onGauge: (Long, DataFrame) => Unit,
      queryName: String = "blowup_monitor",
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    MicroBatch.start(docs, queryName, trigger) { (b, id) =>
      onGauge(id, Dedup.pairBlowupAudit(b))
    }
}
