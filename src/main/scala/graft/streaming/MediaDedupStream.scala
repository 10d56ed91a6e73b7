package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.multimodal.Multimodal
import graft.ops.StoreSwap

/** Streaming MEDIA near-dup guard + absorb — the online form of the
  * incremental media trio (image q185, audio q186, video q187), closing
  * the last store family without a streaming operator: media arriving as
  * a feed of (doc_id, payload) rows is probed against the PERSISTED
  * fingerprint band index and then absorbed into it, so micro-batch N+1
  * automatically dedups against micro-batch N — the
  * [[ReleaseIngestStream]] probe-then-absorb shape at the media tier.
  *
  * Stream ≡ batch by CONSTRUCTION, not by re-derivation: each micro-batch
  * runs the exact batch operators ([[Multimodal.Modality.incrementalPairs]]
  * to probe, [[Multimodal.Modality.appendTo]] to absorb), so driving
  * batches B1, B2 through the stream leaves the index content-identical
  * to two batch absorbs and emits exactly `incremental(B1, idx)` ++
  * `incremental(B2, idx+B1)` — the MediaDedupStreamSpec twin-store pin.
  *
  * Restart semantics (foreachBatch is at-least-once): each micro-batch is
  * first narrowed to its NOT-YET-ABSORBED [[MicroBatch.remainder]] — an
  * anti join of the batch's doc ids against the store's (one O(batch)
  * equi-join; for video the absorbed-id witness is the vcounts artifact,
  * written SECOND inside [[Multimodal.Modality.appendTo]], so its
  * presence implies the band append committed) — and effects run
  * remainder-only, ordered results-then-absorb:
  *   - a PURE replay (every doc already absorbed) yields an empty
  *     remainder and skips both effects — a committed absorb implies the
  *     results write, sequenced strictly before it, committed too;
  *   - a PARTIAL overlap (duplicate submission, overlapping feeds, a
  *     crash mid-absorb) probes and absorbs only the genuinely-new docs
  *     instead of silently dropping the whole batch: already-absorbed
  *     batch-mates are in the store by definition, so the remainder's
  *     store probe still surfaces every pair against them — nothing a
  *     full-batch run would flag is lost, it just arrives via the
  *     store arm instead of the within-batch arm;
  *   - flagged pairs land at `resultsDir/batch=<id>` with Overwrite, so a
  *     replayed micro-batch rewrites its own directory byte-equivalently
  *     (same remainder against the same store state recomputes the same
  *     pairs). For video, a crash between the band append and the vcounts
  *     write re-appends band rows only, which probes `.distinct()` away
  *     (the dedup band-store argument) while the join-sensitive
  *     denominators never duplicate.
  *
  * Scale: each micro-batch decodes ITS OWN payloads partition-local,
  * shuffles 8-byte hashes + ids, and equi-joins the band-partitioned
  * store — the q185/q186/q187 cost model per batch; the stream adds no
  * state (every join is against the on-disk snapshot, and the
  * remainder-guarded append replaces watermarked bookkeeping).
  */
object MediaDedupStream {

  /** The doc ids an index has absorbed. Image/audio: distinct ids in the
    * band artifact (schema-pinned read — an empty, fully-retracted store
    * reads as an empty frame, so every batch doc counts as new). Video:
    * the vcounts artifact, written second in the absorb, so a vid's
    * presence implies its band append committed.
    */
  private def absorbedIds(m: Multimodal.Modality, spark: SparkSession, path: String): DataFrame =
    if (m.frameGrained) Multimodal.readVcounts(spark, path).select(col("vid").as("doc_id"))
    else Multimodal.readBandStore(spark, path).select(col("doc_id")).distinct()

  /** Online q185/q186/q187: streamed `m` media probe + absorb its
    * persisted index (at frame grain, bands + vcounts denominators).
    * `maxHamming` defaults to the modality's query threshold (audio 6,
    * image and video 8); `minOverlap` applies to video only.
    */
  def start(m: Multimodal.Modality)(
      media: DataFrame,
      indexPath: String,
      resultsDir: String,
      maxHamming: Int = if (m == Multimodal.Audio) 6 else 8,
      minOverlap: Double = 0.5,
      queryName: String = s"media_dedup_${m.name}",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    MicroBatch.start(media, queryName, trigger, checkpointDir, tombstonePath) { (b, batchId) =>
      val s = b.sparkSession
      MicroBatch.remainder(b, absorbedIds(m, s, indexPath), "doc_id", "media.remainder")
        .foreach { remainder =>
          StoreSwap.write(m.incrementalPairs(s, remainder, indexPath, maxHamming, minOverlap),
            s"$resultsDir/batch=$batchId")
          m.appendTo(remainder, indexPath)
        }
    }
}
