package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.multimodal.Multimodal

/** Streaming MEDIA near-dup guard + absorb — the online form of the
  * incremental media trio (image q185, audio q186, video q187), closing
  * the last store family without a streaming operator: media arriving as
  * a feed of (doc_id, payload) rows is probed against the PERSISTED
  * fingerprint band index and then absorbed into it, so micro-batch N+1
  * automatically dedups against micro-batch N — the
  * [[ReleaseIngestStream]] probe-then-absorb shape at the media tier.
  *
  * Stream ≡ batch by CONSTRUCTION, not by re-derivation: each micro-batch
  * runs the exact batch operators (`incremental*Pairs` to probe,
  * `appendTo*Index` to absorb), so driving batches B1, B2 through the
  * stream leaves the index content-identical to two batch absorbs and
  * emits exactly `incremental(B1, idx)` ++ `incremental(B2, idx+B1)` —
  * the MediaDedupStreamSpec twin-store pin.
  *
  * Restart semantics (foreachBatch is at-least-once): each micro-batch is
  * first narrowed to its NOT-YET-ABSORBED remainder — an anti join of the
  * batch's doc ids against the store's (one O(batch) equi-join; for video
  * the absorbed-id witness is the vcounts artifact, written SECOND inside
  * [[Multimodal.appendToVideoIndex]], so its presence implies the band
  * append committed) — and effects run remainder-only, ordered
  * results-then-absorb:
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

  /** One modality's batch kernels, so the three starters share the
    * foreachBatch mechanics verbatim.
    */
  private final case class Kernel(
      probe: (SparkSession, DataFrame, String) => DataFrame,
      absorb: (DataFrame, String) => Unit,
      absorbedIds: (SparkSession, String) => DataFrame)

  /** Absorbed doc ids for image/audio: distinct ids in the single band
    * artifact (schema-pinned read — an empty, fully-retracted store reads
    * as an empty frame, so every batch doc counts as new).
    */
  private def bandIds(spark: SparkSession, path: String): DataFrame =
    Multimodal.readBandStore(spark, path).select(col("doc_id")).distinct()

  /** Absorbed doc ids for video: the vcounts artifact (written second in
    * the absorb, so a vid's presence implies its band append committed).
    */
  private def vcountIds(spark: SparkSession, path: String): DataFrame =
    Multimodal.readVcounts(spark, path).select(col("vid").as("doc_id"))

  private def image(maxHamming: Int) = Kernel(
    probe = (s, b, p) => Multimodal.incrementalDhashPairs(s, b, p, maxHamming),
    absorb = (b, p) => Multimodal.appendToDhashIndex(b, p),
    absorbedIds = bandIds)

  private def audio(maxHamming: Int) = Kernel(
    probe = (s, b, p) => Multimodal.incrementalAudioPairs(s, b, p, maxHamming),
    absorb = (b, p) => Multimodal.appendToAudioIndex(b, p),
    absorbedIds = bandIds)

  private def video(maxHamming: Int, minOverlap: Double) = Kernel(
    probe = (s, b, p) =>
      Multimodal.incrementalVideoPairs(s, b, p, maxHamming, minOverlap),
    absorb = (b, p) => Multimodal.appendToVideoIndex(b, p),
    absorbedIds = vcountIds)

  private def run(
      media: DataFrame,
      indexPath: String,
      resultsDir: String,
      kernel: Kernel,
      queryName: String,
      checkpointDir: Option[String],
      trigger: Trigger,
      tombstonePath: Option[String]): StreamingQuery = {
    val writer = media.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // forget guard at the stream's front door (plumbing, not caller
          // discipline): tombstoned docs drop before the remainder is even
          // computed, so forgotten media can never re-enter the index
          val guarded = tombstonePath.fold(batch.toDF())(p =>
            graft.pipeline.Forget.filterForgotten(s, batch.toDF(), p))
          // the not-yet-absorbed remainder, pinned once (snapped) so the
          // probe and the absorb see the identical row set; the store side
          // of the anti join stays un-broadcast — it is the unbounded
          // side, the batch is the small one
          val remainder = org.apache.spark.sql.graft.shims.snap(guarded
            .join(kernel.absorbedIds(s, indexPath), Seq("doc_id"), "left_anti"),
            "media.remainder")
          if (!remainder.isEmpty) {
            kernel.probe(s, remainder, indexPath)
              .write.mode(SaveMode.Overwrite)
              .option("compression", "zstd")
              .parquet(s"$resultsDir/batch=$batchId")
            kernel.absorb(remainder, indexPath)
          }
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }

  /** Online q185: streamed images probe + absorb a persisted dHash index. */
  def startImage(
      media: DataFrame,
      indexPath: String,
      resultsDir: String,
      maxHamming: Int = 8,
      queryName: String = "media_dedup_image",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    run(media, indexPath, resultsDir, image(maxHamming), queryName,
      checkpointDir, trigger, tombstonePath)

  /** Online q186: streamed WAVs probe + absorb a persisted audio index. */
  def startAudio(
      media: DataFrame,
      indexPath: String,
      resultsDir: String,
      maxHamming: Int = 6,
      queryName: String = "media_dedup_audio",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    run(media, indexPath, resultsDir, audio(maxHamming), queryName,
      checkpointDir, trigger, tombstonePath)

  /** Online q187: streamed videos probe + absorb the frame index (bands +
    * vcounts denominators).
    */
  def startVideo(
      media: DataFrame,
      indexPath: String,
      resultsDir: String,
      maxHamming: Int = 8,
      minOverlap: Double = 0.5,
      queryName: String = "media_dedup_video",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery =
    run(media, indexPath, resultsDir, video(maxHamming, minOverlap), queryName,
      checkpointDir, trigger, tombstonePath)
}
