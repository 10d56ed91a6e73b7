package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.ops.StoreSwap
import graft.queries.{Dedup, DedupStore}

/** PERSISTED cross-modal duplicate-family store — the q191 one-shot fold
  * ([[graft.queries.Extras.crossModalComponents]]) given the daily life
  * every other dedup tier already has (q110/q112/q147's pattern): the
  * union-graph component assignment persists next to the per-modality
  * band indexes, each daily batch folds in via the CONTRACTED merge —
  * O(batch) merge-graph work, the stored assignment scanned but never
  * shuffled — and a takedown retracts with bridge-split correctness.
  *
  * The store is ONE artifact (`<path>/assignment`: component, doc_id) by
  * design: the edges themselves live in the modality indexes that
  * already exist (text bands+shingles, image dHash bands, audio
  * fingerprint bands, and — when configured — the video frame index with
  * its vcounts denominators; each with its own absorb/retract/compact
  * lifecycle), so this store adds only the cross-modal FOLD state, never
  * a second copy of any edge source. Every operation here takes the
  * three index paths and derives edges index-backed — no payload is
  * ever re-decoded and no text re-shingled.
  *
  * Exactness: [[incremental]] rides [[DedupStore.contractedComponentsOver]]
  * verbatim — the q110 contraction argument (stored component = min
  * member id; contracting a connected subgraph to its representative
  * preserves connectivity and min labels) does not care WHICH kernels
  * produced the edges, only that the batch pair set equals the full
  * graph's batch-touching edges, which each modality's incremental ≡
  * full-restricted pin guarantees (DedupIndexSpec, DHashSpec,
  * AudioFingerprintSpec). CrossModalSpec asserts incremental ≡ the q191
  * rebuild and retract ≡ rebuild-without, including a planted
  * cross-modal BRIDGE doc whose forget must split its family.
  *
  * 100 TB shape: the three edge probes are the q66/q185/q186 banded
  * equi-joins (batch-sized shuffles against partitioned stores); the
  * merge graph is O(batch pairs); retract recomputes only touched
  * components, with survivor edges regenerated from the indexes
  * restricted to the (takedown-bounded) touched membership.
  */
object CrossModal {

  /** The per-modality edge sources + thresholds, bundled so every
    * lifecycle operation derives edges identically (one vocabulary — the
    * q191 precision-first arm defaults). The VIDEO arm is optional (a
    * deployment without a frame index skips it); when present it is the
    * q187 frame-grain incremental probe with [[Multimodal.Video]]'s
    * min-side overlap verify — trim-robust, and precision-safe for a
    * transitive fold because the overlap denominator is the SMALLER
    * side's frame count, so an incidental single-frame match can never
    * clear the 0.5 bar on real multi-frame videos.
    */
  final case class EdgeSources(
      textIndexPath: String,
      imageIndexPath: String,
      audioIndexPath: String,
      threshold: Double = 0.7,
      maxHammingImg: Int = 8,
      maxHammingAud: Int = 4,
      videoIndexPath: Option[String] = None,
      maxHammingVid: Int = 8,
      minOverlapVid: Double = 0.5) {

    /** The media arms as (modality, index path, hamming bound), in union
      * order; every arm gets `minOverlapVid`, which only the frame-grained
      * video arm reads.
      */
    private[graft] def media: Seq[(Multimodal.Modality, String, Int)] =
      Seq((Multimodal.Image, imageIndexPath, maxHammingImg),
        (Multimodal.Audio, audioIndexPath, maxHammingAud)) ++
        videoIndexPath.map(p => (Multimodal.Video, p, maxHammingVid))
  }

  private def assignmentDir(path: String) = s"$path/assignment"

  /** Bootstrap the assignment from a full corpus (the q191 fold). */
  def persist(docs: DataFrame, path: String): String = {
    val out = assignmentDir(path)
    StoreSwap.write(graft.queries.Extras.crossModalComponents(docs), out)
    out
  }

  /** Schema-pinned read of the assignment (the store survives a total
    * takedown the same way the media indexes do).
    */
  def readAssignment(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "component", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType))))
      .parquet(assignmentDir(path))

  /** The batch's cross-modal edge set against the persisted indexes +
    * within itself: each arm is its modality's incremental probe (q66 /
    * q185 / q186 / q187 — no stored payload re-decoded, no stored text
    * re-shingled), unioned as (new_id, existing_id).
    */
  def incrementalEdges(
      spark: SparkSession, batchDocs: DataFrame, src: EdgeSources): DataFrame = {
    def e(df: DataFrame) = df.select(
      col("new_id").cast("long").as("new_id"),
      col("existing_id").cast("long").as("existing_id"))
    src.media.foldLeft(
      e(DedupStore.incrementalMinhashPairs(spark, batchDocs, src.textIndexPath, src.threshold))) {
      case (edges, (m, p, maxHamming)) =>
        edges.unionByName(e(m.incrementalPairs(
          spark, m.payloads(batchDocs), p, maxHamming, src.minOverlapVid)))
    }
  }

  /** The contracted merge over an already-derived batch edge set — split
    * from [[incremental]] so the q192 registration can dump assignment +
    * edges pid-scoped and merge over the READBACK (both engines then
    * fold the same rows; DuckDB replays via the recursive CC CTE).
    */
  def mergeOver(
      batchIds: DataFrame,
      stored: DataFrame,
      edges: DataFrame,
      hinted: DataFrame => DataFrame): DataFrame = {
    val ct = DedupStore.contractedComponentsOver(
      batchIds.select(col("doc_id").as("id")),
      stored.select(col("doc_id"), col("component")),
      edges, hinted)
    DedupStore.mergedAssignment(stored.select(col("doc_id"), col("component")), ct)
      .select(col("cluster_id").as("component"), col("doc_id"))
      .orderBy("doc_id")
  }

  /** Day-N assignment + day-N+1 batch → the updated full assignment
    * (recomputing only batch-touching components). Pure — the store
    * mutation is [[absorb]].
    */
  def incremental(
      spark: SparkSession,
      batchDocs: DataFrame,
      path: String,
      src: EdgeSources,
      broadcastCeiling: Long = Dedup.IncrementalBroadcastCeiling): DataFrame = {
    mergeOver(batchDocs.select(col("doc_id")),
      readAssignment(spark, path),
      incrementalEdges(spark, batchDocs, src),
      org.apache.spark.sql.graft.shims.broadcastGate(batchDocs, broadcastCeiling))
  }

  /** Fold a batch into the store: merged assignment write-aside → swap,
    * THEN the three modality-index appends (the assignment merge reads
    * the indexes pre-batch, so it must plan first; a crash between the
    * writes leaves the assignment correct-for-its-inputs and the next
    * [[incremental]] against the partially-appended indexes is healed by
    * re-running absorb — each index append is the store's own guarded
    * append). `tombstonePath` guards the front door like every absorbing
    * path.
    */
  def absorb(
      spark: SparkSession,
      batchDocs: DataFrame,
      path: String,
      src: EdgeSources,
      broadcastCeiling: Long = Dedup.IncrementalBroadcastCeiling,
      tombstonePath: Option[String] = None): Unit = {
    val b = tombstonePath.fold(batchDocs)(p =>
      Forget.filterForgotten(spark, batchDocs, p))
    absorbMerged(spark, incremental(spark, b, path, src, broadcastCeiling), b, path, src)
  }

  /** The write half of [[absorb]], over an already-derived merged
    * assignment — factored so [[graft.streaming.CrossModalDedupStream]]
    * can compute the merge ONCE per micro-batch (results write + store
    * mutation off the same plan). Ordering is deliberate: assignment
    * `.next` (reads the pre-batch indexes) → index appends → assignment
    * swap LAST. The swapped assignment is the absorb's commit witness: a
    * crash after the appends but before the swap leaves the batch
    * re-absorbable — the replay re-appends index rows, which probes
    * `.distinct()` away (the band-store argument), and recomputes the
    * identical merge; the inverse order would instead commit the witness
    * with the edge indexes missing the batch, silently losing future
    * edges.
    */
  private[graft] def absorbMerged(
      spark: SparkSession,
      merged: DataFrame,
      batchDocs: DataFrame,
      path: String,
      src: EdgeSources): Unit = {
    StoreSwap.stage(merged, assignmentDir(path))
    DedupStore.appendToBandIndex(batchDocs, src.textIndexPath)
    src.media.foreach { case (m, p, _) => m.appendTo(m.payloads(batchDocs), p) }
    StoreSwap.swapInto(spark, assignmentDir(path))
  }

  /** Un-absorb a doc set from the assignment with BRIDGE-SPLIT
    * correctness (the q149 clause at the cross-modal tier): components
    * touching a forgotten doc recompute from the surviving members'
    * edges — regenerated index-backed per modality (stored bands +
    * shingle sets for text, stored dh values for image/audio; nothing
    * re-decodes) — so a family held together only by the forgotten doc
    * falls apart, exactly as a rebuild without it would. Untouched
    * components pass through verbatim; write-aside → swap. Retracting
    * the docs from the three modality indexes is their own stores'
    * retracts (composed by [[Forget.forgetEverywhere]]) — run THIS arm
    * first: it reads the survivor rows, which the modality retracts
    * preserve anyway, but ordering it first keeps every read against
    * fully-consistent indexes.
    */
  def retract(
      spark: SparkSession,
      batchIds: DataFrame,
      path: String,
      src: EdgeSources): Unit = {
    val (next, survivorsSized) = retractAssembly(spark, batchIds, path, src)
    StoreSwap.stage(next, assignmentDir(path))
    survivorsSized.unpersist()
    StoreSwap.swapInto(spark, assignmentDir(path))
  }

  /** The plan-visible half of [[retract]]: the post-retraction assignment
    * frame plus the persisted survivor set (caller unpersists after the
    * write). Split out so PlanShapeSpec can pin both broadcast shapes of
    * the survivor gate on the executed assembly, the absorb-side
    * precedent.
    */
  private[graft] def retractAssembly(
      spark: SparkSession,
      batchIds: DataFrame,
      path: String,
      src: EdgeSources,
      broadcastCeiling: Long = Dedup.IncrementalBroadcastCeiling): (DataFrame, DataFrame) = {
    val store = readAssignment(spark, path)
    val ids = broadcast(batchIds.select(col("doc_id")))
    val touched = store.join(ids, Seq("doc_id"))
      .select(col("component")).distinct()
    val untouched = store.join(broadcast(touched), Seq("component"), "left_anti")
      .select(col("component"), col("doc_id"))
    val survivors = store.join(broadcast(touched), Seq("component"))
      .join(ids, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    // survivors are takedown-touched membership — bounded in practice, but
    // a takedown hitting a mega-family must not force-broadcast them (the
    // same gate the absorb side carries); materialize the id list once so
    // the stats gate sees a sized relation, not the store join
    val survivorsSized = {
      val rows = survivors.persist()
      rows.count()
      rows
    }
    val pairs = survivorPairs(spark, survivorsSized, src, broadcastCeiling)
    val comps = graft.operators.ConnectedComponents.run(
      survivorsSized.select(col("doc_id").as("id")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
    (untouched.unionByName(
      comps.select(col("component"), col("id").as("doc_id"))),
      survivorsSized)
  }

  /** The survivor-edge regeneration with its size-gated broadcast: a
    * survivor set estimated under the ceiling is force-broadcast into
    * every per-modality index probe (the stores stream once, no
    * shuffle); a mega-family takedown whose survivors exceed it keeps
    * ordinary equi-joins — at that scale a forced broadcast is a driver
    * OOM, not an optimization. `survivorsSized` must be a materialized
    * (persisted + counted) relation so the stats gate reads a measured
    * size. Split out of [[retractAssembly]] because the component fold
    * above it checkpoints — these joins are only plan-visible here,
    * where PlanShapeSpec pins both shapes (the q66/tombstone precedent).
    */
  private[graft] def survivorPairs(
      spark: SparkSession,
      survivorsSized: DataFrame,
      src: EdgeSources,
      broadcastCeiling: Long = Dedup.IncrementalBroadcastCeiling): DataFrame = {
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(survivorsSized, broadcastCeiling)
    src.media.foldLeft(DedupStore.survivorTextPairs(
        spark, src.textIndexPath, survivorsSized, src.threshold, hinted)) {
      case (edges, (m, p, maxHamming)) =>
        edges.unionByName(m.survivorPairs(
          spark, p, survivorsSized, maxHamming, src.minOverlapVid, hinted))
    }
  }
}
