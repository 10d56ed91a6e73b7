package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.IvfIndex
import graft.ops.StoreSwap
import graft.queries.{Curation, Dedup, DedupStore}
import graft.streaming.ReleaseIngestStream

/** CROSS-STORE FORGET — "remove these documents everywhere": one doc list
  * driven through every persisted store family's retract, closed by a
  * residual audit. This is the compliance composition a production corpus
  * runs for a right-to-be-forgotten or takedown order that must reach
  * BEYOND the published release (q176's flip) into every derived artifact
  * still carrying content-derived rows for the doc: dedup bands/shingles/
  * exact fingerprints/manifest, window and histogram count-stores, vector
  * indexes (float IVF and PQ codes), and the media fingerprint indexes.
  *
  * Each arm is the store's OWN retract operator — this object adds no new
  * store mechanics, only the orchestration and the audit — so every arm
  * keeps its family's atomicity story (write-aside → rename swap; probes
  * never see a half-retracted store) and its spec-pinned retract-equals-
  * rebuild contract. Arms are independent: a crash between arms leaves
  * each store either fully-forgotten or untouched, and recovery for the
  * id-keyed families is "re-run the arms [[residuals]] still flags"
  * (every id-keyed retract is idempotent for an id set — a left-anti of
  * absent ids is a no-op rewrite). The two COUNT-keyed stores (window
  * refcounts, histogram) subtract contributions and must apply exactly
  * once per forget; that is enforced, not asked of the caller: the
  * mandatory `forgetId` stamps a witness marker into each count store
  * atomically with its subtraction
  * ([[graft.ops.StoreSwap.rewrite]]), so re-running the same
  * forget — crash recovery, an audit-driven retry — skips the applied
  * count arms and the whole composition is safely re-runnable end to
  * end.
  *
  * Ordering: the release shadow lands FIRST (the published artifact is
  * the compliance surface — after arm one, a loader fold already masks
  * the doc) and the content-derived stores follow; the dedup manifest
  * recompute re-derives touched clusters from survivors, so near-dup
  * copies of a forgotten doc that remain in the corpus re-cluster among
  * themselves and can still be deduped later. An exact fingerprint whose
  * KEEPER is forgotten is dropped even if byte-identical copies remain
  * (the fingerprint IS the forgotten content); the next absorb of such a
  * copy re-enters it as new with a new keeper — conservative-correct for
  * a forget.
  *
  * Scale: the forgotten set is tiny by nature; every arm broadcasts it
  * and pays its store family's documented retract cost (partition-pruned
  * per-bucket rewrite for IVF/PQ, O(store) left-anti rewrite for the
  * band-shaped stores — ridden on the scheduled compaction in
  * production, the q149 clause).
  *
  * STREAMING composition, deliberately not a ForgetStream: the full
  * composition rewrites corpus-scale stores, which is the wrong cost
  * model per micro-batch. Continuous compliance is the two O(batch)
  * primitives — [[graft.streaming.TakedownStream]] with `tombstonePath`
  * set (release shadow at the loader surface + ledger append, both
  * replay-safe, in one micro-batch) — and THIS composition runs the
  * store rewrites in the scheduled maintenance window over the
  * accumulated tombstone delta, closed by [[residuals]].
  */
object Forget {

  /** Which persisted stores a forget must reach. Every field optional —
    * a deployment passes the stores it actually runs.
    */
  final case class Stores(
      dedupIndexDir: Option[String] = None,
      dedupThreshold: Double = 0.7,
      releaseDir: Option[String] = None,
      refcountWindowPath: Option[String] = None,
      refcountWindowHashed: Boolean = false,
      histogramPath: Option[String] = None,
      // (frozen coarse model, index path) — the float IVF index and/or the
      // PQ code index; IvfIndex.retractFromIndex is schema-agnostic and
      // serves both layouts verbatim
      vectorIndexes: Seq[(IvfIndex.Model, String)] = Nil,
      imageIndexPath: Option[String] = None,
      audioIndexPath: Option[String] = None,
      videoIndexPath: Option[String] = None,
      // cross-modal assignment store + the three modality indexes its
      // bridge-split retract regenerates survivor edges from
      crossModal: Option[(String, CrossModal.EdgeSources)] = None,
      // the q194 moment-sum store — count-keyed (no doc attribution in
      // the sums), so its arm rides the same mandatory-forgetId
      // exactly-once witness as the window/histogram stores
      momentStorePath: Option[String] = None)

  /** Drive the forget through every configured store. `docs` must carry
    * the forgotten documents' (doc_id, text, source, n_chars) — the
    * count-store arms recompute the docs' contributions to subtract them;
    * `vectors` the forgotten (vec_id, embedding) rows for the vector arms
    * (ignored when `vectorIndexes` is empty).
    *
    * `forgetId` names this forget for the COUNT-keyed arms' exactly-once
    * witness (the [[graft.ops.StoreSwap.rewrite]] contract):
    * each count store records the id atomically with its subtraction, so
    * re-running the same forget after a crash in a later arm skips the
    * already-applied count arms instead of double-subtracting — the whole
    * composition becomes audit-re-runnable like the id-keyed arms always
    * were. It is REQUIRED whenever a count store is configured (the API
    * refuses the silent-corruption configuration outright); pick any
    * stable name for the order — the takedown ticket id, a date — and
    * reuse it verbatim on retries.
    */
  def forgetEverywhere(
      spark: SparkSession,
      docs: DataFrame,
      vectors: DataFrame,
      stores: Stores,
      forgetId: Option[String] = None): Unit = {
    require(
      forgetId.isDefined ||
        (stores.refcountWindowPath.isEmpty && stores.histogramPath.isEmpty &&
          stores.momentStorePath.isEmpty),
      "forgetEverywhere: count-keyed stores configured (window refcounts / " +
        "histogram / moment sums) but no forgetId — their subtract arms " +
        "must be exactly-once under re-runs; pass a stable forgetId")
    val ids = docs.select(col("doc_id"))
    stores.releaseDir.foreach { d =>
      ReleaseIngestStream.takedownIngest(spark, ids, d)
    }
    stores.dedupIndexDir.foreach { d =>
      // survivors from the stored manifest itself (the retractIngest
      // derivation) — the caller supplies only the forgotten docs
      val sub = DedupStore.manifestSubdir(d, stores.dedupThreshold)
      val docsAfter = spark.read.parquet(sub)
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
      DedupStore.retractBatch(spark, ids, docsAfter, d, stores.dedupThreshold)
    }
    stores.refcountWindowPath.foreach { p =>
      Curation.retractFromRefcountedStore(
        spark, docs, p, hashed = stores.refcountWindowHashed, onceId = forgetId)
    }
    stores.histogramPath.foreach { p =>
      Curation.retractFromHistogramStore(spark, docs, p, onceId = forgetId)
    }
    stores.vectorIndexes.foreach { case (model, p) =>
      IvfIndex.retractFromIndex(spark, model, vectors, p)
    }
    stores.momentStorePath.foreach { p =>
      graft.queries.Similarity.retractFromMomentStore(
        spark, vectors, p, onceId = forgetId)
    }
    // the cross-modal arm runs BEFORE the modality-index retracts: its
    // bridge-split recompute reads survivor rows from those indexes
    // (which the later retracts preserve — survivors are never forgotten
    // — but ordering it first keeps every read against untouched stores)
    stores.crossModal.foreach { case (p, src) =>
      CrossModal.retract(spark, ids, p, src)
    }
    mediaIndexes(stores).foreach { case (m, p) => m.retractFrom(spark, ids, p) }
  }

  /** The configured media indexes, image → audio → video. */
  private def mediaIndexes(stores: Stores): Seq[(Multimodal.Modality, String)] =
    Seq(Multimodal.Image -> stores.imageIndexPath, Multimodal.Audio -> stores.audioIndexPath,
      Multimodal.Video -> stores.videoIndexPath)
      .flatMap { case (m, p) => p.map(m -> _) }

  /** TOMBSTONE LEDGER — "remember you forgot": a forget that does not
    * survive the next re-crawl is not a forget, because the same document
    * re-arrives under a fresh ingest and every store re-absorbs it. The
    * ledger persists the forgotten ids (append-only, one narrow column,
    * distinct-per-append) so ingest paths can refuse them FOREVER at the
    * front door — compose [[filterForgotten]] before any absorb
    * (DedupStore.appendToBandIndex, ReleaseIngestStream.ingest, the media
    * appends). Kept deliberately separate from the per-store retracts:
    * the ledger is the durable POLICY ("these ids never come back"),
    * the retracts are the one-time cleanup of state absorbed before the
    * policy existed. At 100 TB the ledger is tiny relative to any store
    * (forgotten sets are takedown-sized, accumulated over years), so the
    * guard is one broadcast-gated anti join per batch — O(batch).
    */
  def appendTombstones(ids: DataFrame, path: String): Unit =
    StoreSwap.write(ids.select(col("doc_id")).distinct(), path, append = true)

  /** The ingest guard: drop batch rows whose doc_id is tombstoned. The
    * ledger side broadcasts under the house size gate (it is takedown-
    * sized by nature); above the gate the anti join plans as an ordinary
    * equi-join under AQE rather than force-broadcasting an unbounded
    * store. Distinct is NOT applied to the ledger here — an anti join is
    * insensitive to right-side duplicates, so re-appended ids cost
    * storage only (shed by [[compactTombstones]]).
    */
  def filterForgotten(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      broadcastCeiling: Long = Dedup.IncrementalBroadcastCeiling): DataFrame = {
    val ledger = spark.read.parquet(path).select(col("doc_id"))
    batch.join(org.apache.spark.sql.graft.shims.broadcastGate(ledger, broadcastCeiling)(ledger),
      Seq("doc_id"), "left_anti")
  }

  /** Content-identical-up-to-duplicates ledger rewrite: distinct ids in
    * few sorted files (daily appends fragment it like every append-only
    * store; the distinct also sheds re-appended ids).
    */
  def compactTombstones(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    StoreSwap.write(
      spark.read.parquet(srcPath).select(col("doc_id")).distinct()
        .repartition(1).sortWithinPartitions("doc_id"),
      dstPath)

  /** One id-keyed store family for the residual audit: its rows and the
    * column (in those rows) that names the doc/vec a row derives from.
    */
  final case class Family(store: String, rows: DataFrame, docKey: Column)

  /** The standard family set for a [[Stores]] config — every id-keyed
    * artifact the forget touches, under audit names matching the arm
    * order. The count-keyed stores are ABSENT by construction: after an
    * absorb their rows carry no doc attribution, so "residual" is not
    * observable there (their guarantee is the retract-equals-rebuild spec
    * pin, not an audit row).
    */
  def families(spark: SparkSession, stores: Stores): Seq[Family] = {
    def read(p: String) = spark.read.parquet(p)
    val dedup = stores.dedupIndexDir.toSeq.flatMap { d =>
      val sub = DedupStore.manifestSubdir(d, stores.dedupThreshold)
      val exact =
        if (StoreSwap.committed(spark, s"$d/exact_fp"))
          Seq(Family("dedup_exact", read(s"$d/exact_fp"), col("keep_id")))
        else Nil
      Seq(
        Family("dedup_bands", read(s"$d/bands"), col("doc_id")),
        Family("dedup_shingles", read(s"$d/shingles"), col("doc_id")),
        Family("dedup_manifest", read(sub), col("doc_id"))) ++ exact
    }
    val release = stores.releaseDir.toSeq.map { d =>
      // the compliance question is about LIVE rows: fold the delta-log
      // (strongest shadow wins) and audit what a loader would read
      // foldedRelease emits exactly {published, revoked, taken_down} —
      // the live set is the published rows alone
      Family("release_live",
        ReleaseIngestStream.foldedRelease(read(d))
          .filter(col("status") === "published"),
        col("doc_id"))
    }
    val vecs = stores.vectorIndexes.zipWithIndex.map { case ((_, p), i) =>
      Family(s"vector_index_$i", read(p), col("vec_id"))
    }
    val media = mediaIndexes(stores).flatMap { case (m, p) =>
      m.artifacts(spark, p).map(a => Family(s"media_${a.name}", a.rows, a.docKey))
    }
    val xm = stores.crossModal.toSeq.map { case (p, _) =>
      Family("crossmodal_assignment",
        CrossModal.readAssignment(spark, p), col("doc_id"))
    }
    dedup ++ release ++ vecs ++ media ++ xm
  }

  /** RESIDUAL AUDIT — per store family, the rows still referencing a
    * forgotten doc: (store, n_rows, n_docs), one row per family, explicit
    * zeros (a family with nothing left still reports — absence of a row
    * would be indistinguishable from a family never audited). All-zero ⟺
    * the forget reached everywhere; a nonzero row names the store to
    * re-run. Read-only: this is both the post-forget verification and the
    * pre-forget impact gauge ("how big is this takedown"), and the shape
    * the registered form measures against warm stores. Each family costs
    * one broadcast semi-join against its store — O(stores), no shuffle
    * beyond the final tiny union.
    */
  def residuals(ids: DataFrame, fams: Seq[Family]): DataFrame = {
    // loud, not an empty frame: an audit over zero families would read as
    // "all clear" to a caller that misconfigured its Stores
    require(fams.nonEmpty, "residuals: no store families configured")
    val idsB = broadcast(ids.select(col("doc_id")).distinct())
    fams.map { f =>
      f.rows.select(f.docKey.cast("long").as("doc_id"))
        .join(idsB, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
        .select(lit(f.store).as("store"), col("n_rows"), col("n_docs"))
    }.reduce(_.unionByName(_)).orderBy("store")
  }
}
