package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{IvfIndex, PqIndex}
import graft.pipeline.Forget
import graft.queries.{Curation, Dedup, DedupStore, Tables}
import graft.streaming.ReleaseIngestStream

/** Cross-store forget: one doc list driven through EVERY persisted store
  * family's retract must leave zero residuals in every id-keyed store
  * (the q177 planted-leak precedent extended to every family), leave the
  * count-keyed stores equal to a rebuild without the docs, and the
  * residual audit must name a store into which forgotten content is
  * planted back.
  */
class ForgetEverywhereSpec extends SparkSpec {

  test("one doc list retracts everywhere; audit all-zero; count stores equal rebuild; a planted leak is named") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val emb = Tables(spark, dir, "embeddings")
    val td = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val tdIds = td.select("doc_id")
    val tdVecs = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
    val keep = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft_forget").toString

    // ---- build every store family over the full corpus ----------------
    val idx = s"$root/dedup"
    val rel = s"$root/release"
    ReleaseIngestStream.ingest(docs, idx, rel) // bootstrap: bands+manifest+release
    DedupStore.persistExactIndex(docs, idx)
    val winPath = s"$root/win"
    Curation.refcountedWindowStore(docs).write
      .option("compression", "zstd").parquet(winPath)
    val histPath = s"$root/hist"
    Curation.scoreHistogram(docs).write
      .option("compression", "zstd").parquet(histPath)
    val model = IvfIndex.fit(emb, k = 4)
    val ivfPath = s"$root/ivf"
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assign(model, emb), ivfPath, Seq("bucket"))
    val pq = PqIndex.fit(emb, m = 8, numCodes = 16)
    val pqPath = s"$root/pq"
    graft.ops.Bucketing.writePartitioned(
      PqIndex.assign(model, pq, emb), pqPath, Seq("bucket"))
    val img = s"$root/img"
    Multimodal.Image.persist(Multimodal.imagePayloads(docs), img)
    val aud = s"$root/aud"
    Multimodal.Audio.persist(Multimodal.audioPayloads(docs), aud)
    val vid = s"$root/vid"
    Multimodal.Video.persist(Multimodal.videoPayloads(docs), vid)
    val xm = s"$root/xm"
    graft.pipeline.CrossModal.persist(docs, xm)

    val stores = Forget.Stores(
      dedupIndexDir = Some(idx),
      releaseDir = Some(rel),
      refcountWindowPath = Some(winPath),
      histogramPath = Some(histPath),
      vectorIndexes = Seq((model, ivfPath), (model, pqPath)),
      imageIndexPath = Some(img),
      audioIndexPath = Some(aud),
      videoIndexPath = Some(vid),
      crossModal = Some((xm, graft.pipeline.CrossModal.EdgeSources(
        idx, img, aud, videoIndexPath = Some(vid)))))

    def audit(): Map[String, Long] =
      Forget.residuals(tdIds, Forget.families(spark, stores))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // the family set covers every id-keyed artifact the config names
    val expectedFams = Set(
      "dedup_bands", "dedup_shingles", "dedup_manifest", "dedup_exact",
      "release_live", "vector_index_0", "vector_index_1",
      "media_image_bands", "media_audio_bands",
      "media_video_frames", "media_video_counts", "crossmodal_assignment")
    assert(Forget.families(spark, stores).map(_.store).toSet == expectedFams)

    // pre-forget impact gauge: the absorbed state IS the planted state —
    // every family must show the docs (a family already at zero would
    // make its post-forget zero vacuous)
    val before = audit()
    assert(before.keySet == expectedFams)
    assert(before.values.forall(_ > 0),
      s"every family must hold forgotten-doc rows before the forget: $before")

    // the API refuses the silent-corruption configuration: count stores
    // without a forget id
    intercept[IllegalArgumentException] {
      Forget.forgetEverywhere(spark, td, tdVecs, stores)
    }

    // ---- forget everywhere, audit all-zero -----------------------------
    Forget.forgetEverywhere(spark, td, tdVecs, stores, forgetId = Some("fe-order-1"))
    val after = audit()
    assert(after.values.forall(_ == 0L),
      s"forget must leave zero residuals in every family: $after")

    // count-keyed stores (not id-auditable): must equal a from-scratch
    // build over the surviving corpus — the retract-equals-rebuild pin
    val winAfter = spark.read.parquet(winPath)
      .collect().map(_.toSeq.toList).toSet
    val winWant = Curation.refcountedWindowStore(keep)
      .collect().map(_.toSeq.toList).toSet
    assert(winAfter == winWant,
      "refcounted window store must equal the rebuild without the docs")
    val histAfter = spark.read.parquet(histPath)
      .collect().map(_.toSeq.toList).toSet
    val histWant = Curation.scoreHistogram(keep)
      .collect().map(_.toSeq.toList).toSet
    assert(histAfter == histWant,
      "histogram store must equal the rebuild without the docs")

    // the dedup manifest must equal the from-scratch manifest over the
    // survivors (retract-equals-rebuild, end to end through the forget)
    val sub = DedupStore.manifestSubdir(idx, 0.7)
    val mAfter = spark.read.parquet(sub)
      .select("doc_id", "component", "n_chars", "keep")
      .collect().map(_.toSeq.toList).toSet
    val freshIdx = s"$root/dedup_rb"
    DedupStore.persistBandIndex(keep, freshIdx)
    DedupStore.persistComponents(keep, freshIdx, 0.7)
    val mWant = spark.read.parquet(DedupStore.manifestSubdir(freshIdx, 0.7))
      .select("doc_id", "component", "n_chars", "keep")
      .collect().map(_.toSeq.toList).toSet
    assert(mAfter == mWant,
      "dedup manifest must equal the rebuild without the forgotten docs")

    // crash recovery: RE-RUNNING the same forget end to end must change
    // nothing — the id-keyed arms are no-op left-antis, and the count
    // arms skip on their exactly-once witness instead of double-
    // subtracting (the corruption the r13 advice flagged)
    Forget.forgetEverywhere(spark, td, tdVecs, stores, forgetId = Some("fe-order-1"))
    assert(audit().values.forall(_ == 0L), "re-run must stay all-zero")
    assert(spark.read.parquet(winPath).collect().map(_.toSeq.toList).toSet == winWant,
      "re-run must not double-subtract the window refcounts")
    assert(spark.read.parquet(histPath).collect().map(_.toSeq.toList).toSet == histWant,
      "re-run must not double-subtract the histogram")

    // ---- planted leak: content sneaks back into ONE family -------------
    Multimodal.Image.appendTo(Multimodal.imagePayloads(td), img)
    val leak = audit()
    assert(leak("media_image_bands") > 0,
      "the audit must flag the store holding planted content")
    assert(leak.filter(_._1 != "media_image_bands").values.forall(_ == 0L),
      s"no other family may be flagged: $leak")
  }

  test("resume-from-audit, id-keyed retract idempotence, and the tombstone guard") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val emb = Tables(spark, dir, "embeddings")
    val td = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val tdVecs = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_forget_resume").toString

    // id-keyed stores only — the re-runnable class the Forget doc names
    val idx = s"$root/dedup"
    DedupStore.persistBandIndex(docs, idx)
    DedupStore.persistComponents(docs, idx, 0.7)
    DedupStore.persistExactIndex(docs, idx)
    val img = s"$root/img"
    Multimodal.Image.persist(Multimodal.imagePayloads(docs), img)
    val model = IvfIndex.fit(emb, k = 4)
    val ivfPath = s"$root/ivf"
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assign(model, emb), ivfPath, Seq("bucket"))
    val full = Forget.Stores(dedupIndexDir = Some(idx),
      imageIndexPath = Some(img), vectorIndexes = Seq((model, ivfPath)))
    def audit(): Map[String, Long] =
      Forget.residuals(td.select("doc_id"), Forget.families(spark, full))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // a PARTIAL forget (only the image arm ran before the "crash")
    Forget.forgetEverywhere(spark, td, tdVecs,
      Forget.Stores(imageIndexPath = Some(img)))
    val mid = audit()
    assert(mid("media_image_bands") == 0L, s"the completed arm must read zero: $mid")
    assert(mid.filter(_._1 != "media_image_bands").values.forall(_ > 0L),
      s"the audit must flag every arm still pending: $mid")
    // RESUME: re-run exactly the flagged arms — convergence to all-zero
    Forget.forgetEverywhere(spark, td, tdVecs,
      Forget.Stores(dedupIndexDir = Some(idx), vectorIndexes = Seq((model, ivfPath))))
    assert(audit().values.forall(_ == 0L), s"resume must converge: ${audit()}")
    // id-keyed retract idempotence: re-running a completed arm is a no-op
    def bandSet() = spark.read.parquet(s"$img/dhbands")
      .select("doc_id", "dh", "band", "bhash").collect().map(_.toSeq.toList).toSet
    val stable = bandSet()
    Forget.forgetEverywhere(spark, td, tdVecs,
      Forget.Stores(imageIndexPath = Some(img)))
    assert(bandSet() == stable, "re-running an id-keyed arm must change nothing")

    // TOMBSTONES: the forgotten docs re-arrive and are refused forever
    val ledger = s"$root/tombs"
    Forget.appendTombstones(td.select("doc_id"), ledger)
    // a pure re-crawl of forgotten content passes NOTHING through
    val recrawl = Forget.filterForgotten(spark, td, ledger)
    assert(recrawl.isEmpty, "a re-crawl of forgotten docs must be fully refused")
    // absorbing the guarded (empty) batch leaves the stores residual-free
    Multimodal.Image.appendTo(Multimodal.imagePayloads(recrawl), img)
    assert(audit()("media_image_bands") == 0L,
      "a guarded re-ingest must leave no trace in any store")
    // a mixed batch keeps exactly its non-forgotten rows
    val mixed = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 1))
    val passed = Forget.filterForgotten(spark, mixed, ledger)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = mixed.filter(pmod(col("doc_id"), lit(7)) === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(passed == want, "the guard must drop exactly the tombstoned rows")
    // replayed appends dedupe away at compaction; content = the distinct ids
    Forget.appendTombstones(td.select("doc_id"), ledger)
    Forget.compactTombstones(spark, ledger, s"$ledger.compact")
    val compacted = spark.read.parquet(s"$ledger.compact")
      .collect().map(_.getLong(0)).toSet
    val tdIds = td.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(compacted == tdIds, "compaction must yield exactly the distinct ids")

    // PLUMBED guards (r13 verdict item: the ledger as a parameter of the
    // absorbing entry points, zero caller composition): forgotten docs
    // re-arriving through EACH absorb path leave every store residual-free
    DedupStore.appendToBandIndex(td, idx, tombstonePath = Some(ledger))
    assert(audit()("dedup_bands") == 0L && audit()("dedup_shingles") == 0L,
      "a guarded band-index append must refuse tombstoned docs")
    // the full release ingest (bootstrap branch) over a mixed batch:
    // only the non-forgotten half may enter ANY of its stores
    val idx2 = s"$root/dedup2"
    val rel2 = s"$root/release2"
    graft.streaming.ReleaseIngestStream.ingest(
      mixed, idx2, rel2, tombstonePath = Some(ledger))
    val res2 = Forget.residuals(td.select("doc_id"),
        Forget.families(spark, Forget.Stores(
          dedupIndexDir = Some(idx2), releaseDir = Some(rel2))))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res2.values.forall(_ == 0L),
      s"a guarded release ingest must leave no forgotten-doc rows: $res2")
    assert(spark.read.parquet(DedupStore.manifestSubdir(idx2, 0.7)).count() == want.size,
      "the guarded ingest must still absorb every non-forgotten row")
  }
}
