package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.IvfIndex
import graft.ops.ShardExport
import graft.queries.{Curation, Dedup, DedupStore, Release, Tables}

/** DAY-IN-THE-LIFE integration: every persisted store family — band index
  * + dedup manifest (q66/q110/q112/q129), exact-fingerprint index (q113),
  * window/novelty store (q124/q131), quality-histogram store
  * (q121/q123/q137), IVF vector index (q56 + append/compact), and the
  * shard-export epoch (q105/q120/q126) — driven through the SAME three
  * simulated days in ONE harness: day-0 build, then for each later day
  * gauge → absorb, with a store COMPACTION at the day-1/day-2 boundary so
  * day 2 exercises the two cross-store interactions no isolated spec
  * covers: append-after-compact (the batch lands in a rewritten store)
  * and gauge-after-compact (the probes run against it). Day 3 is the
  * RETRACTION day: a poisoned batch absorbs into every store, is
  * flagged, and is un-absorbed everywhere (q149 band/exact/manifest,
  * q150 refcounted windows, q152 histogram, IVF retractFromIndex, shard
  * resetAppended) — every store must return to its exact day-2 state,
  * against artifacts that have been through two absorbs and a compaction.
  * The refcounted window store runs ALONGSIDE the distinct one from day 0
  * and must agree with its presence set at every boundary.
  *
  * Every day boundary asserts the incremental-equals-rebuild contract for
  * every store SIMULTANEOUSLY — the stored state must equal a from-scratch
  * build over the day's cumulative corpus — so a store whose absorb step
  * silently depended on another store's pre-absorb state would fail here
  * even though each isolated spec stays green.
  *
  * The fixture corpus has no exact-duplicate pairs by construction, so
  * cross-day duplicates are DERIVED deterministically (the q132/q134
  * precedent): each day's batch carries copies of every 7th earlier-day
  * doc under offset ids, giving the exact tier real cross-day hits, the
  * minhash tier jaccard-1.0 crossings, and the manifest genuine cluster
  * merges across days.
  */
class LifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val Thr = 0.7
  private val DocCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Deterministic cross-day duplicates: copies of every 7th doc of an
    * earlier day under `offset` ids (higher than any original, so the
    * stored keeper stays the global minimum and the incremental exact
    * contract is exactly the from-scratch one).
    */
  private def copiesOf(src: DataFrame, offset: Long): DataFrame =
    src.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + lit(offset)).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))

  private def manifestDir(root: String) = s"$root/manifest_bp7000"

  test("three simulated days drive every store: gauge, absorb, compact, re-gauge; incremental equals rebuild at every boundary") {
    val docs = Tables(spark, dir, "documents").select(DocCols.map(col): _*)
    val emb = Tables(spark, dir, "embeddings")
    val day0 = docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
    val day1 = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .unionByName(copiesOf(day0, 100000L))
    lazy val day2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .unionByName(copiesOf(day1, 200000L))
    val e0 = emb.filter(pmod(col("vec_id"), lit(5)).isin(1, 2, 3))
    val e1 = emb.filter(pmod(col("vec_id"), lit(5)) === 4)
    val e2 = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val ivfQueries = emb.filter(col("vec_id") < 10)

    val root = java.nio.file.Files.createTempDirectory("graft_lifecycle").toString

    // ---- DAY 0: build every store from the base corpus -----------------
    var bandRoot = s"$root/dedup_d0"
    DedupStore.persistBandIndex(day0, bandRoot)
    DedupStore.persistComponents(day0, bandRoot, Thr)
    DedupStore.persistExactIndex(day0, bandRoot)
    val winPath = s"$root/windows"
    Curation.windowStore(day0).write
      .option("compression", "zstd").parquet(winPath)
    // the REFCOUNTED window store runs alongside the DISTINCT one from day
    // 0: same presence set every day (cross-representation agreement), and
    // the only window representation the day-3 retraction can un-absorb
    val rcWinPath = s"$root/windows_rc"
    Curation.refcountedWindowStore(day0).write
      .option("compression", "zstd").parquet(rcWinPath)
    val histPath = s"$root/hist"
    Curation.scoreHistogram(day0).write
      .option("compression", "zstd").parquet(histPath)
    val model = IvfIndex.fit(e0, k = 4)
    var ivfPath = s"$root/ivf_d0"
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assign(model, e0), ivfPath, Seq("bucket"))
    val epochDir = ShardExport.write(
      day0, s"$root/shards", epoch = 1, packTokens = 512, shardTokens = 2048)
    var storedManifest = ShardExport.manifest(spark, epochDir).localCheckpoint()
    // pack-manifest store (q159 family): the loader's continuous token
    // stream — day batches RESUME it, so its rebuild twin is the one-shot
    // fold over the ARRIVAL order, realized by remapping doc ids onto a
    // day-strided gid before the one-shot window
    var packPath = s"$root/packs"
    Release.packManifest(day0).write
      .option("compression", "zstd").parquet(packPath)
    val PackStride = 10000000L
    var packDays: Seq[DataFrame] = Seq(day0)

    def packRows(): Set[Seq[Any]] =
      spark.read.parquet(packPath).collect().map(_.toSeq).toSet

    def packRebuild(): Set[Seq[Any]] = {
      val remapped = packDays.zipWithIndex.map { case (d, i) =>
        d.select((col("doc_id") + lit(i * PackStride)).as("doc_id"),
          col("source"), col("text"))
      }.reduce(_ unionByName _)
      Release.packManifest(remapped)
        .withColumn("doc_id", pmod(col("doc_id"), lit(PackStride)))
        .collect().map(_.toSeq).toSet
    }

    def ivfTopk(indexed: DataFrame): Set[(Long, Long, Int)] =
      IvfIndex.searchIndexed(model, ivfQueries, indexed, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    def rcNet(): Map[String, Long] =
      spark.read.parquet(rcWinPath).groupBy("g").agg(sum("rc").as("rc"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    /** One simulated day: every gauge runs against the stored artifacts
      * and is pinned to its fresh-state twin, then every store absorbs the
      * batch and is pinned to a from-scratch rebuild over the cumulative
      * corpus.
      */
    def runDay(d: Int, batch: DataFrame, corpusPrev: DataFrame,
               corpusNext: DataFrame, batchEmb: DataFrame,
               embPrev: DataFrame, embNext: DataFrame): Unit = {
      val clue = s"day $d: "

      // -- gauges against the CURRENT store state (pre-absorb) --
      // near-dup probe (q66 contract): exactly the whole-corpus pair set
      // restricted to batch-touching pairs. On day 2 the probed index is
      // the COMPACTED one — gauge-after-compact.
      val newIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val incPairs = DedupStore.incrementalMinhashPairs(spark, batch, bandRoot, Thr)
        .collect().map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          ((a min b, a max b), r.getDouble(2))
        }.toMap
      val fullPairs = Dedup.minhashPairs(corpusNext, Thr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => newIds.contains(a) || newIds.contains(b) }
        .map { case (a, b, j) => ((a min b, a max b), j) }.toMap
      assert(incPairs == fullPairs, clue + "incremental near-dup probe diverges from restricted full run")
      assert(incPairs.nonEmpty, clue + "derived copies must produce cross-day near-dup pairs")

      // exact probe (q113 contract): canon = global min doc_id per
      // fingerprint over the cumulative corpus
      val incExact = DedupStore.incrementalExactDedup(spark, batch, bandRoot)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
      val canon = corpusNext
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("canon_id"))
      val expExact = batch
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .join(canon, "fp")
        .select(col("doc_id"), col("canon_id"),
          (col("canon_id") =!= col("doc_id")).cast("int").as("is_dup"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
      assert(incExact == expExact, clue + "incremental exact probe diverges from from-scratch canon")
      assert(incExact.exists(_._2._2 == 1), clue + "derived copies must register as exact dups")

      // novelty gauge (q124): stored window set ≡ fresh windows of the
      // cumulative pre-batch corpus
      val novStored = Curation.contentNovelty(spark.read.parquet(winPath), batch)
        .collect().map(_.toSeq).toSeq
      val novFresh = Curation.contentNovelty(Curation.windowStore(corpusPrev), batch)
        .collect().map(_.toSeq).toSeq
      assert(novStored == novFresh, clue + "novelty over the stored window set diverges from fresh windows")

      // histogram gauges (q123/q121/q137): stored artifact ≡ fresh hist
      val storedHist = spark.read.parquet(histPath)
      val freshHist = Curation.scoreHistogram(corpusPrev)
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      assert(rows(Curation.driftMonitor(storedHist, batch)) ==
        rows(Curation.driftMonitor(freshHist, batch)),
        clue + "drift gauge diverges between stored and fresh histogram")
      assert(rows(Curation.incrementalThresholds(storedHist, batch)) ==
        rows(Curation.incrementalThresholds(freshHist, batch)),
        clue + "threshold gauge diverges between stored and fresh histogram")
      assert(rows(Curation.ksDrift(storedHist, batch)) ==
        rows(Curation.ksDrift(freshHist, batch)),
        clue + "KS gauge diverges between stored and fresh histogram")

      // ANN probe: persisted (possibly compacted) index ≡ one-shot assign
      assert(ivfTopk(spark.read.parquet(ivfPath)) ==
        ivfTopk(IvfIndex.assign(model, embPrev)),
        clue + "indexed ANN search diverges from the one-shot assignment")

      // -- shard export: append, then the incremental manifest must equal
      // the full re-read and the audit must attest every shard ok --
      val baseMax = storedManifest
        .agg(max(col("shard_id").cast("long"))).head.getLong(0)
      ShardExport.append(spark, batch, epochDir,
        epoch = 1, packTokens = 512, shardTokens = 2048)
      storedManifest = ShardExport
        .manifestIncremental(spark, epochDir, storedManifest, baseMax)
        .localCheckpoint()
      assert(storedManifest.collect().map(_.toSeq).toSet ==
        ShardExport.manifest(spark, epochDir).collect().map(_.toSeq).toSet,
        clue + "incremental shard manifest diverges from the full re-read")
      val auditRows = ShardExport.audit(spark, epochDir, storedManifest).collect()
      assert(auditRows.nonEmpty && auditRows.forall(_.getString(1) == "ok"),
        clue + s"audit must attest every shard ok, got ${auditRows.map(_.getString(1)).toSeq}")
      assert(storedManifest.agg(sum("n_docs")).head.getLong(0) == corpusNext.count(),
        clue + "shard export lost or duplicated docs")

      // -- absorb the batch into every store --
      DedupStore.absorbBatch(spark, batch, corpusNext, bandRoot, Thr)
      DedupStore.appendToExactIndex(spark, batch, bandRoot)
      Curation.appendToWindowStore(spark, batch, winPath)
      Curation.absorbIntoRefcountedStore(spark, batch, rcWinPath)
      Curation.absorbIntoHistogramStore(spark, batch, histPath)
      IvfIndex.appendToIndex(model, batchEmb, ivfPath)
      Release.absorbIntoPackStore(spark, batch, packPath)
      packDays = packDays :+ batch

      // -- post-absorb: every store ≡ a from-scratch rebuild --
      assert(spark.read.parquet(manifestDir(bandRoot))
        .select("doc_id", "component", "n_chars", "keep")
        .collect().map(_.toSeq).toSet ==
        Dedup.dedupManifest(corpusNext, Thr)
          .select(col("doc_id"), col("cluster_id").as("component"),
            col("n_chars"), col("keep"))
          .collect().map(_.toSeq).toSet,
        clue + "absorbed dedup manifest diverges from a from-scratch rebuild")
      assert(spark.read.parquet(s"$bandRoot/exact_fp")
        .collect().map(_.toSeq).toSet ==
        corpusNext.groupBy(Text.fingerprint(col("text")).as("fp"))
          .agg(min("doc_id").as("keep_id")).collect().map(_.toSeq).toSet,
        clue + "absorbed exact index diverges from a from-scratch rebuild")
      val ws = spark.read.parquet(winPath)
      assert(ws.count() == ws.distinct().count(),
        clue + "window store must stay distinct by construction")
      assert(ws.collect().map(_.getString(0)).toSet ==
        Curation.windowStore(corpusNext).collect().map(_.getString(0)).toSet,
        clue + "absorbed window store diverges from a from-scratch rebuild")
      assert(rcNet() ==
        Curation.refcountedWindowStore(corpusNext).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap,
        clue + "absorbed refcounted store diverges from a from-scratch rebuild")
      assert(spark.read.parquet(histPath).collect().map(_.toSeq).toSet ==
        Curation.scoreHistogram(corpusNext).collect().map(_.toSeq).toSet,
        clue + "absorbed histogram diverges from a from-scratch rebuild")
      assert(ivfTopk(spark.read.parquet(ivfPath)) ==
        ivfTopk(IvfIndex.assign(model, embNext)),
        clue + "appended ANN index diverges from the one-shot full build")
      assert(packRows() == packRebuild(),
        clue + "absorbed pack store diverges from the arrival-order one-shot fold")
    }

    // ---- DAY 1: gauge + absorb against the day-0 stores ----------------
    val c1 = day0.unionByName(day1)
    runDay(1, day1, day0, c1, e1, e0, e0.unionByName(e1))

    // ---- day-1/day-2 boundary: COMPACT the fragmented stores -----------
    // band index: write-new → repoint; the manifest + exact artifacts
    // migrate by metadata rename (they are day-level state, not band
    // fragments — compaction must not touch their content)
    val bandRoot2 = s"$root/dedup_d1c"
    DedupStore.compactBandIndex(spark, bandRoot, bandRoot2)
    def bandRows(p: String) = spark.read.parquet(s"$p/bands")
      .select("band", "bhash", "doc_id").collect().map(_.toSeq).toSet
    def shingleRows(p: String) = spark.read.parquet(s"$p/shingles")
      .collect().map(_.toSeq).toSet
    assert(bandRows(bandRoot2) == bandRows(bandRoot),
      "band compaction changed the band content")
    assert(shingleRows(bandRoot2) == shingleRows(bandRoot),
      "band compaction changed the shingle content")
    for (sub <- Seq("manifest_bp7000", "exact_fp"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$bandRoot/$sub"),
        java.nio.file.Paths.get(s"$bandRoot2/$sub"))
    bandRoot = bandRoot2
    // refcounted window store: collapse the day-1 absorb deltas; net
    // counts invariant, one row per window afterwards
    val rcNetBeforeCompact = rcNet()
    Curation.compactRefcountedStore(spark, rcWinPath)
    assert(rcNet() == rcNetBeforeCompact,
      "refcounted-store compaction changed the net counts")
    assert(spark.read.parquet(rcWinPath).count() == rcNetBeforeCompact.size,
      "refcounted-store compaction must leave one row per window")
    // IVF: compact to a new root, content-identically
    val ivfPath2 = s"$root/ivf_d1c"
    IvfIndex.compactIndex(spark, ivfPath, ivfPath2)
    assert(spark.read.parquet(ivfPath2).select("vec_id", "bucket")
      .collect().map(_.toSeq).toSet ==
      spark.read.parquet(ivfPath).select("vec_id", "bucket")
        .collect().map(_.toSeq).toSet,
      "IVF compaction changed the index content")
    ivfPath = ivfPath2
    // pack store: collapse the day-1 append fragments into a fresh layout
    // — rows immutable, so compaction is a content-identical rewrite
    val packBefore = packRows()
    val packPath2 = s"$root/packs_d1c"
    spark.read.parquet(packPath).write
      .option("compression", "zstd").parquet(packPath2)
    packPath = packPath2
    assert(packRows() == packBefore, "pack compaction changed the span content")

    // ---- DAY 2: gauge + absorb against the COMPACTED stores ------------
    // (append-after-compact and gauge-after-compact in one pass)
    val c2 = c1.unionByName(day2)
    runDay(2, day2, c1, c2, e2, e0.unionByName(e1),
      e0.unionByName(e1).unionByName(e2))

    // ---- DAY 3: a POISONED batch lands, absorbs everywhere, is flagged,
    // and is UN-ABSORBED from every store — the q149/q150/q152 retraction
    // contracts asserted simultaneously, against stores that have been
    // through two absorbs and a compaction (no isolated retract spec
    // starts from that state). The batch mixes derived copies (real dedup
    // hits whose removal must not take pre-existing members with them)
    // with spam-suffixed clones (novel windows/scores that must vanish).
    val day3 = copiesOf(day2, 300000L).unionByName(
      docs.filter(pmod(col("doc_id"), lit(5)) === 2)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat(col("text"), lit(" click here free offer buy now")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .withColumn("n_chars", length(col("text")).cast(
          docs.schema("n_chars").dataType)))
    val e3 = emb.filter(pmod(col("vec_id"), lit(5)) === 1)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"), col("label"))

    def storeRows(sub: String) = spark.read.parquet(s"$bandRoot/$sub")
      .collect().map(_.toSeq).toSet
    val bandParts = Seq("bands", "shingles", "exact_fp", "manifest_bp7000")
    val bandBefore = bandParts.map(p => p -> storeRows(p)).toMap
    val rcBefore = rcNet()
    val histBefore = spark.read.parquet(histPath)
      .collect().map(_.toSeq).toSet
    val ivfBefore = spark.read.parquet(ivfPath)
      .select("vec_id", "bucket").collect().map(_.toSeq).toSet
    val manifestBefore = storedManifest.collect().map(_.toSeq).toSet
    val shardMax = storedManifest
      .agg(max(col("shard_id").cast("long"))).head.getLong(0)
    val packBefore3 = packRows()

    DedupStore.absorbBatch(spark, day3, c2.unionByName(day3), bandRoot, Thr)
    DedupStore.appendToExactIndex(spark, day3, bandRoot)
    Curation.absorbIntoRefcountedStore(spark, day3, rcWinPath)
    Curation.absorbIntoHistogramStore(spark, day3, histPath)
    IvfIndex.appendToIndex(model, e3, ivfPath)
    ShardExport.append(spark, day3, epochDir,
      epoch = 1, packTokens = 512, shardTokens = 2048)
    Release.absorbIntoPackStore(spark, day3, packPath)
    assert(storeRows("manifest_bp7000") != bandBefore("manifest_bp7000"),
      "day 3: the poisoned absorb must actually change the manifest")
    assert(rcNet() != rcBefore,
      "day 3: the poisoned absorb must actually change the window counts")
    assert(packRows() != packBefore3,
      "day 3: the poisoned absorb must actually extend the pack stream")

    DedupStore.retractBatch(spark, day3.select("doc_id"), c2, bandRoot, Thr)
    Curation.retractFromRefcountedStore(spark, day3, rcWinPath)
    Curation.retractFromHistogramStore(spark, day3, histPath)
    IvfIndex.retractFromIndex(spark, model, e3, ivfPath)
    ShardExport.resetAppended(epochDir, shardMax)
    Release.retractFromPackStore(spark, day3.select("doc_id"), packPath)

    for (p <- bandParts)
      assert(storeRows(p) == bandBefore(p),
        s"day 3: $p not restored by retraction")
    assert(rcNet() == rcBefore,
      "day 3: refcounted window store not restored by retraction")
    assert(spark.read.parquet(histPath).collect().map(_.toSeq).toSet
      == histBefore,
      "day 3: histogram store not restored by retraction")
    assert(spark.read.parquet(ivfPath).select("vec_id", "bucket")
      .collect().map(_.toSeq).toSet == ivfBefore,
      "day 3: IVF index not restored by retraction")
    assert(ShardExport.manifest(spark, epochDir)
      .collect().map(_.toSeq).toSet == manifestBefore,
      "day 3: shard epoch not restored by retraction")
    val audit3 = ShardExport.audit(spark, epochDir,
      ShardExport.manifest(spark, epochDir)).collect()
    assert(audit3.nonEmpty && audit3.forall(_.getString(1) == "ok"),
      "day 3: post-retraction audit must attest every surviving shard ok")
    assert(packRows() == packBefore3,
      "day 3: pack store not restored by the tail retraction")
    // the tail guard is loud: retracting a NON-tail batch (day 1, buried
    // under day 2's spans) must raise, not write a holed stream
    val ex = intercept[Exception] {
      Release.retractFromPackStore(spark, day1.select("doc_id"), packPath)
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")) ++ Iterator("")).mkString(" ")
    assert(rootMsg(ex).contains("not the stream tail"),
      s"non-tail retract must raise the guard, got: ${rootMsg(ex).take(200)}")
    assert(packRows() == packBefore3,
      "day 3: failed non-tail retract must leave the store untouched")
  }

  test("release epoch-close: ingest batches, retract the flagged one, absorb after retract, compact, audit-clean") {
    import graft.streaming.ReleaseIngestStream
    // planted pair graph (the StreamingSpec release fixture conventions):
    // unique-word docs plus one engineered near-dup family around doc 100
    def uniq(d: Long, n: Int) =
      (d, s"s${d % 2}", (0 until n).map(i => s"u${d}_$i").mkString(" "))
    val fam = (0 until 25).map(i => s"f_$i")
    val b1 = Seq(uniq(1L, 12), uniq(2L, 30), uniq(3L, 18),
      (100L, "s0", fam.mkString(" ")))
    // absorbed second: doc 300 is doc 100's text verbatim — same length,
    // higher id, so it joins the family and loses (adds = {6})
    val b3 = Seq(uniq(6L, 22), (300L, "s1", fam.mkString(" ")))
    // absorbed LAST, then flagged: doc 200 (26 words) beats the family
    // keeper — this batch has BOTH additions {4, 5, 200} and a demotion
    // {100}, so its retraction exercises both surgery arms
    val b2 = Seq(uniq(4L, 15), uniq(5L, 40),
      (200L, "s0", (fam :+ "f_25").mkString(" ")))
    // absorbed AFTER the retraction (append-after-retract): doc 400
    // (27 family words) re-demotes 100, so the epoch ends with a live
    // tombstone for compaction to fold
    val b4 = Seq(uniq(7L, 19),
      (400L, "s0", (fam ++ Seq("f_25", "f_26")).mkString(" ")))
    def bdf(batch: Seq[(Long, String, String)]) = {
      import spark.implicits._
      batch.toDF("doc_id", "source", "text")
    }
    def expectIds(batches: Seq[(Long, String, String)]*) =
      Dedup.dedupManifest(
          bdf(batches.flatten)
            .withColumn("n_chars", length(col("text")).cast("long")))
        .filter(col("keep") === 1)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-epoch-idx").toString + "/idx"
    val releaseDir = java.nio.file.Files
      .createTempDirectory("graft-epoch-rel").toString + "/rel"
    def rel() = spark.read.parquet(releaseDir)
    def liveIds() = {
      val r = rel()
      r.filter(col("status") === "published")
        .join(r.filter(col("status") === "revoked").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }

    ReleaseIngestStream.ingest(bdf(b1), indexDir, releaseDir)
    ReleaseIngestStream.ingest(bdf(b3), indexDir, releaseDir)
    ReleaseIngestStream.ingest(bdf(b2), indexDir, releaseDir)
    assert(liveIds() == expectIds(b1, b3, b2),
      "pre-retract live view must equal the cumulative rebuild")
    assert(!liveIds().contains(100L), "doc 200 must demote doc 100")

    // RETRACT the flagged last batch: additions un-publish, the demoted
    // keeper comes back live at its original address, and the dedup
    // state un-absorbs — the store must equal the never-absorbed epoch
    ReleaseIngestStream.retractIngest(
      spark, bdf(b2).select(col("doc_id")), indexDir, releaseDir)
    assert(liveIds() == expectIds(b1, b3),
      "retract-equals-rebuild: live view must equal the b1+b3 epoch")
    assert(liveIds().contains(100L),
      "the demoted keeper must be live again after the retraction")
    assert(rel().filter(col("status") === "revoked").isEmpty,
      "the retracted batch's tombstones must be gone")
    // the un-absorbed manifest must equal the from-scratch rebuild
    val manifest = spark.read.parquet(
      DedupStore.manifestSubdir(indexDir, 0.7))
    assert(manifest.filter(col("keep") === 1)
        .select("doc_id").collect().map(_.getLong(0)).toSet ==
      expectIds(b1, b3),
      "the dedup manifest must un-absorb to the b1+b3 state")

    // a RETRACTED store keeps absorbing: the replacement batch re-demotes
    // doc 100, leaving a live tombstone for the epoch boundary to fold
    ReleaseIngestStream.ingest(bdf(b4), indexDir, releaseDir)
    assert(liveIds() == expectIds(b1, b3, b4),
      "append-after-retract live view must equal the cumulative rebuild")
    assert(!liveIds().contains(100L) && liveIds().contains(400L),
      "doc 400 must re-demote doc 100")
    val revoked = rel().filter(col("status") === "revoked")
      .select("doc_id", "pack_id", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val published = rel().filter(col("status") === "published")
      .select("doc_id", "pack_id", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(revoked.nonEmpty && revoked.subsetOf(published),
      "every pre-compact tombstone must reference a published address")

    // EPOCH CLOSE: compact, then the q166/q126-style integrity audit
    // over the compacted store must come back clean
    val relCols = Seq("source", "doc_id", "n_toks", "pack_id", "shard_id", "status")
    val liveBefore = rel().filter(col("status") === "published")
      .join(rel().filter(col("status") === "revoked").select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(relCols.map(col): _*)
      .collect().map(_.toSeq).toSet
    ReleaseIngestStream.compactRelease(spark, releaseDir)
    val closed = rel()
    assert(closed.filter(col("status") =!= "published").isEmpty,
      "audit: the closed epoch must hold only published rows")
    assert(closed.select(relCols.map(col): _*).collect().map(_.toSeq).toSet == liveBefore,
      "audit: compaction must be value-invisible on the live view")
    assert(closed.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "audit: no duplicate doc_id in the closed epoch")
    assert(closed.filter(
        col("n_toks") <= 0 || col("pack_id") < 0 || col("shard_id") < 0).isEmpty,
      "audit: every row carries a sane token count and address")
    assert(closed.select("doc_id").collect().map(_.getLong(0)).toSet ==
      expectIds(b1, b3, b4),
      "audit: the closed epoch is exactly the cumulative keeper set")

    // AT-LEAST-ONCE replay of a fully-committed batch (the foreachBatch
    // restart contract): every batch id already sits in the swapped
    // manifest, so the absorb must observe itself as done — no duplicate
    // release rows, no double-grown band index, manifest untouched
    val storeBefore = rel().select(relCols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val manifestBefore = spark.read.parquet(DedupStore.manifestSubdir(indexDir, 0.7))
      .collect().map(_.toSeq).toSet
    val shinglesBefore = spark.read.parquet(s"$indexDir/shingles").count()
    ReleaseIngestStream.ingest(bdf(b4), indexDir, releaseDir)
    assert(rel().select(relCols.map(col): _*)
        .collect().map(_.toSeq).toSet == storeBefore,
      "replay: the release store must be byte-stable under a re-absorb")
    assert(spark.read.parquet(DedupStore.manifestSubdir(indexDir, 0.7))
        .collect().map(_.toSeq).toSet == manifestBefore,
      "replay: the manifest must be unchanged under a re-absorb")
    assert(spark.read.parquet(s"$indexDir/shingles").count() == shinglesBefore,
      "replay: the band index must not double-absorb the batch")

    // TAKEDOWN DAY (store level): re-open the epoch with b5 (doc 500
    // re-demotes doc 400 — a fresh 'revoked' shadow in the store), then a
    // takedown lands on one LIVE doc (7) and one already-DEMOTED doc
    // (400) — the two classes q177's verifier distinguishes
    import spark.implicits._
    val b5 = Seq((500L, "s0", (fam ++ Seq("f_25", "f_26", "f_27")).mkString(" ")))
    ReleaseIngestStream.ingest(bdf(b5), indexDir, releaseDir)
    assert(liveIds() == expectIds(b1, b3, b4, b5) && !liveIds().contains(400L),
      "doc 500 must re-demote doc 400 before the takedown day")
    val tdIds = Seq(400L, 7L).toDF("doc_id")
    val pubAddr7 = rel()
      .filter(col("status") === "published" && col("doc_id") === 7L)
      .select("source", "pack_id", "shard_id").head
    ReleaseIngestStream.takedownIngest(spark, tdIds, releaseDir)
    val tds = rel().filter(col("status") === "taken_down").collect()
    assert(tds.length == 1 && tds.head.getLong(1) == 7L,
      "exactly the live takedown doc gains a tombstone; the demoted doc is shielded")
    assert((tds.head.getString(0), tds.head.getLong(3), tds.head.getLong(4)) ==
      (pubAddr7.getString(0), pubAddr7.getLong(1), pubAddr7.getLong(2)),
      "the takedown tombstone must sit at the published address verbatim")
    // the folded loader view + q177's verifier: leak-free, one flip, one shield
    val folded = ReleaseIngestStream.foldedRelease(rel()).localCheckpoint()
    val v = graft.queries.Release.takedownVerify(folded, tdIds).collect()
    assert(v.map(_.getAs[Long]("n_live_leaks")).sum == 0L,
      "a correct store-level takedown must verify leak-free")
    assert(v.map(_.getAs[Long]("n_taken_down")).sum == 1L)
    assert(v.map(_.getAs[Long]("n_shielded")).sum == 1L,
      "the demoted takedown doc must verify as shielded, not flipped")
    // idempotent replay: nothing left live to shadow — store byte-stable
    val tdStoreBefore = rel().collect().map(_.toSeq).toSet
    ReleaseIngestStream.takedownIngest(spark, tdIds, releaseDir)
    assert(rel().collect().map(_.toSeq).toSet == tdStoreBefore,
      "a replayed takedown must be a no-op on the store")
    // epoch close folds BOTH shadow kinds; the taken-down doc is gone
    val foldedPub = folded.filter(col("status") === "published")
      .collect().map(_.toSeq).toSet
    ReleaseIngestStream.compactRelease(spark, releaseDir)
    val closed2 = rel()
    assert(closed2.filter(col("status") =!= "published").isEmpty,
      "the closed epoch must hold only published rows")
    assert(closed2.collect().map(_.toSeq).toSet == foldedPub,
      "epoch close must equal the folded live view verbatim")
    assert(closed2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      expectIds(b1, b3, b4, b5) - 7L,
      "the taken-down doc must be absent from the closed epoch")
  }

  test("media day: all three fingerprint indexes absorb, retract and compact with rebuild identity at every boundary") {
    import graft.multimodal.Multimodal
    val docs = Tables(spark, dir, "documents")
    // the q185/q186/q187 registration split: store = %5 != 0, batch = %5 == 0
    val d0 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val d1 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batchIds = d1.select("doc_id")
    val root = java.nio.file.Files.createTempDirectory("graft_media_lc").toString
    def bandSet(path: String) = spark.read.parquet(s"$path/dhbands")
      .select("doc_id", "dh", "band", "bhash")
      .collect().map(_.toSeq.toList).toSet
    def vcSet(path: String) = spark.read.parquet(s"$path/vcounts")
      .select("vid", "nf").collect().map(_.toSeq.toList).toSet
    def pairSet(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet

    // ---- IMAGE (q185's store) -----------------------------------------
    val ip = s"$root/img"
    Multimodal.Image.persist(Multimodal.imagePayloads(d0), ip)
    val iSnap0 = bandSet(ip)
    def iProbe() = pairSet(
      Multimodal.Image.incrementalPairs(spark, Multimodal.imagePayloads(d1), ip, 8))
    val iProbe0 = iProbe()
    assert(iProbe0.nonEmpty, "fixture must exercise image store hits")
    Multimodal.Image.appendTo(Multimodal.imagePayloads(d1), ip)
    // incremental ≡ rebuild at the absorb boundary: the appended store
    // must equal a from-scratch persist over the cumulative corpus
    Multimodal.Image.persist(Multimodal.imagePayloads(docs), s"$root/img_rb")
    assert(bandSet(ip) == bandSet(s"$root/img_rb"),
      "image append must equal the from-scratch rebuild")
    // RETRACT day: the store and the probe must return to pre-append
    Multimodal.Image.retractFrom(spark, batchIds, ip)
    assert(bandSet(ip) == iSnap0, "image retract must restore the exact content")
    assert(iProbe() == iProbe0, "image retract must restore the exact probe result")
    // COMPACTION: content- and probe-identical through the rewrite
    Multimodal.Image.compact(spark, ip, s"$root/img_c")
    assert(bandSet(s"$root/img_c") == iSnap0, "image compaction must be content-identical")
    assert(pairSet(Multimodal.Image.incrementalPairs(
      spark, Multimodal.imagePayloads(d1), s"$root/img_c", 8)) == iProbe0,
      "image compaction must be probe-identical")

    // ---- AUDIO (q186's store, same mechanics, audio kernel) -----------
    val ap = s"$root/aud"
    Multimodal.Audio.persist(Multimodal.audioPayloads(d0), ap)
    val aSnap0 = bandSet(ap)
    def aProbe() = pairSet(
      Multimodal.Audio.incrementalPairs(spark, Multimodal.audioPayloads(d1), ap, 6))
    val aProbe0 = aProbe()
    assert(aProbe0.nonEmpty, "fixture must exercise audio store hits")
    Multimodal.Audio.appendTo(Multimodal.audioPayloads(d1), ap)
    Multimodal.Audio.persist(Multimodal.audioPayloads(docs), s"$root/aud_rb")
    assert(bandSet(ap) == bandSet(s"$root/aud_rb"),
      "audio append must equal the from-scratch rebuild")
    Multimodal.Audio.retractFrom(spark, batchIds, ap)
    assert(bandSet(ap) == aSnap0, "audio retract must restore the exact content")
    assert(aProbe() == aProbe0, "audio retract must restore the exact probe result")
    Multimodal.Audio.compact(spark, ap, s"$root/aud_c")
    assert(bandSet(s"$root/aud_c") == aSnap0, "audio compaction must be content-identical")

    // ---- VIDEO (q187's store: frame bands + vcounts denominators) -----
    val vp = s"$root/vid"
    Multimodal.Video.persist(Multimodal.videoPayloads(d0), vp)
    val vSnap0 = bandSet(vp)
    val vcSnap0 = vcSet(vp)
    def vProbe() = pairSet(Multimodal.Video.incrementalPairs(
      spark, Multimodal.videoPayloads(d1), vp, maxHamming = 8, minOverlap = 0.5))
    val vProbe0 = vProbe()
    assert(vProbe0.nonEmpty, "fixture must exercise video store hits")
    Multimodal.Video.appendTo(Multimodal.videoPayloads(d1), vp)
    Multimodal.Video.persist(Multimodal.videoPayloads(docs), s"$root/vid_rb")
    assert(bandSet(vp) == bandSet(s"$root/vid_rb") && vcSet(vp) == vcSet(s"$root/vid_rb"),
      "video append must equal the from-scratch rebuild on BOTH artifacts")
    // retract is keyed by VIDEO id; both artifacts must restore
    Multimodal.Video.retractFrom(spark, batchIds, vp)
    assert(bandSet(vp) == vSnap0, "video retract must restore the frame bands")
    assert(vcSet(vp) == vcSnap0, "video retract must restore the denominators")
    assert(vProbe() == vProbe0, "video retract must restore the exact probe result")
    Multimodal.Video.compact(spark, vp, s"$root/vid_c")
    assert(bandSet(s"$root/vid_c") == vSnap0 && vcSet(s"$root/vid_c") == vcSnap0,
      "video compaction must be content-identical on BOTH artifacts")
    assert(pairSet(Multimodal.Video.incrementalPairs(
      spark, Multimodal.videoPayloads(d1), s"$root/vid_c", 8, 0.5)) == vProbe0,
      "video compaction must be probe-identical")
  }

  test("vector day: float, int8 and PQ indexes plus the moment store absorb, retract and compact with rebuild identity") {
    import graft.operators.{IvfIndex, PqIndex}
    import graft.queries.Similarity
    val e = Tables(spark, dir, "embeddings")
    // the q193/q194 registration split: store = %5 != 0, batch = %5 == 0
    val v0 = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val v1 = e.filter(pmod(col("vec_id"), lit(5)) === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_vector_lc").toString
    val model = IvfIndex.fit(v0.coalesce(1), k = 8, maxIter = 5)
    val pqm = PqIndex.fit(v0.coalesce(1), m = 8, numCodes = 16)
    def idBuckets(p: String) = spark.read.parquet(p)
      .select("vec_id", "bucket").collect().map(_.toSeq.toList).toSet
    def rowSet(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet

    // ---- FLOAT index (q193's store) -----------------------------------
    val fp = s"$root/f"
    graft.ops.Bucketing.writePartitioned(IvfIndex.assign(model, v0), fp, Seq("bucket"))
    val fSnap0 = idBuckets(fp)
    def fProbe() = rowSet(
      IvfIndex.searchIndexed(model, v1, spark.read.parquet(fp), k = 5)
        .select("query_id", "neighbor_id", "rank"))
    val fProbe0 = fProbe()
    assert(fProbe0.nonEmpty, "fixture must exercise store hits")
    IvfIndex.appendToIndex(model, v1, fp)
    assert(idBuckets(fp) ==
      IvfIndex.assign(model, e).select("vec_id", "bucket")
        .collect().map(_.toSeq.toList).toSet,
      "float append must equal the from-scratch assignment")
    IvfIndex.retractFromIndex(spark, model, v1, fp)
    assert(idBuckets(fp) == fSnap0, "float retract must restore the exact content")
    assert(fProbe() == fProbe0, "float retract must restore the exact probe result")
    IvfIndex.compactIndex(spark, fp, s"$root/f_c")
    assert(idBuckets(s"$root/f_c") == fSnap0, "float compaction must be content-identical")

    // ---- INT8 index (q62's store, lockstep-absorbed by the stream) ----
    val qp = s"$root/q8"
    graft.ops.Bucketing.writePartitioned(
      IvfIndex.assignQuantized(model, v0), qp, Seq("bucket"))
    val qSnap0 = idBuckets(qp)
    IvfIndex.assignQuantized(model, v1).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "zstd").partitionBy("bucket").parquet(qp)
    assert(idBuckets(qp) ==
      IvfIndex.assignQuantized(model, e).select("vec_id", "bucket")
        .collect().map(_.toSeq.toList).toSet,
      "int8 append must equal the from-scratch assignment")
    IvfIndex.retractFromIndex(spark, model, v1, qp)
    assert(idBuckets(qp) == qSnap0, "int8 retract must restore the exact content")

    // ---- PQ code index (q117's store) ---------------------------------
    val pp = s"$root/pq"
    graft.ops.Bucketing.writePartitioned(
      PqIndex.assign(model, pqm, v0), pp, Seq("bucket"))
    val pSnap0 = idBuckets(pp)
    PqIndex.appendToIndex(model, pqm, v1, pp)
    assert(idBuckets(pp) ==
      PqIndex.assign(model, pqm, e).select("vec_id", "bucket")
        .collect().map(_.toSeq.toList).toSet,
      "PQ append must equal the from-scratch assignment")
    IvfIndex.retractFromIndex(spark, model, v1, pp)
    assert(idBuckets(pp) == pSnap0, "PQ retract must restore the exact content")

    // ---- MOMENT store (q194's store) ----------------------------------
    val mp = s"$root/moments"
    Similarity.momentSums(v0, dim = 64).write
      .option("compression", "zstd").parquet(mp)
    def merged() = rowSet(Similarity.mergeMomentSums(Seq(spark.read.parquet(mp))))
    // absorb boundary: store + batch sums equal the whole-corpus rebuild
    assert(rowSet(Similarity.mergeMomentSums(Seq(
        spark.read.parquet(mp), Similarity.momentSums(v1, dim = 64)))) ==
      rowSet(Similarity.secondMoments(e, dim = 64)),
      "moment absorb must equal the from-scratch rebuild bit-exactly")
    // persist the absorbed store, retract the batch, expect the v0 matrix
    Similarity.momentSums(e, dim = 64).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd").parquet(mp)
    Similarity.retractFromMomentStore(spark, v1, mp, onceId = Some("lc1"))
    assert(merged() == rowSet(Similarity.secondMoments(v0, dim = 64)),
      "moment retract must restore the survivor matrix bit-exactly")
  }

  test("cross-modal day: four-arm union absorbs, video compaction is probe-identical behind EdgeSources, retract restores day 0") {
    import graft.multimodal.Multimodal
    import graft.pipeline.CrossModal
    import graft.queries.Extras
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val d0 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val d1 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batchIds = d1.select(col("doc_id"))
    val root = java.nio.file.Files.createTempDirectory("graft_xm_day").toString
    DedupStore.persistBandIndex(d0, s"$root/text")
    Multimodal.Image.persist(Multimodal.imagePayloads(d0), s"$root/img")
    Multimodal.Audio.persist(Multimodal.audioPayloads(d0), s"$root/aud")
    Multimodal.Video.persist(Multimodal.videoPayloads(d0), s"$root/vid")
    val src = CrossModal.EdgeSources(
      s"$root/text", s"$root/img", s"$root/aud",
      videoIndexPath = Some(s"$root/vid"))
    val xm = s"$root/xm"
    CrossModal.persist(d0, xm)
    def rowSet(df: DataFrame): Set[List[Any]] =
      df.collect().map(_.toSeq.toList).toSet
    def assignSet(): Set[List[Any]] =
      rowSet(CrossModal.readAssignment(spark, xm))
    val snap0 = assignSet()

    // fixture pin: the day's batch must carry live VIDEO edges against the
    // store — without this the fourth arm would be decorative here
    def vProbe(path: String) = rowSet(Multimodal.Video.incrementalPairs(
      spark, Multimodal.videoPayloads(d1), path, maxHamming = 8, minOverlap = 0.5))
    val vEdges0 = vProbe(s"$root/vid")
    assert(vEdges0.nonEmpty, "fixture must exercise video store hits")

    // ABSORB the day: the four-arm incremental fold must equal the q191
    // rebuild over the cumulative corpus
    CrossModal.absorb(spark, d1, xm, src)
    val rebuild = rowSet(Extras.crossModalComponents(docs))
    assert(assignSet() == rebuild, "four-arm absorb must equal the rebuild")

    // COMPACT the video index and repoint EdgeSources at the rewrite: an
    // empty day is still a fixed point (gauge-after-compact through the
    // cross-modal tier, not just the raw probe)
    Multimodal.Video.compact(spark, s"$root/vid", s"$root/vid_c")
    val srcC = src.copy(videoIndexPath = Some(s"$root/vid_c"))
    assert(rowSet(CrossModal.incremental(spark, d1.limit(0), xm, srcC)) == rebuild,
      "an empty day against the compacted video index must be a fixed point")

    // RETRACT day: the cross-modal arm first (its survivor regen reads all
    // four indexes — the Forget ordering), then the video store's own
    // retract; assignment and the video probe must restore day 0 exactly
    CrossModal.retract(spark, batchIds, xm, srcC)
    assert(assignSet() == snap0,
      "the assignment must return to its day-0 bootstrap after the retract")
    Multimodal.Video.retractFrom(spark, batchIds, s"$root/vid")
    assert(vProbe(s"$root/vid") == vEdges0,
      "video retract must restore the exact day-0 probe result")
  }
}
