package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.queries.{Dedup, DedupStore, Release}
import graft.ops.{ShardExport, StoreSwap}

/** Streaming ingestion into a PUBLISHED RELEASE — the continuous form of
  * the incremental release (q169), and the top of the ingest stack: each
  * micro-batch is deduplicated against the persisted band/component store
  * (the q112 incremental manifest, O(batch) probe work), NEW keepers are
  * appended as tail packs/shards under q120's offset rule, and keepers
  * DEMOTED by the batch are revoked by an appended TOMBSTONE row at their
  * immutable published address (the delta-log move: released files are
  * never rewritten, the loader masks by `doc_id NOT IN revoked`). The
  * live view at any instant is `published rows LEFT ANTI tombstones`.
  *
  * Discipline shared with [[PackIngestStream]]/[[BoundaryPackIngestStream]]:
  * everything the append plan needs from the directories it will mutate is
  * materialized first — but where the pack stream's resume state is
  * genuinely bounded (≤ n_sources offset rows, collected), the release
  * deltas are BATCH-sized (additions ⊆ batch — ranking over a union is the
  * max of the maxima, q169's argument, so a previously demoted doc can
  * never re-win; demotions are bounded by the batch-touched clusters), so
  * they stage as WRITE-ASIDE parquet in a sibling `.delta` directory
  * instead of crossing the driver: the release append plan reads only the
  * staging dir plus the in-memory batch, severing the parquet self-read
  * the same way, with the joins left distributed. The only collected
  * artifacts are the pack offsets (≤ n_sources rows) and the 1-row shard
  * base. The corpus-sized band/manifest stores are only ever SCANNED by
  * distributed plans (the q110/q112 broadcast-gated shapes) and mutated
  * write-aside-then-swap, after the release append.
  *
  * Restart semantics are foreachBatch at-least-once, made effectively
  * idempotent by explicit replay detection at each commit point (batch
  * ids already in the swapped manifest -> whole-absorb no-op; additions
  * already at their published addresses -> the release append is observed
  * as done; batch shingles already in the band index -> the index append
  * is observed as done). The one replay that still duplicates state is a
  * crash exactly between the band-table append and the shingle append
  * inside [[graft.queries.DedupStore.appendToBandIndex]] — the replay re-runs
  * both, double-appending the batch's band rows; probes `.distinct()`
  * their candidates, so the cost is storage (shed at the next
  * compaction), never correctness.
  *
  * The FIRST batch bootstraps: band index + component manifest built over
  * the batch, every keeper published from pack/shard zero. Bootstrap is
  * complete only when BOTH the manifest and the release carry `_SUCCESS`
  * — the manifest is written first, so gating on it alone would let a
  * crash between the two replay down the incremental path against a
  * release that does not exist, against a band index the batch would
  * self-match through. Every bootstrap write is Overwrite, so a partial
  * bootstrap replays the whole branch safely.
  */
object ReleaseIngestStream {

  def start(
      docs: DataFrame,
      indexDir: String,
      releaseDir: String,
      threshold: Double = 0.7,
      packTokens: Int = 512,
      shardTokens: Int = 2048,
      queryName: String = "release_ingest",
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0),
      tombstonePath: Option[String] = None): StreamingQuery = {
    // the guard stays in `ingest`, the batch entry point this body shares
    MicroBatch.start(docs, queryName, trigger, checkpointDir) { (b, _) =>
      ingest(b, indexDir, releaseDir, threshold, packTokens, shardTokens, tombstonePath)
    }
  }

  /** One micro-batch absorbed — also the BATCH path a daily scheduler
    * would call directly against the same stores.
    */
  def ingest(
      batch: DataFrame,
      indexDir: String,
      releaseDir: String,
      threshold: Double = 0.7,
      packTokens: Int = 512,
      shardTokens: Int = 2048,
      tombstonePath: Option[String] = None): Unit = {
    val s = batch.sparkSession
    // forget guard at the ingest front door (plumbing, not caller
    // discipline): tombstoned docs drop before ANY store — band index,
    // manifest, release — can absorb them; a fully-tombstoned batch is a
    // committed no-op
    val guarded = tombstonePath.fold(batch)(p =>
      graft.pipeline.Forget.filterForgotten(s, batch, p))
    if (tombstonePath.isDefined && guarded.isEmpty) return
    val b = guarded.withColumn("n_chars", length(col("text")).cast("long"))
    val sub = DedupStore.manifestSubdir(indexDir, threshold)
    def committed(dir: String) = StoreSwap.committed(s, dir)
    // bootstrap completes only when BOTH artifacts exist (see object doc)
    val bootstrapped = committed(sub) && committed(releaseDir)
    if (!bootstrapped) {
      DedupStore.persistBandIndex(b, indexDir)
      DedupStore.persistComponents(b, indexDir, threshold)
      val keep = s.read.parquet(sub)
        .filter(col("keep") === 1).select(col("doc_id"))
      StoreSwap.write(
        releaseRows(b.join(keep, Seq("doc_id"), "left_semi"),
          packBases = Nil, shardBase = 0L, packTokens, shardTokens),
        releaseDir)
    } else {
      val batchIds = b.select(col("doc_id"))
      // FULL-replay guard (crash after the manifest swap, before the
      // checkpoint commit): the swapped manifest already contains every
      // batch id, so the absorb is a committed no-op — and recomputing the
      // incremental manifest against a store that already holds the batch
      // would feed duplicate doc rows into the ranking. Ingest doc_ids are
      // unique across batches, so a PARTIAL overlap is a contract breach.
      val nBatch = batchIds.count()
      val nKnown = s.read.parquet(sub).select(col("doc_id"))
        .join(broadcast(batchIds), Seq("doc_id"), "left_semi").count()
      require(nKnown == 0L || nKnown == nBatch,
        s"release ingest: $nKnown of $nBatch batch ids already in the " +
          "manifest — doc_ids must be unique across batches")
      if (nKnown == nBatch) return
      // the day-N+1 manifest, write-aside (its plan reads the live store
      // and the band index — nothing is mutated until it is on disk)
      val docsLite = s.read.parquet(sub).select(col("doc_id"), col("n_chars"))
        .unionByName(b.select(col("doc_id"), col("n_chars")))
      val next = StoreSwap.stage(
        DedupStore.manifestColumns(DedupStore.incrementalManifest(s, b, docsLite, indexDir, threshold)),
        sub)
      // batch-sized deltas staged WRITE-ASIDE (never collected): the adds
      // and the demoted keepers' published addresses land in a sibling
      // staging dir, so the release append below reads only staging + the
      // batch — no plan reads the directory it writes
      val stage = releaseDir + ".delta"
      val k0 = s.read.parquet(sub).filter(col("keep") === 1).select(col("doc_id"))
      val k1 = s.read.parquet(next).filter(col("keep") === 1).select(col("doc_id"))
      StoreSwap.write(k1.join(k0, Seq("doc_id"), "left_anti"), s"$stage/adds")
      val live = s.read.parquet(releaseDir)
      val pub = live.filter(col("status") === "published")
      StoreSwap.write(
        pub.join(k0.join(k1, Seq("doc_id"), "left_anti"), Seq("doc_id"), "left_semi")
          .select(col("source"), col("doc_id"), col("n_toks"),
            col("pack_id"), col("shard_id")),
        s"$stage/demoted")
      val adds = s.read.parquet(s"$stage/adds")
      val demoted = s.read.parquet(s"$stage/demoted")
      // bounded continuation offsets: ≤ n_sources pack rows + a 1-row
      // shard base, null-safe for an EMPTY published set (a fully-revoked
      // store after compaction, or a tombstone-only tail)
      val packBases = pub.groupBy("source")
        .agg((max("pack_id") + 1).as("pack_base"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val maxShard = pub.agg(max("shard_id")).head
      val shardBase = if (maxShard.isNullAt(0)) 0L else maxShard.getLong(0) + 1
      // Replay classification for the release append: additions ALL at
      // their published addresses means the pre-crash append committed
      // (adds + tombstones commit in one job) — observe it as done rather
      // than failing forever on the collision require. A PARTIAL overlap
      // is genuine corruption: a demoted keeper can never re-win (q169's
      // max-of-maxima argument), so fresh adds are disjoint from pub.
      val nAdds = adds.count()
      val nDem = demoted.count()
      val nAddsPub = pub.join(adds, Seq("doc_id"), "left_semi").count()
      require(nAddsPub == 0L || nAddsPub == nAdds,
        s"release ingest: $nAddsPub of $nAdds batch additions collide " +
          "with published docs (a demoted keeper can never re-win)")
      val nDemRev = live.filter(col("status") === "revoked")
        .join(demoted.select(col("doc_id")), Seq("doc_id"), "left_semi").count()
      val releaseAppended =
        (nAdds > 0L && nAddsPub == nAdds) ||
          (nAdds == 0L && nDem > 0L && nDemRev == nDem)
      if (!releaseAppended && (nAdds > 0L || nDem > 0L)) {
        val addRows = releaseRows(
          b.join(adds, Seq("doc_id"), "left_semi"),
          packBases, shardBase, packTokens, shardTokens)
        val tombRows = demoted
          .select(col("source"), col("doc_id"), col("n_toks"),
            col("pack_id"), col("shard_id"), lit("revoked").as("status"))
        StoreSwap.write(addRows.unionByName(tombRows), releaseDir, append = true)
      }
      // band index grows unless a replay already grew it (probe the
      // shingle store — written second inside appendToBandIndex, so its
      // presence implies the band append committed too; a crash between
      // the two double-appends band rows only, which probes .distinct()
      // away and the next compaction sheds). The probe is UNCONDITIONAL —
      // not gated on releaseAppended — because a batch with zero adds and
      // zero demotions leaves no release-store footprint at all, so after
      // a crash between appendToBandIndex and the manifest swap the replay
      // would see releaseAppended=false and, were the probe gated, re-run
      // appendToBandIndex and double-append BOTH band and shingle rows.
      val bandHasBatch =
        s.read.parquet(s"$indexDir/shingles").select(col("doc_id"))
          .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
          .limit(1).count() > 0L
      if (!bandHasBatch) DedupStore.appendToBandIndex(b, indexDir)
      // commit point: the manifest swap (rename-aside — a complete
      // manifest version exists on disk at every instant)
      StoreSwap.swapInto(s, sub)
      val conf = s.sparkContext.hadoopConfiguration
      val stagePath = new org.apache.hadoop.fs.Path(stage)
      stagePath.getFileSystem(conf).delete(stagePath, true)
    }
    ()
  }

  /** STORE-LEVEL inverse of [[ingest]] for the MOST RECENT absorbed batch
    * (LIFO, the q149/q161 contract): the truncated-epoch case — a batch
    * absorbs, its ingest gauges flag it, and the epoch must close WITHOUT
    * it. The deltas the absorb published are RE-DERIVED from the stores
    * themselves (manifest-with-batch vs the
    * [[graft.queries.DedupStore.retractManifest]] probe — the
    * incremental-equals-rebuild contract read backwards), then undone in
    * two mutations: release surgery drops the batch's published tail rows
    * and the tombstones it wrote (its demoted keepers come back live at
    * their original, never-rewritten address), write-aside → swap; then
    * [[graft.queries.DedupStore.retractBatch]] un-absorbs the dedup state
    * (manifest + band/shingle stores). Guards are loud and replay-aware
    * (the [[ingest]] symmetry): additions all published + demotions all
    * revoked → fresh retract; all already absent → the release surgery
    * committed before a crash, skip to the dedup un-absorb; anything
    * partial → this store was not produced by absorbing THIS batch last.
    * The rewrite is O(store) I/O — the honest un-absorb price (the
    * retractBatch clause). At 100 TB the batch's release rows live
    * exactly in the files its one append job wrote, so a production
    * layout records the per-batch file manifest and retracts by dropping
    * those files — O(batch) — instead of the row-level rewrite.
    */
  def retractIngest(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      indexDir: String,
      releaseDir: String,
      threshold: Double = 0.7): Unit = {
    val sub = DedupStore.manifestSubdir(indexDir, threshold)
    val ids = batchIds.select(col("doc_id"))
    val m1 = spark.read.parquet(sub)
    val docsAfter = m1.join(broadcast(ids), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
    val m0 = DedupStore.retractManifest(spark, ids, docsAfter, indexDir, threshold)
    val k1 = m1.filter(col("keep") === 1).select(col("doc_id"))
    val k0 = m0.filter(col("keep") === 1).select(col("doc_id"))
    val adds = k1.join(k0, Seq("doc_id"), "left_anti")
    val demoted = k0.join(k1, Seq("doc_id"), "left_anti")
    val rel = spark.read.parquet(releaseDir)
    val nAdds = adds.count()
    val nDem = demoted.count()
    val nAddsPub = rel.filter(col("status") === "published")
      .join(adds, Seq("doc_id"), "left_semi").count()
    val nDemRev = rel.filter(col("status") === "revoked")
      .join(demoted, Seq("doc_id"), "left_semi").count()
    val fresh = nAddsPub == nAdds && nDemRev == nDem
    val alreadyDone = nAddsPub == 0L && nDemRev == 0L
    require(fresh || alreadyDone,
      s"release retract: $nAddsPub/$nAdds additions published, " +
        s"$nDemRev/$nDem demotions revoked — this store was not produced " +
        "by absorbing this batch last")
    if (fresh && (nAdds > 0L || nDem > 0L)) {
      val restored = rel
        .join(broadcast(adds.select(col("doc_id"), lit(1).as("__a"))),
          Seq("doc_id"), "left")
        .join(broadcast(demoted.select(col("doc_id"), lit(1).as("__d"))),
          Seq("doc_id"), "left")
        .filter(coalesce(col("__a"), lit(0)) === 0 ||
          col("status") =!= "published")
        .filter(coalesce(col("__d"), lit(0)) === 0 ||
          col("status") =!= "revoked")
        .select(rel.columns.map(col).toSeq: _*)
      StoreSwap.rewrite(spark, releaseDir)(restored)
    }
    DedupStore.retractBatch(spark, ids, docsAfter, indexDir, threshold)
  }

  /** EPOCH-BOUNDARY compaction for the release store: fold the tombstones
    * into a rewritten base — the live view (published LEFT ANTI any
    * shadow: 'revoked' demotions AND 'taken_down' takedowns) becomes the
    * new store verbatim, the masked rows and the accumulated
    * per-micro-batch small files disappear. This is the one moment the
    * immutable-publication contract licenses a rewrite: between epochs no
    * loader holds addresses, so the store may shed what every reader
    * already masks (the q129/[[graft.operators.IvfIndex.compactIndex]]
    * contract: value-invisible on the folded view, file count shrinks).
    * Write-aside then swap; output clustered by shard for the loader's
    * sequential reads.
    */
  def compactRelease(
      spark: org.apache.spark.sql.SparkSession,
      releaseDir: String,
      targetFileBytes: Long = 128L << 20): Unit = StoreSwap.rewrite(spark, releaseDir) {
    val rel = spark.read.parquet(releaseDir)
    val live = rel.filter(col("status") === "published")
      .join(rel.filter(col("status").isin("revoked", "taken_down"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("source"), col("doc_id"), col("n_toks"),
        col("pack_id"), col("shard_id"), col("status"))
    live.repartition(graft.ops.Compact.filesFor(live, targetFileBytes), col("shard_id"))
      .sortWithinPartitions("shard_id", "pack_id", "doc_id")
  }

  /** Pack + shard the given docs under the q120 offset rule and emit
    * release rows with status 'published'. `packBases` / `shardBase` are
    * the collected continuation offsets (empty / 0 on bootstrap).
    */
  private def releaseRows(
      docs: DataFrame,
      packBases: Seq[(String, Long)],
      shardBase: Long,
      packTokens: Int,
      shardTokens: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bases = packBases.toDF("source", "pack_base")
    val pd = ShardExport.packedDocs(docs, packTokens)
      .join(broadcast(bases), Seq("source"), "left")
      .select(col("source"),
        (col("pack_id") + coalesce(col("pack_base"), lit(0L))).as("pack_id"),
        col("doc_id"), col("n_toks"))
    val packs = pd.groupBy("source", "pack_id")
      .agg(sum("n_toks").as("pack_toks"))
    val asg = ShardExport.assignShards(packs, epoch = 1, shardTokens)
      .select(col("source"), col("pack_id"),
        (col("shard_id") + shardBase).as("shard_id"))
    pd.join(asg, Seq("source", "pack_id"))
      .select(col("source"), col("doc_id"),
        col("n_toks").cast("long").as("n_toks"),
        col("pack_id"), col("shard_id"), lit("published").as("status"))
  }

  /** TAKEDOWN at the store level — the q176 manifest flip re-expressed in
    * this store's delta-log mechanics: every takedown doc still LIVE
    * (a 'published' row with no 'revoked'/'taken_down' shadow) gains a
    * 'taken_down' tombstone row at its published address, in one append
    * job. Published files never rewrite; the loader's mask and
    * [[compactRelease]]'s epoch-close fold treat the takedown shadow
    * exactly like a demotion's. A doc already demoted stays demoted —
    * nothing live to remove ([[graft.queries.Release.takedownVerify]]'s
    * `n_shielded` class) — which makes the op idempotent AND naturally
    * replay-safe: a crashed-then-replayed batch finds its docs shadowed,
    * stages zero rows, appends nothing. The tombstones stage write-aside
    * in a sibling dir first (the [[ingest]] discipline: the append plan
    * reads only staging, never the directory it writes). The takedown set
    * is tiny by nature — one broadcast semi-join against the live view.
    */
  def takedownIngest(
      spark: org.apache.spark.sql.SparkSession,
      takedownIds: DataFrame,
      releaseDir: String): Unit = {
    val rel = spark.read.parquet(releaseDir)
    val stage = releaseDir + ".tddelta"
    StoreSwap.write(
      rel.filter(col("status") === "published")
        .join(rel.filter(col("status").isin("revoked", "taken_down"))
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .join(broadcast(takedownIds.select(col("doc_id"))),
          Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"), col("n_toks"),
          col("pack_id"), col("shard_id"), lit("taken_down").as("status")),
      stage)
    val tomb = spark.read.parquet(stage)
    if (tomb.limit(1).count() > 0L) StoreSwap.write(tomb, releaseDir, append = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    stagePath.getFileSystem(conf).delete(stagePath, true)
  }

  /** The loader's ONE-ROW-PER-DOC view of the delta-log store: the
    * strongest shadow wins (taken_down > revoked > published). Tombstones
    * copy their target's address verbatim, so folding is a single groupBy
    * over the address columns — the pure view [[takedownVerify]]-style
    * audits read (the unfolded store legitimately holds BOTH the published
    * row and its shadow until [[compactRelease]] sheds them).
    */
  def foldedRelease(rel: DataFrame): DataFrame = {
    val pri = when(col("status") === "taken_down", 3)
      .when(col("status") === "revoked", 2).otherwise(1)
    rel.groupBy("source", "doc_id", "n_toks", "pack_id", "shard_id")
      .agg(max(pri).as("__pri"))
      .select(col("source"), col("doc_id"), col("n_toks"),
        col("pack_id"), col("shard_id"),
        when(col("__pri") === 3, "taken_down")
          .when(col("__pri") === 2, "revoked")
          .otherwise("published").as("status"))
  }
}
