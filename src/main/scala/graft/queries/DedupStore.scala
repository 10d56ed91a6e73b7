package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, Text}
import graft.ops.StoreSwap
import graft.queries.Dedup.{
  shingled, minhashBands, minhashPairs, minhashSig, bandRows, bandedJaccard,
  dedupManifest, rankRepresentatives,
  IncrementalBroadcastCeiling, ShingleK, NumPerm, NumBands, RowsPerBand,
  KernelVersion, ExactPairPrefixSql, manifestOracleSql}

/** The PERSISTED-STORE lifecycle of the dedup family — split from
  * [[Dedup]] (registry hygiene, the Release/Curation precedent): where
  * Dedup holds the one-shot kernels and gauges (banding, pair graphs,
  * manifests, sweeps), this object holds everything with a DAY-OVER-DAY
  * life — the band/shingle/exact/manifest store artifacts and their
  * build/probe/absorb/compact/retract operators, the incremental
  * contracted-merge machinery, the cross-snapshot gid-keyed store, and
  * the nine registrations that put those lifecycles under the DuckDB
  * oracle (q66/q110/q112/q113/q129 incremental, q146/q147/q158
  * snapshots, q149 retract). The banding CONTRACT stays in [[Dedup]]
  * (one source of ShingleK/NumPerm/NumBands/RowsPerBand and the kernels
  * that read them) and is imported here, so the two objects cannot band
  * differently.
  */
object DedupStore {

  /** One-time OFFLINE build of the incremental near-dup index: the corpus
    * band table hive-partitioned by `band` (8 directories, each an
    * equi-joinable (bhash, doc_id) run) plus the per-doc hashed shingle
    * sets needed to jaccard-verify candidates. Together they are
    * self-contained — a later batch is dedup-checked against the corpus
    * WITHOUT rescanning or re-minhashing a single old document, the same
    * build-once/probe-many contract as [[graft.queries.Similarity]]'s
    * persisted IVF index. Index size is O(corpus docs × 8 bands + corpus
    * shingle sets) — far smaller than the text it replaces rescanning.
    */
  def persistBandIndex(docs: DataFrame, path: String): Unit = {
    graft.ops.Bucketing.writePartitioned(minhashBands(docs), s"$path/bands", Seq("band"))
    StoreSwap.write(shingled(docs), s"$path/shingles")
  }

  /** Absorb a checked batch into a [[persistBandIndex]] artifact so the
    * NEXT batch dedups against it too — the day-N+1-sees-day-N half of the
    * incremental contract. Appends only (no old partition is rewritten):
    * the batch's band rows land in their existing `band=` directories and
    * its shingle sets append to the shingle store, so the append cost is
    * O(batch), never O(corpus). Call AFTER acting on
    * [[incrementalMinhashPairs]] — an appended-then-probed batch would
    * match itself through the index.
    */
  def appendToBandIndex(
      newDocs: DataFrame,
      path: String,
      tombstonePath: Option[String] = None): Unit = {
    // forget-guard PLUMBING, not caller discipline (the r13 verdict's
    // ask): with a ledger configured, tombstoned docs are refused at the
    // absorb itself — one broadcast-gated anti join, O(batch) — so a
    // deployment cannot re-absorb forgotten content by forgetting to
    // compose Forget.filterForgotten upstream
    val nd = tombstonePath.fold(newDocs)(p =>
      graft.pipeline.Forget.filterForgotten(newDocs.sparkSession, newDocs, p))
    StoreSwap.write(minhashBands(nd), s"$path/bands", append = true, partitionBy = Seq("band"))
    StoreSwap.write(shingled(nd), s"$path/shingles", append = true)
  }

  /** INDEX COMPACTION — the store-maintenance half of the incremental
    * contract: [[appendToBandIndex]] adds one small file set per day, so
    * after N days the band partitions are N-way fragmented (N× the open
    * cost per probe, N× the footer metadata, rows for one bhash scattered
    * across files). Compaction rewrites the artifact CONTENT-IDENTICALLY
    * — same band rows, same shingle sets, proven in DedupIndexSpec — into
    * few large files, each a (band, bhash, doc_id)-sorted run, sized by
    * `targetFileBytes` from the source's own plan-time size estimate (the
    * [[incrementalMinhashPairs]] estimate, no job). Sorted runs matter
    * beyond file count: parquet rowgroup min/max on `bhash` become
    * selective, so a probe of few buckets skips most rowgroups.
    *
    * Writes to `dstPath`, leaving the source untouched: the production
    * swap is write-new → repoint → retire-old (object stores have no
    * atomic directory rename), and keeping the source live means probes
    * never see a half-written index. Probe equality across the swap is
    * pinned in DedupIndexSpec and is the q129 oracle's contract.
    */
  def compactBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      dstPath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    graft.ops.Compact.bandStore(
      spark.read.parquet(s"$srcPath/bands"), s"$dstPath/bands", targetFileBytes)
    val sh = spark.read.parquet(s"$srcPath/shingles")
    StoreSwap.write(
      sh.repartition(graft.ops.Compact.filesFor(sh, targetFileBytes), col("doc_id"))
        .sortWithinPartitions("doc_id"),
      s"$dstPath/shingles")
  }

  /** Incremental near-dup: jaccard-verified pairs with AT LEAST ONE
    * endpoint in a NEW batch, against the corpus behind a
    * [[persistBandIndex]] artifact — daily-ingest dedup without touching
    * old documents. Two pair classes, both required (a batch carrying two
    * copies of a brand-new document is the common ingest accident):
    *   - (new, existing) crossings: batch bands probe the stored index;
    *   - (new, new) within-batch: a [[minhashPairs]] run over the batch
    *     alone (batch-sized, cheap relative to the probe).
    * Output is (new_id, existing_id, jaccard); for within-batch pairs both
    * ids are batch docs with new_id < existing_id.
    *
    * Plan shape at scale: when Catalyst's size estimate for the batch is
    * under `broadcastCeiling`, the batch band table broadcasts against the
    * stored band partitions (corpus side streams once, no shuffle) and the
    * surviving candidate set (≤ batch × band fan-out, distinct) broadcasts
    * against the stored shingle sets for the verify. Above the ceiling —
    * a backfill-sized batch — the hints are withheld and the joins plan as
    * ordinary equi-joins under AQE, because force-broadcasting an
    * unbounded batch is a driver OOM, not an optimization. Bands on both
    * sides derive from the shared banding constants, so the candidate
    * condition is bit-identical to a whole-corpus [[minhashPairs]] run
    * restricted to batch-touching pairs — DedupSpec asserts exactly that
    * identity, and PlanShapeSpec pins both join shapes.
    */
  def incrementalMinhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long = IncrementalBroadcastCeiling): DataFrame = {
    // gated on the INPUT frame, before the snap below, so the gate's
    // semantics are unchanged by the materialization
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(newDocs, broadcastCeiling)
    // the batch's shingle set AND minhash signature in ONE projection,
    // snapped ONCE: the probe's band arm, the verify's sh_new arm and the
    // within-batch pair run each referenced the batch text otherwise, so
    // one probe call ran the tokenize+shingle+minhash kernel over the
    // batch up to six times (once per plan reference — the same
    // multi-consumer re-execution the contracted-merge edge snap fixed
    // one level up). O(batch) rows of 8-byte hashes, the exact artifact
    // [[appendToBandIndex]] persists for this batch anyway.
    val hashed = org.apache.spark.sql.graft.shims.snap(newDocs.select(
      col("doc_id"),
      HashExpressions.shingleHashSet(Text.tokens(col("text")), k = ShingleK).as("sh"),
      minhashSig(col("text")).as("sig")), "store.batchHashes")
    val batchBands = bandRows(hashed, col("sig"), col("doc_id"))
    // crossings: the stored index streams as x against the hinted batch
    // (y, candidates, batch shingles); no id order between the sides
    val crossings = bandedJaccard(
        spark.read.parquet(s"$indexPath/bands"), batchBands,
        spark.read.parquet(s"$indexPath/shingles"), hashed, threshold,
        ids = None, hinted = hinted)
      .select(col("b").as("new_id"), col("a").as("existing_id"), col("jaccard"))
    val withinBatch = bandedJaccard(batchBands, batchBands, hashed, hashed, threshold)
      .select(col("a").as("new_id"), col("b").as("existing_id"), col("jaccard"))
    crossings.unionByName(withinBatch)
  }

  /** WHOLE-CORPUS jaccard-verified near-dup pairs off a persisted
    * [[persistBandIndex]] artifact — [[graft.queries.Dedup.minhashPairs]]
    * with the band table and the shingle sets both read from the store
    * instead of recomputed: the stored bands are `minhashBands(docs)` and
    * the stored shingles `shingled(docs)` verbatim (the persist contract),
    * so the candidate self-join + jaccard verify produce row-identical
    * (a, b, jaccard) with zero re-shingling. The full-rebuild consumers
    * (q191's text arm) probe the same artifact the incremental paths
    * maintain instead of re-deriving the corpus minhash per call.
    */
  private[graft] def storedMinhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      threshold: Double): DataFrame = {
    val bands = spark.read.parquet(s"$indexPath/bands")
    val sh = spark.read.parquet(s"$indexPath/shingles")
    bandedJaccard(bands, bands, sh, sh, threshold)
  }

  /** Persist the corpus' day-N dedup MANIFEST (doc_id, component, n_chars,
    * keep) next to its band index — the third artifact of the
    * incremental-dedup store (bands + shingles + manifest). It is exactly
    * a [[dedupManifest]] run (same banded graph, same
    * [[rankRepresentatives]] ranking), so the stored state is what a
    * from-scratch q97 computes; the threshold is baked into the
    * subdirectory name because every stored value is a function of it
    * (the [[indexPathFor]] staleness rule, one level down — and the
    * subdir name doubles as the SCHEMA version: a binary writing extra
    * columns writes a new subdir, never misreads an old one).
    */
  def persistComponents(docs: DataFrame, indexPath: String, threshold: Double): String = {
    val out = manifestSubdir(indexPath, threshold)
    StoreSwap.write(manifestColumns(dedupManifest(docs, threshold)), out)
    out
  }

  /** The stored manifest's columns, from a [[dedupManifest]]-shaped frame. */
  private[graft] def manifestColumns(m: DataFrame): DataFrame =
    m.select(col("doc_id"), col("cluster_id").as("component"), col("n_chars"), col("keep"))

  private[graft] def manifestSubdir(indexPath: String, threshold: Double): String =
    s"$indexPath/${manifestName(threshold)}"

  private def manifestName(threshold: Double): String =
    s"manifest_bp${math.round(threshold * 10000)}"

  /** The shared core of the incremental paths (q110/q112): CC over the
    * CONTRACTED merge graph — batch ids + touched stored representatives,
    * edges = batch-touching pairs with endpoints replaced by their reps.
    * Also returns the batch id frame and the size-gated broadcast hint so
    * both callers join the corpus-sized store the same O(batch) way.
    */
  private[graft] case class ContractedMerge(
      comps: DataFrame, batchIds: DataFrame, hinted: DataFrame => DataFrame)

  /** The contraction core over an ALREADY-DERIVED batch pair set —
    * factored from [[contractedComponents]] so the CROSS-MODAL store
    * ([[graft.pipeline.CrossModal]]) can fold union-of-modality edges
    * through the exact same merge (one contraction argument, one code
    * path — the incremental-equals-rebuild proof cannot drift between
    * tiers). `pairs` carries (new_id, existing_id) with new_id ∈ batch.
    */
  private[graft] def contractedComponentsOver(
      batchIds: DataFrame,
      stored: DataFrame,
      pairs: DataFrame,
      hinted: DataFrame => DataFrame): ContractedMerge = {
    // endpoint → representative: stored component for corpus docs, own id
    // for batch docs. INNER join against the union map (not an outer join
    // against the store) so the batch-derived side can be the broadcast
    // build side while the corpus-sized store streams.
    val repMap = stored.select(col("doc_id").as("existing_id"), col("component").as("rep"))
      .unionByName(batchIds.select(col("id").as("existing_id"), col("id").as("rep")))
    // snapped ONCE before CC: the node frame below embeds the edge subtree
    // (nodes = batch ids ∪ edge dst endpoints), and ConnectedComponents
    // snaps nodes and edges as two separate actions — unsnapped, the whole
    // edge derivation (band-index probe + shingle verify + the corpus-sized
    // rep-map scan) executed TWICE per call, once per snap (measured at
    // sf0.1: two back-to-back ~13-task-second probe chains in every
    // q110/q112/q169/q192 profile). The checkpoint leaf makes both CC snaps
    // O(edge rows) re-reads.
    val edges = org.apache.spark.sql.graft.shims.snap(repMap.join(hinted(pairs), "existing_id")
      .select(col("new_id").as("src"), col("rep").as("dst")), "ctm.edges")
    // the merge graph: batch ids (isolated batch docs must come out as
    // singletons) + every touched representative
    val comps = graft.operators.ConnectedComponents.run(
      batchIds.unionByName(edges.select(col("dst").as("id"))), edges)
    ContractedMerge(comps, batchIds, hinted)
  }

  private def contractedComponents(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      stored: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long): ContractedMerge = {
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(newDocs, broadcastCeiling)
    val pairs = incrementalMinhashPairs(spark, newDocs, indexPath, threshold)
      .select(col("new_id"), col("existing_id"))
    contractedComponentsOver(newDocs.select(col("doc_id").as("id")), stored, pairs, hinted)
  }

  /** The full updated assignment off a [[ContractedMerge]] — the shared
    * tail of [[incrementalComponentMerge]] and the cross-modal fold:
    * untouched stored rows pass through, touched components remap, batch
    * docs take their merge-graph component. Output (cluster_id, doc_id),
    * unordered (callers order).
    */
  private[graft] def mergedAssignment(
      stored: DataFrame, ct: ContractedMerge): DataFrame = {
    val remap = ct.comps.select(col("id").as("component"), col("component").as("newc"))
    val updatedCorpus = stored
      .join(ct.hinted(remap), Seq("component"), "left")
      .select(coalesce(col("newc"), col("component")).as("cluster_id"), col("doc_id"))
    val batchAssign = ct.comps.join(ct.hinted(ct.batchIds), "id")
      .select(col("component").as("cluster_id"), col("id").as("doc_id"))
    updatedCorpus.unionByName(batchAssign)
  }

  /** Incremental connected-component MERGE — the production daily-batch
    * path the from-scratch [[dedupManifest]] cannot be at 100 TB: day-N's
    * stored assignment + day-N+1's batch-touching pairs (via the persisted
    * band index, [[incrementalMinhashPairs]]) → the UPDATED full
    * assignment, recomputing only components that intersect the batch.
    *
    * Exactness argument: the corpus' documents don't change, so the full
    * pair graph over corpus ∪ batch is (old corpus pairs) ∪ (batch-touching
    * pairs). Contracting each old component — a connected subgraph — to its
    * representative preserves connectivity, and since a stored component id
    * IS the minimum member id, the min-label CC over the contracted "merge
    * graph" (nodes: batch ids + touched representatives; edges: batch
    * pairs with each endpoint replaced by its representative) yields
    * exactly the from-scratch component minima. DedupIndexSpec asserts
    * bit-identity to a from-scratch run on both testdata corpora plus a
    * planted two-components-bridged fixture; the q110 oracle replays the
    * whole-corpus graph in DuckDB.
    *
    * Scale shape (the O(batch) contract):
    *   - the merge graph is O(batch pairs) — CC runs on it, never on the
    *     corpus graph;
    *   - the stored assignment is SCANNED (twice: endpoint→rep resolution
    *     and the final remap) but never shuffled: both joins broadcast the
    *     batch-derived side under the q66 size gate, so the corpus-sized
    *     side streams map-side;
    *   - output is the full updated assignment — a linear write, the same
    *     cost as reading the store it replaces.
    */
  def incrementalComponentMerge(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long = IncrementalBroadcastCeiling): DataFrame = {
    val stored = spark.read.parquet(manifestSubdir(indexPath, threshold))
      .select(col("doc_id"), col("component"))
    val ct = contractedComponents(
      spark, newDocs, stored, indexPath, threshold, broadcastCeiling)
    mergedAssignment(stored, ct).orderBy("doc_id")
  }

  /** q112: the incremental dedup MANIFEST — [[incrementalComponentMerge]]
    * carried through to keep flags, still O(batch) in re-ranked work:
    * stored manifest rows of clusters the batch does NOT touch pass
    * through verbatim (their membership is unchanged — merging only
    * unions clusters, it never moves a doc between them — and
    * [[rankRepresentatives]] is a pure function of membership), while
    * touched clusters (old rep in the merge graph) and every batch doc
    * re-rank through the SAME window. The corpus-sized store is scanned
    * (the pass-through is a broadcast LEFT ANTI against the batch-sized
    * touched-rep set, the update an inner join against the remap) but
    * never shuffled; the one ranking window runs over touched members
    * only. Oracle: the whole-table from-scratch q97 replay
    * ([[manifestOracleSql]], shared with q97) — equality IS the
    * incremental-equals-rebuild contract.
    */
  def incrementalManifest(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      docs: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long = IncrementalBroadcastCeiling): DataFrame = {
    val store = spark.read.parquet(manifestSubdir(indexPath, threshold))
    val stored = store.select(col("doc_id"), col("component"))
    val ct = contractedComponents(
      spark, newDocs, stored, indexPath, threshold, broadcastCeiling)
    val remap = ct.comps.select(col("id").as("component"), col("component").as("newc"))
    val untouched = store
      .join(ct.hinted(remap.select(col("component"))), Seq("component"), "left_anti")
      .select(col("component").as("cluster_id"), col("doc_id"),
        col("n_chars"), col("keep"))
    val touchedCorpus = stored.join(ct.hinted(remap), Seq("component"))
      .select(col("newc").as("cluster_id"), col("doc_id"))
    val batchAssign = ct.comps.join(ct.hinted(ct.batchIds), "id")
      .select(col("component").as("cluster_id"), col("id").as("doc_id"))
    val reranked = rankRepresentatives(touchedCorpus.unionByName(batchAssign), docs)
    untouched.unionByName(reranked).orderBy("doc_id")
  }

  /** Persist the corpus' EXACT-dedup fingerprint index: one row per
    * distinct normalized-content fingerprint (q32's md5(lower(trim)))
    * with its canonical keeper (min doc_id). The exact-dedup counterpart
    * of [[persistBandIndex]] — and the artifact the most common daily
    * path actually probes: most ingest duplicates are byte-identical
    * reposts, caught here for the price of one hash join, before the
    * minhash machinery ever runs.
    */
  def persistExactIndex(docs: DataFrame, indexPath: String): String = {
    val out = s"$indexPath/exact_fp"
    StoreSwap.write(
      docs.groupBy(Text.fingerprint(col("text")).as("fp")).agg(min(col("doc_id")).as("keep_id")),
      out)
    out
  }

  /** Incremental EXACT dedup: each batch doc is resolved to a canonical
    * id — the stored keeper when its fingerprint already exists in the
    * corpus index, else the minimum-id batch doc carrying that (new)
    * fingerprint — with `is_dup = 1` for everything that is not its own
    * canon. Wholly oracled (the fingerprint is plain md5, DuckDB replays
    * it), unlike the banded paths.
    *
    * Scale shape: two batch-sized aggregates plus ONE scan of the
    * fingerprint store through a join that broadcasts the batch side
    * under the q66 size gate — the store (one narrow row per distinct
    * corpus fingerprint) streams, never shuffles. O(batch) per day.
    */
  def incrementalExactDedup(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      indexPath: String,
      broadcastCeiling: Long = IncrementalBroadcastCeiling): DataFrame = {
    val store = spark.read.parquet(s"$indexPath/exact_fp")
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(newDocs, broadcastCeiling)
    val batch = newDocs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    val withinBatch = batch.groupBy("fp").agg(min(col("doc_id")).as("wmin"))
    // store streams against the broadcast batch fingerprints (inner join
    // on the store side of a left-outer would shuffle it — so resolve via
    // inner join + coalesce on the batch side instead)
    val known = store.join(hinted(batch.select("fp").distinct()), "fp")
      .select(col("fp"), col("keep_id"))
    batch
      .join(hinted(withinBatch), "fp")
      .join(hinted(known), Seq("fp"), "left")
      .select(
        col("doc_id"),
        coalesce(col("keep_id"), col("wmin")).as("canon_id"),
        (coalesce(col("keep_id"), col("wmin")) =!= col("doc_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** Absorb a checked batch into the exact-fingerprint index: only
    * fingerprints the store has never seen append (their keeper = the
    * within-batch minimum). O(new fingerprints) — no old row rewritten,
    * the [[appendToBandIndex]] contract for the exact tier.
    */
  def appendToExactIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      indexPath: String): Unit = {
    val store = spark.read.parquet(s"$indexPath/exact_fp")
    // eager snap: the anti join READS the store the write appends to —
    // materialize the (batch-sized) novel set fully before any file lands
    // in the directory being scanned
    val fresh = org.apache.spark.sql.graft.shims.snap(
      newDocs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
        .join(store.select(col("fp")), Seq("fp"), "left_anti"), "store.exactNovel")
    StoreSwap.write(fresh, s"$indexPath/exact_fp", append = true)
  }

  /** The day-boundary operation of the incremental store: compute the
    * updated manifest ([[incrementalManifest]] — O(batch) re-ranked work),
    * write it back as the new day-N+1 state, and absorb the batch into the
    * band index ([[appendToBandIndex]] — O(batch) appended partitions).
    * Ordering matters and is fixed here: the manifest is MATERIALIZED
    * before the bands append (an appended-then-probed batch would match
    * itself through the index). `docs` is the post-absorb corpus
    * (old ∪ batch) — the ranking needs every member's n_chars.
    * DedupIndexSpec's three-day lifecycle test proves day-over-day
    * composition stays equal to a from-scratch rebuild at every step.
    */
  def absorbBatch(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      docs: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long = IncrementalBroadcastCeiling,
      tombstonePath: Option[String] = None): Unit = {
    // forget guard at the absorb front door (see [[appendToBandIndex]]):
    // both the batch and the ranking corpus view drop tombstoned ids, so
    // a forgotten doc can neither re-enter the index nor re-rank a
    // cluster
    val nd = tombstonePath.fold(newDocs)(p =>
      graft.pipeline.Forget.filterForgotten(spark, newDocs, p))
    val d = tombstonePath.fold(docs)(p =>
      graft.pipeline.Forget.filterForgotten(spark, docs, p))
    // materialize the new manifest to a temp tree FIRST (a distributed
    // write, never a driver collect — the manifest is corpus-sized): it is
    // derived from the store it will replace AND from a band probe that
    // must not see the batch yet
    val sub = manifestSubdir(indexPath, threshold)
    StoreSwap.stage(
      manifestColumns(incrementalManifest(spark, nd, d, indexPath, threshold, broadcastCeiling)),
      sub)
    appendToBandIndex(nd, indexPath)
    // rename-aside swap (graft.ops.StoreSwap) — a complete manifest
    // version exists on disk at every instant
    StoreSwap.swapInto(spark, sub)
  }

  /** Verified text near-dup pairs AMONG a bounded doc set, index-backed
    * (factored from [[retractManifest]], shared with the cross-modal
    * retract): the store's band rows restricted to the survivor set
    * equi-join on (band, bhash), verified by the stored shingle sets —
    * the corpus-sized artifacts stream against the hinted survivor set,
    * the same O(touched) shape as the absorb. Output (a, b), a < b.
    */
  private[graft] def survivorTextPairs(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      survivors: DataFrame,
      threshold: Double,
      hinted: DataFrame => DataFrame): DataFrame = {
    val sb = spark.read.parquet(s"$indexPath/bands")
      .join(hinted(survivors), Seq("doc_id"))
    val shs = spark.read.parquet(s"$indexPath/shingles")
      .join(hinted(survivors), Seq("doc_id"))
    bandedJaccard(sb, sb, shs, shs, threshold).select(col("a"), col("b"))
  }

  /** q149: RETRACT a previously-absorbed batch from the dedup manifest —
    * the un-absorb the daily loop needs when the gauges (q123 drift, q126
    * audit, q144 recall) flag a batch AFTER [[absorbBatch]] ran. Exactly
    * symmetric to [[incrementalManifest]] and O(touched), never O(corpus):
    * stored rows of clusters containing NO batch member pass through
    * verbatim (removing docs can only split clusters, never move a doc
    * between untouched ones); clusters with a batch member re-derive from
    * their SURVIVING members — candidate pairs come from the INDEX's own
    * band + shingle artifacts (no text rescan, no re-minhash), components
    * re-run on that bounded subgraph, and the survivors re-rank through
    * the shared [[rankRepresentatives]] window. A batch doc that had
    * BRIDGED two pre-existing clusters splits them back apart (the
    * subgraph without it has no cross edge — DedupRetractSpec plants
    * exactly that case), which is the part a naive "delete the rows"
    * retraction gets wrong. Oracle: the q97 from-scratch replay over the
    * corpus MINUS the batch — equality is the retract-equals-rebuild
    * contract, the mirror image of q110/q112's.
    */
  def retractManifest(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      docsAfter: DataFrame,
      indexPath: String,
      threshold: Double,
      broadcastCeiling: Long = IncrementalBroadcastCeiling): DataFrame = {
    val store = spark.read.parquet(manifestSubdir(indexPath, threshold))
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(batchIds, broadcastCeiling)
    val ids = batchIds.select(col("doc_id"))
    val touched = store.join(hinted(ids), Seq("doc_id"))
      .select(col("component")).distinct()
    val untouched = store.join(hinted(touched), Seq("component"), "left_anti")
      .select(col("component").as("cluster_id"), col("doc_id"),
        col("n_chars"), col("keep"))
    val survivors = store.join(hinted(touched), Seq("component"))
      .join(hinted(ids), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val pairs = survivorTextPairs(spark, indexPath, survivors, threshold, hinted)
    val comps = graft.operators.ConnectedComponents.run(
      survivors.select(col("doc_id").as("id")),
      pairs.select(col("a").as("src"), col("b").as("dst")))
    val reranked = rankRepresentatives(
      comps.select(col("component").as("cluster_id"), col("id").as("doc_id")),
      docsAfter)
    untouched.unionByName(reranked).orderBy("doc_id")
  }

  /** File-level retraction of the MOST RECENT absorbed batch from the
    * three-artifact store: bands and shingles drop the batch's rows,
    * the exact index drops fingerprints the batch introduced (keeper ∈
    * batch — first-seen-wins means a pre-existing fingerprint's keeper is
    * never a batch doc), and the manifest swaps to [[retractManifest]]'s
    * output. Write-aside → swap (the [[absorbBatch]] rename pattern), so
    * probes never see a half-retracted store. LIFO contract: retract the
    * latest batch, or any batch no later absorb depended on — retracting
    * an older batch whose fingerprints later batches re-introduced would
    * need per-row batch tags the append-only layout deliberately omits.
    * The rewrite is O(store) I/O — the honest price of an un-absorb, and
    * in production it rides the scheduled [[compactBandIndex]] rewrite
    * (retraction is compaction with a filter). Sibling stores: the
    * histogram store retracts by count subtraction (mergeable statistic);
    * the window store retracts via its refcounted variant
    * ([[graft.queries.Curation.refcountedWindowStore]], q150) — the
    * DISTINCT-layout store of q124/q131 stays irreversible by design,
    * because without per-window counts nothing records whether a window
    * predates the batch.
    */
  def retractBatch(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      docsAfter: DataFrame,
      indexPath: String,
      threshold: Double): Unit = {
    val ids = broadcast(batchIds.select(col("doc_id")))
    val sub = manifestSubdir(indexPath, threshold)
    StoreSwap.stage(
      manifestColumns(retractManifest(spark, batchIds, docsAfter, indexPath, threshold)), sub)
    // re-select each artifact's own column order after the key-fronting
    // anti join: the retracted store must be schema-identical to what the
    // original writers produce, not just row-equivalent
    def without(path: String, key: String, partitionBy: String*): Unit =
      StoreSwap.stage({
        val st = spark.read.parquet(path)
        st.join(ids.select(col("doc_id").as(key)), Seq(key), "left_anti")
          .select(st.columns.map(col).toSeq: _*)
      }, path, partitionBy)
    without(s"$indexPath/bands", "doc_id", "band")
    without(s"$indexPath/shingles", "doc_id")
    // the exact-fingerprint tier is optional in the artifact (the release
    // ingest index carries bands + shingles + manifest only)
    val exactPath = s"$indexPath/exact_fp"
    val hasExact = StoreSwap.committed(spark, exactPath)
    if (hasExact) without(exactPath, "keep_id")
    val parts = Seq(sub, s"$indexPath/bands", s"$indexPath/shingles") ++
      (if (hasExact) Seq(exactPath) else Nil)
    // rename-aside swaps (graft.ops.StoreSwap): a complete version of
    // every artifact exists on disk at each instant of the multi-store swap
    parts.foreach(StoreSwap.swapInto(spark, _))
  }

  /** Snapshot-id stride for the cross-snapshot global key: `gid = snap ·
    * 2^40 + doc_id`. 2^40 ids per snapshot and 2^23 snapshots fit in the
    * positive int64 range — both far beyond any real corpus — and the
    * [[withSnapGid]] guard turns a violation into a loud plan-time error
    * instead of a silent collision (the q107 chunk-stride precedent).
    */
  val SnapStride: Long = 1L << 40

  /** Tag each (snap, doc_id) row with its collision-guarded global id. */
  def withSnapGid(snapshots: DataFrame): DataFrame =
    snapshots.withColumn("gid",
      when(col("doc_id") < 0 || col("doc_id") >= SnapStride || col("snap") < 0,
        raise_error(concat(lit("snap gid out of range: "),
          col("snap").cast("string"), lit(":"), col("doc_id").cast("string"))))
        .otherwise(col("snap").cast("long") * lit(SnapStride) + col("doc_id")))

  /** KEEP-NEWEST ranking over a cross-snapshot component assignment: one
    * survivor per near-dup family, preferring the HIGHEST snapshot (the
    * freshest crawl of the page), then `n_chars` DESC / gid ASC for
    * determinism — [[rankRepresentatives]] with the snapshot axis
    * prepended. Same scale shape: the window shuffles (cluster, snap,
    * n_chars, gid) quads only and partitions by family, whose size is
    * bounded by members × snapshots, never by the corpus.
    */
  private[graft] def keepNewest(
      keyed: DataFrame, assignment: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("snap").desc, col("n_chars").desc, col("gid"))
    keyed
      .join(assignment.select(col("id").as("gid"), col("component").as("cluster_id")), "gid")
      .withColumn("rnk", row_number().over(w))
      .select(col("snap"), col("doc_id"), col("cluster_id"),
        when(col("rnk") === 1, 1).otherwise(0).as("keep"))
      .orderBy("snap", "doc_id")
  }

  /** q146: CROSS-SNAPSHOT near-dup dedup — the re-crawl case (CommonCrawl
    * N-snapshot union): the same page appears near-identically in many
    * historical snapshots, and training on the union without collapsing
    * them over-weights every long-lived page by its crawl count. Rows are
    * keyed (snap, doc_id) — the same id recurring across snapshots is the
    * NORMAL case, not a violation — mapped to a collision-guarded gid;
    * near-dup families are the banded minhash graph over the UNION
    * ([[minhashPairs]] + connected components, exactly q97's machinery on
    * gid keys, so cross-snapshot identity edges, within-snapshot near-dup
    * edges and their transitive closures all land in one family); the
    * keep rule is [[keepNewest]]: the freshest member survives.
    *
    * This one-shot form is the REBUILD/audit path and the oracle's
    * replay target. The production path at 100 TB is the q110 contracted
    * merge applied per snapshot: persist the gid-keyed band index +
    * component store for snapshot 0, then fold each later snapshot via
    * [[absorbBatch]] — O(snapshot) work per fold, never O(union) — and
    * apply [[keepNewest]] to the stored assignment. SnapshotDedupSpec
    * pins the fold chain component- and keep-identical to this one-shot
    * on the derived three-snapshot corpus.
    */
  def crossSnapshotDedup(
      snapshots: DataFrame, threshold: Double = 0.7): DataFrame = {
    // snap the gid-keyed union once (the incrementalRelease lever): it
    // feeds the CC node snap, the minhash edge snap's signature AND
    // shingle branches, and the keep-newest join — unsnapped, each of
    // those actions re-derived the whole 3-arm snapshot union.
    val keyed = org.apache.spark.sql.graft.shims.snap(withSnapGid(snapshots)
      .select(col("gid"), col("snap"), col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars")), "snapshot.keyed")
    val u = keyed.select(col("gid").as("doc_id"), col("text"))
    val comps = graft.operators.ConnectedComponents.run(
      u.select(col("doc_id").as("id")),
      minhashPairs(u, threshold)
        .select(col("a").as("src"), col("b").as("dst")))
    keepNewest(keyed, comps)
  }

  /** q146/q147's shared oracle: the gid-keyed exact-jaccard graph +
    * recursive components + keep-newest window over the derived
    * three-snapshot corpus — one statement certifies the one-shot AND the
    * fold path (their equality is SnapshotDedupSpec's pin).
    */
  // lazy: declared after `all`, which references it during object init
  /** The cross-snapshot replay, templated over the snapshot set: ONE
    * definition of the gid-keyed jaccard graph + recursive CC +
    * keep-newest, instantiated with (q146/q147) or without (q158) the
    * snapshot-2 arms — so the retraction oracle cannot drift from the
    * fold/audit oracle it mirrors.
    */
  private def crossSnapshotOracle(withSnap2: Boolean): String = {
    val snap2Arms =
      """
        |  UNION ALL
        |  SELECT 2, doc_id, CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END
        |  FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT 2, doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0""".stripMargin
    s"""WITH RECURSIVE
        |v AS (
        |  SELECT 0 AS snap, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1, doc_id, CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END
        |  FROM documents WHERE doc_id % 11 <> 0${if (withSnap2) snap2Arms else ""}),""".stripMargin +
      crossSnapshotOracleTail
  }

  private lazy val crossSnapshotOracleSql: String = crossSnapshotOracle(withSnap2 = true)

  private lazy val crossSnapshotOracleTail: String =
    """
        |k AS (SELECT snap * 1099511627776 + doc_id AS gid, snap, doc_id,
        |        text, LENGTH(text) AS n_chars FROM v),
        |t AS (SELECT gid, string_split(text, ' ') AS toks FROM k),
        |s AS (SELECT gid,
        |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |             ELSE list_transform(range(1, len(toks) - 1),
        |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |      FROM t),
        |g AS (SELECT DISTINCT gid, unnest(sh) AS g FROM s),
        |sz AS (SELECT gid, COUNT(*) AS n FROM g GROUP BY gid),
        |inter AS (SELECT a.gid AS u, b.gid AS v, COUNT(*) AS ninter
        |          FROM g a JOIN g b ON a.g = b.g AND a.gid < b.gid
        |          GROUP BY u, v),
        |pairs AS (SELECT u, v FROM inter
        |          JOIN sz na ON na.gid = u JOIN sz nb ON nb.gid = v
        |          WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.7),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |mins AS (SELECT u AS gid, MIN(v) AS mn FROM reach GROUP BY u),
        |asg AS (SELECT k.snap, k.doc_id, k.gid, k.n_chars,
        |          LEAST(COALESCE(m.mn, k.gid), k.gid) AS cluster_id
        |        FROM k LEFT JOIN mins m ON m.gid = k.gid),
        |rk AS (SELECT snap, doc_id, cluster_id,
        |         ROW_NUMBER() OVER (PARTITION BY cluster_id
        |           ORDER BY snap DESC, n_chars DESC, gid ASC) AS rn
        |       FROM asg)
        |SELECT snap, doc_id, cluster_id, CAST(rn = 1 AS INTEGER) AS keep
        |FROM rk ORDER BY snap, doc_id""".stripMargin

  /** The registered three-snapshot derivation (q146/SnapshotDedupSpec):
    * q132's change conventions over the corpus, shared so the spec folds
    * exactly what the oracle replays.
    */
  private[graft] def deriveSnapshots(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    def changed = when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
      .otherwise(col("text")).as("text")
    base.select(lit(0).as("snap"), col("doc_id"), col("text"))
      .unionByName(base.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .select(lit(1).as("snap"), col("doc_id"), changed))
      .unionByName(base
        .filter(pmod(col("doc_id"), lit(11)) =!= 0 &&
          pmod(col("doc_id"), lit(13)) =!= 0)
        .select(lit(2).as("snap"), col("doc_id"), changed))
      .unionByName(base.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(lit(2).as("snap"), (col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
  }

  /** Warm-reusable band index + component manifest over `docs`, one
    * store per `variant` so none collides with the %5<>0 corpus store
    * q66/q110 warm-reuse at the unsuffixed path: `full` (q149, the whole
    * corpus), `snap01` (q147, the derived snapshots 0–1, gid-keyed),
    * `snapfull` (q158, all three snapshots — the q147 fold at its
    * ABSORBED state, which a one-shot build stands in for by the
    * incremental-equals-rebuild contract). Never mutated by a consumer:
    * q147's merge and the [[retractManifest]] retractions are probes.
    */
  private[queries] def componentStoreFor(
      docs: DataFrame, dir: String, threshold: Double, variant: String): String =
    WarmStores.artifact(docs.sparkSession, dir, "documents", "band_index", BandParams, variant)(
        "shingles", manifestName(threshold)) { path =>
      persistBandIndex(docs, path)
      persistComponents(docs, path, threshold)
    }

  /** Artifact location for a corpus dir's band index, fingerprinted by
    * EVERY parameter the stored bytes depend on — the same staleness rule
    * as [[Similarity]]'s persistedIndex: a binary whose banding parameters
    * (or kernel version) differ from the writer's computes a different
    * path, so it can never warm-reuse an incompatible index across JVM
    * restarts; it rebuilds at its own path instead. DedupIndexSpec proves
    * any single-parameter change moves the path. The warm stores serve
    * this root plus [[WarmStores.dirTag]]'s content tag.
    */
  def indexPathFor(
      dir: String,
      k: Int = ShingleK,
      numPerm: Int = NumPerm,
      numBands: Int = NumBands,
      rowsPerBand: Int = RowsPerBand,
      kernelVersion: Int = KernelVersion): String =
    WarmStores.key(dir, "band_index", bandParams(k, numPerm, numBands, rowsPerBand, kernelVersion))

  private def bandParams(k: Int, numPerm: Int, numBands: Int, rowsPerBand: Int, v: Int) =
    s"k${k}p${numPerm}b${numBands}r${rowsPerBand}v$v"

  private lazy val BandParams =
    bandParams(ShingleK, NumPerm, NumBands, RowsPerBand, KernelVersion)

  /** One-time band-index materialization per corpus dir — the q66 analogue
    * of [[Similarity]]'s persistedIndex rules: index build ≠ query (an
    * offline artifact at scale). The band table is a deterministic
    * function of (corpus bytes, banding parameters) and BOTH key the
    * warm store, so a rewritten dir or changed parameters re-key instead
    * of serving stale bands, and an unchanged dir warm-serves across
    * calls and JVM restarts.
    */
  private[graft] def bandIndexFor(corpus: DataFrame, dir: String): String =
    WarmStores.artifact(corpus.sparkSession, dir, "documents", "band_index", BandParams)(
      "shingles")(persistBandIndex(corpus, _))

  /** [[bandIndexFor]]'s warm store for the exact-fingerprint artifact
    * (fingerprint = plain md5, parameterless — the banding fingerprint in
    * the path is irrelevant to it but harmless).
    */
  private[queries] def exactIndexFor(corpus: DataFrame, dir: String): String =
    WarmStores.artifact(corpus.sparkSession, dir, "documents", "band_index", BandParams)(
      "exact_fp")(persistExactIndex(corpus, _))

  /** [[bandIndexFor]] plus the day-N component assignment (the threshold
    * rides the subdirectory name so an incompatible assignment can never
    * be served — see [[persistComponents]]).
    */
  private[queries] def componentIndexFor(
      corpus: DataFrame, dir: String, threshold: Double): String =
    WarmStores.artifact(corpus.sparkSession, dir, "documents", "band_index", BandParams)(
      manifestName(threshold))(_ => persistComponents(corpus, bandIndexFor(corpus, dir), threshold))

  /** q66's oracle: exact pairs restricted to those touching the batch
    * (doc_id%5==0), mapped to (new_id, existing_id) — the batch endpoint
    * is new; within-batch pairs keep new_id < existing_id.
    */
  private val incrementalOracleSql =
    s"""WITH $ExactPairPrefixSql
      |SELECT
      |  CASE WHEN u % 5 = 0 THEN u ELSE v END AS new_id,
      |  CASE WHEN u % 5 = 0 THEN v ELSE u END AS existing_id,
      |  j AS jaccard
      |FROM pj
      |WHERE j >= 0.7 AND (u % 5 = 0 OR v % 5 = 0)
      |ORDER BY new_id, existing_id""".stripMargin

  /** q110's oracle: the FROM-SCRATCH whole-corpus component replay (the
    * q97 CTE minus the ranking). Equality with the Spark side is the whole
    * point: the incremental merge must reproduce exactly what a full rerun
    * over corpus ∪ batch computes.
    */
  private val incrementalComponentsOracleSql =
    s"""WITH RECURSIVE
      |$ExactPairPrefixSql,
      |pairs AS (SELECT u, v FROM pj WHERE j >= 0.7),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u)
      |SELECT LEAST(COALESCE(m.mn, d.doc_id), d.doc_id) AS cluster_id, d.doc_id
      |FROM documents d LEFT JOIN mins m ON m.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q149's oracle: the q97 from-scratch manifest replay restricted to the
    * corpus WITHOUT the retracted batch (doc_id % 5 <> 0) — what the store
    * must equal after the un-absorb.
    */
  private lazy val retractOracleSql: String =
    """WITH RECURSIVE
      |rd AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 5 <> 0),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM rd),
      |s AS (SELECT doc_id,
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(1, len(toks) - 1),
      |                                 i -> array_to_string(toks[i:i+2], ' ')) END AS sh
      |      FROM t),
      |g AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS ninter
      |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY u, v),
      |pairs AS (
      |  SELECT u, v FROM inter
      |  JOIN sz na ON na.doc_id = u JOIN sz nb ON nb.doc_id = v
      |  WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.7),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |mins AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
      |comp AS (
      |  SELECT LEAST(COALESCE(m.mn, d.doc_id), d.doc_id) AS cluster_id,
      |         d.doc_id
      |  FROM rd d LEFT JOIN mins m ON m.doc_id = d.doc_id)
      |SELECT cluster_id, doc_id, n_chars,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
      |         ORDER BY n_chars DESC, doc_id) = 1 AS INTEGER) AS keep
      |FROM comp JOIN rd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val all: Map[String, Q] = Map(
    // Daily-ingest dedup: the corpus (doc_id%5 != 0) is indexed ONCE
    // offline (band table + shingle sets, persistBandIndex); the "new
    // batch" (doc_id%5 == 0) probes it for (new, existing) crossings AND
    // self-checks for within-batch duplicates — no old document is
    // rescanned. Oracled by the exact pair graph restricted to
    // batch-touching pairs (the q33 equality argument; DedupIndexSpec
    // additionally pins identity to the whole-corpus q33 run restricted
    // the same way).
    "q66_dedup_incremental" -> Q(
      "Incremental near-dup: new batch vs persisted corpus band index + within-batch, jaccard >= 0.7",
      incrementalOracleSql) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val path = bandIndexFor(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
        incrementalMinhashPairs(
            s, docs.filter(pmod(col("doc_id"), lit(5)) === 0), path, threshold = 0.7)
          .orderBy("new_id", "existing_id")
    },

    // INDEX COMPACTION made load-bearing (see [[compactBandIndex]]): each
    // call compacts the warm corpus band index into a pid-scoped copy —
    // the measured quantity IS the maintenance rewrite — then probes the
    // COMPACTED artifact with the q66 batch. The oracle is q66's verbatim
    // (shared incrementalOracleSql): equal values ⟺ compaction changed
    // nothing a probe can observe, the content-identity contract.
    // DedupIndexSpec adds the file-count/fragmentation assertions the
    // oracle can't see.
    "q129_index_compaction" -> Q(
      "Band-index compaction: fragmented store rewritten to sorted runs " +
        "(content-identical), then the q66 batch probe over the compacted copy",
      incrementalOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val src = bandIndexFor(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), dir)
      val dst = src + "_compact_" + WarmStores.Pid
      compactBandIndex(s, src, dst)
      incrementalMinhashPairs(
          s, docs.filter(pmod(col("doc_id"), lit(5)) === 0), dst, threshold = 0.7)
        .orderBy("new_id", "existing_id")
    },

    // The production DAILY path for the q97 manifest (see
    // [[incrementalComponentMerge]]): day-N components are stored next to
    // the band index; the batch (doc_id%5 == 0) contributes only its
    // touching pairs, and only components intersecting the batch are
    // recomputed — on a contracted merge graph of batch size. The oracle
    // is the whole-corpus from-scratch replay: values equal ⟺ the merge
    // is exact.
    "q110_incremental_components" -> Q(
      "Incremental component merge: stored day-N assignment + batch pairs " +
        "-> updated full assignment, recomputing only batch-touching components",
      incrementalComponentsOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val path = componentIndexFor(corpus, dir, threshold = 0.7)
      incrementalComponentMerge(
        s, docs.filter(pmod(col("doc_id"), lit(5)) === 0), path, threshold = 0.7)
    },


    // Incremental EXACT dedup (see [[incrementalExactDedup]]) — the tier
    // that catches byte-identical reposts (most ingest duplicates) for
    // one hash join before any minhash runs. FIRST-SEEN-WINS semantics:
    // a fingerprint already in the corpus index keeps its stored
    // canonical even if the batch doc has a smaller id — the right rule
    // for an append-only daily store (and the oracle replays exactly it).
    "q113_exact_incremental" -> Q(
      "Incremental exact dedup: batch fingerprints resolved against the " +
        "stored corpus index (first-seen-wins), within-batch dups to min id",
      """WITH f AS (SELECT doc_id, MD5(LOWER(TRIM(text))) AS fp FROM documents),
        |corp AS (SELECT fp, MIN(doc_id) AS keep_id FROM f
        |         WHERE doc_id % 5 <> 0 GROUP BY fp),
        |batch AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
        |wb AS (SELECT fp, MIN(doc_id) AS wmin FROM batch GROUP BY fp)
        |SELECT b.doc_id,
        |  COALESCE(c.keep_id, w.wmin) AS canon_id,
        |  CAST(COALESCE(c.keep_id, w.wmin) <> b.doc_id AS INTEGER) AS is_dup
        |FROM batch b LEFT JOIN corp c USING (fp) JOIN wb w USING (fp)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val path = exactIndexFor(corpus, dir)
      incrementalExactDedup(s, docs.filter(pmod(col("doc_id"), lit(5)) === 0), path)
    },

    // q110 carried through to keep flags (see [[incrementalManifest]]):
    // untouched clusters' stored keep flags pass through verbatim, only
    // batch-touching clusters re-rank. The oracle is the SAME whole-table
    // from-scratch replay as q97 — equality is the
    // incremental-equals-rebuild contract at manifest granularity.
    "q112_incremental_manifest" -> Q(
      "Incremental dedup manifest: day-N keep flags spliced with re-ranked " +
        "batch-touching clusters; equals the from-scratch q97 rebuild",
      manifestOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val path = componentIndexFor(corpus, dir, threshold = 0.7)
      incrementalManifest(
        s, docs.filter(pmod(col("doc_id"), lit(5)) === 0), docs, path, threshold = 0.7)
    },

    // CROSS-SNAPSHOT dedup (see [[crossSnapshotDedup]]): three snapshots
    // DERIVED from the corpus with q132's change conventions (%11 removed
    // at snap 1, %7 upper-changed from snap 1 on, %13 re-added under
    // +1000000 ids at snap 2), so families mix j=1.0 cross-snapshot
    // identity chains, the corpus' own >=0.9 near-dup pairs replicated
    // per snapshot, and their transitive closures. The oracle replays the
    // gid-keyed EXACT jaccard graph + recursive-CTE components + the
    // keep-newest window — valid for the same two reasons as q97: the
    // banded graph equals the exact graph on this corpus (q144 pins
    // recall_bp = 10000, and every derived edge is either an identical-
    // signature j=1.0 copy or a corpus pair verbatim), and the verify
    // step's jaccard is one integer division on both engines.
    "q146_cross_snapshot_dedup" -> Q(
      "Cross-snapshot near-dup dedup: banded families over the 3-snapshot " +
        "union, keep-newest survivor per family",
      crossSnapshotOracleSql) { (s, dir) =>
      crossSnapshotDedup(deriveSnapshots(Tables(s, dir, "documents")))
    },

    // The PRODUCTION fold path under the SAME oracle (the q110 move at
    // snapshot granularity): snapshots 0–1 live behind a persisted
    // gid-keyed band/component store; the registered query folds snapshot
    // 2 through [[incrementalComponentMerge]] — O(snapshot 2) probe work,
    // the union never re-clustered — and ranks keep-newest over the
    // merged assignment. Output is row-identical to q146 (the
    // incremental-equals-rebuild contract, which is exactly what lets
    // the one-shot replay SQL hash-check this path), so the gate holds
    // BOTH the audit form and the form a daily re-crawl pipeline runs.
    "q147_snapshot_fold" -> Q(
      "Cross-snapshot fold: snapshot 2 merged into the persisted snap-0/1 " +
        "component store, keep-newest ranked (q146's incremental twin)",
      crossSnapshotOracleSql) { (s, dir) =>
      // snapped like [[crossSnapshotDedup]]'s keyed union: the merge's
      // probe actions and the keep-newest join otherwise each re-derive
      // the 3-arm snapshot union
      val keyed = org.apache.spark.sql.graft.shims.snap(
        withSnapGid(deriveSnapshots(Tables(s, dir, "documents")))
          .select(col("gid"), col("snap"), col("doc_id"), col("text"),
            length(col("text")).cast("long").as("n_chars")), "snapshot.keyed")
      def gidDocs(n: Int) = keyed.filter(col("snap") === n)
        .select(col("gid").as("doc_id"), col("text"), col("n_chars"))
      val path = componentStoreFor(
        gidDocs(0).unionByName(gidDocs(1)), dir, threshold = 0.7, "snap01")
      val merged = incrementalComponentMerge(s, gidDocs(2), path, threshold = 0.7)
      keepNewest(keyed,
        merged.select(col("doc_id").as("id"), col("cluster_id").as("component")))
    },

    // SNAPSHOT RETRACTION (q149 at snapshot granularity): the truncated
    // re-crawl case — snapshot 2 sits ABSORBED in the gid-keyed store
    // (the q147 production fold made durable), the ingest gauges flag it
    // (wrong volume, drifted quality), and the whole snapshot is
    // un-absorbed; keep-newest then ranks the restored 0/1 families.
    // Like q149, the registered form is the [[retractManifest]] PROBE
    // against a warm-reusable store at the absorbed state — touched
    // families re-derived from survivors via the index, O(touched) — so
    // what each call measures is the retraction itself, not a from-
    // scratch rebuild of a 3-snapshot store (the first registration did
    // exactly that and cost 20 s/call at sf0.1 for identical output; the
    // store-REWRITING path, retractBatch at gid keys, is the same code
    // spec-proved in LifecycleSpec day 3 and the corpus-grain retract
    // family). Oracle: the SAME cross-snapshot template instantiated
    // WITHOUT the snapshot-2 arms — equal values ⟺ the probe restored
    // exactly the snapshots-0/1 families (q149's retract-equals-rebuild
    // at gid keys, certified end-to-end through the keep-newest ranking).
    "q158_snapshot_retract" -> Q(
      "Snapshot retraction: a flagged snapshot-2 crawl un-absorbed from " +
        "the gid-keyed store; keep-newest over the restored snap-0/1 " +
        "families",
      crossSnapshotOracle(withSnap2 = false)) { (s, dir) =>
      val thr = 0.7
      // snapped like the q147 registration's keyed union (same rationale)
      val keyed = org.apache.spark.sql.graft.shims.snap(
        withSnapGid(deriveSnapshots(Tables(s, dir, "documents")))
          .select(col("gid"), col("snap"), col("doc_id"), col("text"),
            length(col("text")).cast("long").as("n_chars")), "snapshot.keyed")
      def gidDocs(n: Int) = keyed.filter(col("snap") === n)
        .select(col("gid").as("doc_id"), col("text"), col("n_chars"))
      val d01 = gidDocs(0).unionByName(gidDocs(1))
      val path = componentStoreFor(d01.unionByName(gidDocs(2)), dir, thr, "snapfull")
      val restored = retractManifest(s, gidDocs(2).select(col("doc_id")), d01, path, thr)
      keepNewest(keyed.filter(col("snap") < 2),
        restored.select(col("doc_id").as("id"), col("cluster_id").as("component")))
    },

    // BATCH RETRACTION (see [[retractManifest]]): the store holds the FULL
    // corpus absorbed; the query retracts the %5==0 batch and must
    // reproduce a from-scratch q97 manifest over the remaining corpus —
    // the retract-equals-rebuild contract, mirror of q110/q112. Pure
    // probe (no store mutation), so verify/bench reps are independent.
    "q149_dedup_retract" -> Q(
      "Dedup-manifest batch retraction: touched clusters re-derived from " +
        "surviving members via the index, equals the rebuild without the batch",
      retractOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val path = componentStoreFor(docs, dir, threshold = 0.7, "full")
      retractManifest(s,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0).select("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        path, threshold = 0.7)
    })
}
