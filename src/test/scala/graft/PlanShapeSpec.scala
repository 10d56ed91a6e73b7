package graft

/** Plan-shape regression guards: the scale properties PLANS.md documents,
  * asserted so a future refactor (or Spark upgrade) that silently degrades
  * a plan — a lost pushdown, an un-broadcast dim, a nested-loop join —
  * fails a test instead of only showing up in the benchmark.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02 filter reaches the parquet scan as a pushed filter") {
    val p = planOf("q02_filter_like")
    assert(p.contains("PushedFilters: ["), p.linesIterator.take(12).mkString("\n"))
  }

  test("q04 top-k plans as TakeOrderedAndProject (no global sort)") {
    assert(planOf("q04_topk").contains("TakeOrderedAndProject"))
  }

  test("q12 star join broadcasts the dimension tables") {
    val p = planOf("q12_join_stars")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "dimension joins must be broadcast hash joins")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q47 salted aggregation is two-phase: salt key then merge key") {
    val p = planOf("q47_salted_hotkey")
    assert(p.contains("__salt"), "partial phase must group by the salt")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) >= 2,
      "expected the (key, salt) exchange AND the merge exchange")
  }

  test("no registered similarity/range query plans a nested-loop over unbounded sides") {
    // q36 broadcasts a BOUNDED query set (10 rows) — the documented exception
    Seq("q37_embed_neardup", "q38_knn_lsh", "q42_knn_ivf", "q52_range_join",
      "q56_knn_ivf_persisted", "q59_decontam", "q62_knn_ivf_quantized").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.linesIterator.take(12).mkString("\n")}")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q63 heavy hitters never re-keys the corpus by token") {
    val p = planOf("q63_top_tokens")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    // the only exchange may carry sketch partials (single partition /
    // presentation sort) — a hashpartitioning exchange would mean token
    // rows crossed the wire individually, the exact cost the sketch exists
    // to avoid
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("ObjectHashAggregate"), "sketch must run as ObjectHashAggregate")
  }

  test("q60 single-pass funnel: one event scan, one user-key exchange") {
    val p = planOf("q60_funnel")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q61 single-pass cohort retention: one event scan, no join") {
    // the signup⋈purchase join form scanned events twice — at 100 TB the
    // second scan is the dominant cost; the conditional-aggregate form
    // must keep exactly one scan and no join at all
    val p = planOf("q61_cohort_retention")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("curation singles stay shuffle-lean: one scan, no joins") {
    Seq("q57_source_mixing", "q58_seq_packing").foreach { q =>
      val p = planOf(q)
      assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, q)
      assert(!p.contains("Join"), s"$q must not join")
    }
  }

  test("q66 incremental dedup gates its broadcasts on the batch size estimate") {
    // small batch (under the ceiling): the batch-derived tables are forced
    // broadcasts so the stored index streams once with no shuffle ...
    val docs = graft.queries.Tables(spark, sf, "documents")
    val batch = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(5)) === 0)
    val path = graft.queries.DedupStore.indexPathFor(sf)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "shingles", "_SUCCESS")))
      graft.queries.DedupStore.persistBandIndex(
        docs.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(5)) =!= 0), path)
    val small = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, batch, path, threshold = 0.7)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"),
      "under the ceiling the batch side must broadcast")
    // ... and a batch estimated OVER the ceiling must NOT force broadcasts:
    // at backfill scale those hints are a driver OOM. (AQE may still pick a
    // broadcast from RUNTIME sizes at this sf — the assertion is on the
    // static plan, where withheld hints leave equi-joins to the planner.)
    val big = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, batch, path, threshold = 0.7, broadcastCeiling = 0L)
      .queryExecution.optimizedPlan.toString
    // the optimizer folds broadcast() hints into the join nodes as
    // `strategy=broadcast`; above the ceiling none may be present
    assert(!big.contains("strategy=broadcast"),
      "no broadcast hint may survive above the ceiling")
    // identical results on both shapes — the gate is a plan decision only
    val a = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, batch, path, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.queries.DedupStore
      .incrementalMinhashPairs(spark, batch, path, threshold = 0.7, broadcastCeiling = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "both join shapes must produce the identical pair set")
  }

  test("q64 repetition metrics are per-row: no n-gram re-keying, no joins") {
    val p = planOf("q64_repetition_filter")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "metrics must not join")
    // only the presentation sort may exchange; a hashpartitioning exchange
    // would mean the corpus was re-keyed by token/bigram — the cost the
    // per-row HOF formulation exists to avoid
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), "no explode — bigram stats stay inside the row")
  }

  test("q72 PII scrub is a single-scan codegen pass: no joins, no re-keying") {
    val p = planOf("q72_pii_scrub")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "scrub must not join")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q73 LM scoring joins only hash-equi: no BNLJ beyond the 1-row V broadcast") {
    val p = planOf("q73_lm_score")
    // the vocab-size crossJoin is a broadcast of ONE aggregated row (the
    // q49 precedent); anything nested-loop beyond that is a regression
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "LM tables are vocab-bounded — the score joins must stay hash joins")
  }

  test("q75 dup-span rollup computes its corpus-sized distinct exchange once") {
    val df = SparkEntry.queries("q75_dup_spans")(spark, sf)
    df.collect() // materialize so AQE resolves the final (reused) plan
    val p = df.queryExecution.executedPlan.toString
    // the (doc, window) distinct feeds BOTH the doc-frequency aggregate and
    // the per-doc rollup; if reuse breaks, the corpus shuffles (and the
    // parquet scan + explode run) twice — the dominant cost at 100 TB
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q77 bloom decontam probes inside codegen and joins only hash-equi") {
    val p = planOf("q77_decontam_bloom")
    assert(p.contains("bloom_might_contain_long"),
      "the bloom prune must be in the corpus-side filter")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q79/q80 vocabulary diagnostics: one corpus scan, no joins, agg-first") {
    Seq("q79_zipf_slope", "q80_df_histogram").foreach { q =>
      val p = planOf(q)
      assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, q)
      assert(!p.contains("Join"), s"$q must not join")
      // the corpus-sized explode must collapse into the (…, term) aggregate
      // immediately — the window/OLS/histogram stages run vocab-sized
      assert(p.contains("HashAggregate"), q)
    }
  }

  test("q78 chunking is a single-scan explode: no joins, no re-keying") {
    val p = planOf("q78_doc_chunking")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "chunking must not join")
    // only the presentation sort may exchange — chunks derive per row
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q85 repetition rewrite is a single-scan per-row pass: no joins, no re-keying") {
    val p = planOf("q85_collapse_repeats")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the rewrite must not join")
    // only the presentation sort may exchange — the rewrite is per row
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q82/q83 split-contam pushes the split predicate below each distinct") {
    Seq("q82_split_contam", "q83_split_contam_hashed").foreach { q =>
      val p = planOf(q)
      // two branches, each filtered to its own split BEFORE exploding —
      // a single unfiltered explode+distinct would shuffle the whole
      // corpus's windows and then throw 20%/80% of them away
      assert(p.linesIterator.count(_.contains("Scan parquet")) == 2, s"$q:\n$p")
      val scanOrFilter = p.linesIterator
        .filter(l => l.contains("Filter") && l.contains("2147483647"))
      assert(scanOrFilter.size >= 2,
        s"$q: split predicate must appear in both branch filters")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), q)
    }
  }

  test("q86 span rewrite shuffles once corpus-sized, once int-only doc-keyed") {
    val p = planOf("q86_dedup_span_rewrite")
    // window df-filter + position join + per-doc collect + doc left-join —
    // but never a nested loop, and the span geometry itself adds no exchange
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("iterative queries fingerprint their truncated input pipelines distinctly (q55 vs q71)") {
    // round-7 finding: both queries' final optimizedPlan is a checkpoint
    // leaf, so without evidence they hash IDENTICALLY and a pair-pipeline
    // regression is invisible. Evidence must (a) exist, (b) differ between
    // the two queries, (c) be stable across two idle same-code runs.
    PlanEvidence.enabled = true
    try {
      def evidenceOf(name: String): Seq[String] = {
        PlanEvidence.clear()
        SparkEntry.queries(name)(spark, sf)
        PlanEvidence.drain()
          .map { case (tag, p) => tag + "\n" + Bench.normalizePlan(p) }
          .distinct.sorted
      }
      val ev55a = evidenceOf("q55_dedup_clusters")
      val ev71 = evidenceOf("q71_semantic_dedup")
      val ev55b = evidenceOf("q55_dedup_clusters")
      assert(ev55a.nonEmpty, "q55 must record its edge/node input plans")
      assert(ev71.nonEmpty, "q71 must record its edge/node input plans")
      assert(ev55a != ev71, "the two CC-backed queries must fingerprint differently")
      assert(ev55a == ev55b, "evidence must be deterministic across runs")
    } finally {
      PlanEvidence.enabled = false
      PlanEvidence.clear()
    }
  }

  test("q88 NB classifier: model tables broadcast, corpus-sized exchange only for token counts") {
    val p = planOf("q88_nb_quality")
    // the scoring join's build side is the vocabulary-sized token table and
    // the 1-row constants — both must broadcast; a hashpartitioning
    // exchange of HOLDOUT tokens against the model would mean the model
    // was treated as corpus-sized
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1,
      "token table must join broadcast")
    assert(!p.contains("SortMergeJoin"), "no model join may sort-merge:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      "only the 1-row constants cross join may nest")
  }

  test("q89 video near-dup: banding joins the checkpointed hash table, never payload bytes") {
    val p = planOf("q89_video_neardup")
    // frame extraction materializes once: both band sides and the count
    // aggregate read the checkpoint leaf (Scan ExistingRDD), not three
    // re-decodes of the parquet scan
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 0,
      "all consumers must read the checkpointed hash table:\n" +
        p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q90 BPE encode is a single-scan codegen pass: no joins, no re-keying") {
    val p = planOf("q90_bpe_encode")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the encode must not join")
    // only the presentation sort may exchange — the encode is per row
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q92 quality gate is a single-scan codegen pass: no joins, no re-keying") {
    val p = planOf("q92_quality_rules")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the gate must not join")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q93 stratified sample: one scan, exactly the per-source window exchange") {
    val p = planOf("q93_stratified_sample")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the sampler must not join")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      "only the partitionBy(source) window may hash-exchange:\n" + p)
  }

  test("q94 moment matrix: products collapse map-side, the exchange carries partials") {
    val p = planOf("q94_embed_moments")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the aggregate must not join")
    // partial HashAggregate BELOW the exchange and final ABOVE it — the
    // property that bounds the shuffle at d(d+1)/2 rows per partition
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.zipWithIndex.filter(_._1.contains("HashAggregate")).map(_._2)
    val exIdx = lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning")).map(_._2)
    assert(exIdx.size == 1, "exactly one hash exchange:\n" + p)
    assert(aggIdx.exists(_ < exIdx.head) && aggIdx.exists(_ > exIdx.head),
      "expected partial+final aggregate around the exchange:\n" + p)
  }

  test("q95 projection stage: single scan, codegen dot products, no joins") {
    val p = planOf("q95_pca_project")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the projection must not join")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q99 fertility: single scan, one per-source aggregate, no joins") {
    val p = planOf("q99_bpe_fertility")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the audit must not join")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1, p)
  }

  test("q101 compression ratio is partition-local: one scan, no re-keying, no joins") {
    val p = planOf("q101_compress_ratio")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), "the signal must not join")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q100 cluster terms: lift joins broadcast, top-3 is a WindowGroupLimit") {
    val p = planOf("q100_cluster_terms")
    assert(!p.contains("SortMergeJoin"), "vocabulary-sized joins must broadcast:\n" + p)
    assert(p.contains("WindowGroupLimit"), "rank<=3 must partial-rank map-side:\n" + p)
  }

  test("q96 k-means: centroid assigns broadcast; no sort-merge join anywhere") {
    val p = planOf("q96_kmeans")
    // assignment joins are k-row broadcasts (the bounded BNLJ exception,
    // exactly q84's shape); the only shuffle-joins allowed are the
    // vec_id equi-joins feeding the centroid update
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")),
      "centroids must be the build side:\n" + bnlj.mkString("\n"))
  }

  test("q105 shard assignment: windows partition by md5 bucket, never a global single-partition window") {
    // the scale property the 256-bucket two-pass exists for: the token
    // cumsum must NOT serialize through one reducer
    val docs = graft.queries.Tables(spark, sf, "documents")
    val packs = graft.ops.ShardExport.packedDocs(docs, 512)
      .groupBy("source", "pack_id")
      .agg(org.apache.spark.sql.functions.sum("n_toks").as("pack_toks"))
    val p = graft.ops.ShardExport.assignShards(packs, epoch = 1, shardTokens = 2048)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "cumsum window must partition by bucket:\n" + p)
    assert(p.contains("hashpartitioning(bucket"), p)
  }

  test("q106 trained LID: model joins broadcast; candidate-class fanout is the bounded BNLJ") {
    val p = planOf("q106_lang_id")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "vocabulary-sized model tables must broadcast:\n" + p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")),
      "the |langs|-row class table must be the build side:\n" + bnlj.mkString("\n"))
  }

  test("q107 paragraph dedup: candidates from band equi-joins only, never a cross join") {
    val p = planOf("q107_paragraph_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110 incremental merge: stored assignment streams against broadcast batch tables") {
    // the O(batch) contract: the corpus-sized component store may be
    // SCANNED but never shuffled — every join against it must build from
    // the (gated) broadcast batch side, and the CC loop must run on the
    // contracted merge graph, not the corpus graph
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val path = graft.queries.DedupStore.indexPathFor(sf)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "shingles", "_SUCCESS")))
      graft.queries.DedupStore.persistBandIndex(corpus, path)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "components_bp7000", "_SUCCESS")))
      graft.queries.DedupStore.persistComponents(corpus, path, threshold = 0.7)
    val df = graft.queries.DedupStore
      .incrementalComponentMerge(spark, batch, path, threshold = 0.7)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join means the component store was shuffled:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "rep resolution and the final remap must both broadcast the batch side:\n" + p)
  }

  test("q113 incremental exact dedup: fingerprint store joins hash-only, never shuffled") {
    val p = planOf("q113_exact_incremental")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join means the fingerprint store was shuffled:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "store probe and batch-side joins must broadcast the batch side:\n" + p)
  }

  test("q112 incremental manifest: one ranking window, anti-join pass-through, store never shuffled") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val path = graft.queries.DedupStore.indexPathFor(sf)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "shingles", "_SUCCESS")))
      graft.queries.DedupStore.persistBandIndex(corpus, path)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "manifest_bp7000", "_SUCCESS")))
      graft.queries.DedupStore.persistComponents(corpus, path, threshold = 0.7)
    val df = graft.queries.DedupStore
      .incrementalManifest(spark, batch, docs, path, threshold = 0.7)
    val p = df.queryExecution.executedPlan.toString
    // exactly one Window: only the touched-cluster re-rank — a second
    // window would mean untouched clusters were re-ranked too
    assert(p.linesIterator.count(_.contains("Window")) == 1,
      "exactly one ranking window (touched clusters only):\n" + p)
    // pass-through = broadcast anti join against the touched-rep set
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "untouched rows must pass through a broadcast anti join:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join means the manifest store was shuffled:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q115/q118 histogram solves: thresholds broadcast back, no corpus-keyed window") {
    Seq("q115_adaptive_quality", "q118_curriculum_stages",
      "q125_quality_ensemble").foreach { q =>
      val p = planOf(q)
      // the corpus is scanned (histogram + apply) but never sort-merge
      // joined or nested-looped; the solved thresholds join back broadcast
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: threshold join must be a broadcast:\n" + p)
      assert(!p.contains("SortMergeJoin"), s"$q: corpus must not shuffle for the join:\n" + p)
      // every Window in the plan runs over the bounded histogram, AFTER
      // its aggregate — i.e. no window consumes a raw corpus scan (the
      // single-reducer percent_rank/ntile shape this design replaces)
      val lines = p.linesIterator.toSeq
      val windowIdx = lines.indexWhere(_.trim.startsWith("Window"))
      if (windowIdx >= 0) {
        val below = lines.drop(windowIdx)
        assert(below.exists(_.contains("HashAggregate")),
          s"$q: the window must sit above the histogram aggregate, not the corpus:\n" + p)
      }
    }
  }

  test("q121 incremental thresholds: batch scan + artifact scan, never the stored corpus") {
    val p = planOf("q121_incremental_thresholds")
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"exactly the batch documents scan expected, got $docScans:\n" + p)
    assert(p.contains("graft_qhist_"),
      "the stored histogram artifact must be scanned:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q120 incremental export manifest: published rows from the artifact, new rows partition-pruned") {
    val p = planOf("q120_incremental_export")
    assert(p.contains("base_manifest"),
      "published shards must come from the stored manifest artifact:\n" + p)
    // the epoch-dir scan must carry the shard_id partition filter so the
    // daily read prunes to the appended directories
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("shard_id")),
      "new-shard scan must prune on shard_id:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q127 boilerplate: the detected set joins back as a broadcast, never a corpus-wide SMJ") {
    val p = planOf("q127_boilerplate")
    // nd (source doc counts) and the surviving boilerplate set are both
    // small by construction — each must re-join the corpus windows as a
    // broadcast hash join
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "doc-count and boilerplate-set joins must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q128 embedding drift: assignment inherits q96's broadcast shape; all crosses are bounded broadcasts") {
    val p = planOf("q128_embedding_drift")
    assert(!p.contains("SortMergeJoin"),
      "centroid/total joins must never sort-merge:\n" + p)
    // every nested-loop is a broadcast cross of a bounded side (k-row
    // centroid tables, the 1-row totals — the q96/q73 precedent); an
    // unbroadcast CartesianProduct would be a corpus×corpus accident
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
  }

  test("q130 threshold sweep: ONE corpus scan; the grid sweeps the histogram, not the corpus") {
    val p = planOf("q130_threshold_sweep")
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"the sweep must cost one corpus scan however many thresholds, got $docScans:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q132 snapshot diff: fingerprints computed below the reconcile exchange — text never shuffles") {
    val p = planOf("q132_snapshot_diff")
    // the reconcile is doc_id-keyed; every exchange partitions on doc_id
    // or the final source rollup, never on a text-bearing key
    assert(p.contains("md5"), "fingerprints must be computed map-side:\n" + p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => l.contains("doc_id") || l.contains("source")),
      s"unexpected exchange keys:\n${exchanges.mkString("\n")}")
  }

  test("q151 funnel: one events scan, no joins, partial per-user collect") {
    // the load-bearing claim vs the textbook chain-of-joins: ONE scan of
    // events (the chain re-keys it once per funnel step), ZERO joins, the
    // step filter pushed into the scan, and the per-user list built with
    // a partial (map-side) ObjectHashAggregate — the only corpus-scale
    // exchange is the user_id hash partitioning
    val p = planOf("q151_funnel")
    val eventScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(eventScans == 1, s"funnel must scan events once, got $eventScans:\n" + p)
    assert(!p.contains("Join"), "funnel must not join:\n" + p)
    assert(p.contains("PushedFilters: [In(event_type"),
      "step-type filter must push to the scan:\n" + p)
    assert(p.contains("partial_collect_list"),
      "per-user list must aggregate map-side first:\n" + p)
  }

  test("q153 funnel sweep: ONE events scan however many horizons; still no joins") {
    // the sweep's reason to exist: the grid folds over the ONCE-collected
    // per-user lists — a per-horizon chain-of-joins replay would scan and
    // re-key events |grid| × |steps| times
    val p = planOf("q153_funnel_sweep")
    val eventScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(eventScans == 1,
      s"the sweep must scan events once for the whole grid, got $eventScans:\n" + p)
    assert(!p.contains("Join"), "the sweep must not join:\n" + p)
    assert(p.contains("partial_collect_list"),
      "per-user lists must aggregate map-side first:\n" + p)
  }

  test("q148 padding sweep: ONE corpus scan; the grid sweeps the length histogram") {
    val p = planOf("q148_padding_sweep")
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"the sweep must cost one corpus scan however many granularities, got $docScans:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // ---- per-micro-batch plans of the daily-ops streams ------------------
  // DriftMonitorStream / NoveltyMonitorStream / ShardIngestStream compose
  // a frozen parquet artifact with each micro-batch inside foreachBatch;
  // the plan they re-execute every batch is exactly the batch function
  // over (parquet artifact, batch frame), pinned here: the artifact side
  // stays a parquet scan and the gauge stays off the corpus-shuffle paths.

  private def streamArtifacts: (String, String, String) = {
    import org.apache.spark.sql.functions.pmod
    import org.apache.spark.sql.functions.{col, lit}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_plans").toString
    graft.queries.Curation.scoreHistogram(base).write.parquet(s"$root/hist")
    graft.queries.Curation.hashedWindowStore(base).write.parquet(s"$root/win")
    val epochDir = graft.ops.ShardExport.write(
      base, s"$root/shards", epoch = 1, packTokens = 512, shardTokens = 2048)
    (s"$root/hist", s"$root/win", epochDir)
  }

  /** Execute, then render the FINAL adaptive plan — the stream pins below
    * assert runtime truths (exchange reuse, realized joins) the static
    * `isFinalPlan=false` rendering cannot show.
    */
  private def executedPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q150 retraction assembly: the store streams through broadcast joins, never sort-merge shuffled") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val root = java.nio.file.Files
      .createTempDirectory("graft_rc_planshape").toString + "/store"
    graft.queries.Curation
      .refcountedWindowStore(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
      .write.parquet(root)
    val p = executedPlanOf(graft.queries.Curation.retractedRefcountedRows(
      spark, docs.filter(pmod(col("doc_id"), lit(5)) === 0), root))
    assert(p.contains(root), "the store must stay a file scan:\n" + p)
    // below the ceiling BOTH branches (pass-through anti join + touched
    // semi restriction) hash against the broadcast batch window set; the
    // only aggregation exchange is over the touched subset
    assert(p.contains("BroadcastHashJoin") &&
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "untouched rows must pass through a broadcast LEFT ANTI:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus-scale store must never sort-merge shuffle:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tombstone guard: broadcast anti join under the ceiling, ordinary equi-join above it") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_tombs_planshape").toString + "/ledger"
    graft.pipeline.Forget.appendTombstones(
      docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), ledger)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val small = executedPlanOf(
      graft.pipeline.Forget.filterForgotten(spark, batch, ledger))
    assert(small.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      "a takedown-sized ledger must broadcast onto the batch:\n" + small)
    assert(!small.contains("SortMergeJoin"), small)
    // ceiling 0: the ledger may NOT be force-broadcast — an unbounded
    // store through the driver is an OOM, not an optimization. The q66
    // pin shape: withheld hints leave no `strategy=broadcast` in the
    // static optimized plan (AQE may still pick one from RUNTIME sizes).
    val bigDf = graft.pipeline.Forget.filterForgotten(
      spark, batch, ledger, broadcastCeiling = 0L)
    assert(!bigDf.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "no broadcast hint may survive above the ceiling")
    // identical results on both shapes — the gate is a plan decision only
    val a = graft.pipeline.Forget.filterForgotten(spark, batch, ledger)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = bigDf.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "both join shapes must pass the identical rows")
  }

  test("forget residual audit: every family probes through a broadcast semi join") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = graft.queries.Tables(spark, sf, "documents")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_forget_planshape").toString + "/dedup"
    graft.queries.DedupStore.persistBandIndex(docs, idx)
    graft.queries.DedupStore.persistComponents(docs, idx, 0.7)
    val ids = docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id")
    val p = executedPlanOf(graft.pipeline.Forget.residuals(
      ids, graft.pipeline.Forget.families(
        spark, graft.pipeline.Forget.Stores(dedupIndexDir = Some(idx)))))
    assert(p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 3,
      "each store family must probe via a broadcast LEFT SEMI:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "a store may never shuffle for its residual probe:\n" + p)
  }

  test("drift-monitor stream per-batch plan: artifact stays a parquet scan, reconcile subtree reused, totals broadcast") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val (hist, _, _) = streamArtifacts
    val batch = graft.queries.Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0)
    val p = executedPlanOf(graft.queries.Curation
      .driftMonitor(spark.read.parquet(hist), batch))
    assert(p.contains(hist), "the frozen histogram must stay a file scan:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the per-source totals must broadcast back:\n" + p)
    // the totals branch references the reconcile subtree a second time —
    // AQE must REUSE its exchanges so the batch histogram is computed
    // once per micro-batch, not twice
    assert(p.linesIterator.count(_.contains("ReusedExchange")) >= 2,
      "the duplicated reconcile subtree must reuse exchanges:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("novelty-monitor stream per-batch plan: stored window set stays a parquet scan, anti join, no text exchange") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val (_, win, _) = streamArtifacts
    val batch = graft.queries.Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0)
    val p = executedPlanOf(graft.queries.Curation
      .hashedContentNovelty(spark.read.parquet(win), batch))
    assert(p.contains(win), "the frozen window store must stay a file scan:\n" + p)
    assert(p.contains("LeftAnti"), "novelty must be an anti join:\n" + p)
    // the anti join keys on the 8-byte hashed window — an exchange
    // carrying `text` would mean string windows crossed the wire
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"no exchange may carry text:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shard-ingest stream per-batch plan: bounded pack-offset state broadcasts, epoch never rescanned") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val (_, _, epochDir) = streamArtifacts
    val batch = graft.queries.Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0)
    val p = executedPlanOf(graft.ops.ShardExport
      .appendAssembly(spark, batch, epochDir,
        epoch = 1, packTokens = 512, shardTokens = 2048))
    // the epoch's only contribution is the materialized one-row-per-source
    // offset table — the per-batch plan must not rescan the epoch files
    assert(!p.contains(epochDir),
      "the epoch dir must not be rescanned per micro-batch:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the pack-offset state must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q160 pivot: explicit values keep it ONE events pass, a plain two-phase aggregate") {
    val p = planOf("q160_pivot_daily")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans == 1, s"pivot must not re-scan events, got $scans:\n" + p)
    // lowered to groupBy(day) + conditional aggregates: one hash exchange,
    // no join, no expand
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Expand"), p)
  }

  test("q181 unpivot: one events pass, no join; melt keeps zero cells (rows = 5 x days, mass-preserving)") {
    val p = planOf("q181_unpivot_daily")
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events")) == 1,
      s"unpivot must not re-scan events:\n$p")
    assert(!p.contains("Join"), "the melt is a local expand, not a join:\n" + p)
    val rows = SparkEntry.queries("q181_unpivot_daily")(spark, sf).collect()
    val days = SparkEntry.queries("q160_pivot_daily")(spark, sf).count()
    assert(rows.length.toLong == 5L * days,
      "every day must melt to exactly its 5 type cells, zeros included")
    assert(rows.map(_.getLong(2)).sum ==
      queries.Tables(spark, sf, "events").count(),
      "the melted counts must preserve total event mass")
  }

  test("pressure gauges never plan the join they measure") {
    // q178 carries the prefix-filtered TRUE-pair join (that one is the
    // measurement's subject at candidate grain and is allowed); its raw
    // Σ C(df,2) arm, and the whole of q182/q183/q184, must stay pure
    // aggregation — a SortMergeJoin on the shingle hash there would BE
    // the quadratic blowup the gauges exist to predict.
    // (the broadcast 1-row/grid cross — BroadcastNestedLoopJoin over an
    // aggregate total — is the house-allowed bounded pattern; what must
    // never appear is a shuffled join keyed on the shingle hash)
    Seq("q182_blowup_by_source", "q184_samplebp_recommender").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q must not shuffle-join the posting table:\n$p")
      assert(!p.contains("CartesianProduct"), q)
    }
    val skew = planOf("q183_band_skew")
    assert(!skew.contains("Join"),
      "the band-skew gauge is two aggregations, never a join:\n" + skew)
  }

  test("q163/q165 boundary pack: one documents scan; the append broadcasts its resume counts") {
    val p = planOf("q163_boundary_pack")
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1, p)
    assert(!p.contains("Join"), "the bucketed pack needs no join:\n" + p)
    val pa = planOf("q165_boundary_pack_append")
    assert(pa.contains("graft_bpackstore_"),
      "append must read the persisted manifest artifact:\n" + pa)
    assert(pa.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      "only the batch may scan documents:\n" + pa)
    assert(pa.contains("BroadcastHashJoin") && !pa.contains("SortMergeJoin"), pa)
  }

  test("q164 release manifest: composed stages keep their stand-alone shapes — no cartesian, bounded broadcasts only") {
    val p = planOf("q164_release_manifest")
    assert(!p.contains("CartesianProduct"), p)
    // the epoch shard assignment's 256-row bucket-offset table folds in as
    // a literal CASE cascade (assignShards collects it) — no join may
    // materialize for it; the only joins are the keeper semi join and the
    // (source, pack_id) assignment join
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q166 integrity audit: one scan, two exchanges (id grain then source rollup)") {
    val p = planOf("q166_integrity_audit")
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1, p)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => l.contains("doc_id") || l.contains("source")),
      s"unexpected exchange keys:\n${exchanges.mkString("\n")}")
    assert(!p.contains("Join"), p)
  }

  private def joinCount(p: String, kind: String): Int =
    p.linesIterator.count(_.contains(kind))

  test("q171 release retract: surgery adds ONE 1-row guard nest to q169's plan, no new shuffle join") {
    val p = planOf("q171_release_retract")
    val p169 = planOf("q169_incremental_release")
    assert(!p.contains("CartesianProduct"), p)
    // the retract is manifest surgery: whatever shuffle joins appear are
    // q169's own (the corpus-scale keep-flag join); the surgery itself
    // adds exactly the 1-row violation-count broadcast nest
    assert(joinCount(p, "SortMergeJoin") == joinCount(p169, "SortMergeJoin"),
      "retract must add no shuffle join beyond q169's own:\n" + p)
    // q169's fused release now carries its own 1-row broadcast nest (the
    // shard-base aggregate riding the plan instead of a blocking head
    // action); the retract's wrong-batch guard is the same 1-row nest
    // class over the stored manifest — exactly one in the surgery plan
    assert(joinCount(p, "BroadcastNestedLoopJoin") == 1,
      "the wrong-batch guard must be the surgery's only 1-row broadcast nest:\n" + p)
    assert(joinCount(p169, "BroadcastNestedLoopJoin") == 1,
      "q169's fused plan must carry exactly the shard-base 1-row nest:\n" + p169)
  }

  test("q172 takedown locator: arms keep their siblings' shapes; takedown probes are broadcast") {
    val p = planOf("q172_takedown_locator")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the tiny takedown set must probe every arm via broadcast semi join
    // (the release arm's big keeper joins are q164's own shapes)
    val semis = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semis >= 3,
      s"all three artifact arms must probe by broadcast semi join, got $semis:\n" + p)
    assert(joinCount(p, "SortMergeJoin") <=
      joinCount(planOf("q164_release_manifest"), "SortMergeJoin"),
      "locator must add no shuffle join beyond the release arm's own:\n" + p)
  }

  test("q173 recall sweep: the grid multiplies no corpus scans; exact baseline runs once") {
    val p = planOf("q173_ivf_recall_sweep")
    // the exact baseline is a bounded collected artifact (broadcast local
    // relation), so the plan scans embeddings only for the ONE candidate
    // pass (assign side + probe side) — independent of the 5-point grid
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans <= 2, s"grid must not multiply embeddings scans, got $scans:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q174 threshold sweep: one prefix-filtered pair pass, the grid sweeps the bounded pair stat") {
    val p = planOf("q174_dedup_threshold_sweep")
    // the prefix-filtered pair pass (exactJaccardPairs) references the
    // shingled corpus a bounded constant number of times — the df
    // aggregate, the two prefix-join sides, and the two verify-array
    // joins — independent of the 5-point grid, and ReuseExchange
    // collapses the repeated subtrees physically
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 6, s"grid must not multiply documents scans, got $scans:\n" + p)
    // the prefix ranking (row_number over doc_id, the AllPairs filter)
    // must be present — losing it silently reverts to the raw
    // shared-shingle self-join, quadratic in shingle df
    // (exchange reuse across the repeated subtrees happens when AQE
    // finalizes stages, so it is not assertable on the static plan here)
    assert(p.contains("row_number"), "prefix ranking window missing:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q159 pack append: store manifest scanned not re-packed, resume offsets broadcast") {
    val p = planOf("q159_pack_append")
    // the store side contributes (a) pass-through rows and (b) the tiny
    // per-source resume aggregate — both off parquet scans of the
    // persisted manifest, never a re-derivation from documents text
    assert(p.contains("graft_packstore_"),
      "store spans must come from the persisted manifest artifact:\n" + p)
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"only the batch may scan documents, got $docScans:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "resume offsets must broadcast onto the batch window:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q196 reconcile prunes: the orphan reference reads ONLY the assignment arm's partition") {
    val p = planOf("q196_media_store_sync")
    // the dump is hive-partitioned by artifact, so the `a` branch
    // (artifact = 'assignment') must reach the scan as a partition filter
    // — one directory read, not a re-scan of every arm's rows
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("assignment")),
      "assignment-side scan must partition-prune:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("cross-modal retract: survivor regen broadcasts under the ceiling, plain equi-joins above") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.multimodal.Multimodal
    import graft.pipeline.CrossModal
    val docs = graft.queries.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_xm_planshape").toString
    val (text, img, aud, vid) =
      (s"$root/text", s"$root/img", s"$root/aud", s"$root/vid")
    graft.queries.DedupStore.persistBandIndex(docs, text)
    Multimodal.Image.persist(Multimodal.imagePayloads(docs), img)
    Multimodal.Audio.persist(Multimodal.audioPayloads(docs), aud)
    Multimodal.Video.persist(Multimodal.videoPayloads(docs), vid)
    val src = CrossModal.EdgeSources(text, img, aud, videoIndexPath = Some(vid))
    // the materialized (persisted + counted) survivor set retractAssembly
    // hands the gate — a takedown's surviving family members
    val survivors = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select("doc_id").persist()
    survivors.count()
    try {
      // under the ceiling: survivors are force-broadcast into all four
      // index probes — the stores stream once, never sort-merge shuffled
      val smallDf = CrossModal.survivorPairs(spark, survivors, src)
      smallDf.collect()
      // assert on the REALIZED plan only — the AdaptiveSparkPlan string
      // appends an "== Initial Plan ==" section whose pre-AQE join picks
      // are not what executed
      val small = smallDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(small.contains("BroadcastHashJoin"),
        "under the ceiling the survivor set must broadcast:\n" + small)
      assert(!small.contains("SortMergeJoin"),
        "the corpus-scale index stores must never sort-merge shuffle:\n" + small)
      assert(!small.contains("CartesianProduct"), small)
      // above the ceiling (0): no forced broadcast may survive — a
      // mega-family survivor set through the driver is an OOM (the q66/
      // tombstone pin shape: assert on the static optimized plan, where
      // withheld hints leave the joins to the planner; AQE may still pick
      // broadcasts from RUNTIME sizes at this sf)
      val bigDf = CrossModal.survivorPairs(
        spark, survivors, src, broadcastCeiling = 0L)
      assert(!bigDf.queryExecution.optimizedPlan.toString
          .contains("strategy=broadcast"),
        "no broadcast hint may survive above the ceiling")
      // identical edges on both shapes — the gate is a plan decision only
      def edges(df: org.apache.spark.sql.DataFrame) =
        df.select(col("a").cast("long"), col("b").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(edges(smallDf) == edges(bigDf),
        "both join shapes must regenerate the identical survivor edges")
    } finally survivors.unpersist()
  }
}
