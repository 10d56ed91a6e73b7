package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.ops.StoreSwap

/** Similarity search over the `embeddings` table (`array<float>` column).
  *
  * Baseline: brute-force cosine top-k with a BROADCAST of the (small) query
  * set — the big side streams once, no shuffle until the per-query top-k,
  * which is a partial top-k under AQE (window over query_id).
  *
  * Scale path: sign-bit LSH bucketing ([[Vectors.signBucket]]) turns the
  * cross product into an equi-join on bucket — each probe touches its own
  * bucket plus the Hamming-`probeHamming` neighborhood instead of the full
  * corpus (recall < 1, as usual for IVF/LSH ANN).
  *
  * Exact pairwise similarity (q37) is a blocked theta-join — see
  * [[blockedNearDupPairs]] for why LSH cannot serve a 0.4 threshold.
  */
object Similarity {

  /** q168: per-label vector-payload integrity — see the registration
    * comment. `forall`/`exists` are codegen'd HOFs; everything row-local
    * until the label rollup.
    */
  def embeddingIntegrity(e: DataFrame, dim: Int): DataFrame =
    e.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(size(col("embedding")) =!= dim, 1).otherwise(0))
          .cast("long").as("n_bad_dim"),
        sum(when(exists(col("embedding"), x => isnan(x)), 1).otherwise(0))
          .cast("long").as("n_nan"),
        sum(when(forall(col("embedding"), x => x === 0.0f), 1).otherwise(0))
          .cast("long").as("n_zero"))
      .orderBy("label")

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Pid-scoped dump roots for the ANN-family dump-readback oracles (the
    * q46/q183/q185 convention): candidate/shortlist sets dump here and
    * BOTH engines score + rank the same readback — the driver replays the
    * oracle in-process with the Verify pid's files still on disk.
    */
  private val q38Dir = WarmStores.dumpDir("q38")
  private val q42Dir = WarmStores.dumpDir("q42")
  private val q56Dir = WarmStores.dumpDir("q56")
  private val q62Dir = WarmStores.dumpDir("q62")
  private val q71Dir = WarmStores.dumpDir("q71")
  private val q95Dir = WarmStores.dumpDir("q95")
  private val q117Dir = WarmStores.dumpDir("q117")
  private val q173Dir = WarmStores.dumpDir("q173")
  private val q193Dir = WarmStores.dumpDir("q193")
  private val q195Dir = WarmStores.dumpDir("q195")

  /** The shared ANN dump-readback oracle: exact-cosine top-`k` over the
    * DUMPED candidate set — q36's oracle template with the corpus join
    * replaced by the dumped (query_id, neighbor_id) pairs. Rank order
    * matches the engine bit-exactly because both cosine folds are
    * left-to-right over the same doubles (the q36/q84 precedent) and ties
    * break on neighbor_id in both.
    */
  private def annCandidateOracleSql(dumpDir: String, k: Int): String =
    s"""WITH cand AS (SELECT query_id, neighbor_id
      |  FROM read_parquet('$dumpDir/candidates.parquet/*.parquet')),
      |s AS (SELECT c.query_id, c.neighbor_id,
      |        ROW_NUMBER() OVER (PARTITION BY c.query_id
      |          ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
      |                   c.neighbor_id) AS rank
      |      FROM cand c
      |      JOIN embeddings q ON q.vec_id = c.query_id
      |      JOIN embeddings n ON n.vec_id = c.neighbor_id)
      |SELECT query_id, neighbor_id, rank FROM s
      |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The engine half of the ANN dump-readback oracles: exact-cosine score
    * + rank of a dumped (query_id, neighbor_id) candidate readback against
    * the corpus — value-identical to the fused search paths (same codegen
    * kernel, same (sim desc, neighbor_id) tie-break). The corpus streams
    * through the two id joins; the candidate readback broadcasts only
    * under the house size gate — bounded for the probe-contract queries
    * (10 query vectors × probed buckets), but q193's query side is the
    * DAILY BATCH, whose candidate set grows with corpus × batch and must
    * fall back to an ordinary equi-join under AQE rather than being
    * force-broadcast.
    */
  private def rankCandidateReadback(
      cand: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val hinted = org.apache.spark.sql.graft.shims.broadcastGate(
      cand, graft.queries.Dedup.IncrementalBroadcastCeiling)(cand)
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val n = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    topKPerQuery(
      hinted.join(n, Seq("neighbor_id")).join(q, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qv"), col("cv")).as("sim")),
      k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Shared ranking tail of the kNN variants — see [[graft.operators.TopK]]. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    graft.operators.TopK.perQuery(scored, k)

  /** Brute-force top-k neighbors for `queries` among `corpus` (self-matches
    * excluded). Output: (query_id, neighbor_id, rank, sim).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    topKPerQuery(
      c.join(q, col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qv"), col("cv")).as("sim")),
      k)
  }

  /** LSH-bucketed ANN with multi-probe: each query probes its own
    * sign-bucket plus every bucket within Hamming distance `probeHamming`
    * of it (single-bucket probing loses recall fast as `bits` grows — the
    * nearest neighbor only has to disagree on ONE hyperplane to be missed).
    * The probe buckets are distinct literals XORed at plan time, so the
    * corpus side is still touched via one equi-join on `bucket` and no
    * (query, neighbor) pair can match twice.
    *
    * Measured on the driver corpus (top-5 neighbor cosine is only
    * 0.26–0.43 — angularly diffuse): recall@5 = 0.56 probing 5/16 buckets
    * (bits=4, H≤1), 0.82 at 11/16 (H≤2), 0.97 at 15/16 (H≤3); random
    * hyperplanes instead of coordinate signs score the same. That is the
    * theoretical LSH limit for neighbors this far apart — when a corpus
    * has no tight angular structure, prefer [[graft.operators.IvfIndex]]:
    * its LEARNED centroids reach recall 0.9 probing 4/10 cells. The
    * `probeHamming = 2` default IS the measured-reasonable operating point
    * above (and what q38 registers) — callers trading recall for probe
    * count should lower it explicitly, eyes open.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int = 6,
      probeHamming: Int = 2): DataFrame =
    topKPerQuery(
      lshJoin(queries, corpus, bits, probeHamming)
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qv"), col("cv")).as("sim")),
      k)

  /** The multi-probe bucket join shared by [[lshTopK]] and
    * [[lshCandidates]]: (query_id, qv, neighbor_id, cv) matched rows.
    * Each (query, neighbor) pair appears at most once — the probe masks
    * are distinct literals and a corpus row has exactly one bucket.
    */
  private def lshJoin(
      queries: DataFrame,
      corpus: DataFrame,
      bits: Int,
      probeHamming: Int): DataFrame = {
    require(bits <= 20, "bits > 20 would enumerate millions of probe masks")
    val masks = (0L until (1L << bits))
      .filter(m => java.lang.Long.bitCount(m) <= probeHamming)
    // bound the POST-FILTER count, not just bits: bits=20 with a large
    // probeHamming would otherwise build an explode over ~1M literal
    // columns and blow up plan construction rather than failing fast
    require(masks.size <= 1024,
      s"bits=$bits, probeHamming=$probeHamming probes ${masks.size} buckets per query " +
        "(> 1024): the probe explosion would dominate the candidate join — " +
        "lower probeHamming or use IvfIndex")
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qv"),
      Vectors.signBucket(col("embedding"), bits).as("b0"))
      .withColumn("bucket",
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)))
      .drop("b0"))
    val c = corpus.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      Vectors.signBucket(col("embedding"), bits).as("bucket"))
    c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** The LSH candidate pair set of [[lshTopK]] (ids only) — what q38's
    * dump-readback oracle persists.
    */
  def lshCandidates(
      queries: DataFrame,
      corpus: DataFrame,
      bits: Int,
      probeHamming: Int): DataFrame =
    lshJoin(queries, corpus, bits, probeHamming)
      .select("query_id", "neighbor_id")

  /** Exact pairwise near-dup at threshold `t` as a BLOCKED theta-join
    * (Okcan & Riedewald's 1-bucket scheme): rows are hashed into `blocks`
    * id-blocks, each side is exploded across one axis of the `blocks` ×
    * `blocks` cell grid, and the pair space is recovered by an EQUI-join on
    * the cell key. Every (a, b) pair meets in exactly one cell, so no
    * dedup is needed.
    *
    * Scale shape: an exact low-threshold similarity join is inherently
    * O(n²) comparisons (at cosine 0.4 the true pairs here differ in up to
    * 31/64 sign bits, so NO LSH/IVF blocking can prune without losing
    * recall — measured, not guessed). What CAN be fixed is the plan: a
    * naive `a.join(b, id_a < id_b)` is a BroadcastNestedLoopJoin that ships
    * one entire unbounded side to every task; this form shuffles each side
    * `blocks`× and spreads the n² comparisons evenly over `blocks`²
    * reducer cells with nothing broadcast but literals. For genuine
    * near-dup thresholds (>= ~0.8) use [[graft.queries.Dedup.minhashPairs]]
    * -style banding instead — sub-quadratic candidates at high similarity.
    *
    * SCALE POLICY: this is an AUDIT tier, not a production path. At full
    * corpus scale it runs on a deterministic id-hash sample to estimate
    * the recall of the sub-quadratic paths (q33/q71); only test/oracle
    * scales run it on the whole input. The sampling contract is written
    * down in PLANS.md § "Exact-tier scale policy".
    */
  /** q155: flag TRAIN vectors semantically too close to any EVAL vector —
    * q59's decontamination contract carried to embedding space, the
    * paraphrase-robust tier the n-gram screens can't reach. The eval set
    * broadcasts (tiny by definition — q59's exact precedent for the eval
    * shingle set), so the θ-join on the cosine predicate is a
    * BroadcastNestedLoopJoin doing |train| × |eval| comparisons entirely
    * map-side — no shuffle of the corpus; the flagged rollup re-keys only
    * close pairs. An eval set too large to broadcast buckets BOTH sides
    * under the IVF quantizer and probes (q56's machinery) for the same
    * candidates at bucket-join cost; this direct form is the
    * oracle-replayable tier. Ids and counts only (FP-rank-safe at the
    * q37-proven 0.4 operating point).
    */
  /** q173: the IVF counterpart of q144's banding-recall audit — the gauge
    * for the ANN assumption itself. recall@k of the probe-pruned search vs
    * the exact brute-force top-k (q36's oracled baseline), swept over the
    * nProbe grid from ONE candidate pass: [[graft.operators.IvfIndex.Model.probeBuckets]]
    * ranks a query's buckets nearest-first, and the nProbe=n probe set is
    * a PREFIX of the nProbe=max ranking — so one search at max(probes)
    * keeps each candidate's best probe_rank and the whole grid is a
    * filter over that bounded statistic (the q130/q135/q148 sweep
    * pattern), never a second corpus scan. Output per grid point:
    * (n_probe, n_queries, n_true, n_caught, recall_bp). Scale shape:
    * queries are a bounded broadcast (the audit samples them at 100 TB,
    * q144's sampleBp argument), the corpus side streams once through the
    * bucket join; everything downstream of the candidate set is
    * candidate-sized. Structural ceiling: nProbe = k(=16) probes every
    * bucket, so its candidate set IS the corpus and both rankings use the
    * identical (sim desc, neighbor_id) order — recall_bp = 10000 exactly,
    * which IvfIndexSpec pins along with monotonicity in nProbe.
    */
  def ivfRecallSweep(
      model: graft.operators.IvfIndex.Model,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame =
    ivfRecallSweepOver(
      ivfCandidatesRanked(model, queries, corpus, probes.max),
      queries, corpus, k, probes)

  /** q173's dumpable candidate set: the nProbe=max IVF candidates with
    * each pair's BEST probe rank (ids only, deduped across buckets) —
    * everything downstream (exact scoring, per-nProbe top-k, the recall
    * grid arithmetic) is ANSI-replayable over these rows, so this is
    * exactly what the dump-readback oracle persists.
    */
  def ivfCandidatesRanked(
      model: graft.operators.IvfIndex.Model,
      queries: DataFrame,
      corpus: DataFrame,
      maxProbe: Int): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .select(col("query_id"),
          posexplode(model.probeBuckets(col("qv"), maxProbe)))
        .withColumnRenamed("pos", "probe_rank")
        .withColumnRenamed("col", "bucket"))
    val c = graft.operators.IvfIndex.assign(model, corpus)
      .select(col("vec_id").as("neighbor_id"), col("bucket"))
    // each candidate's BEST probe rank: the nProbe=n shortlist is exactly
    // the candidates with probe_rank < n
    c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(min("probe_rank").as("probe_rank"))
  }

  /** The sweep tail of [[ivfRecallSweep]] over a (query_id, neighbor_id,
    * probe_rank) candidate frame (dumped or inline): exact-cosine scores
    * come from two bounded id joins against the corpus, the exact
    * baseline runs once (q36's oracled path), and the whole nProbe grid
    * is a filter over the bounded probe_rank statistic.
    */
  def ivfRecallSweepOver(
      candIds: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val spark2 = corpus.sparkSession
    import spark2.implicits._
    val qv = corpus.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val nv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    // size-gated like rankCandidateReadback: at maxProbe the candidate set
    // approaches |queries| x |corpus| and must not force-broadcast
    val cand = org.apache.spark.sql.graft.shims.broadcastGate(
        candIds, graft.queries.Dedup.IncrementalBroadcastCeiling)(candIds)
      .join(nv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"),
        Vectors.cosine(col("qv"), col("cv")).as("sim"))
    // the exact baseline runs its corpus pass ONCE and lands as a bounded
    // driver artifact (≤ k·|queries| rows — the 256-row shard-offset
    // class), then probes the candidate set as a broadcast literal; a
    // second plan consumer would otherwise re-run the brute-force scan,
    // the audit's dominant cost at scale
    val ex = bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nTrue = ex.length.toLong
    val nQueries = ex.map(_._1).distinct.length.toLong
    val exDf = broadcast(ex.toSeq.toDF("query_id", "neighbor_id"))
    val grid = probes.toDF("n_probe")
    val wn = Window.partitionBy("n_probe", "query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val caught = cand.crossJoin(broadcast(grid))
      .filter(col("probe_rank") < col("n_probe"))
      .withColumn("rank", row_number().over(wn)).filter(col("rank") <= k)
      .join(exDf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("n_probe").agg(count(lit(1)).as("n_caught"))
    grid.join(broadcast(caught), Seq("n_probe"), "left")
      .select(col("n_probe"), lit(nQueries).as("n_queries"),
        lit(nTrue).as("n_true"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        floor(lit(10000.0) * coalesce(col("n_caught"), lit(0L)) / lit(nTrue))
          .cast("long").as("recall_bp"))
      .orderBy("n_probe")
  }

  def semanticDecontam(
      train: DataFrame, evalSet: DataFrame, threshold: Double): DataFrame = {
    val ev = evalSet.select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    train.select(col("vec_id"), col("embedding"))
      .join(broadcast(ev), Vectors.cosine(col("embedding"), col("ev")) >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_close"), min("eval_id").as("first_eval_id"))
      .orderBy("vec_id")
  }

  def blockedNearDupPairs(emb: DataFrame, threshold: Double, blocks: Int = 8): DataFrame = {
    val cells = (0 until blocks).map(lit(_))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("ca"))
      .withColumn("cb", explode(array(cells: _*)))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("cb"))
      .withColumn("ca", explode(array(cells: _*)))
    a.join(b, Seq("ca", "cb"))
      .filter(col("id_a") < col("id_b") &&
        Vectors.cosine(col("va"), col("vb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** SemDeDup-style candidate pairs: cosine >= `threshold` pairs restricted
    * to documents sharing a coarse k-means cell, with SOFT assignment —
    * each vector lands in its `nAssign` nearest cells
    * ([[graft.operators.IvfIndex.Model.probeBuckets]]), and pairs meet via
    * one equi-join on the cell id. Soft assignment is the recall lever on
    * angularly diffuse corpora: measured here (k=8 spherical centroids,
    * threshold 0.4), single-cell assignment finds only ~0.3–0.5 of the
    * exact pair set while nAssign=2 finds 0.85–0.93, at comparison cost
    * ∝ n²·nAssign²/k instead of n² — the classic SemDeDup trade re-done
    * honestly: recall is spec-bounded in SemanticDedupSpec against the
    * exact q37/q55 pair graph, never assumed. A pair sharing BOTH probe
    * cells meets twice, so candidates dedup on (id_a, id_b) BEFORE the
    * exact-cosine verify (distinct moves (long, long, int) rows; the
    * verify then re-fetches vectors via two bounded joins — cheaper at
    * scale than shipping both vectors through the distinct).
    */
  def semanticDedupPairs(
      emb: DataFrame,
      model: graft.operators.IvfIndex.Model,
      threshold: Double,
      nAssign: Int = 2): DataFrame =
    semanticDedupPairsOver(
      semanticDedupCandidates(emb, model, nAssign), emb, threshold)

  /** The cell-restricted candidate pair set of [[semanticDedupPairs]]
    * (ids only, deduped across shared cells) — what q71's dump-readback
    * oracle persists. Everything downstream (exact-cosine verify, the
    * component fold, keeper flags) is ANSI-replayable over these rows.
    */
  def semanticDedupCandidates(
      emb: DataFrame,
      model: graft.operators.IvfIndex.Model,
      nAssign: Int = 2): DataFrame = {
    val assigned = emb.select(
      col("vec_id"),
      explode(model.probeBuckets(col("embedding"), nAssign)).as("cell"))
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
  }

  /** The exact-cosine verify tail of [[semanticDedupPairs]] over a
    * candidate (id_a, id_b) frame (dumped or inline): vectors are
    * re-fetched via two bounded id joins — cheaper at scale than shipping
    * both vectors through the candidate distinct.
    */
  def semanticDedupPairsOver(
      candidates: DataFrame, emb: DataFrame, threshold: Double): DataFrame = {
    val vecs = emb.select(col("vec_id"), col("embedding"))
    candidates
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Label-purity audit: assign every vector to its nearest per-label
    * centroid (cosine, ties to the smaller label) and emit the confusion
    * matrix — the embedding-quality check a curation pipeline runs before
    * trusting embeddings for clustering/filtering (chance diagonal = 1/k;
    * this corpus measures ~0.41, i.e. the labels have real geometry).
    *
    * Cross-engine determinism (the q36 rules): only integer counts are
    * emitted, never floats; centroid means come from DECIMAL-exact
    * per-dimension sums (order-independent) divided once at the end; the
    * cosine kernel widens float elements to double and accumulates
    * left-to-right, matching DuckDB's double-cast `list_cosine_similarity`
    * fold. Plan shape: one posexplode→(label, dim) aggregate (dim-sized
    * output), a 10-row broadcast of the centroids streamed against the
    * corpus (the q36 bounded-broadcast exception), then the per-vector
    * argmax via the partial-top-k window.
    */
  def labelPurity(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast("double").cast("decimal(27,7)")).cast("double") /
        count(lit(1))).as("m"))
    val cent = dims.groupBy(col("label").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("cvec"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("clabel"))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        Vectors.cosine(col("embedding"), col("cvec")).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .groupBy(col("label"), col("clabel").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_label")
  }

  /** Shared WITH-clause prefix of the q96/q98 oracles: doubles view,
    * first-k init, two assign+update Lloyd rounds ending at centroid
    * table c2. Extracted so the two oracles can never disagree on the
    * fit. (Declared before [[all]] — object vals initialize in
    * declaration order, and [[all]]'s initializer interpolates this.)
    */
  private val KmeansCteSql =
    """WITH e AS (SELECT vec_id,
      |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |          FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
      |a1 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |         ORDER BY list_distance(e.v, c0.cv), cid) AS rnk
      |       FROM e CROSS JOIN c0),
      |m1 AS (SELECT cid, i,
      |         CAST(SUM(CAST(e.v[i] AS DECIMAL(27,7))) AS DOUBLE) / COUNT(*) AS m
      |       FROM a1 JOIN e USING (vec_id), range(1, 65) r(i)
      |       WHERE rnk = 1 GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY cid),
      |a2 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |         ORDER BY list_distance(e.v, c1.cv), cid) AS rnk
      |       FROM e CROSS JOIN c1),
      |m2 AS (SELECT cid, i,
      |         CAST(SUM(CAST(e.v[i] AS DECIMAL(27,7))) AS DOUBLE) / COUNT(*) AS m
      |       FROM a2 JOIN e USING (vec_id), range(1, 65) r(i)
      |       WHERE rnk = 1 GROUP BY cid, i),
      |c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid)""".stripMargin

  /** q94's oracle — the whole-table tie-free-quantized moment replay
    * (`floor(product·1e12)` exact integer sums; see [[momentSums]] for
    * why floor, not a decimal cast). Shared VERBATIM with q194: the
    * incremental moment store's merged output must equal the
    * from-scratch rebuild exactly (integer sums are associative), so one
    * ANSI statement hash-certifies both the audit form and the daily
    * form.
    */
  private val MomentsOracleSql: String =
    """SELECT i, j,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
      |                      * 1e12) AS DECIMAL(27,0))) AS DOUBLE) / 1e12 / COUNT(*) AS m
      |FROM embeddings, range(1, 65) r(i), range(1, 65) s(j)
      |WHERE j >= i
      |GROUP BY i, j ORDER BY i, j""".stripMargin

  val all: Map[String, Q] = Map(
    "q36_knn_brute" -> Q(
      "Brute-force cosine top-5 for the first 10 vectors (ids only — FP-rank-safe)",
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      bruteForceTopK(emb(s, dir).filter(col("vec_id") < 10), emb(s, dir), k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },

    "q37_embed_neardup" -> Q(
      "Embedding near-dup pairs: cosine >= 0.4, ids only (exact, blocked theta-join)",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      blockedNearDupPairs(emb(s, dir), threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // SEMANTIC DECONTAMINATION (see [[semanticDecontam]]): q59's
    // eval-vs-train screen in embedding space — the paraphrase-robust
    // tier n-gram decontamination can't reach (a reworded benchmark
    // question shares no 5-gram with the eval set but sits on top of it
    // in embedding space). Same contract as q59: the eval side is TINY
    // by definition and broadcasts; the threshold (0.4) and ids-only
    // output reuse q37's proven FP-rank-safe operating point on this
    // corpus. Oracle: the direct cross-set predicate replay.
    "q155_semantic_decontam" -> Q(
      "Semantic eval-vs-train decontamination: train vectors within " +
        "cosine 0.4 of any eval vector (ids + counts only)",
      """SELECT t.vec_id, CAST(COUNT(*) AS BIGINT) AS n_close,
        |       MIN(e.vec_id) AS first_eval_id
        |FROM embeddings t JOIN embeddings e
        |  ON e.vec_id < 20 AND t.vec_id >= 20
        |  AND list_cosine_similarity(t.embedding, e.embedding) >= 0.4
        |GROUP BY t.vec_id ORDER BY t.vec_id""".stripMargin) { (s, dir) =>
      semanticDecontam(
        emb(s, dir).filter(col("vec_id") >= 20),
        emb(s, dir).filter(col("vec_id") < 20), threshold = 0.4)
    },

    // probeHamming=2 = the measured-reasonable operating point on this
    // corpus (recall@5 0.82 probing 11/16 buckets, vs 0.56 at H<=1); the
    // probe-count/recall trade is measured in the lshTopK scaladoc, and
    // IvfIndex remains the blessed ANN path (0.9 probing 4/16).
    // ORACLED since round 14 (dump-readback): recall<1 still means no
    // exact SQL answer EXISTS for the shortlist — but dumping the
    // candidate pair set pid-scoped changes the question: BOTH engines
    // score + rank the identical dumped pairs (exact cosine, ties on
    // neighbor_id), so the whole scoring tail is hash-checked and only
    // the sign-bucket geometry stays spec-closed (SimilaritySpec still
    // bounds its recall against the oracled exact q36).
    "q38_knn_lsh" -> Q(
      "LSH ANN top-5, multi-probe sign buckets H<=2 (recall 0.82 measured; " +
        "see lshTopK docs; scoring tail dump-readback-oracled)",
      annCandidateOracleSql(q38Dir, k = 5)) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.synchronized {
        StoreSwap.write(
          lshCandidates(e.filter(col("vec_id") < 10), e, bits = 4, probeHamming = 2),
          s"$q38Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q38Dir/candidates.parquet"), e, k = 5)
    },

    // ORACLED since round 14 (dump-readback, the q38 move): the probed-
    // bucket candidate pair set dumps pid-scoped and BOTH engines replay
    // the exact-cosine scoring tail over the identical rows. Only the
    // k-means coarse quantizer (iterative driver fit) stays spec-closed;
    // IvfIndexSpec still bounds recall vs the oracled exact q36.
    "q42_knn_ivf" -> Q(
      "IVF ANN top-5: k-means coarse quantizer, 4-probe bucket equi-join " +
        "(recall < 1; scoring tail dump-readback-oracled)",
      annCandidateOracleSql(q42Dir, k = 5)) { (s, dir) =>
      val corpus = emb(s, dir)
      Similarity.synchronized {
        StoreSwap.write(
          graft.operators.IvfIndex
            .candidates(modelFor(corpus, dir), corpus.filter(col("vec_id") < 10),
              corpus, nProbe = 4),
          s"$q42Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q42Dir/candidates.parquet"), corpus, k = 5)
    },

    // ORACLED since round 14 (dump-readback — the strongest reshape of
    // the family): the (query_id, neighbor_id, probe_rank) candidate set
    // dumps pid-scoped, and DuckDB replays the ENTIRE audit — it
    // recomputes the exact baseline INDEPENDENTLY from the embeddings
    // parquet (the q36 template, so the engine's driver-collected
    // baseline is cross-checked too), re-scores the dumped candidates,
    // and re-derives the whole per-nProbe recall grid. Only the k-means
    // probe-bucket ordering that PRODUCED the candidate set stays spec-
    // closed (IvfIndexSpec: monotonicity in nProbe, the nProbe=16
    // full-probe ceiling recall_bp = 10000, numerator ≡ stand-alone
    // search).
    "q173_ivf_recall_sweep" -> Q(
      "IVF recall audit: recall@5 vs the exact q36 baseline, swept over " +
        "nProbe {1,2,4,8,16} from one candidate pass (grid arithmetic " +
        "dump-readback-oracled, baseline independently recomputed)",
      s"""WITH cand AS (SELECT query_id, neighbor_id, probe_rank
        |  FROM read_parquet('$q173Dir/candidates.parquet/*.parquet')),
        |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |                    c.vec_id) AS rnk
        |       FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |       WHERE q.vec_id < 100),
        |et AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 5),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
        |               CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
        |        FROM et),
        |grid AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS n_probe),
        |sc AS (SELECT g.n_probe, c.query_id, c.neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY g.n_probe, c.query_id
        |           ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
        |                    c.neighbor_id) AS rnk
        |       FROM cand c JOIN grid g ON c.probe_rank < g.n_probe
        |       JOIN embeddings q ON q.vec_id = c.query_id
        |       JOIN embeddings n ON n.vec_id = c.neighbor_id),
        |caught AS (SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_caught
        |           FROM sc JOIN et USING (query_id, neighbor_id)
        |           WHERE rnk <= 5 GROUP BY n_probe)
        |SELECT g.n_probe, t.n_queries, t.n_true,
        |  COALESCE(c.n_caught, 0) AS n_caught,
        |  CAST(FLOOR(CAST(10000.0 AS DOUBLE) * COALESCE(c.n_caught, 0)
        |             / t.n_true) AS BIGINT) AS recall_bp
        |FROM grid g CROSS JOIN tot t LEFT JOIN caught c USING (n_probe)
        |ORDER BY n_probe""".stripMargin) { (s, dir) =>
      val corpus = emb(s, dir)
      val queries = corpus.filter(col("vec_id") < 100)
      Similarity.synchronized {
        StoreSwap.write(
          ivfCandidatesRanked(modelFor(corpus, dir), queries, corpus, maxProbe = 16),
          s"$q173Dir/candidates.parquet")
      }
      ivfRecallSweepOver(
        s.read.parquet(s"$q173Dir/candidates.parquet"), queries, corpus, k = 5)
    },

    // The PERSISTED form of q42 — the actual 100 TB ANN story: the assigned
    // corpus is written ONCE hive-partitioned by `bucket` (an offline index
    // build), and every later search prunes the scan to its probed
    // partition directories (pruning asserted in IvfIndexSpec). Results are
    // identical to q42 by construction (same model via modelFor, same
    // probe set).
    // ORACLED since round 14 (dump-readback, the q42 move — here the
    // dumped candidates come from the PRUNED index scan, so the oracle
    // checks the pruning path's pair set too); IvfIndexSpec keeps the
    // bit-identity-to-q42 assertion and the selectedPartitions pin.
    "q56_knn_ivf_persisted" -> Q(
      "IVF ANN top-5 over the persisted bucket-partitioned index (scan " +
        "prunes to probed buckets; scoring tail dump-readback-oracled)",
      annCandidateOracleSql(q56Dir, k = 5)) { (s, dir) =>
      val corpus = emb(s, dir)
      val model = modelFor(corpus, dir)
      val path = persistedIndex(model, corpus, dir)
      Similarity.synchronized {
        StoreSwap.write(
          graft.operators.IvfIndex
            .candidatesIndexed(model, corpus.filter(col("vec_id") < 10),
              s.read.parquet(path), nProbe = 4),
          s"$q56Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q56Dir/candidates.parquet"), corpus, k = 5)
    },

    // The QUANTIZED index made load-bearing: q48 defines the int8 codec,
    // this query searches with it — candidates come from the persisted
    // int8 index (4× fewer bytes scanned than q56's float index, same
    // partition pruning), scored by the asymmetric float×int8 codegen
    // kernel, then the shortlist is reranked exactly against the float
    // index (also pruned to the probed buckets). Recall vs the float path
    // is bounded ≥ 0.9 in IvfIndexSpec; with a full-width shortlist the
    // result is asserted IDENTICAL to q56's.
    // ORACLED since round 14 (dump-readback at the SHORTLIST boundary):
    // the int8-scored shortlist — exactly the rows the exact float rerank
    // consumes — dumps pid-scoped, and BOTH engines replay the rerank
    // (exact cosine + top-5). The asymmetric int8 kernel stays spec-
    // closed; the spec chain (q62 ≡ q56 at full width, recall >= 0.9 vs
    // the float path) remains in IvfIndexSpec.
    "q62_knn_ivf_quantized" -> Q(
      "IVF ANN top-5 over the persisted int8-quantized index, asymmetric " +
        "scoring + exact float rerank (rerank dump-readback-oracled)",
      annCandidateOracleSql(q62Dir, k = 5)) { (s, dir) =>
      val corpus = emb(s, dir)
      val model = modelFor(corpus, dir)
      val qPath = persistedQuantizedIndex(model, corpus, dir)
      Similarity.synchronized {
        StoreSwap.write(
          graft.operators.IvfIndex
            .quantizedShortlist(model, corpus.filter(col("vec_id") < 10),
              s.read.parquet(qPath), k = 5, nProbe = 4),
          s"$q62Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q62Dir/candidates.parquet"), corpus, k = 5)
    },

    // The PQ tier below q62's int8: IVFADC (coarse IVF cells + product-
    // quantized codes + per-query ADC lookup tables + exact float rerank).
    // At dim 64 / m=16 / 16 codes the searched payload is 8 code bytes per
    // vector — 32× smaller than float, 8× smaller than q62's int8 — which
    // at 100 TB of embeddings is the difference between an in-memory
    // candidate sweep and an I/O-bound one. See [[graft.operators.PqIndex]]
    // for the plan shape (codebooks are plan literals; encode/table/score
    // are all built-in codegen HOFs).
    // ORACLED since round 14 (dump-readback at the SHORTLIST boundary,
    // the q62 move one quantization tier down): the ADC-scored shortlist
    // dumps pid-scoped and BOTH engines replay the exact float rerank.
    // The ADC kernel (codebooks, per-query lookup tables) stays spec-
    // closed; PqIndexSpec keeps the recall bound vs the oracled-brute
    // q36 path, codebook determinism, and code-range/width pins.
    "q117_knn_ivfpq" -> Q(
      "IVFADC ANN top-5: persisted product-quantized code index (m=16, 16 " +
        "codes) ADC-scored within probed IVF cells, exact float rerank " +
        "(rerank dump-readback-oracled)",
      annCandidateOracleSql(q117Dir, k = 5)) { (s, dir) =>
      val corpus = emb(s, dir)
      val ivf = modelFor(corpus, dir)
      val pq = pqModelFor(corpus, dir)
      Similarity.synchronized {
        StoreSwap.write(
          graft.operators.PqIndex
            .adcShortlistIndexed(ivf, pq, corpus.filter(col("vec_id") < 10),
              s.read.parquet(persistedPqIndex(ivf, pq, corpus, dir)),
              k = 5, nProbe = 4),
          s"$q117Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q117Dir/candidates.parquet"), corpus, k = 5)
    },

    // q55's SCALE twin, the same way q67/q68 twin q65/q59: identical
    // output shape (cluster_id, doc_id, keep) and the same CC + min-id
    // tail, but the pair set comes from semanticDedupPairs' cell-
    // restricted join (cost ∝ n²·nAssign²/k, vs q55's exact-but-O(n²)
    // blocked theta-join). Recall < 1 by construction on a diffuse
    // corpus, so it CANNOT be oracled against q55's exact components —
    // registered rows-only, with SemanticDedupSpec bounding pair recall
    // (>= 0.75 measured-with-margin) and asserting zero false-positive
    // pairs and keep-list/pair-graph consistency.
    // ORACLED since round 14 (dump-readback): recall<1 vs the exact graph
    // is still the operator's DESIGN (SemDeDup trades recall for sub-
    // quadratic cost — no equality argument to q55's exact components can
    // exist), but dumping the cell-restricted candidate pairs changes the
    // question: BOTH engines replay the exact cosine>=0.4 verify AND the
    // transitive component fold (the q55 recursive-CTE machinery) over
    // the identical dumped rows — the stage where one false edge merges
    // clusters forever is now hash-checked. Only the k-means soft cell
    // assignment stays spec-closed (SemanticDedupSpec keeps the pair-
    // recall bound >= 0.75 and zero-false-positive pins vs exact).
    "q71_semantic_dedup" -> Q(
      "SemDeDup: near-dup clusters from k-means-cell-restricted candidates " +
        "(k=8 spherical cells, top-2 soft assignment, exact cosine>=0.4 verify; " +
        "verify + component fold dump-readback-oracled)",
      s"""WITH RECURSIVE
        |cand AS (SELECT id_a, id_b
        |  FROM read_parquet('$q71Dir/candidates.parquet/*.parquet')),
        |pairs AS (SELECT c.id_a AS u, c.id_b AS v
        |          FROM cand c
        |          JOIN embeddings a ON a.vec_id = c.id_a
        |          JOIN embeddings b ON b.vec_id = c.id_b
        |          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |mins AS (SELECT u AS vec_id, MIN(v) AS mn FROM reach GROUP BY u)
        |SELECT LEAST(COALESCE(m.mn, e.vec_id), e.vec_id) AS cluster_id,
        |       e.vec_id AS doc_id,
        |       CAST(LEAST(COALESCE(m.mn, e.vec_id), e.vec_id) = e.vec_id
        |            AS INTEGER) AS keep
        |FROM embeddings e LEFT JOIN mins m ON m.vec_id = e.vec_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.synchronized {
        StoreSwap.write(
          semanticDedupCandidates(e, dedupModelFor(e, dir), nAssign = 2),
          s"$q71Dir/candidates.parquet")
      }
      val comps = graft.operators.ConnectedComponents.run(
        e.select(col("vec_id").as("id")),
        semanticDedupPairsOver(
            s.read.parquet(s"$q71Dir/candidates.parquet"), e, threshold = 0.4)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      comps.select(
        col("component").as("cluster_id"),
        col("id").as("doc_id"),
        when(col("component") === col("id"), 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },

    // The vector store family's DAILY form — q113/q185's
    // batch-probes-store shape at the ANN tier: the day's new embeddings
    // (vec_id%5 == 0, the house batch convention) rank their top-5
    // nearest STORED neighbors against the persisted bucket-partitioned
    // index of the stored corpus (%5 != 0), candidate scan pruned to the
    // probed buckets. The absorb half is
    // [[graft.operators.IvfIndex.appendToIndex]] (day-N+1 joins without a
    // rebuild, IvfIndexSpec) and its ONLINE wrapper is
    // [[graft.streaming.VectorIngestStream]] (probe-then-absorb,
    // partition-pruned replay witness, tombstone-guarded —
    // VectorIngestStreamSpec pins stream ≡ batch, replay idempotence,
    // remainder-only partial overlap, and forget refusal). ORACLED via
    // dump-readback (the q56 move): the pruned candidate pair set dumps
    // pid-scoped and BOTH engines replay the exact-cosine ranking.
    "q193_vector_incremental" -> Q(
      "Incremental ANN ingest probe: daily embedding batch ranks its " +
        "top-5 stored neighbors against the persisted store index " +
        "(pruned scan; scoring tail dump-readback-oracled)",
      annCandidateOracleSql(q193Dir, k = 5)) { (s, dir) =>
      val e = emb(s, dir)
      val store = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      val model = modelFor(e, dir)
      // the [[persistedIndex]] artifact restricted to the store, under its
      // own name so the full-corpus index can never shadow it
      val path = WarmStores.artifact(
          s, dir, "embeddings", "ivf_index_store", fp(model.centroids))()(
        graft.ops.Bucketing.writePartitioned(
          graft.operators.IvfIndex.assign(model, store), _, Seq("bucket")))
      Similarity.synchronized {
        StoreSwap.write(
          graft.operators.IvfIndex
            .candidatesIndexed(model, batch, s.read.parquet(path), nProbe = 4),
          s"$q193Dir/candidates.parquet")
      }
      rankCandidateReadback(s.read.parquet(s"$q193Dir/candidates.parquet"), e, k = 5)
    },

    // The lockstep-integrity gauge for the vector store family (q126/
    // q166's audit pattern at the vector tier): the float, int8 and PQ
    // indexes must carry the SAME id set — a crash window or a missed
    // lockstep absorb desyncs them, and a quantized probe then silently
    // misses vectors the float index serves. The three artifacts' id
    // rows dump pid-scoped (the q183 store-row convention) and BOTH
    // engines compute the audit over the readback: per artifact, rows /
    // distinct ids / missing-vs-float / orphans-vs-float. Healthy =
    // all-zero drift; see [[vectorArtifactSync]] for how duplicates and
    // desyncs each read.
    "q195_vector_artifact_sync" -> Q(
      "Vector artifact sync audit: per-artifact rows/ids and id drift " +
        "vs the float index across float/int8/PQ stores (dumped rows, " +
        "both engines replay the audit)",
      s"""WITH r AS (SELECT artifact, vec_id
        |  FROM read_parquet('$q195Dir/rows.parquet/*.parquet')),
        |d AS (SELECT DISTINCT artifact, vec_id FROM r),
        |f AS (SELECT vec_id FROM d WHERE artifact = 'float'),
        |per AS (SELECT artifact, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |          CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_ids
        |        FROM r GROUP BY artifact),
        |inter AS (SELECT artifact, CAST(COUNT(*) AS BIGINT) AS n_inter
        |          FROM d JOIN f USING (vec_id) GROUP BY artifact),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_float FROM f)
        |SELECT p.artifact, p.n_rows, p.n_ids,
        |  t.n_float - COALESCE(i.n_inter, 0) AS n_missing,
        |  p.n_ids - COALESCE(i.n_inter, 0) AS n_orphans
        |FROM per p CROSS JOIN tot t LEFT JOIN inter i USING (artifact)
        |ORDER BY artifact""".stripMargin) { (s, dir) =>
      val corpus = emb(s, dir)
      val model = modelFor(corpus, dir)
      val pq = pqModelFor(corpus, dir)
      val fPath = persistedIndex(model, corpus, dir)
      val qPath = persistedQuantizedIndex(model, corpus, dir)
      val pPath = persistedPqIndex(model, pq, corpus, dir)
      Similarity.synchronized {
        StoreSwap.write(
          s.read.parquet(fPath).select(lit("float").as("artifact"), col("vec_id"))
            .unionByName(
              s.read.parquet(qPath).select(lit("int8").as("artifact"), col("vec_id")))
            .unionByName(
              s.read.parquet(pPath).select(lit("pq").as("artifact"), col("vec_id"))),
          s"$q195Dir/rows.parquet")
      }
      vectorArtifactSync(s.read.parquet(s"$q195Dir/rows.parquet"))
    },

    "q84_label_purity" -> Q(
      "Nearest-centroid confusion matrix over embeddings (decimal-exact " +
        "centroids, counts only — FP-rank-safe)",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |dims AS (
        |  SELECT label, i AS dim,
        |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,7))) AS DOUBLE)
        |      / COUNT(*) AS m
        |  FROM e, range(1, 65) r(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label AS clabel, list(m ORDER BY dim) AS cvec FROM dims GROUP BY label),
        |scored AS (
        |  SELECT e.vec_id, e.label, cent.clabel,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(
        |                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |                 cent.cvec) DESC,
        |               cent.clabel) AS rnk
        |  FROM e CROSS JOIN cent)
        |SELECT label, clabel AS pred_label, COUNT(*) AS n
        |FROM scored WHERE rnk = 1
        |GROUP BY label, clabel ORDER BY label, pred_label""".stripMargin) { (s, dir) =>
      labelPurity(emb(s, dir))
    },

    // The Gram/second-moment matrix is the aggregation half of PCA
    // whitening (q95 consumes it): M[i,j] = mean(e_i * e_j) over the
    // corpus. Plan shape: each row expands to its d(d+1)/2 upper-triangle
    // products INSIDE codegen (one flatten(transform(transform))) and the
    // hash aggregate's map-side partial collapses them before the
    // exchange — the shuffle carries at most 2080 decimal partials per
    // partition regardless of corpus size. That is the canonical 100 TB
    // moment-matrix shape: one pass, constant-width state, no driver
    // work. Products are computed in double (IEEE-identical both engines)
    // and summed as decimals (order-independent), so the full matrix is
    // hash-checked.
    "q94_embed_moments" -> Q(
      "Upper-triangle second-moment matrix of the embedding corpus " +
        "(decimal-exact mean products; map-side-collapsed aggregate)",
      MomentsOracleSql) { (s, dir) =>
      secondMoments(emb(s, dir), dim = 64)
    },

    // The q94 matrix's DAILY form — the moment STORE: per-(i,j) decimal
    // product sums + counts persist for the stored corpus (%5 != 0, the
    // house batch convention), the day's batch contributes ITS sums, and
    // the merge is plain decimal addition — exact and associative, so
    // incremental ≡ rebuild holds to the LAST BIT, not approximately
    // (momentSums scaladoc). This is how the q95 PCA refreshes at 100 TB:
    // absorb the day's d(d+1)/2 sums (one O(batch) pass), re-solve the
    // d×d eigenproblem on the driver — the stored corpus is NEVER
    // rescanned. The oracle is q94's own whole-table replay, shared
    // verbatim — one ANSI statement hash-certifies the audit form AND the
    // daily form (the q112/q147 incremental-equals-rebuild precedent).
    "q194_incremental_moments" -> Q(
      "Incremental second-moment matrix: persisted decimal sum store " +
        "(vec_id%5 != 0) merged with the day's batch sums; equals the " +
        "from-scratch q94 rebuild exactly",
      MomentsOracleSql) { (s, dir) =>
      val e = emb(s, dir)
      // the persisted moment-sum store over the STORED corpus, a warm
      // store keyed like [[persistedIndex]]; the quantization-scheme
      // token (`tf12` = tie-free floor at scale 12) is a parameter, so a
      // store written under an older scheme is never served to a newer
      // reader
      val path = WarmStores.artifact(s, dir, "embeddings", "moment_store", "tf12")()(
        WarmStores.zstd(momentSums(e.filter(pmod(col("vec_id"), lit(5)) =!= 0), dim = 64)))
      mergeMomentSums(Seq(
        s.read.parquet(path),
        momentSums(e.filter(pmod(col("vec_id"), lit(5)) === 0), dim = 64)))
    },

    // PCA projection: the q94 aggregate (bounded: d(d+1)/2 rows) collects
    // to the driver, a deterministic cyclic-Jacobi eigensolver
    // (operators/Pca.scala) extracts the top principal axes, and the
    // projection itself is a codegen dot product against literal axis
    // vectors — one linear scan, no shuffle, no UDF. This is how PCA runs
    // at 100 TB: the only non-linear work is an O(d^3) driver solve on a
    // d x d matrix that took one map-side-collapsed pass to build. Axis
    // signs are pinned (largest-|component| coordinate positive) so the
    // output is deterministic; sums inside the driver solve are on the
    // decimal-exact q94 values. Eigen internals aren't ANSI-SQL, so no
    // ORACLED since round 14 (dump-readback): the iterative Jacobi
    // eigensolve is still a driver-side loop no ANSI statement replays —
    // but its OUTPUT is two axis vectors, and dumping them pid-scoped
    // lets DuckDB replay the entire projection (`list_dot_product` over
    // double-cast embeddings — left-to-right double folds in both
    // engines, bit-exact). The engine projects with the READBACK axes,
    // so both engines consume the same bytes; the eigensolve itself
    // stays spec-closed (PcaSpec: orthonormality, eigen residual,
    // explained-variance ordering, determinism; its INPUT, the q94
    // moment matrix, is hash-oracled).
    "q95_pca_project" -> Q(
      "Project embeddings onto the top-2 principal axes of the q94 moment " +
        "matrix (driver Jacobi on d x d; projection dump-readback-oracled)",
      s"""WITH ax AS (SELECT k, axis
        |  FROM read_parquet('$q95Dir/axes.parquet/*.parquet')),
        |p AS (SELECT e.vec_id, a.k,
        |        list_dot_product(
        |          list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |          a.axis) AS p
        |      FROM embeddings e CROSS JOIN ax a)
        |SELECT vec_id,
        |  MAX(p) FILTER (WHERE k = 1) AS pc1,
        |  MAX(p) FILTER (WHERE k = 2) AS pc2
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.synchronized {
        val spark2 = e.sparkSession
        import spark2.implicits._
        StoreSwap.write(
          pcaAxes(e, dim = 64, nComponents = 2)
            .map { case (k, vec) => (k, vec.toSeq) }.toDF("k", "axis")
            .coalesce(1),
          s"$q95Dir/axes.parquet")
      }
      val readback = e.sparkSession.read.parquet(s"$q95Dir/axes.parquet")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      pcaProjectAxes(e, readback)
    },

    // Lloyd's k-means with BOTH halves of each round distributed: assign =
    // k-row broadcast against the streaming corpus (the q36/q84
    // bounded-broadcast exception), update = posexplode → (cid, dim)
    // decimal-exact mean (map-side-collapsed, ≤ k·d partials per
    // partition through the exchange). Two update rounds are UNROLLED into
    // one plan — no driver loop, no action between rounds; at a fixed
    // round count this is exactly how a 100 TB Lloyd pass composes (the
    // open-iteration variant lives in IvfIndex.fit, which checkpoints per
    // round instead). Deterministic throughout: init = first-k rule
    // (never rand()), argmin ties break on cluster id, centroid means are
    // decimal sums cast back to double. Every scoring fold is
    // left-to-right over the same doubles in both engines, so the full
    // assignment is hash-checked (the q84 precedent, L2 instead of
    // cosine; rank by squared distance — sqrt is monotone and DuckDB's
    // list_distance ordering agrees on ties because the radicands are
    // bit-equal).
    "q96_kmeans" -> Q(
      "k-means (k=4, two unrolled Lloyd rounds, first-k init): final " +
        "assignment per vector with decimal-exact centroid arithmetic",
      s"""$KmeansCteSql,
        |a3 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |         ORDER BY list_distance(e.v, c2.cv), cid) AS rnk
        |       FROM e CROSS JOIN c2)
        |SELECT vec_id, cid AS cluster FROM a3 WHERE rnk = 1
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      kmeansAssign(emb(s, dir), k = 4, updateRounds = 2)
    },

    // EMBEDDING drift monitor (see [[embeddingDrift]]): per-cluster
    // population comparison between the stored corpus (vec_id%5 != 0)
    // and the daily batch (vec_id%5 == 0, the q66/q110/q113 batch
    // convention) under the shared q96 quantizer. The oracle replays
    // q96's assignment CTE verbatim plus the q123 integer cross-
    // multiplication — one quantizer definition, two hash checks.
    "q128_embedding_drift" -> Q(
      "Embedding-space drift: per-cluster base-vs-batch populations under " +
        "the frozen q96 quantizer, integer-exact share deviation + status",
      s"""$KmeansCteSql,
        |a3 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |         ORDER BY list_distance(e.v, c2.cv), cid) AS rnk
        |       FROM e CROSS JOIN c2),
        |asg AS (SELECT vec_id, cid FROM a3 WHERE rnk = 1),
        |ct AS (SELECT cid,
        |         COUNT(*) FILTER (WHERE vec_id % 5 <> 0) AS n_base,
        |         COUNT(*) FILTER (WHERE vec_id % 5 = 0) AS n_batch
        |       FROM asg GROUP BY cid),
        |tot AS (SELECT SUM(n_base) AS t0, SUM(n_batch) AS t1 FROM ct)
        |SELECT cid AS cluster, n_base, n_batch,
        |  CAST(ABS(n_base * t1 - n_batch * t0) AS BIGINT) AS dev_scaled,
        |  CASE WHEN 8 * ABS(n_base * t1 - n_batch * t0) > t0 * t1
        |       THEN 'shift' ELSE 'ok' END AS status
        |FROM ct CROSS JOIN tot ORDER BY cluster""".stripMargin) { (s, dir) =>
      // assignment via the pinned q96 model (kmeansModelFor): identical
      // clusters, zero-join scan instead of an inline two-round re-fit
      embeddingDriftOver(
        assignPinned(emb(s, dir), kmeansModelFor(emb(s, dir), dir))
          .select(col("vec_id"), col("cluster")),
        k = 4, batchMod = 5)
    },

    // DIVERSITY sampling (SemDeDup/DCLM-style cluster-balanced curation):
    // the q93 deterministic token-budget sampler stratified by the q96
    // EMBEDDING CLUSTER instead of the source label — an over-represented
    // topic contributes the same token budget as a rare one. Composes two
    // already-oracled pieces verbatim (kmeansAssign for the strata, the
    // md5-ordered take-until-crossing window for the sample), so the
    // oracle is q96's k-means CTE + q93's window replay. Scale shape:
    // the assignment join is doc-keyed, the window partitions by cluster
    // — parallel per stratum, no global coordination (q93's shape).
    "q114_cluster_sample" -> Q(
      "Cluster-balanced token-budget sample: md5-ordered prefix to 600 " +
        "tokens per q96 embedding cluster (kept = take-until-crossing)",
      s"""$KmeansCteSql,
        |a3 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |         ORDER BY list_distance(e.v, c2.cv), cid) AS rnk
        |       FROM e CROSS JOIN c2),
        |asg AS (SELECT vec_id AS doc_id, cid FROM a3 WHERE rnk = 1),
        |t AS (SELECT d.doc_id, asg.cid,
        |        CAST(CASE WHEN LENGTH(TRIM(d.text)) = 0 THEN 0
        |             ELSE LENGTH(TRIM(d.text)) -
        |                  LENGTH(REPLACE(TRIM(d.text), ' ', '')) + 1 END AS BIGINT)
        |          AS n_toks
        |      FROM documents d JOIN asg USING (doc_id)),
        |cw AS (
        |  SELECT *, CAST(SUM(n_toks) OVER (
        |      PARTITION BY cid
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        |  FROM t)
        |SELECT cid AS cluster_id, doc_id, n_toks, cum_toks,
        |  CAST(cum_toks - n_toks < 600 AS INTEGER) AS kept
        |FROM cw ORDER BY doc_id""".stripMargin) { (s, dir) =>
      clusterBalancedSampleOver(
        Tables(s, dir, "documents"),
        assignPinned(emb(s, dir), kmeansModelFor(emb(s, dir), dir))
          .select(col("vec_id").as("doc_id"), col("cluster").as("cluster_id")),
        budgetPerCluster = 600L)
    },

    // Data-poisoning / far-OOD screen: a scraped-embedding batch whose
    // vectors sit far from EVERY cluster of the corpus is suspect. Uses
    // the SAME fitted centroids as q96 (shared kmeansCentroids — audit
    // and clustering cannot disagree); adds one decimal-exact 1-row
    // stats aggregate broadcast back over the assignment. Fully
    // hash-checked: distances are bit-equal rooted values, stats are
    // order-independent decimal sums, the 2-sigma flag is deterministic
    // double arithmetic on both.
    // Cluster LABELING — the step after clustering in every curation
    // workflow ("what IS cluster 3?"): top distinctive terms per k-means
    // cluster by lift = within-cluster term share over corpus term share.
    // Joins the embedding-space fit to the TEXT side (vec_id ≡ doc_id,
    // TESTDATA contract). Shapes: the q96 assignment chain (broadcast
    // assigns), one token explode collapsed map-side into (cluster, term)
    // counts, a vocabulary-sized lift join, and the per-cluster top-3 via
    // the partial-top-k window. Counts are integers, lift is one IEEE
    // division of exact integers, rank ties break on term — fully
    // hash-checked through the 3-level recursive replay.
    "q100_cluster_terms" -> Q(
      "Top-3 distinctive terms per q96 cluster by lift " +
        "(within-cluster share / corpus share)",
      s"""$KmeansCteSql,
        |a3 AS (SELECT e.vec_id, cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |         ORDER BY list_distance(e.v, c2.cv), cid) AS rnk
        |       FROM e CROSS JOIN c2),
        |asg AS (SELECT vec_id, cid FROM a3 WHERE rnk = 1),
        |tok AS (SELECT asg.cid, unnest(string_split(d.text, ' ')) AS term
        |        FROM asg JOIN documents d ON d.doc_id = asg.vec_id),
        |ct AS (SELECT cid, term, COUNT(*) AS tf FROM tok GROUP BY cid, term),
        |tot AS (SELECT term, SUM(tf) AS cf FROM ct GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_tok FROM tok),
        |nc AS (SELECT cid, SUM(tf) AS c_tok FROM ct GROUP BY cid),
        |scored AS (SELECT ct.cid, ct.term, ct.tf,
        |    (CAST(ct.tf AS DOUBLE) / nc.c_tok) / (CAST(tot.cf AS DOUBLE) / n.n_tok) AS lift,
        |    ROW_NUMBER() OVER (PARTITION BY ct.cid ORDER BY
        |      (CAST(ct.tf AS DOUBLE) / nc.c_tok) / (CAST(tot.cf AS DOUBLE) / n.n_tok) DESC,
        |      ct.term) AS rnk
        |  FROM ct JOIN tot USING (term) JOIN nc USING (cid) CROSS JOIN n)
        |SELECT cid AS cluster, CAST(rnk AS BIGINT) AS rnk, term,
        |       CAST(tf AS BIGINT) AS tf, lift
        |FROM scored WHERE rnk <= 3 ORDER BY cluster, rnk""".stripMargin) { (s, dir) =>
      clusterTermsOver(
        assignPinned(emb(s, dir), kmeansModelFor(emb(s, dir), dir))
          .select(col("vec_id").as("doc_id"), col("cluster").as("cid")),
        Tables(s, dir, "documents"))
    },

    // The precondition audit every embedding-space operator here assumes
    // (q36-q98 all join text↔vectors by id): which docs have no vector,
    // which vectors have no doc, per source. A LEFT ANTI join each way —
    // null-safe, no payload columns through the shuffle, the id sets are
    // what a 100 TB lake would bucket on. Output is per-source counts
    // (FP-free integers), fully hash-checked.
    "q104_embedding_coverage" -> Q(
      "Embedding-coverage audit: per-source docs without vectors and " +
        "orphan vector count (anti-joins both ways)",
      """WITH missing AS (
        |  SELECT d.source, COUNT(*) AS n_missing
        |  FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE e.vec_id IS NULL GROUP BY d.source),
        |orphans AS (
        |  SELECT COUNT(*) AS n FROM embeddings e
        |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
        |SELECT d.source,
        |  COUNT(*) AS n_docs,
        |  CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_missing,
        |  CAST((SELECT n FROM orphans) AS BIGINT) AS n_orphan_vecs
        |FROM documents d LEFT JOIN missing m ON m.source = d.source
        |GROUP BY d.source, m.n_missing ORDER BY d.source""".stripMargin) { (s, dir) =>
      embeddingCoverage(Tables(s, dir, "documents"), emb(s, dir))
    },

    // q104's sibling at VALUE grain ([[embeddingIntegrity]]): the vector
    // payloads themselves — dim drift (a re-embedding run with the wrong
    // model), NaN poisoning (overflow upstream), all-zero vectors (a
    // failed encode that serializes as zeros and silently attracts
    // nothing in cosine space). Row-local checks, one aggregate; the
    // fixture audits zero violations with real per-label profiles (the
    // q126/q166 all-ok precedent — damage paths planted in the spec).
    "q168_embedding_integrity" -> Q(
      "Embedding integrity audit: per-label dim-mismatch / NaN / " +
        "all-zero vector counts",
      """SELECT label,
        |  COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bad_dim,
        |  CAST(SUM(CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  CAST(SUM(CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      embeddingIntegrity(emb(s, dir), dim = 64)
    },

    "q98_embed_outliers" -> Q(
      "Centroid-distance outlier screen over the q96 fit: flag vectors " +
        "with nearest-centroid distance > mean + 2*stddev",
      s"""$KmeansCteSql,
        |a3 AS (SELECT e.vec_id, cid, list_distance(e.v, c2.cv) AS dist,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_distance(e.v, c2.cv), cid) AS rnk
        |       FROM e CROSS JOIN c2),
        |best AS (SELECT vec_id, cid, dist FROM a3 WHERE rnk = 1),
        |stats AS (SELECT
        |    CAST(SUM(CAST(dist AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mu,
        |    CAST(SUM(CAST(dist * dist AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m2
        |  FROM best)
        |SELECT vec_id, cid AS cluster, dist,
        |  CAST(dist > mu + 2 * sqrt(GREATEST(m2 - mu * mu, 0)) AS INTEGER) AS is_outlier
        |FROM best CROSS JOIN stats ORDER BY vec_id""".stripMargin) { (s, dir) =>
      embedOutliersOver(
        assignPinned(emb(s, dir), kmeansModelFor(emb(s, dir), dir))
          .select(col("vec_id"), col("cluster").as("cid"), col("dist")))
    })


  /** Doubles view of the corpus shared by the q96/q98 k-means family. */
  private def embDouble(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Rank-1 assignment of every vector to its nearest centroid, keeping
    * the rooted distance. Rank on sqrt(d2), not d2: DuckDB's
    * list_distance ranks the ROOTED value, and two distinct radicands can
    * round to the SAME sqrt — ranking the same quantity keeps tie-breaks
    * identical in both engines. Output: (vec_id, cid, dist).
    */
  private def kmeansNearest(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        sqrt(Vectors.l2sq(col("v"), col("cv"))).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("vec_id", "cid", "dist")
  }

  /** Centroid table after `updateRounds` unrolled Lloyd rounds from the
    * deterministic first-k init; update = decimal-exact per-dim means of
    * each cluster's members (q84's kernel). Shared by q96 (assignment)
    * and q98 (outlier screen) so the two see identical centroids.
    */
  private def kmeansCentroids(e: DataFrame, k: Int, updateRounds: Int): DataFrame = {
    def update(assigned: DataFrame): DataFrame =
      assigned.join(e, "vec_id")
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg((sum(col("x").cast("decimal(27,7)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cv"))

    val init = e.filter(col("vec_id") < k).select(col("vec_id").as("cid"), col("v").as("cv"))
    (1 to updateRounds).foldLeft(init)((c, _) => update(kmeansNearest(e, c).drop("dist")))
  }

  /** q96: unrolled Lloyd k-means — see the registration comment. Returns
    * the final (vec_id, cluster) assignment under the centroids after
    * `updateRounds` decimal-exact update rounds from the deterministic
    * first-k init.
    */
  /** q114: cluster-balanced token-budget sampling — [[kmeansAssign]]'s
    * strata driving q93's deterministic md5-ordered take-until-crossing
    * sampler (`Training.stratifiedTokenSample`'s exact machinery with the
    * cluster as the stratum; vec_id and doc_id share one id domain per
    * the testdata contract). One doc-keyed assignment join, one window
    * partitioned by cluster — parallel per stratum at any scale.
    */
  def clusterBalancedSample(
      docs: DataFrame, emb: DataFrame, budgetPerCluster: Long): DataFrame =
    clusterBalancedSampleOver(docs,
      kmeansAssign(emb, k = 4, updateRounds = 2)
        .select(col("vec_id").as("doc_id"), col("cluster").as("cluster_id")),
      budgetPerCluster)

  /** [[clusterBalancedSample]] over an already-derived (doc_id,
    * cluster_id) assignment (the q100 factoring, for q114).
    */
  def clusterBalancedSampleOver(
      docs: DataFrame, assign0: DataFrame, budgetPerCluster: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assign = assign0
    val w = Window.partitionBy("cluster_id")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"),
        graft.functions.Text.tokenCountPortable(col("text")).as("n_toks"))
      .join(assign, "doc_id")
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .select(col("cluster_id"), col("doc_id"), col("n_toks"), col("cum_toks"),
        when(col("cum_toks") - col("n_toks") < budgetPerCluster, 1).otherwise(0).as("kept"))
      .orderBy("doc_id")
  }

  /** q128: EMBEDDING-SPACE drift monitor — q123's distribution gauge for
    * the vector side: did today's batch land in the embedding clusters in
    * the same proportions as the stored corpus? A shifted upstream model,
    * a topic surge, or an embedding-version mixup all show here before
    * any scalar quality signal moves. Population histograms are per-
    * cluster counts under ONE shared quantizer (the q96 fit — both sides
    * must be assigned by the same frozen model or the comparison is
    * meaningless); the deviation is q123's integer-exact cross-
    * multiplication, per cluster: dev_scaled = |c_base·N_batch −
    * c_batch·N_base| (share difference scaled by N_base·N_batch — no
    * float accumulation order). `status` flags a cluster whose share
    * moved more than 1/(2k): 2·k·dev > N_base·N_batch.
    *
    * Registered with the quantizer fit on the full table so the oracle
    * shares q96's CTE verbatim; a production daily run freezes the
    * day-N centroid artifact instead (the [[graft.operators.IvfIndex]]
    * persisted-model path) — assignment cost is the same broadcast-
    * centroid streaming scan either way, and the counts are k rows.
    */
  def embeddingDrift(emb: DataFrame, k: Int = 4, batchMod: Int = 5): DataFrame =
    embeddingDriftOver(kmeansAssign(emb, k, updateRounds = 2), k, batchMod)

  /** [[embeddingDrift]] over an already-derived (vec_id, cluster)
    * assignment (the q100 factoring, for q128).
    */
  def embeddingDriftOver(
      assign: DataFrame, k: Int = 4, batchMod: Int = 5): DataFrame = {
    val isBatch = pmod(col("vec_id"), lit(batchMod)) === 0
    val ct = assign
      .groupBy("cluster")
      .agg(
        sum(when(isBatch, 0L).otherwise(1L)).as("n_base"),
        sum(when(isBatch, 1L).otherwise(0L)).as("n_batch"))
    val tot = ct.agg(sum("n_base").as("t0"), sum("n_batch").as("t1"))
    val dev = abs(col("n_base") * col("t1") - col("n_batch") * col("t0"))
    ct.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n_base"), col("n_batch"),
        dev.cast("long").as("dev_scaled"),
        when(dev * lit(2L * k) > col("t0") * col("t1"), "shift")
          .otherwise("ok").as("status"))
      .orderBy("cluster")
  }

  def kmeansAssign(emb: DataFrame, k: Int, updateRounds: Int): DataFrame = {
    val e = embDouble(emb)
    kmeansNearest(e, kmeansCentroids(e, k, updateRounds))
      .select(col("vec_id"), col("cid").as("cluster"))
      .orderBy("vec_id")
  }

  /** The q96 k-means fit as a content-keyed MODEL artifact — the
    * [[modelFor]] policy applied to the Lloyd centroids: the fit is
    * deterministic (first-k init, decimal-exact updates) and k×d doubles
    * small, so consumers of the q96 fit (q98/q100/q114/q128 — all
    * documented as "over the q96 fit") assign through [[assignPinned]]'s
    * zero-join pinned-centroid projection instead of re-embedding the
    * whole two-round fit chain in every consumer plan (measured: the
    * inline fit is ~20 AQE stage materializations per consumer call at
    * sf0.1, vs 2 for the pinned scan). Assignments are bit-identical:
    * [[assignPinned]] computes the same rooted `sqrt(l2sq)` distances in
    * the same fold order with the same (dist ASC, cid ASC) tie-break the
    * [[kmeansNearest]] window ranks. q96 itself keeps the full
    * declarative fit registered — it MEASURES the fit, and its oracle
    * replays the fit CTE.
    */
  private val kmModels =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Array[Double])]]()
  private[graft] def kmeansModelFor(
      emb: DataFrame, dir: String,
      k: Int = 4, updateRounds: Int = 2): Seq[(Long, Array[Double])] =
    kmModels.computeIfAbsent(
      s"$dir:k$k:r$updateRounds" +
        WarmStores.dirTag(emb.sparkSession, dir, "embeddings"),
      _ => kmeansFit(emb, k, updateRounds))

  /** q104: coverage audit — see the registration comment. Only ids cross
    * the anti-joins; the orphan count is a 1-row cross join (q73's V
    * precedent).
    */
  def embeddingCoverage(docs: DataFrame, emb: DataFrame): DataFrame = {
    val ids = emb.select(col("vec_id"))
    val missing = docs.select(col("doc_id"), col("source"))
      .join(ids, col("vec_id") === col("doc_id"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_missing"))
    val orphans = ids
      .join(docs.select(col("doc_id")), col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_vecs"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(missing, Seq("source"), "left")
      .crossJoin(broadcast(orphans))
      .select(col("source"), col("n_docs"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        col("n_orphan_vecs"))
      .orderBy("source")
  }

  /** q100: top distinctive terms per q96 cluster — see the registration
    * comment. The per-cluster and per-term totals are vocabulary-sized
    * aggregates; `n` is a 1-row cross join (the q73 precedent). The
    * rank<=3 filter compiles to the map-side WindowGroupLimit.
    */
  def clusterTerms(emb: DataFrame, docs: DataFrame, topK: Int = 3): DataFrame =
    clusterTermsOver(
      kmeansAssign(emb, k = 4, updateRounds = 2)
        .select(col("vec_id").as("doc_id"), col("cluster").as("cid")),
      docs, topK)

  /** [[clusterTerms]] over an ALREADY-DERIVED (doc_id, cid) assignment —
    * factored so the q100 registration can assign via the pinned q96
    * model ([[kmeansModelFor]]) instead of re-fitting inline.
    */
  def clusterTermsOver(asg0: DataFrame, docs: DataFrame, topK: Int = 3): DataFrame = {
    val asg = asg0
    val tok = asg.join(docs.select("doc_id", "text"), "doc_id")
      .select(col("cid"), explode(split(col("text"), " ", -1)).as("term"))
    val ct = tok.groupBy("cid", "term").agg(count(lit(1)).as("tf"))
    val tot = ct.groupBy("term").agg(sum(col("tf")).as("cf"))
    val nc = ct.groupBy("cid").agg(sum(col("tf")).as("c_tok"))
    val n = tok.agg(count(lit(1)).as("n_tok"))
    val lift = (col("tf").cast("double") / col("c_tok")) /
      (col("cf").cast("double") / col("n_tok"))
    val w = Window.partitionBy("cid").orderBy(lift.desc, col("term"))
    ct.join(broadcast(tot), "term")
      .join(broadcast(nc), "cid")
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("cid").as("cluster"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), lift.as("lift"))
      .orderBy("cluster", "rnk")
  }

  /** Collected k-means model for deploy-time scoring — the offline half
    * of [[assignPinned]]. Bounded driver work: k rows of d doubles.
    */
  def kmeansFit(emb: DataFrame, k: Int, updateRounds: Int): Seq[(Long, Array[Double])] =
    kmeansCentroids(embDouble(emb), k, updateRounds).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** Nearest-centroid assignment under a PINNED model, as one codegen
    * projection: per row, build the k (dist, cid) structs from literal
    * centroid vectors and take `array_min` — struct ordering is
    * lexicographic, so this is exactly (dist ASC, cid ASC), the q96
    * tie-break. ZERO joins, no window, no state — which means the same
    * column expressions run unchanged on a STREAMING DataFrame
    * (StreamingSpec pins stream≡batch): this is the deploy-time scoring
    * path, where the model is an artifact and the corpus (or feed) only
    * ever streams. Input needs (vec_id, embedding).
    */
  def assignPinned(vecs: DataFrame, centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "pinned model must have at least one centroid")
    val v = col("embedding").cast("array<double>")
    val scored = centroids.map { case (cid, cv) =>
      struct(
        sqrt(Vectors.l2sq(v, array(cv.map(x => lit(x)): _*))).as("dist"),
        lit(cid).as("cid"))
    }
    val best = array_min(array(scored: _*))
    vecs.select(col("vec_id"), best.getField("cid").as("cluster"),
      best.getField("dist").as("dist"))
  }

  /** q98: centroid-distance outlier screen over the SAME fitted centroids
    * as q96 (shared [[kmeansCentroids]] — the audit and the clustering
    * cannot disagree). A vector is an outlier when its nearest-centroid
    * distance exceeds mean + 2*stddev of all such distances —
    * the data-poisoning / far-OOD screen run before training on scraped
    * embeddings. The stats are ONE extra 1-row aggregate (decimal-exact
    * sums ⇒ order-independent) broadcast back over the assignment; every
    * scalar after the sums is a deterministic double op, so the flag is
    * hash-checkable cross-engine.
    */
  def embedOutliers(emb: DataFrame, k: Int, updateRounds: Int): DataFrame = {
    val e = embDouble(emb)
    embedOutliersOver(kmeansNearest(e, kmeansCentroids(e, k, updateRounds)))
  }

  /** [[embedOutliers]] over an already-derived (vec_id, cid, dist)
    * nearest-centroid frame (the q100 factoring, for q98).
    */
  def embedOutliersOver(best: DataFrame): DataFrame = {
    val stats = best.agg(
      (sum(col("dist").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("mu"),
      (sum((col("dist") * col("dist")).cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("m2"))
    best.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("cid").as("cluster"), col("dist"),
        when(col("dist") > col("mu") +
          lit(2.0) * sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))), 1)
          .otherwise(0).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** q94: upper-triangle second-moment matrix, decimal-exact. Each row's
    * d(d+1)/2 products are built in one codegen expression and collapsed
    * map-side by the hash aggregate — see the registration comment for the
    * scale argument. 1-based (i, j) to match the oracle's `range(1,65)`
    * and q84's dim convention.
    */
  def secondMoments(emb: DataFrame, dim: Int): DataFrame =
    momentSums(emb, dim)
      .select(col("i"), col("j"),
        (col("s").cast("double") / lit(1e12) / col("n")).as("m"))
      .orderBy("i", "j")

  /** The MERGEABLE half of [[secondMoments]]: per-(i, j) exact product
    * sums + count, quantized TIE-FREE. Products quantize via
    * `floor(x_i·x_j·1e12)` — NOT a round-to-nearest decimal cast: a
    * double→decimal cast must break ties at the target scale, and Spark
    * and DuckDB resolve those ties from different decimal expansions of
    * the same double (measured: 3 of 2,080 sf0.1 moment cells flipped by
    * one decimal ULP). `floor` of the bit-identical IEEE product has no
    * ties, so the quantized value — and therefore every sum of them —
    * is cross-engine exact at ANY scale factor. Sums are decimal (exact,
    * associative, overflow-safe far past 1e9 vectors), so sums over
    * disjoint corpus slices merge to EXACTLY the whole-corpus sums — the
    * incremental-equals-rebuild contract of the q194 moment store holds
    * to the last bit, not approximately.
    */
  def momentSums(emb: DataFrame, dim: Int): DataFrame = {
    val v = col("embedding")
    val prods = flatten(transform(sequence(lit(1), lit(dim)), i =>
      transform(sequence(i, lit(dim)), j =>
        struct(
          i.cast("long").as("i"),
          j.cast("long").as("j"),
          floor(element_at(v, i).cast("double") * element_at(v, j).cast("double")
            * lit(1e12)).cast("decimal(27,0)").as("p")))))
    emb.select(explode(prods).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p")).as("s"), count(lit(1)).as("n"))
  }

  /** Merge moment-sum frames ([[momentSums]] layout) into the combined
    * (i, j, m) moment matrix — the absorb step of the q194 store.
    */
  def mergeMomentSums(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_ unionByName _)
      .groupBy("i", "j")
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .select(col("i"), col("j"),
        (col("s").cast("double") / lit(1e12) / col("n")).as("m"))
      .orderBy("i", "j")

  /** q195: the vector-artifact SYNC gauge over a dumped (artifact,
    * vec_id) row table — per artifact: raw rows, distinct ids, and id
    * drift vs the float index (n_missing = float ids absent here,
    * n_orphans = ids here the float index lacks). All-zero drift and
    * n_rows == n_ids is the healthy lockstep state; replayed-append
    * duplicates show as n_rows > n_ids (storage-only, shed by
    * [[graft.operators.IvfIndex.compactIndex]]), while missing/orphan
    * counts flag the crash-window desync the
    * [[graft.streaming.VectorIngestStream]] ordering exists to prevent.
    * Plan shape: one distinct, one semi-join rollup, a 1-row total
    * broadcast — every side bounded by index id cardinality, never by
    * payload.
    */
  def vectorArtifactSync(rows: DataFrame): DataFrame = {
    val d = rows.select(col("artifact"), col("vec_id")).distinct()
    val f = d.filter(col("artifact") === "float").select(col("vec_id"))
    val per = rows.groupBy("artifact").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("vec_id")).as("n_ids"))
    val inter = d.join(f, Seq("vec_id"), "left_semi")
      .groupBy("artifact").agg(count(lit(1)).as("n_inter"))
    val tot = f.agg(count(lit(1)).as("n_float"))
    per.join(inter, Seq("artifact"), "left")
      .crossJoin(broadcast(tot))
      .select(
        col("artifact"), col("n_rows"), col("n_ids"),
        (col("n_float") - coalesce(col("n_inter"), lit(0L))).as("n_missing"),
        (col("n_ids") - coalesce(col("n_inter"), lit(0L))).as("n_orphans"))
      .orderBy("artifact")
  }

  /** Forget arm for the q194 moment store — subtract the forgotten
    * vectors' contributions: their [[momentSums]] negate and fold into
    * the store (decimal addition is exact, so retract-equals-rebuild
    * holds bit-for-bit, the same associativity argument as the absorb).
    * COUNT-keyed class: no doc attribution survives in the sums, so a
    * double subtract corrupts silently — `onceId` stamps the
    * exactly-once witness marker atomically with the rewrite
    * ([[graft.ops.StoreSwap.rewrite]], the window/
    * histogram store contract), making the arm safely re-runnable. The
    * rewrite is O(store) = d(d+1)/2 rows — constant-sized, the cheapest
    * retract of any store family.
    */
  def retractFromMomentStore(
      spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame,
      path: String,
      dim: Int = 64,
      onceId: Option[String] = None): Unit = StoreSwap.rewrite(spark, path, onceId) {
    val neg = momentSums(vectors, dim)
      .select(col("i"), col("j"), negate(col("s")).as("s"), negate(col("n")).as("n"))
    spark.read.parquet(path).unionByName(neg)
      .groupBy("i", "j")
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
  }

  /** q95: project onto the top principal axes of [[secondMoments]]. The
    * moment matrix is BOUNDED (d(d+1)/2 rows — 2080 at d=64), so the
    * collect is a constant-size driver step, not a data-size one; the
    * eigensolve is [[graft.operators.Pca.jacobiEigen]] and the projection
    * compiles to per-axis codegen dot products against literal vectors.
    */
  def pcaProject(emb: DataFrame, dim: Int, nComponents: Int): DataFrame =
    pcaProjectAxes(emb, pcaAxes(emb, dim, nComponents))

  /** The driver-side eigen half of [[pcaProject]]: (component 1-based,
    * axis vector) pairs from the deterministic cyclic-Jacobi solve over
    * the decimal-exact q94 moment matrix — q95's dumpable artifact
    * (everything downstream is one dot product per vector, ANSI-
    * replayable via `list_dot_product`).
    */
  def pcaAxes(emb: DataFrame, dim: Int, nComponents: Int): Seq[(Int, Array[Double])] = {
    val moments = secondMoments(emb, dim).collect()
    val m = Array.ofDim[Double](dim, dim)
    moments.foreach { r =>
      val (i, j, x) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
      m(i)(j) = x; m(j)(i) = x
    }
    graft.operators.Pca.jacobiEigen(m).take(nComponents)
      .zipWithIndex.map { case ((_, vec), k) => (k + 1, vec) }
  }

  /** The projection half of [[pcaProject]]: codegen dot products against
    * the given literal axes — one linear scan, no shuffle. Left-to-right
    * double folds in both engines (the q84/q96 precedent), so the dumped-
    * axis oracle replay is bit-exact.
    */
  def pcaProjectAxes(emb: DataFrame, axes: Seq[(Int, Array[Double])]): DataFrame = {
    val cols = axes.map { case (k, vec) =>
      Vectors.dot(col("embedding"),
        array(vec.map(x => lit(x)): _*)).as(s"pc$k")
    }
    emb.select(col("vec_id") +: cols: _*).orderBy("vec_id")
  }

  /** Shared by q42/q56 — their contract is IDENTICAL models, so the build
    * + staleness policy must live in exactly one place. Index build ≠
    * query: memoized per corpus dir (offline artifact at scale); quantizer
    * quality needs only a bounded sample + few iterations. The cache key
    * carries [[WarmStores.dirTag]]'s content tag, so a dir rewritten
    * mid-session re-keys to a fresh fit instead of serving a stale
    * quantizer.
    */
  private[graft] def modelFor(corpus: DataFrame, dir: String): graft.operators.IvfIndex.Model = {
    def build() = graft.operators.IvfIndex.fit(
      corpus.limit(2048).coalesce(1), k = 16, maxIter = 5)
    models.computeIfAbsent(
      dir + WarmStores.dirTag(corpus.sparkSession, dir, "embeddings"),
      _ => build())
  }

  /** One-time index materialization per (corpus dir, MODEL). Two stacked
    * staleness guards, because each covers what the other cannot:
    *   - the path is keyed by a centroid fingerprint, so an old /tmp index
    *     whose MODEL has since changed is never served (different model ⇒
    *     different path ⇒ rebuilt);
    *   - the path also carries [[WarmStores.dirTag]]'s corpus-content tag —
    *     the centroid fingerprint covers the quantizer (fit on a bounded
    *     sample), NOT the corpus, so a dir rewritten beyond the sampled
    *     rows could keep the same model while the index contents go
    *     stale; the content tag re-keys exactly that case.
    * For an unchanged dir, `fit` is deterministic (fixed seed + sample)
    * ⇒ same fingerprint ⇒ a completed warm index is reusable.
    */
  private[graft] def persistedIndex(
      model: graft.operators.IvfIndex.Model, corpus: DataFrame, dir: String): String =
    WarmStores.artifact(corpus.sparkSession, dir, "embeddings", "ivf_index", fp(model.centroids))()(
      graft.ops.Bucketing.writePartitioned(
        graft.operators.IvfIndex.assign(model, corpus), _, Seq("bucket")))

  /** The IVF index families' model parameter: a hex hash of the model arrays. */
  private def fp(a: Array[_]): String =
    java.lang.Integer.toHexString(java.util.Arrays.deepHashCode(a.asInstanceOf[Array[AnyRef]]))

  /** The int8 twin of [[persistedIndex]] — same staleness rules (see
    * there), its own name so the two artifacts can never shadow each
    * other.
    */
  private[graft] def persistedQuantizedIndex(
      model: graft.operators.IvfIndex.Model, corpus: DataFrame, dir: String): String =
    WarmStores.artifact(
        corpus.sparkSession, dir, "embeddings", "ivf_index_q8", fp(model.centroids))()(
      graft.ops.Bucketing.writePartitioned(
        graft.operators.IvfIndex.assignQuantized(model, corpus), _, Seq("bucket")))

  /** q71's coarse quantizer: FEWER, therefore larger, cells than the ANN
    * model (k=8 vs 16) because dedup recall needs near-dup pairs to
    * CO-OCCUR in a cell, a stricter ask than a query finding most of its
    * top-k. Same memoization/staleness policy as [[modelFor]] (keyed by
    * the corpus content tag), under a distinct cache key so the two
    * models can never shadow each other.
    */
  private[graft] def dedupModelFor(corpus: DataFrame, dir: String): graft.operators.IvfIndex.Model = {
    def build() = graft.operators.IvfIndex.fit(
      corpus.limit(2048).coalesce(1), k = 8, maxIter = 10)
    models.computeIfAbsent(
      "dedup:" + dir + WarmStores.dirTag(corpus.sparkSession, dir, "embeddings"),
      _ => build())
  }

  /** q117's code table — [[persistedIndex]]'s staleness rules (see
    * there); the fingerprint covers BOTH models (coarse centroids + PQ
    * codebooks), so changing either retargets the path and rebuilds.
    */
  private[graft] def persistedPqIndex(
      ivf: graft.operators.IvfIndex.Model,
      pq: graft.operators.PqIndex.Model,
      corpus: DataFrame,
      dir: String): String =
    WarmStores.artifact(corpus.sparkSession, dir, "embeddings", "ivf_index_pq", fp(ivf.centroids),
        fp(pq.codebooks))()(
      graft.ops.Bucketing.writePartitioned(
        graft.operators.PqIndex.assign(ivf, pq, corpus), _, Seq("bucket")))

  /** q117's PQ codebooks — [[modelFor]]'s memoization/staleness policy
    * (a bounded-sample deterministic fit, keyed by the corpus content tag),
    * separate map because the model type differs.
    */
  private[graft] def pqModelFor(corpus: DataFrame, dir: String): graft.operators.PqIndex.Model = {
    def build() = graft.operators.PqIndex.fit(
      corpus.limit(2048).coalesce(1), m = 16, numCodes = 16, maxIter = 10)
    pqModels.computeIfAbsent(
      dir + WarmStores.dirTag(corpus.sparkSession, dir, "embeddings"),
      _ => build())
  }

  private val models =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.IvfIndex.Model]()

  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.PqIndex.Model]()
}
